"""Planted faults: every output checker of the benchmark must fail on one.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: a plain-Python polite crawl (PoliteWaveOracle) on a small
generated web stands in for the engine's output, the checks pass on
it, and each planted fault must make its checker report an error.
"""

from __future__ import annotations

import copy
from collections import Counter

import pytest

from gocrawler_spark import config
from gocrawler_spark.functions.html import parse_page

from perfbench import checks
from perfbench.web import Web, host

BUDGET = 2


@pytest.fixture(scope="module")
def crawl():
    web = Web(seed=7, n_hosts=200)
    seeds = web.seeds(30, BUDGET)
    cfg = config.test_profile(
        wave_size=30, per_host_budget=BUDGET, bootstrapping_links=tuple(seeds)
    )
    oracle = checks.PoliteWaveOracle(cfg, web, use_robots=True)
    oracle.bootstrap()
    oracle.step_wave()
    retired = Counter(oracle.retire_stalest(5))
    oracle.step_wave()
    oracle.step_wave()
    return web, seeds, retired, oracle


def props(engine, crawl):
    web, seeds, retired, _ = crawl
    return checks.check_properties(
        engine, web, seeds, BUDGET, use_robots=True, retired=retired
    )


def test_clean_crawl_passes(crawl):
    oracle = crawl[3]
    seen = oracle.observed()
    assert checks.compare(copy.deepcopy(seen), seen) == []
    assert props(seen, crawl) == []
    assert oracle.refused > 0 and oracle.deferred > 0  # politeness did work


def test_dropped_frontier_url_fails_oracle_comparison(crawl):
    want = crawl[3].observed()
    got = copy.deepcopy(want)
    got["frontier"].pop(len(got["frontier"]) // 2)
    errors = checks.compare(got, want)
    assert any(e.startswith("frontier:") for e in errors)


def test_url_fetched_twice_fails_both_checkers(crawl):
    want = crawl[3].observed()
    got = copy.deepcopy(want)
    retired = crawl[2]
    url = next(u for w, u, s in got["visited"] if s == 2 and u not in retired)
    got["visited"].append((crawl[3].wave, url, 2))
    assert any("fetched twice" in e for e in props(got, crawl))
    assert any(e.startswith("visited:") for e in checks.compare(got, want))


def test_robots_disallowed_fetch_fails_property_check(crawl):
    web = crawl[0]
    got = copy.deepcopy(crawl[3].observed())
    d = next(host(i) for i in range(200) if "/story" in web.robots(host(i))[0])
    got["visited"].append((1, f"https://{d}/story-3", 2))
    assert any("robots-disallowed" in e for e in props(got, crawl))


def test_generated_pages_round_trip_through_the_html_parser(crawl):
    web = crawl[0]
    for u in crawl[3].observed()["pages"][:50]:
        html, ok = web.html(u)
        assert ok and parse_page(html) == (web.text(u), web.links(u))
