"""Output checks made apart from the engine.

``PoliteWaveOracle`` is the program's plain-Python ``WaveOracle`` plus
the engine's documented politeness semantics (robots gate and
crawl-delay token budget, ``operators/politeness.py``), so a polite
scale-mode crawl can be compared row for row. ``compare`` and
``check_properties`` take plain Python data, so a planted fault can be
fed to them without Spark (``test_checks.py``).
"""

from __future__ import annotations

import math
import re
from collections import Counter

from gocrawler_spark.oracle.pyoracle import WaveOracle

from perfbench.web import Web, host_of, path_of

# links the generator emits that the test profile's filters keep
_GOOD_LINK = re.compile(r"^https://(h\d{5}\.example)/(topic|article|story)-\d+$")


def token_cap(delay_ms: int, wave_budget_ms: int) -> int:
    """Per-host fetches a wave allows: ceil(budget / max(delay, 100)), at least 1."""
    return max(1, math.ceil(wave_budget_ms / max(delay_ms, 100)))


def kept_links(web: Web, url: str) -> list[str]:
    """The page's out-links the test profile's filters keep: a linked
    path kind on another host."""
    me = host_of(url)
    return [
        link for link in web.links(url)
        if (m := _GOOD_LINK.match(link)) and m.group(1) != me
    ]


def robots_allowed(web: Web, url: str) -> bool:
    prefixes, _ = web.robots(host_of(url))
    path = path_of(url)
    return not any(path.startswith(p) for p in prefixes)


class PoliteWaveOracle(WaveOracle):
    """WaveOracle with the engine's robots gate and token budget.

    Per wave, after the scale-mode selection: a robots-disallowed row is
    refused (status 3, never fetched, no transport-failure count); the
    allowed rows of a host are ranked by (priority desc, seq asc) and
    rows past the host's crawl-delay cap are deferred (they leave the
    selection, stay pending and do not bump the host's counter)."""

    def __init__(self, cfg, web: Web, use_robots: bool, wave_budget_ms: int = 4000):
        super().__init__(cfg, self._fetch)
        self.web = web
        self.use_robots = use_robots
        self.wave_budget_ms = wave_budget_ms
        self._blocked: set[str] = set()
        self._blocked_fetches: Counter = Counter()
        self.selected: dict[int, int] = {}  # wave -> rows selected
        self.refused = 0
        self.deferred = 0
        # per-wave counts of the work each layer does (traced run)
        self.wave_counts: list[dict] = []
        self.retired_total = 0
        self._robots_seen: set[str] = set()
        self._c: Counter = Counter()

    def _fetch(self, url):
        if url in self._blocked:
            self._blocked_fetches[host_of(url)] += 1
            return "", [], False
        page = self.web.page(url)
        self._c["fetch.pages"] += 1
        self._c["fetch.failed"] += not page[2]
        return page

    def _select_epoch(self):
        sel = super()._select_epoch()
        self.selected[self.wave + 1] = len(sel)
        self._c["fetch.cache_hits"] = sum(e.url in self.cache for _, e in sel)
        self._boot = [e.url for _, e in sel if e.status == 4]
        self._blocked = set()
        if not self.use_robots:
            return sel
        domains = {e.domain for _, e in sel}
        self._c["politeness.robots_fetched"] = len(domains - self._robots_seen)
        self._robots_seen |= domains
        allowed = [(s, e) for s, e in sel if robots_allowed(self.web, e.url)]
        self._blocked = {e.url for s, e in sel} - {e.url for s, e in allowed}
        ranked: dict[str, list] = {}
        for s, e in allowed:
            pr = (e.count * e.count) / (self.domain_counter.get(e.domain, 0) + 1.0)
            ranked.setdefault(e.domain, []).append((-pr, s, e.url))
        keep = set()
        for dom, rows in ranked.items():
            cap = token_cap(self.web.robots(dom)[1], self.wave_budget_ms)
            keep.update(u for _, _, u in sorted(rows)[:cap])
        self.refused += len(self._blocked)
        self.deferred += len(allowed) - len(keep)
        self._c["politeness.refused"] = len(self._blocked)
        self._c["politeness.deferred"] = len(allowed) - len(keep)
        return [(s, e) for s, e in sel if e.url in keep or e.url in self._blocked]

    def step_wave(self) -> bool:
        self._blocked_fetches = Counter()
        self._c = Counter()
        pool, cached = len(self.pool), set(self.cache)
        accepted = len(self.res.accepted_docs)
        tokens = sum(self.res.corpus_freqs.values())
        more = super().step_wave()
        # a refusal is not a transport failure: take back the failure
        # counts WaveOracle booked for the blocked rows it "fetched"
        for dom, n in self._blocked_fetches.items():
            self.fail_log[dom] -= n
        if not more:
            return more
        new_docs = self.res.accepted_docs[accepted:]
        ok = {u for w, u, st in self.visited if w == self.wave and st == 2}
        parents = (ok & set(self._boot)) | {d["url"] for d in new_docs}
        cand = {link for u in parents for link in kept_links(self.web, u)}
        c = self._c
        c["frontier.rows"] = len(self.pool)
        c["frontier.new_urls"] = len(self.pool) - pool
        c["frontier.candidates"] = len(cand)
        c["curation.docs_in"] = len(ok)
        c["curation.accepted"] = len(new_docs)
        c["corpus.tokens"] = sum(self.res.corpus_freqs.values()) - tokens
        c["cuckoo.inserts"] = len(set(self.cache) - cached)
        self.wave_counts.append(dict(c))
        return more

    def retire_stalest(self, k: int) -> list[str]:
        out = super().retire_stalest(k)
        self.retired_total += len(out)
        return out

    def observed(self) -> dict:
        """The oracle's state in the shape ``observe`` gives the engine's."""
        return {
            "visited": sorted(self.visited),
            "frontier": sorted(
                (e.url, e.domain, e.count, e.status, seq)
                for seq, e in enumerate(self.pool)
            ),
            "pages": sorted(self.cache),
        }


def ok_fetch_counts(visited) -> Counter:
    return Counter(url for _, url, status in visited if status == 2)


def compare(engine: dict, oracle: dict) -> list[str]:
    """Row-for-row equality of the visited relation (wave, url,
    status_after), the final frontier (url, domain, count, status, seq),
    the per-URL OK-fetch counts and the page-cache keys."""
    errors = []
    for key in ("visited", "frontier", "pages"):
        a, b = set(engine[key]), set(oracle[key])
        if a != b or len(engine[key]) != len(oracle[key]):
            errors.append(
                f"{key}: {len(a - b)} rows only in engine, {len(b - a)} only in"
                f" oracle (e.g. {sorted(a - b)[:2]} / {sorted(b - a)[:2]})"
            )
    if ok_fetch_counts(engine["visited"]) != ok_fetch_counts(oracle["visited"]):
        errors.append("per-URL OK-fetch counts differ")
    return errors


def check_properties(
    engine: dict,
    web: Web,
    seeds: list[str],
    per_host_budget: int,
    use_robots: bool,
    wave_budget_ms: int = 4000,
    retired: Counter | None = None,
) -> list[str]:
    """Properties computed in plain Python from the generator alone:
    no OK fetch under a disallowed robots prefix; per (wave, host) at
    most per_host_budget rows and at most the crawl-delay cap of
    robots-allowed rows; no URL fetched OK more often than once plus
    its retirements; every frontier URL is a seed or a kept out-link of
    a parent fetched OK on another host."""
    errors = []
    visited = engine["visited"]
    if use_robots:
        bad = [u for _, u, s in visited if s == 2 and not robots_allowed(web, u)]
        if bad:
            errors.append(f"{len(bad)} robots-disallowed URLs fetched, e.g. {bad[0]}")
    per_host = Counter((w, host_of(u)) for w, u, _ in visited)
    over = [k for k, n in per_host.items() if n > per_host_budget]
    if use_robots:
        allowed = Counter(
            (w, host_of(u)) for w, u, _ in visited if robots_allowed(web, u)
        )
        over += [
            k for k, n in allowed.items()
            if n > token_cap(web.robots(k[1])[1], wave_budget_ms)
        ]
    if over:
        errors.append(f"{len(over)} (wave, host) pairs over budget, e.g. {over[0]}")
    retired = retired or Counter()
    twice = [u for u, n in ok_fetch_counts(visited).items() if n > 1 + retired[u]]
    if twice:
        errors.append(f"{len(twice)} URLs fetched twice, e.g. {twice[0]}")
    linked = set(seeds)
    for u in {u for _, u, s in visited if s == 2}:
        linked.update(kept_links(web, u))
    stray = [r[0] for r in engine["frontier"] if r[0] not in linked]
    if stray:
        errors.append(f"{len(stray)} frontier URLs with no parent, e.g. {stray[0]}")
    return errors
