"""End-to-end crawl equivalence (BASELINE.md correctness gate):

1. exact mode — the Spark engine at wave_size=1 must reproduce the
   reference-semantics oracle EXACTLY: crawl order, URL-seen set,
   frontier contents (url, count, status, seq), domain counters,
   accepted docs (curated strings byte-equal), ranking rows, corpus
   frequencies.
2. scale mode — wave_size>1 relaxes order but must keep set invariants
   (no double-fetch, dedup exactness, corpus == recompute from docs).
"""

import os

import pytest

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.oracle.pyoracle import ReferenceOracle
from gocrawler_spark.plans.crawl import CrawlEngine
from gocrawler_spark.sources import synthetic_web as SW

N_STEPS = int(os.environ.get("E2E_STEPS", "12"))


@pytest.fixture(scope="module")
def oracle_result():
    cfg = _tp()
    return ReferenceOracle(cfg, SW.fetch_page).run(max_iters=N_STEPS)


@pytest.fixture(scope="module")
def engine_state(spark):
    cfg = _tp(wave_size=1)
    eng = CrawlEngine(spark, cfg)
    return eng.run(max_steps=N_STEPS)


def test_crawl_order_exact(engine_state, oracle_result):
    got = [
        r["url"]
        for r in engine_state.crawl_log.orderBy("wave", "sel_rank").collect()
    ]
    assert got == oracle_result.crawl_order


def test_url_seen_set_exact(engine_state, oracle_result):
    got = {r["url"] for r in engine_state.pages.select("url").collect()}
    assert got == oracle_result.seen_urls


def test_frontier_exact(engine_state, oracle_result):
    got = {
        r["url"]: (r["domain"], r["count"], r["status"], r["seq"])
        for r in engine_state.frontier.collect()
    }
    want = {
        e.url: (e.domain, e.count, e.status, i)
        for i, e in enumerate(oracle_result.pool)
    }
    assert got == want


def test_domain_counter_exact(engine_state, oracle_result):
    got = {
        r["domain"]: r["n_scheduled"]
        for r in engine_state.domain_counter.collect()
    }
    want = {d: n for d, n in oracle_result.domain_counter.items() if n}
    assert got == want


def test_accepted_docs_exact(engine_state, oracle_result):
    got = {
        r["url"]: (r["curated"], r["doc_len"], r["signature"])
        for r in engine_state.accepted.collect()
    }
    want = {
        d["url"]: (d["curated"], d["doc_len"], d["signature"])
        for d in oracle_result.accepted_docs
    }
    assert got == want


def test_ranking_rows_exact(engine_state, oracle_result):
    got = {
        r["url"]: (round(r["score"], 6), r["doc_len"], r["signature"],
                   r["best_paragraph"])
        for r in engine_state.ranking_rows.collect()
    }
    want = {
        d["url"]: (round(d["score"], 6) if isinstance(d["score"], float) else d["score"],
                   d["doc_len"], d["signature"], d["best_paragraph"])
        for d in oracle_result.ranking_rows
    }
    # oracle rounds score to 2 decimals for the CSV (reference fmt);
    # compare on the unrounded engine score re-rounded
    got2 = {u: (round(v[0], 2), v[1], v[2], v[3]) for u, v in got.items()}
    assert got2 == want


def test_corpus_freq_exact(engine_state, oracle_result):
    got = {
        r["token"]: r["count"] for r in engine_state.corpus_freq.collect()
    }
    assert got == oracle_result.corpus_freqs


def test_scale_mode_invariants(spark, oracle_result):
    cfg = _tp(wave_size=8, per_host_budget=2)
    st = CrawlEngine(spark, cfg).run(max_steps=4)
    log = st.crawl_log.collect()
    urls = [r["url"] for r in log]
    assert len(urls) == len(set(urls)), "no URL may be scheduled twice"
    pool = st.frontier.collect()
    pool_urls = [r["url"] for r in pool]
    assert len(pool_urls) == len(set(pool_urls)), "frontier dedup must be exact"
    seqs = sorted(r["seq"] for r in pool)
    assert seqs == list(range(len(pool))), "insertion seq must be dense"
    # corpus freq state == recompute from accepted docs
    from gocrawler_spark.operators import corpus as COx
    recomputed = {
        r["token"]: r["count"]
        for r in COx.token_freq(st.accepted.select("curated"), cfg).collect()
    }
    stored = {r["token"]: r["count"] for r in st.corpus_freq.collect()}
    assert stored == recomputed


def test_crawl_wave_images_invariant(spark):
    """Graft axis: the engine's per-wave image extraction produces the
    input_hint table and every row passes the payload invariant
    (decode + dims + pixels + caption + phash)."""
    from pyspark.sql import functions as F

    from gocrawler_spark.operators import images as IMx

    cfg = _tp(wave_size=8, per_host_budget=2)
    st = CrawlEngine(spark, cfg, with_images=True).run(max_steps=3)
    assert st.images is not None
    n = st.images.count()
    assert n > 0
    assert [f.name for f in st.images.schema.fields] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    v = IMx.validate_images(st.images, seed=cfg.seed)
    bad = v.filter(
        ~(F.col("decode_ok") & F.col("dims_ok") & F.col("pixels_ok")
          & F.col("caption_ok") & F.col("phash_ok"))
    )
    assert bad.count() == 0
    # idempotence: image_ids unique (first-fetch-only extraction)
    assert st.images.select("image_id").distinct().count() == n


def test_scale_fixtures_fresh():
    """The committed crawl_scale_* fixtures equal a fresh WaveOracle
    run — guards the driver-gate CSVs against drifting from
    oracle/pyoracle.py edits (pure Python, no Spark)."""
    import csv

    from gocrawler_spark.fixtures import fixture_path
    from gocrawler_spark.oracle.pyoracle import WaveOracle

    worc = WaveOracle(_tp(wave_size=8, per_host_budget=2), SW.fetch_page)
    worc.run(max_iters=8)

    with open(fixture_path("crawl_scale_w8.csv")) as f:
        rows = list(csv.DictReader(f))
    assert [
        (r["url"], r["domain"], int(r["count"]), int(r["status"]), int(r["seq"]))
        for r in rows
    ] == [
        (e.url, e.domain, e.count, e.status, i)
        for i, e in enumerate(worc.pool)
    ]

    with open(fixture_path("crawl_scale_visited_w8.csv")) as f:
        vrows = list(csv.DictReader(f))
    assert [
        (int(r["wave"]), r["url"], int(r["status_after"])) for r in vrows
    ] == worc.visited


def test_recrawl_fixture_fresh():
    """The committed crawl_recrawl_w9.csv equals a fresh extended-
    WaveOracle run (8 waves -> retire_stalest(2) -> one more wave) —
    pure Python, no Spark. Also asserts the fixture's semantic core:
    at least one retired URL is re-fetched exactly once more, and
    retirement preserved count/seq while resetting status."""
    import csv

    from gocrawler_spark.fixtures import fixture_path
    from gocrawler_spark.oracle.pyoracle import WaveOracle

    worc = WaveOracle(_tp(wave_size=8, per_host_budget=2), SW.fetch_page)
    worc.run(max_iters=8)
    retired = worc.retire_stalest(2)
    assert worc.step_wave()
    ok_fetches = {}
    for _, url, st in worc.visited:
        if st == 2:
            ok_fetches[url] = ok_fetches.get(url, 0) + 1

    with open(fixture_path("crawl_recrawl_w9.csv")) as f:
        rows = list(csv.DictReader(f))
    assert [
        (r["url"], r["domain"], int(r["count"]), int(r["status"]),
         int(r["seq"]), int(r["ok_fetches"]))
        for r in rows
    ] == [
        (e.url, e.domain, e.count, e.status, i, ok_fetches.get(e.url, 0))
        for i, e in enumerate(worc.pool)
    ]
    assert len(retired) == 2
    assert any(ok_fetches.get(u, 0) == 2 for u in retired)


def test_wave_oracle_w1_matches_reference_oracle():
    """At wave_size=1 the epoch relaxation collapses back to the
    sequential reference semantics for the VISITED SET: the WaveOracle
    and ReferenceOracle crawl the same URLs (order may differ only via
    the counter-timing quirk, which wave_size=1 epochs also reproduce
    wave-by-wave: one URL per epoch, counter committed before the next
    selection)."""
    from gocrawler_spark.oracle.pyoracle import WaveOracle

    cfg = _tp(wave_size=1)
    ref = ReferenceOracle(cfg, SW.fetch_page)
    ref.run(max_iters=6)
    wav = WaveOracle(cfg, SW.fetch_page)
    wav.run(max_iters=6)
    assert wav.res.crawl_order == ref.res.crawl_order
    assert [(e.url, e.count, e.status) for e in wav.pool] == [
        (e.url, e.count, e.status) for e in ref.pool
    ]


def test_engine_empty_state_has_no_partitions(spark):
    """Every empty table a new engine starts from (the base piece of
    each append-only family, the robots cache, the image table) and
    FR.empty_frontier have no partitions: the union views scan them in
    every wave, and a partitioned empty table would start Python
    workers for nothing in each of those jobs."""
    from gocrawler_spark.operators import frontier as FR

    eng = CrawlEngine(spark, _tp(wave_size=1), use_robots=True, with_images=True)
    empties = {fam: pieces[0] for fam, pieces in eng._pieces.items()}
    empties["robots"] = eng.state.robots
    empties["frontier"] = FR.empty_frontier(spark)
    assert set(empties) >= {"pages", "crawl_log", "corpus_freq", "images"}
    for name, df in empties.items():
        assert df.rdd.getNumPartitions() == 0, name
        assert df.count() == 0, name
    assert empties["frontier"].schema == FR.FRONTIER_SCHEMA
    # the bootstrap frontier itself is not empty
    assert eng.state.frontier.count() == len(set(eng.cfg.bootstrapping_links))
