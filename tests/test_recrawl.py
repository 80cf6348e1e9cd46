"""Recrawl wave e2e: cuckoo retirement makes a fetched URL crawlable
again, it is re-fetched EXACTLY once, and the deletable seen-set's
invariants hold through delete + re-insert (round-2 verdict "Next
round" #5 — the cuckoo filter wired into the engine as the consumer
`recrawl_priority` names, not just a standalone operator)."""

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import cuckoo as CK
from gocrawler_spark.plans.crawl import CUCKOO_SHARDS, CrawlEngine
from tests.test_crawl_e2e import _tp


def _probe_map(spark, eng, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r["url"]: r["maybe_seen"]
        for r in CK.probe(
            eng.state.cuckoo, df, n_shards=CUCKOO_SHARDS
        ).collect()
    }


def test_retire_refetch_exactly_once(spark):
    eng = CrawlEngine(
        spark, _tp(wave_size=8, per_host_budget=2), use_cuckoo=True
    )
    eng.run(max_steps=3)
    st = eng.state

    fetched = sorted(r["url"] for r in st.pages.select("url").collect())
    assert len(fetched) >= 3
    # seen-set tracks exactly the page-cache keys before retirement
    before = _probe_map(spark, eng, fetched)
    assert all(before.values())

    retired = eng.retire_stalest(1)
    url = retired.collect()[0]["url"]
    assert url == "https://seed.example/start"  # wave-1 fetch is stalest

    # invariants after delete: retired key gone, every other key intact
    after = _probe_map(spark, eng, fetched)
    assert after[url] is False
    assert all(v for u, v in after.items() if u != url)
    # page cache evicted; frontier row reset to pending with seq kept
    assert st.pages.filter(F.col("url") == url).count() == 0
    row = st.frontier.filter(F.col("url") == url).collect()[0]
    assert row["status"] == 0 and row["seq"] == 0

    # one select-everything wave: the retired URL must be re-fetched
    pre_log = st.crawl_log.filter(F.col("url") == url).count()
    eng.cfg = eng.cfg.with_(wave_size=100_000, per_host_budget=0)
    assert eng.step()
    assert (
        eng.state.crawl_log.filter(F.col("url") == url).count()
        == pre_log + 1
    )
    # fetched again exactly once: cache holds ONE fresh row, and the
    # seen-set shows the key again (delete + re-insert round trip)
    assert eng.state.pages.filter(F.col("url") == url).count() == 1
    assert _probe_map(spark, eng, [url])[url] is True

    # staleness ranks by the most RECENT fetch: the just-refetched URL
    # is now the freshest page, so the next retire_stalest must advance
    # to the next-oldest URL instead of looping on the same one
    retired2 = eng.retire_stalest(1)
    url2 = retired2.collect()[0]["url"]
    assert url2 != url


def test_retire_requires_cuckoo(spark):
    eng = CrawlEngine(spark, _tp(wave_size=1))
    eng.run(max_steps=1)
    with pytest.raises(ValueError, match="use_cuckoo"):
        eng.retire(eng.state.pages.select("url"))


def test_retire_survives_checkpoint_resume(spark, tmp_path):
    """Tombstone segments (Iceberg row-level-delete analog for the
    parquet shim): a retire between checkpoints persists — the resumed
    engine sees the page/signature gone, the frontier row pending, the
    cuckoo seen-set without the key — and a post-resume re-fetch
    appended AFTER the tombstone survives the NEXT resume too."""
    cfg = _tp(wave_size=8, per_host_budget=2)
    ckpt = str(tmp_path / "store")
    eng = CrawlEngine(
        spark, cfg, use_cuckoo=True, checkpoint_dir=ckpt
    )
    eng.run(max_steps=3)
    retired = eng.retire_stalest(1)
    url = retired.collect()[0]["url"]
    eng.checkpoint()  # commits the tombstone + reset frontier + cuckoo

    eng2 = CrawlEngine.resume(spark, cfg, ckpt, use_cuckoo=True)
    st2 = eng2.state
    assert st2.wave == 3
    assert st2.pages.filter(F.col("url") == url).count() == 0
    assert st2.signatures.filter(F.col("url") == url).count() == 0
    row = st2.frontier.filter(F.col("url") == url).collect()[0]
    assert row["status"] == 0
    others = [
        r["url"]
        for r in st2.pages.select("url").limit(3).collect()
    ]
    pm = _probe_map(spark, eng2, [url] + others)
    assert pm[url] is False
    assert all(pm[u] for u in others)

    # re-fetch on the resumed engine, checkpoint, resume AGAIN: the
    # re-appended row lands after the tombstone and must survive
    eng2.cfg = cfg.with_(wave_size=100_000, per_host_budget=0)
    assert eng2.step()
    eng2.checkpoint()
    assert eng2.state.pages.filter(F.col("url") == url).count() == 1

    eng3 = CrawlEngine.resume(spark, cfg, ckpt, use_cuckoo=True)
    assert eng3.state.pages.filter(F.col("url") == url).count() == 1
    assert _probe_map(spark, eng3, [url])[url] is True


def test_resume_rebuilds_cuckoo_from_legacy_snapshot(spark, tmp_path):
    """A snapshot written WITHOUT the cuckoo table (pre-retirement
    checkpoints) resumes into an exact rebuild from the page cache —
    the filter tracks precisely those keys."""
    cfg = _tp(wave_size=8, per_host_budget=2)
    ckpt = str(tmp_path / "store")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)  # no cuckoo
    eng.run(max_steps=2)
    eng.checkpoint()

    eng2 = CrawlEngine.resume(spark, cfg, ckpt, use_cuckoo=True)
    fetched = [r["url"] for r in eng2.state.pages.select("url").collect()]
    assert fetched
    pm = _probe_map(spark, eng2, fetched)
    assert all(pm.values())
