"""Checkpoint/resume: kill-and-resume equivalence, atomic manifest
commit, per-partition lineage in the manifest."""

import json
import os

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.plans.crawl import CrawlEngine
from gocrawler_spark.plans.store import TableStore


def _snap(st):
    fr = sorted(
        (r["url"], r["domain"], r["count"], r["status"], r["seq"])
        for r in st.frontier.collect()
    )
    log = sorted(
        (r["wave"], r["url"], r["status_after"]) for r in st.crawl_log.collect()
    )
    corp = sorted((r["token"], r["count"]) for r in st.corpus_freq.collect())
    pages = sorted(r["url"] for r in st.pages.collect())
    return fr, log, corp, pages


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    cfg = _tp(wave_size=4, per_host_budget=2)
    want = _snap(CrawlEngine(spark, cfg).run(max_steps=4))

    ckpt = str(tmp_path / "ckpt")
    eng_a = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng_a.run(max_steps=2)
    del eng_a  # "crash"

    eng_b = CrawlEngine.resume(spark, cfg, ckpt)
    assert eng_b.state.wave == 2
    got = _snap(eng_b.run(max_steps=2))
    assert got == want


def test_manifest_lineage(spark, tmp_path):
    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt2")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng.run(max_steps=2)
    m = TableStore(ckpt).read_manifest()
    assert m["wave"] == 2
    assert m["format_version"] == 2
    assert m["tables"]["frontier"]["mode"] == "full"
    for name in ["frontier", "pages", "corpus_freq", "crawl_log"]:
        e = m["tables"][name]
        assert len(e["segments"]) >= 1
        for s in e["segments"]:
            assert s["row_count"] >= 0
            assert len(s["partitions"]) >= 1
            assert all(p["bytes"] > 0 for p in s["partitions"])


def test_delta_checkpoint_io_is_wave_sized(spark, tmp_path):
    """Append-only families must persist ONLY rows appended since the
    previous commit: each checkpoint adds one wave-sized segment, and
    the segments' row counts sum to the table's size — never the
    O(waves * state) rewrite of a full-snapshot-per-wave store."""
    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt_delta")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng.run(max_steps=3)
    m = TableStore(ckpt).read_manifest()
    e = m["tables"]["pages"]
    assert e["mode"] == "delta"
    segs = e["segments"]
    assert len(segs) == 3, "one delta segment per checkpointed wave"
    assert [s["wave"] for s in segs] == [1, 2, 3]
    total = eng.state.pages.count()
    assert sum(s["row_count"] for s in segs) == total
    # every per-wave segment is strictly smaller than the final table
    assert all(s["row_count"] < total for s in segs)


def test_flushed_but_uncommitted_segments_invisible(spark, tmp_path):
    """A segment flushed to disk without a manifest commit (compaction
    flush, crash before checkpoint) must not change what resume
    loads."""
    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt_orphan")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng.run(max_steps=2)
    before = _snap(eng.state)

    # crash mid-wave-3: one more step appends pending deltas; flush
    # them to segments but never commit the manifest
    eng.step()
    eng._flush_pending()
    del eng

    eng_b = CrawlEngine.resume(spark, cfg, ckpt)
    assert eng_b.state.wave == 2
    assert _snap(eng_b.state) == before
    # replaying wave 3 must overwrite the orphan (same segment name)
    # and end in the same state as an uninterrupted 3-wave run
    eng_b.run(max_steps=1)
    want = _snap(CrawlEngine(spark, cfg).run(max_steps=3))
    assert _snap(eng_b.state) == want


def test_aborted_wave_is_invisible(spark, tmp_path):
    """Files written without a manifest commit must be ignored: the
    previous committed snapshot stays in effect."""
    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt3")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng.run(max_steps=2)
    before = _snap(eng.state)

    # simulate a crash mid-wave-3: orphan table dirs, no manifest commit
    orphan = os.path.join(ckpt, "frontier", "wave=000003")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-corrupt.parquet"), "w") as f:
        f.write("this is not parquet")

    eng_b = CrawlEngine.resume(spark, cfg, ckpt)
    assert eng_b.state.wave == 2
    assert _snap(eng_b.state) == before


def test_resume_without_checkpoint_starts_fresh(spark, tmp_path):
    cfg = _tp(wave_size=4, per_host_budget=2)
    eng = CrawlEngine.resume(spark, cfg, str(tmp_path / "nothing-here"))
    assert eng.state.wave == 0
    assert eng.state.frontier.count() == len(cfg.bootstrapping_links)


def test_checkpointed_optional_tables_roundtrip(spark, tmp_path):
    """robots/images state survives the checkpoint cycle."""
    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt4")
    eng = CrawlEngine(
        spark, cfg, checkpoint_dir=ckpt, use_robots=True, with_images=True
    )
    eng.run(max_steps=2)
    n_img = eng.state.images.count()
    n_rob = eng.state.robots.count()

    eng_b = CrawlEngine.resume(
        spark, cfg, ckpt, use_robots=True, with_images=True
    )
    assert eng_b.state.images.count() == n_img
    assert eng_b.state.robots.count() == n_rob


def test_resume_skips_legacy_bloom_table(spark, tmp_path):
    """A manifest naming a full ``bloom`` seen-set table (written by
    engines that kept one) still resumes to the checkpointed state,
    and the next checkpoint no longer names the table."""
    from gocrawler_spark.operators import bloom as BL

    cfg = _tp(wave_size=4, per_host_budget=2)
    ckpt = str(tmp_path / "ckpt_bloom")
    eng = CrawlEngine(spark, cfg, checkpoint_dir=ckpt)
    eng.run(max_steps=2)
    before = _snap(eng.state)
    bloom = BL.build(
        eng.state.frontier.select("url"),
        n_shards=8,
        expected_keys_per_shard=1000,
    )
    store = TableStore(ckpt)
    store.commit(2, {"frontier": eng.state.frontier, "bloom": bloom})
    assert store.read_manifest()["tables"]["bloom"]["mode"] == "full"
    del eng

    eng_b = CrawlEngine.resume(spark, cfg, ckpt)
    assert eng_b.state.wave == 2
    assert _snap(eng_b.state) == before
    eng_b.run(max_steps=1)
    m = store.read_manifest()
    assert m["wave"] == 3
    assert "bloom" not in m["tables"]


def test_checkpoint_snapshot_dirs_are_garbage_collected(spark, tmp_path):
    """Full-mode snapshot dirs from superseded checkpoints must be
    removed at commit (keeping current + previous) — otherwise a
    frontier-sized parquet copy leaks per wave."""
    import os

    from gocrawler_spark.plans.store import TableStore

    store = TableStore(str(tmp_path / "st"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    for wave in range(1, 5):
        store.commit(wave, {"tbl": df})
    labels = sorted(os.listdir(str(tmp_path / "st" / "tbl")))
    assert labels == ["wave=000003", "wave=000004"]
    # the committed snapshot is intact and loadable
    _, tables = store.load_snapshot(spark)
    assert tables["tbl"].count() == 5
