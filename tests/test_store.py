"""TableStore bookkeeping without Spark jobs: footer row counts,
manifest-recorded schemas, commit totals, and the Arrow-built
bootstrap frontier."""

import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.functions import urls as U
from gocrawler_spark.operators import frontier as FR
from gocrawler_spark.plans.crawl import CrawlEngine
from gocrawler_spark.plans.store import TableStore


@contextmanager
def jobs_in(spark, group):
    """Collect the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def ckpt(spark, tmp_path_factory):
    """A committed checkpoint with data and tombstone segments: two
    checkpointed waves, a retirement and its commit. Returns the root
    and the manifest after each of the three commits."""
    root = str(tmp_path_factory.mktemp("store") / "ckpt")
    cfg = _tp(wave_size=4, per_host_budget=2)
    eng = CrawlEngine(
        spark, cfg, checkpoint_dir=root, use_cuckoo=True, use_robots=True
    )
    store = TableStore(root)
    mans = []
    for _ in range(2):
        eng.run(max_steps=1)
        mans.append(store.read_manifest())
    eng.retire_stalest(2)
    eng.checkpoint()
    mans.append(store.read_manifest())
    eng.pins.release_all()
    return root, mans


def test_load_snapshot_submits_no_jobs(spark, ckpt):
    root, mans = ckpt
    tables = mans[-1]["tables"]
    assert any(
        s.get("kind") == "tombstone" for s in tables["pages"]["segments"]
    ), "the fixture must exercise the tombstone fold"
    with jobs_in(spark, "test_store_load") as ids:
        wave, loaded = TableStore(root).load_snapshot(spark)
    assert ids == []
    assert wave == 2
    assert {"frontier", "cuckoo", "robots", "pages", "signatures"} <= set(loaded)


def test_manifest_without_schemas_loads_the_same(spark, ckpt, tmp_path):
    """Manifests written before segment entries carried a schema still
    load, by inference, to the same schema (nullability included) and
    rows as the schema-given load."""
    root, mans = ckpt
    legacy = json.loads(json.dumps(mans[-1]))
    for entry in legacy["tables"].values():
        for s in entry["segments"]:
            assert "schema" in s
            del s["schema"]
    old_root = str(tmp_path / "legacy")
    os.makedirs(old_root)
    with open(os.path.join(old_root, "manifest.json"), "w") as f:
        json.dump(legacy, f)

    _, given = TableStore(root).load_snapshot(spark)
    _, inferred = TableStore(old_root).load_snapshot(spark)
    assert set(given) == set(inferred)
    for name, df in given.items():
        old = inferred[name]
        assert df.schema == old.schema, name
        assert df.exceptAll(old).isEmpty(), name
        assert old.exceptAll(df).isEmpty(), name


def test_commit_records_what_it_wrote(ckpt):
    """Each commit's ``written`` totals are the sums over the segments
    it added: its full-table segments and the delta segments the
    previous manifest did not name."""
    _, mans = ckpt
    for prev, man in zip(mans, mans[1:]):
        old = {
            s["path"]
            for e in prev["tables"].values()
            if e["mode"] == "delta"
            for s in e["segments"]
        }
        new = {
            name: [
                s
                for s in e["segments"]
                if e["mode"] == "full" or s["path"] not in old
            ]
            for name, e in man["tables"].items()
        }
        new = {k: v for k, v in new.items() if v}
        w = man["metrics"]["written"]
        assert man["metrics"]["wave"] == man["wave"]
        assert set(w["tables"]) == set(new)
        for name, segs in new.items():
            t = w["tables"][name]
            assert t["segments"] == len(segs)
            assert t["rows"] == sum(s["row_count"] for s in segs)
            assert t["bytes"] == sum(
                p["bytes"] for s in segs for p in s["partitions"]
            )
        for k in ("segments", "rows", "bytes"):
            assert w[k] == sum(t[k] for t in w["tables"].values())
    kinds = {s.get("kind") for s in mans[-1]["tables"]["pages"]["segments"]}
    assert "tombstone" in kinds


@pytest.mark.parametrize("empty", [False, True])
def test_footer_row_count_matches_spark_count(spark, tmp_path, empty):
    if empty:
        df = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "id long, v string"
        )
    else:
        df = spark.range(0, 1000, 1, 3).selectExpr("id", "cast(id AS string) v")
    store = TableStore(str(tmp_path / "st"))
    seg = store.write_segment("t", "seg000000", df, 1)
    assert len(seg["partitions"]) == (1 if empty else 3)
    assert seg["row_count"] == spark.read.parquet(seg["path"]).count()
    assert seg["row_count"] == (0 if empty else 1000)


def test_write_segment_jobs_equal_a_bare_write(spark, tmp_path):
    df = spark.range(0, 1000, 1, 3).selectExpr("id", "id % 7 AS k")
    with jobs_in(spark, "test_store_bare") as bare:
        df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    store = TableStore(str(tmp_path / "st"))
    with jobs_in(spark, "test_store_segment") as seg:
        store.write_segment("t", "seg000000", df, 1)
    assert len(bare) >= 1
    assert len(seg) == len(bare)


def test_engine_drops_an_empty_segment(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark, _tp(wave_size=4), checkpoint_dir=root)
    eng._write_segment("pages", eng.state.pages, tombstone_key="url")
    assert not os.path.exists(os.path.join(root, "pages", "seg000000"))
    assert eng._flushed_segs == {}
    assert eng._seg_counter.get("pages", 0) == 0
    eng.pins.release_all()


def test_bootstrap_frontier_is_one_local_scan(spark):
    """The seeds reach the JVM as a local relation: the executed plan
    is one LocalTableScan, with the rows a tuple-list frame gives."""
    links = (
        "https://seed.example/start",
        "https://alpha.example/topic-dup",
        "https://seed.example/start",
        "ftp://not-crawlable.example/x",  # fails link_seems_ok
    )
    cfg = _tp(bootstrapping_links=links)
    df = FR.bootstrap_frontier(spark, cfg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan

    merged = {}
    for u in links:
        merged[u] = merged.get(u, 0) + 1
    rows = [(u, c, i) for i, (u, c) in enumerate(merged.items())]
    want = (
        spark.createDataFrame(rows, "url string, count long, seq long")
        .filter(U.link_seems_ok(F.col("url"), cfg, avoid_custom_check=True))
        .select(
            "url",
            U.domain_of(F.col("url")).alias("domain"),
            "count",
            F.lit(4).alias("status"),
            "seq",
            F.lit(True).alias("eligible"),
        )
    )
    assert df.schema == want.schema
    assert df.collect() == want.collect()
    assert [r["url"] for r in df.collect()] == list(merged)[:2]
