"""Bucketed-frontier plans: result equality with the plain merge, and
the zero-frontier-shuffle physical-plan guarantees (SURVEY.md §4)."""

import re

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import frontier as FR
from gocrawler_spark.plans.bucketed import BucketedFrontier


def _frontier_df(spark, n=5000, domains=137):
    return spark.range(n).select(
        F.concat(
            F.lit("https://host"),
            (F.col("id") % domains).cast("string"),
            F.lit(".example/p"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"), (F.col("id") % domains).cast("string"), F.lit(".example")
        ).alias("domain"),
        (F.col("id") % 7 + 1).cast("long").alias("count"),
        F.lit(0).alias("status"),
        F.col("id").alias("seq"),
        F.lit(True).alias("eligible"),
    )


def _cand_df(spark, n=3000, frontier_n=5000, domains=137):
    # ~50% collide with frontier URLs, rest new; several parents
    return (
        spark.range(n)
        .select(
            F.concat(
                F.lit("https://host"),
                ((F.col("id") * 3) % domains).cast("string"),
                F.lit(".example/p"),
                ((F.col("id") * 3) % (frontier_n * 2)).cast("string"),
            ).alias("url"),
            (F.col("id") % 50).alias("parent_seq"),
            F.col("id").alias("pos"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("delta"),
            F.min(F.struct("parent_seq", "pos")).alias("first_at"),
        )
        .withColumn(
            "domain", F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1)
        )
    )


@pytest.fixture(scope="module")
def bucketed(spark):
    bf = BucketedFrontier(spark, name="t_frontier", n_buckets=8)
    bf.write(_frontier_df(spark))
    return bf


def test_merge_equals_plain_path(spark, bucketed):
    """Same rows (url/domain/count/status/eligible) and same seq ORDER
    as merge_into_frontier. Seq values are identical because both
    paths use the same base + _assign_seq ranking."""
    cand = _cand_df(spark)
    plain = FR.merge_into_frontier(_frontier_df(spark), cand, None)
    bkt = bucketed.merge(cand)
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in bkt.collect())
    assert a == b


def test_merge_plan_never_shuffles_frontier(spark, bucketed):
    """The only hashpartitioning Exchanges in the merge plan are on the
    candidate (wave) side; the bucketed frontier scan feeds both joins
    in place."""
    cand = _cand_df(spark)
    merged = bucketed.merge(cand)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # every shuffle exchange hashes candidate-side attributes —
    # none may sit directly above the bucketed FileScan
    for frag in re.findall(r"Exchange hashpartitioning[^\n]*\n([^\n]*)", plan):
        assert "FileScan parquet" not in frag, plan


def test_select_wave_no_exchange(spark, bucketed):
    """Per-host budget window over the bucketed scan runs without any
    hashpartitioning Exchange (the scan already clusters by domain)."""
    dc = spark.createDataFrame([], "domain string, n_scheduled long")
    sel = bucketed.select_wave(dc, wave_size=100, per_host_budget=2)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert sel.count() == 100


def test_select_wave_matches_plain(spark, bucketed):
    dc = spark.createDataFrame([], "domain string, n_scheduled long")
    plain = FR.select_wave(_frontier_df(spark), dc, 100, 2)
    bkt = bucketed.select_wave(dc, 100, 2)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bkt.collect())
    )


def test_ping_pong_write(spark):
    bf = BucketedFrontier(spark, name="t_pp", n_buckets=4)
    bf.write(_frontier_df(spark, n=500))
    first_table = bf._table(bf._side)
    merged = bf.merge(_cand_df(spark, n=300, frontier_n=500))
    bf.write(merged)
    assert bf._table(bf._side) != first_table
    # state advanced: new URLs were appended
    assert bf.df().count() > 500
    # and the previous side is still readable (crash safety)
    assert spark.table(first_table).count() == 500
