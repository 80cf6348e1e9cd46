"""AQE skew-join evidence (north_rule: "partitioning / shuffle / skew
handled explicitly").

Two complementary defenses exist in this engine for hot keys:

- STATIC caps where the hot key is known by construction — wave
  selection caps each host at per_host_budget URLs, so no fetch
  group outgrows it (plans/crawl.py), and the shingle self-join caps
  document frequency (queries/dedup_q.py JACCARD_DF_CAP);
- RUNTIME skew splitting for joins whose hot keys are data-dependent
  — Spark AQE's skew-join rewrite, which this test pins down: given a
  90%-hot join key and non-broadcastable sides, the FINAL adaptive
  plan must carry SortMergeJoin(skew=true) with the skewed partition
  split across multiple tasks, and results must equal the plain join.

The thresholds below are scaled to test data; at 100 TB the same
configs apply with the defaults (256 MB advisory / factor 5).
"""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skew_spark():
    from tests.conftest import session_confs

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    with session_confs(
        s,
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        yield s


def test_aqe_splits_hot_key_join_and_results_match(skew_spark):
    spark = skew_spark
    n, hot_share = 300_000, 9  # 90% of rows land on key 0
    left = spark.range(0, n).select(
        F.when(F.col("id") % 10 < hot_share, F.lit(0))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.concat(F.lit("v" * 50), F.col("id").cast("string")).alias("payload"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 11).alias("w")
    )
    # keep the payload through the join: pruning it would shrink the
    # hot partition below the (test-scaled) skew threshold
    j = left.join(right, "k")
    got = j.collect()

    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan, plan
    assert "skewed" in plan, plan  # AQEShuffleRead split the hot partition

    # correctness: every row matched exactly once; per-key counts exact
    assert len(got) == n
    from collections import Counter

    counts = Counter(r["k"] for r in got)
    hot = sum(1 for i in range(n) if i % 10 < hot_share)
    assert counts[0] == hot
    for k, c in counts.items():
        if k != 0:
            assert c == sum(
                1 for i in range(n) if i % 10 >= hot_share and i % 100 == k
            )
        # and the joined w value is the right-side function of k
    assert all(r["w"] == r["k"] * 11 for r in got[:1000])
