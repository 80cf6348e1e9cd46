"""Sharded Bloom seen-set: no false negatives ever, FPR within budget,
deterministic bitmaps, monotone merge, split accelerator semantics."""

import math

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import bloom as B

N_SHARDS = 32
FPR = 1e-3  # test-scale target; sizing math identical at 1e-6/1e10


@pytest.fixture(scope="module")
def seen_and_new(spark):
    seen = spark.range(20_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url")
    )
    new = spark.range(20_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/NEW"), F.col("id").cast("string")).alias("url")
    )
    return seen, new


@pytest.fixture(scope="module")
def bloom(spark, seen_and_new):
    seen, _ = seen_and_new
    bf = B.build(
        seen, n_shards=N_SHARDS,
        expected_keys_per_shard=20_000 // N_SHARDS, fpr=FPR,
    ).cache()
    assert bf.count() == N_SHARDS
    return bf


def test_geometry_north_rule_scale():
    """1e10 keys / 1e-6 FPR sizing: ~28.8 bits/key, shard blobs ~8.8MB
    at 4096 shards — executor-memory-sized, as BENCH notes claim."""
    keys_per_shard = 10_000_000_000 // 4096
    m, k = B.geometry(keys_per_shard, 1e-6)
    assert 28 <= m / keys_per_shard <= 30
    assert k == 20
    assert m / 8 / 1024 / 1024 < 11  # blob < 11 MB


def test_no_false_negatives(bloom, seen_and_new):
    seen, _ = seen_and_new
    p = B.probe(bloom, seen, n_shards=N_SHARDS)
    assert p.filter(~F.col("maybe_seen")).count() == 0
    assert p.count() == 20_000


def test_fpr_within_budget(bloom, seen_and_new):
    _, new = seen_and_new
    p = B.probe(bloom, new, n_shards=N_SHARDS)
    fp = p.filter(F.col("maybe_seen")).count()
    # binomial(20000, 1e-3): mean 20, sd ~4.5 — 2x budget ≈ +6.7 sd
    assert fp <= 2 * FPR * 20_000, fp


def test_deterministic_bitmaps(spark, seen_and_new, bloom):
    seen, _ = seen_and_new
    again = B.build(
        seen, n_shards=N_SHARDS,
        expected_keys_per_shard=20_000 // N_SHARDS, fpr=FPR,
    )
    a = {r["shard"]: bytes(r["bitmap"]) for r in bloom.collect()}
    b = {r["shard"]: bytes(r["bitmap"]) for r in again.collect()}
    assert a == b


def test_merge_is_monotone_union(spark, bloom, seen_and_new):
    seen, new = seen_and_new
    bf2 = B.build(
        new, n_shards=N_SHARDS,
        expected_keys_per_shard=20_000 // N_SHARDS, fpr=FPR,
    )
    merged = B.merge(bloom, bf2).cache()
    assert merged.count() == N_SHARDS
    both = seen.unionByName(new)
    p = B.probe(merged, both, n_shards=N_SHARDS)
    assert p.filter(~F.col("maybe_seen")).count() == 0


def test_split_accelerator(bloom, seen_and_new):
    seen, new = seen_and_new
    cand = seen.limit(500).unionByName(new.limit(500))
    probably_seen, definitely_new = B.split_candidates(
        bloom, cand, n_shards=N_SHARDS
    )
    # every truly-seen candidate lands in probably_seen (no FN)
    assert probably_seen.join(seen, "url", "left_semi").count() == 500
    # definitely_new contains no seen URL
    assert definitely_new.join(seen, "url", "left_semi").count() == 0
    assert probably_seen.count() + definitely_new.count() == 1000


def test_probe_empty_bloom(spark, seen_and_new):
    seen, _ = seen_and_new
    empty = spark.createDataFrame([], B.BLOOM_SCHEMA)
    p = B.probe(empty, seen.limit(100), n_shards=N_SHARDS)
    assert p.filter(F.col("maybe_seen")).count() == 0
    assert p.count() == 100
