"""Politeness: robots.txt cache + per-host crawl-delay token budget.

North_rule: "per-host politeness tokens + robots.txt caching enforce
the reference's crawl-delay budget". The reference's only politeness
mechanisms are the 8 s fetch timeout (crawler.yaml:24) and the
failed-domain counter (crawler.go:503-518, already in the engine as
fail_counts); this module is the engine-level generalization.

Design (scale-first):

- **robots cache** = a DataFrame/table
  `(domain, disallow_prefixes array<string>, crawl_delay_ms int,
  fetched_wave long)` — one row per host (like host_stats: tiny
  relative to the frontier, broadcast-joinable). Domains are fetched
  ONCE: each wave anti-joins the wave's domains against the cache and
  fetches only the misses (mapInPandas batch — network-shaped work),
  then unions into the cache.
- **robots gate**: a wave row is disallowed iff any cached prefix
  prefixes its URL path. Wave (small) joins robots (broadcast) →
  `exists(prefixes, p -> startswith(path, p))` — pure column
  expressions, whole-stage codegen.
- **token budget**: per-host fetch cap for a wave =
  `ceil(wave_budget_ms / max(crawl_delay_ms, floor_ms))` — a host
  with crawl-delay 1000ms inside a 4000ms wave budget yields at most
  4 fetches. Enforced with the same per-host ranking window the
  scheduler already uses (deterministic order: priority desc, seq
  asc), so hot hosts are bounded BEFORE the fetch stage — this is
  skew control and courtesy in one operator.

Tests: tests/test_politeness.py. In production the fetcher would
parse real robots.txt; here the fetch function is pluggable and the
default is the deterministic synthetic one (no network ever).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.sources.synthetic_web import h64

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay_ms", T.IntegerType(), False),
        T.StructField("fetched_wave", T.LongType(), False),
    ]
)

_PREFIX_POOL = ["/junk", "/misc", "/story", "/private", "/tmp"]
_DELAYS_MS = [0, 0, 250, 500, 1000]


def synthetic_robots(domain: str, seed: int = 42) -> tuple[list[str], int]:
    """Deterministic robots rules for a host (no network): a subset of
    path prefixes is disallowed and a crawl delay assigned, both keyed
    by hash(domain)."""
    hv = h64(domain, "robots", seed=seed)
    prefixes = [p for i, p in enumerate(_PREFIX_POOL) if (hv >> i) & 1 and i < 3]
    delay = _DELAYS_MS[(hv >> 8) % len(_DELAYS_MS)]
    return prefixes, delay


def empty_robots(spark: SparkSession) -> DataFrame:
    # zero partitions: scans run no (Python-worker) tasks
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), ROBOTS_SCHEMA)


def fetch_missing_robots(
    robots: DataFrame,
    wave_domains: DataFrame,
    wave: int,
    robots_fn: Callable[[str], tuple[list[str], int]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Cache-miss fetch: domains in the wave but not in the cache get
    their robots fetched (batched mapInPandas) and appended. Returns
    the updated cache. Each domain is fetched exactly once per crawl
    (tested)."""
    fn = robots_fn or (lambda d: synthetic_robots(d, seed))
    missing = wave_domains.select("domain").distinct().join(
        robots.select("domain"), "domain", "left_anti"
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["domain"]:
                prefixes, delay = fn(d)
                rows.append(
                    {
                        "domain": d,
                        "disallow_prefixes": prefixes,
                        "crawl_delay_ms": delay,
                        "fetched_wave": wave,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["domain", "disallow_prefixes", "crawl_delay_ms", "fetched_wave"],
            )

    fetched = missing.mapInPandas(fetch, ROBOTS_SCHEMA)
    return robots.unionByName(fetched)


def _path_of(url_col):
    """Path component incl. leading slash ('' when absent). The scheme
    match is case-insensitive — the URL validator accepts 'HTTPS://'
    ((?i) regex), and a case-sensitive extract here would yield path ''
    (always allowed) while the oracle's split-based path refuses."""
    return F.regexp_extract(url_col, r"(?i)^[a-z]+://[^/]+(/.*)?$", 1)


def robots_gate(wave: DataFrame, robots: DataFrame) -> DataFrame:
    """Adds `robots_allowed boolean` to the wave. Broadcast join on
    domain + a prefix-exists column expression; uncached domains are
    allowed (cache is filled before gating in the engine loop)."""
    r = F.broadcast(robots.select("domain", "disallow_prefixes", "crawl_delay_ms"))
    joined = wave.join(r, "domain", "left")
    path = _path_of(F.col("url"))
    allowed = F.when(
        F.col("disallow_prefixes").isNull(), F.lit(True)
    ).otherwise(
        ~F.exists("disallow_prefixes", lambda p: path.startswith(p))
    )
    return joined.withColumn("robots_allowed", allowed).withColumn(
        "crawl_delay_ms", F.coalesce(F.col("crawl_delay_ms"), F.lit(0))
    ).drop("disallow_prefixes")


def token_budget_cap(
    wave: DataFrame,
    wave_budget_ms: int = 4000,
    delay_floor_ms: int = 100,
    order_cols: tuple = None,
) -> DataFrame:
    """Token-bucket politeness: per-host fetches this wave are capped
    at ceil(wave_budget / crawl_delay). Deterministic per-host order
    (priority desc, seq asc by default) decides who makes the cut —
    the same ranking-window shape as the scheduler's top-k, so no new
    shuffle when already partitioned by domain."""
    order = list(order_cols) if order_cols else [F.desc("priority"), F.asc("seq")]
    # floor of 1: a wave is a time slice >= any crawl delay, so every
    # host always gets at least one fetch — otherwise an over-budget
    # wave would defer the same rows forever (livelock)
    cap = F.greatest(
        F.lit(1),
        F.ceil(
            F.lit(wave_budget_ms)
            / F.greatest(F.col("crawl_delay_ms"), F.lit(delay_floor_ms))
        ).cast("int"),
    )
    w = Window.partitionBy("domain").orderBy(*order)
    return (
        wave.withColumn("politeness_rank", F.row_number().over(w))
        .withColumn("within_budget", F.col("politeness_rank") <= cap)
    )
