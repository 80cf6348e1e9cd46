"""Frontier operators: link ingestion, dedup + in-degree merge,
deterministic wave selection.

Reference semantics: addLink crawler.go:425-470 (F4/F5/A4), addLinksOf
crawler.go:1063-1080 (F6), getNextLink crawler.go:384-423 (F7/F8/A3).

Spark-first design:
- the frontier is a DataFrame `(url, domain, count, status, seq,
  eligible)`; `seq` is the monotone insertion id that reproduces the
  reference's insertion-order tiebreak; `eligible` precomputes the
  selection-time `!isBanned && linkSeemsOk(url, true)` predicate
  (crawler.go:407) once at insert.
- wave-local dedup is a groupBy on the URL (one shuffle, map-side
  combine); cross-wave dedup + in-degree merge is a left join (count
  update) plus an anti-join (new URLs) on url, where the wave-sized
  candidate side is the one the planner broadcasts or shuffles.
- selection is a ranking window partitioned by domain (top-k per host)
  + a global TakeOrderedAndProject — no driver-side loop.

Status codes follow the reference (crawler.go:88): 0 pending,
1 crawling, 2 downloaded, 3 failed, 4 bootstrapping.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.config import CrawlConfig
from gocrawler_spark.functions import urls as U

def _assign_seq(new_rows: DataFrame, base: int) -> DataFrame:
    """Dense insertion seq for new URLs ordered by first_at =
    (parent_seq, pos), WITHOUT a single-partition global window.

    A global `row_number().over(Window.orderBy(first_at))` funnels
    every new row through one task (measured: the dominant cost of the
    merge at 5M rows, and it cannot scale). Because the order key is
    (parent_seq, pos), ranking decomposes:

      1. rank within parent: window partitioned by parent_seq —
         fully parallel;
      2. offset per parent: cumulative sum of per-parent counts over
         parent_seq order — a window over ONE ROW PER PARENT (wave-
         sized, thousands not millions), broadcast-joined back.

    seq = base + offset + rank - 1: byte-identical to the global
    window (first_at is unique per URL), verified by the exact-parity
    e2e suite."""
    ranked = new_rows.withColumn(
        "local_rank",
        F.row_number().over(
            Window.partitionBy(F.col("first_at.parent_seq")).orderBy(
                F.col("first_at.pos")
            )
        ),
    )
    offsets = (
        new_rows.groupBy(F.col("first_at.parent_seq").alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("p").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("p", "offset")
    )
    return ranked.join(
        F.broadcast(offsets), F.col("first_at.parent_seq") == F.col("p")
    ).withColumn(
        "seq",
        (F.lit(base) + F.col("offset") + F.col("local_rank") - 1).cast("long"),
    ).drop("p", "offset", "local_rank")


FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("domain", T.StringType(), True),
        T.StructField("count", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("eligible", T.BooleanType(), False),
    ]
)


def empty_frontier(spark: SparkSession) -> DataFrame:
    # zero partitions: scans run no (Python-worker) tasks
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), FRONTIER_SCHEMA)


def bootstrap_frontier(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """linkBootstraping (crawler.go:472-478): seed rows, status 4,
    validated with avoidCustomCheck=True but exempt from ban filters.

    Duplicate seeds merge through addLink's count++ on re-sight
    (crawler.go:455-459): one pool entry per distinct URL, count =
    occurrences, seq = first-sight order — NOT one row per list entry
    (duplicate url keys would corrupt every later url-keyed merge).

    The seeds go to the JVM as one Arrow table, whatever the session's
    Arrow conf: a list of tuples would become a Python RDD, whose scan
    starts Python workers in every set-up and resume, while the Arrow
    table becomes a local relation that the optimizer folds, filter
    and projection included, into one ``LocalTableScan``."""
    merged: dict[str, int] = {}
    for u in cfg.bootstrapping_links:
        merged[u] = merged.get(u, 0) + 1
    seeds = pa.table(
        {
            "url": pa.array(list(merged), pa.string()),
            "count": pa.array(list(merged.values()), pa.int64()),
            "seq": pa.array(range(len(merged)), pa.int64()),
        }
    )
    df = spark.createDataFrame(seeds)
    df = df.filter(U.link_seems_ok(F.col("url"), cfg, avoid_custom_check=True))
    return df.select(
        "url",
        U.domain_of(F.col("url")).alias("domain"),
        "count",
        F.lit(4).alias("status"),
        "seq",
        F.lit(True).alias("eligible"),  # status-4 selection skips checks
    )


def candidate_links(pages: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Explode a fetched wave's out-links and apply the reference's
    insert-time filters (F2/F3/F6).

    Input: (url, seq, links array<string>) — parent rows.
    Output: (url, domain, delta, parent_seq, pos) — one row per ACCEPTED
    link occurrence, pre-aggregated per URL within the wave.

    Filters, in reference order (addLinksOf → addLink):
      1. intra-site drop: parent SLD contained in child domain
         (crawler.go:1068)
      2. linkSeemsOk with the topical gate (avoidFilters=false)
      3. domain != ''
      4. isBanned
    (CGI canonicalization is dead code in the reference — see
    functions/urls.py.)
    """
    parent_sld = F.col("parent_sld")
    ex = pages.select(
        F.col("seq").alias("parent_seq"),
        U.second_level_domain_of(F.col("url")).alias("parent_sld"),
        F.posexplode("links").alias("pos", "link"),
    )
    child_domain = U.domain_of(F.col("link"))
    ok = (
        ~child_domain.contains(parent_sld)
        & U.link_seems_ok(F.col("link"), cfg, avoid_custom_check=False)
        & (child_domain != "")
        & ~U.is_banned(F.col("link"), child_domain, cfg)
    )
    cand = ex.filter(ok).select(
        F.col("link").alias("url"),
        child_domain.alias("domain"),
        "parent_seq",
        "pos",
    )
    # wave-local dedup + in-degree: one shuffle, map-side combine.
    # min(parent_seq, pos) keeps the FIRST occurrence for the insertion
    # order of brand-new URLs (reference appends on first sight).
    return cand.groupBy("url", "domain").agg(
        F.count(F.lit(1)).alias("delta"),
        F.min(F.struct("parent_seq", "pos")).alias("first_at"),
    )


def merge_into_frontier(
    frontier: DataFrame,
    cand: DataFrame,
    cfg: CrawlConfig,
    pin=None,
    base: int | None = None,
) -> DataFrame:
    """F5/A4 cross-wave merge: existing URLs get count += delta; new
    URLs are appended with insertion seq = max_seq + rank by
    (first parent_seq, first pos) — reproducing the reference's
    append order exactly at wave=1.

    Physical design (the measured-at-5M-rows version):
    - count update = frontier LEFT JOIN candidates. Catalyst/AQE picks
      the strategy: broadcast when the wave is small enough, else a
      sort-merge join.
    - new rows = candidates ANTI JOIN frontier, PINNED via
      localCheckpoint before seq assignment: _assign_seq consumes its
      input twice (ranking + offsets), and without the pin the join
      would re-execute per use (measured 2-4x the merge cost, with AQE
      reuse being unreliable). Callers running many waves pass `pin`
      (a PinSet.pin) so the block is freed once the merged frontier is
      materialized — the default bare localCheckpoint is never freed
      by Spark (see pins.py).
    - seq assignment is the two-level rank of _assign_seq — no
      single-partition window anywhere in the merge.

    `base` (the first seq to assign) may be supplied by callers that
    track it driver-side — this keeps the merge from running an extra
    max(seq) job over a frontier plan that may not be materialized yet.
    """
    if base is None:
        max_seq = frontier.agg(F.max("seq")).first()[0]
        base = (max_seq if max_seq is not None else -1) + 1

    if pin is None:
        pin = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    updated = (
        frontier.alias("f")
        .join(cand.alias("c").select("url", "delta"), "url", "left")
        .select(
            "url",
            F.col("f.domain").alias("domain"),
            (F.col("f.count") + F.coalesce(F.col("delta"), F.lit(0))).alias("count"),
            F.col("f.status").alias("status"),
            F.col("f.seq").alias("seq"),
            F.col("f.eligible").alias("eligible"),
        )
    )
    new_src = pin(
        cand.join(frontier.select("url"), "url", "left_anti").select(
            "url", "domain", "delta", "first_at"
        )
    )
    new = _assign_seq(new_src, base).select(
        "url",
        "domain",
        F.col("delta").cast("long").alias("count"),
        F.lit(0).alias("status"),
        "seq",
        # candidates already passed insert-time filters, and they are
        # stricter than the selection-time re-check (crawler.go:407)
        F.lit(True).alias("eligible"),
    )
    return updated.unionByName(new)


def select_wave(
    frontier: DataFrame,
    domain_counter: DataFrame,
    wave_size: int,
    per_host_budget: int,
    broadcast_counter: bool = True,
) -> DataFrame:
    """getNextLink generalized to waves (F7/F8).

    priority = count² / (domain_counter[domain] + 1)   (crawler.go:405)

    Total order: bootstrap rows first (by seq), then priority desc,
    seq asc — with wave_size=1 this reproduces the reference's
    selection (bootstrap short-circuit crawler.go:395-402; strict '>'
    keeps the earliest row on ties crawler.go:407).

    Scale mode: a per-host ranking window caps each host at
    `per_host_budget` (politeness + skew control — one hot host cannot
    monopolize a wave), then a global TakeOrderedAndProject picks the
    wave. domain_counter is one row per host: broadcast-hinted by
    default (it is what keeps the bucketed wave plan Exchange-free),
    but one-row-per-host is NOT small at every scale — a 1e10-URL
    frontier can span 1e8+ hosts, where a forced broadcast is a
    driver/executor OOM. Past that point pass
    ``broadcast_counter=False`` (the planner/AQE picks the join; the
    100 TB layout co-locates the counter in the same domain bucketing
    as the frontier so the join needs no new Exchange either way).
    """
    pending = frontier.filter((F.col("status") == 0) & F.col("eligible") | (F.col("status") == 4))
    counter = (
        F.broadcast(domain_counter) if broadcast_counter else domain_counter
    )
    scored = (
        pending.join(counter, "domain", "left")
        .withColumn(
            "priority",
            (F.col("count") * F.col("count")).cast("double")
            / (F.coalesce(F.col("n_scheduled"), F.lit(0)) + F.lit(1.0)),
        )
        .withColumn("is_boot", (F.col("status") == 4).cast("int"))
        # bootstrap rows win by POOL ORDER regardless of priority
        # (crawler.go:395-402 breaks on the first status-4 row)
        .withColumn(
            "order_priority",
            F.when(F.col("status") == 4, F.lit(0.0)).otherwise(F.col("priority")),
        )
    )
    if per_host_budget > 0 and wave_size > 1:
        w = Window.partitionBy("domain").orderBy(
            F.desc("is_boot"), F.desc("order_priority"), F.asc("seq")
        )
        scored = scored.withColumn("host_rank", F.row_number().over(w)).filter(
            F.col("host_rank") <= per_host_budget
        )
    sel = scored.orderBy(
        F.desc("is_boot"), F.desc("order_priority"), F.asc("seq")
    ).limit(wave_size)
    return sel.select("url", "domain", "count", "status", "seq", "priority")
