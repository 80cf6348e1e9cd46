#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus a synthetic
frontier schedule+dedup throughput job (the BASELINE.json north
metric), and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "frontier": {"rows": N, "merged": M, "urls_per_sec": ...}}

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
`python bench.py --scaling`, which re-runs the frontier job at both
parallelism levels in separate JVMs and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "corpus_freq_top100",
    "doc_signature",
    "signature_dedup",
    "keyword_ranking",
    "bigrams_top100",
    "background_subtract",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "minhash_bands",
    "simhash32",
    "embedding_knn",
    "ann_lsh_buckets",
    "doc_fingerprint",
    "tpch_q1_pricing",
    "tpch_q3_toporders",
    "tpch_q5_region_revenue",
    "events_hourly",
    "events_sessionize",
    "frontier_priority_topk",
    "image_metadata_stats",
    "jpeg_codec_roundtrip",
    "image_validate_summary",
    "image_phash_near_dups",
    "trigrams_bounded",
    "ngrams_pruned_2to4",
    "minhash_lsh_pairs",
    "embedding_cosine_near_dups",
    "ann_ivf_topk",
    "image_resize_summary",
    "image_sharpness_stats",
    "image_exposure_stats",
    "image_quality_funnel",
    "image_model_scores",
    "image_byte_dedup",
    "opic_priorities",
    "image_bucketed_enrich",
    "streaming_scored_ingest",
    "image_privacy_strip",
    "image_compaction_stats",
    "multimodal_quality_funnel",
    "wds_export_stats",
    "audio_metadata_stats",
    "video_metadata_stats",
    "audio_features_summary",
    "video_frame_sample_motion",
    "html_extract_stats",
    "baseline_merge",
    "ngrams_pruned_2to5",
    "simhash_near_dups",
    "dedup_clusters",
    "gopher_quality_filter",
    "oov_quality",
    "repetition_stats",
    "curation_verdict",
    "doc_token_stats",
    "stopword_ratio_band",
    "url_validate",
    "lang_id_heuristic",
    "quality_score",
    "token_count_bpe",
    "events_top_purchasers",
    "crawl_frontier_5waves",
    "bpe_token_stats",
    "embedding_dedup_clusters",
    "sample_stratified",
    "decontaminate_overlap",
    "image_caption_dedup",
    "caption_decontaminate",
    "image_dedup_clusters",
    "span_dedup_coverage",
    "image_curation_filter",
    "pii_scrub_stats",
    "ann_recall_at_k",
    "ann_pq_adc_topk",
    "image_embedding_near_dups",
    "minhash_incremental_probe",
    "ann_ivfpq_topk",
    "events_pagerank",
    "events_attribution_asof",
    "events_rollup_multi",
    "events_value_range_join",
    "hll_distinct_shingles",
    "sequence_packing",
    "unigram_lm_nll",
    "host_quality_stats",
    "minhash_jaccard_estimate",
    "inverted_index_stats",
    "bm25_topk",
    "tfidf_topterms",
    "domain_mixture_weights",
    "dsir_importance_weights",
    "dsir_resample_topk",
    "image_shard_packing",
    "crawl_polite_8waves",
    # scale-mode gate family: wave8 pays the one memoized 8x8 engine
    # run; visited + the golden-run chain read its pinned state
    "crawl_scale_wave8",
    "crawl_scale_visited",
    "golden_run_noeng_top100",
    # retire -> checkpoint -> resume -> recrawl engine gate (own run)
    "crawl_recrawl_wave",
    "entity_freq_top32",
    "stem_spec_vocab",
    "stemmed_corpus_top100",
    "doc_length_quantiles",
    "kmeans_semdedup",
    "recrawl_priority",
    "host_inlink_stats",
    "image_ar_buckets",
    "robots_parse_verdicts",
    "sitemap_seed_stats",
    "warc_roundtrip_stats",
    "crawl_budget_allocation",
    "warc_cdx_lookup_stats",
    "anchor_text_stats",
    "image_caption_provenance",
    "streaming_corpus_top100",
    "image_patch_tokens",
    "multimodal_packing",
    "image_caption_alignment",
    "warc_revisit_stats",
    "streaming_image_ingest",
    "streaming_dedup_drops",
    "redirect_resolution",
    "cms_heavy_hitters",
    "url_trap_scores",
]

# Sequential engine-loop GATES: run-the-wave-loop verifications whose
# cost is per-wave driver latency at toy wave sizes by design (the
# constant amortizes at deployment wave sizes — see BENCH/BASELINE.md
# "Reading the pinned curve"). Reported as a separate subtotal so
# round-over-round ANALYTICS totals stay comparable as gates accumulate.
ENGINE_GATES = {
    "crawl_frontier_5waves",
    "crawl_polite_8waves",
    "crawl_scale_wave8",
    "crawl_scale_visited",
    "crawl_recrawl_wave",
    "golden_run_noeng_top100",  # reads the pinned scale-run state
}


def _assert_headline_covers_registry() -> None:
    """Every registered query must be benched (ordering stays explicit
    because result-memoized queries attribute shared work to whichever
    consumer runs first)."""
    from gocrawler_spark.queries import QUERIES

    missing = set(QUERIES) - set(HEADLINE)
    stale = set(HEADLINE) - set(QUERIES)
    if missing or stale:
        # not assert: must fire even under python -O
        raise RuntimeError(
            f"HEADLINE out of sync with registry: "
            f"missing={sorted(missing)} stale={sorted(stale)}"
        )

# synthetic frontier size for the throughput job (local scale; the
# 1e10 target is reached by sharding the same plan — see BENCH notes)
FRONTIER_ROWS = int(os.environ.get("BENCH_FRONTIER_ROWS", "5000000"))
CAND_ROWS = FRONTIER_ROWS // 2


def build_spark(cpus: int):
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import SparkSession

    from gocrawler_spark.plans.bucketed import apply_confs

    # the warehouse holds the synthetic bucketed frontier table
    # (~GBs at sweep row counts); reclaim it when this process exits —
    # a multi-JVM --scaling sweep would otherwise accumulate one
    # frontier-sized dir per JVM and can fill the disk
    wh = tempfile.mkdtemp(prefix="bench_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    return (
        apply_confs(
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("gocrawler-spark-bench")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.warehouse.dir", wh)
        )
        .getOrCreate()
    )


def synthetic_frontier(spark, n: int):
    """Deterministic 1e10-shape frontier: url/host/count/status/seq.
    ~50k hosts with a Zipf-ish skewed host assignment (id*id % H) so
    the per-host window sees realistic hot hosts."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.concat(
                F.lit("https://host"),
                ((F.col("id") * F.col("id") + F.col("id")) % 50000).cast("string"),
                F.lit(".example/p"),
                F.col("id").cast("string"),
            ).alias("url"),
            (
                F.concat(
                    F.lit("host"),
                    ((F.col("id") * F.col("id") + F.col("id")) % 50000).cast("string"),
                    F.lit(".example"),
                )
            ).alias("domain"),
            (F.col("id") % 13 + 1).alias("count"),
            F.lit(0).alias("status"),
            F.col("id").alias("seq"),
            F.lit(True).alias("eligible"),
        )
    )


def frontier_throughput(spark, warmup: bool = True, reps: int = 5) -> dict:
    """The north-metric job: schedule (priority + top-k per host +
    global wave cut) AND dedup-merge over the synthetic frontier;
    throughput = URLs touched/sec, where touched = frontier rows
    scanned + candidate rows merged.

    Denominator honesty: the candidate stream is DISTINCT by
    construction (id*7 is a bijection mod 2*FRONTIER_ROWS and the host
    term is a function of the path term), so the pre-clock groupBy
    below is a count-neutral shaping step (every group has size 1 —
    it exists to produce the merge's (url, delta, first_at) input
    schema, not to remove rows) and CAND_ROWS is exactly the number of
    rows the TIMED merge consumes. The dedup the clock measures is the
    real one: candidate-vs-frontier collision resolution (≈50% of
    candidates hit an existing URL) inside the co-located merge joins.

    Methodology: inputs are MATERIALIZED (localCheckpoint) before the
    clock starts — the metric is schedule+dedup, not synthetic string
    generation — and the job runs once untimed to absorb JVM JIT /
    whole-stage-codegen warmup (measured: the first run of a fresh JVM
    is 5-10x slower and does not reflect steady-state throughput).
    Reported time is the MIN of `reps` runs: this sandbox shows
    one-sided multi-second scheduling stalls unrelated to the plan
    (measured: identical back-to-back runs of 1s jobs spike to 9-17s
    with JVM GC logs showing <1s pauses), and min is the standard
    noise-robust estimator of intrinsic job cost. Per-rep pins are
    freed via PinSet so reps don't accumulate block-manager garbage.

    Physical shape: the frontier is read from its domain-bucketed,
    (domain, url)-sorted table (plans/bucketed.py) — a kernel layout,
    not the crawl engine's pinned frontier — so the measured per-wave plan
    shuffles ONLY wave-sized data: the per-host window runs with no
    Exchange and the merge joins scan the frontier in place."""
    from pyspark.sql import functions as F

    from gocrawler_spark.pins import PinSet
    from gocrawler_spark.plans.bucketed import BucketedFrontier

    # AQE OFF for the frontier segment (env-overridable): the job's
    # partitioning is fully explicit — bucketed frontier scan, fixed
    # shuffle partitions, wave-sized candidate exchange — so AQE has
    # nothing to re-plan, but it turns every runtime query stage into
    # its own Spark job: the round-4 job audit measured 10 jobs / 21
    # stages per rep under AQE vs 4 with it off (identical results,
    # asserted by tests/test_bench_contract.py). Per-job driver
    # scheduling latency is the dominant term of the non-scaling
    # constant f in the strong-scaling fit (BENCH/BASELINE.md), so
    # collapsing the job cadence is a direct scaling-efficiency win.
    # The analytics query suite keeps AQE on (build_spark default).
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        os.environ.get("BENCH_FRONTIER_AQE", "false"),
    )
    # Auto-broadcast OFF for the segment: at sweep row counts the
    # planner already picks the co-located SMJs (the candidate side
    # exceeds the threshold), but at the small row counts the contract
    # tests use it would silently flip the merge joins to broadcast —
    # a different plan than the one the sweep measures. Disabling the
    # SIZE-based choice pins the 1e10-shape plan at every
    # BENCH_FRONTIER_ROWS; the two intentional broadcasts (domain
    # counter, seq offsets) are explicit F.broadcast hints and remain.
    abj_prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    bf = BucketedFrontier(spark, name="bench_frontier", n_buckets=max(spark.sparkContext.defaultParallelism, 8))
    bf.write(synthetic_frontier(spark, FRONTIER_ROWS))
    dc = spark.createDataFrame([], "domain string, n_scheduled long")
    # candidate stream: 50% collide with existing URLs (dedup hits),
    # 50% brand new — the F5/A4 merge path. Distinct first_at values
    # mirror real wave output (per-parent ordering).
    cand = (
        spark.range(CAND_ROWS)
        .select(
            F.concat(
                F.lit("https://host"),
                (((F.col("id") * 7) * ((F.col("id") * 7) + 1)) % 50000).cast("string"),
                F.lit(".example/p"),
                (F.col("id") * 7 % (FRONTIER_ROWS * 2)).cast("string"),
            ).alias("url"),
            (F.col("id") % 10_000).alias("parent_seq"),
            F.col("id").alias("pos"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("delta"),
            F.min(F.struct("parent_seq", "pos")).alias("first_at"),
        )
        .withColumn(
            "domain",
            F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1),
        )
        .localCheckpoint(eager=True)
    )

    sc = spark.sparkContext
    rep_counter = iter(range(10_000))

    def run_once():
        # The merge's anti-join result keeps the engine's EAGER
        # localCheckpoint pin (one driver action before the fused
        # commit below). A lazy persist was tried in round 5 to fuse
        # the whole wave into one action and REVERTED after failing at
        # 400M rows on local[2]: the seq-offsets broadcast exchange
        # then recomputes the heavy anti-join inside its own broadcast
        # job — racing the ranked branch for duplicate work (persist
        # does not dedupe in-flight computation across concurrently
        # submitted stages) and blowing the 300 s
        # spark.sql.broadcastTimeout. Materializing the shared input
        # before anything consumes it twice is the correct shape at
        # every scale; the serialized action's cost is part of f and
        # is already amortized by the fused two-leg commit.
        pins = PinSet(spark)
        # unique job group per rep so the post-rep job count audits
        # exactly this rep's driver-action cadence (the scaling lever
        # the AQE-off conf targets; reported as jobs_per_rep)
        group = f"frontier_rep_{next(rep_counter)}"
        sc.setJobGroup(group, "bench frontier rep")
        t0 = time.time()
        sel = bf.select_wave(dc, wave_size=100_000, per_host_budget=4)
        # max_seq is tracked engine state metadata, not a per-wave agg
        merged = bf.merge(cand, pin=pins.pin, base=FRONTIER_ROWS)
        # ONE fused driver action for both wave pipelines (an engine
        # commits a wave as one job): counting them separately serializes
        # two driver actions whose fixed planning/scheduling latency does
        # not shrink with cores — measured as the dominant term of the
        # per-run constant f in the strong-scaling fit (BENCH/BASELINE.md
        # "Reading the pinned curve"). The seq checksum keeps each leg's
        # result order-DEPENDENT so Catalyst cannot elide the selection
        # sort under the fused count (verified via explain: the plan
        # keeps TakeOrderedAndProject + both merge joins).
        rows = (
            sel.select(F.lit("sel").alias("leg"), F.col("seq").alias("v"))
            .unionByName(
                merged.select(F.lit("merged").alias("leg"), F.col("seq").alias("v"))
            )
            .groupBy("leg")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("chk"))
            .collect()
        )
        dt = time.time() - t0
        sc.setJobGroup("", "")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        pins.release_all()
        counts = {r["leg"]: r["n"] for r in rows}
        # .get: a tiny BENCH_FRONTIER_ROWS override can leave a leg
        # empty, which yields no group row rather than an n=0 row
        return dt, counts.get("sel", 0), counts.get("merged", 0), n_jobs

    try:
        if warmup:
            run_once()
        runs = [run_once() for _ in range(reps)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abj_prev)
    dt = min(r[0] for r in runs)
    _, n_sel, n_after, _ = runs[0]
    touched = FRONTIER_ROWS + CAND_ROWS
    return {
        "rows": FRONTIER_ROWS,
        "cand_rows": CAND_ROWS,
        "selected": n_sel,
        "frontier_after": n_after,
        "sec": round(dt, 3),
        "runs_sec": [round(r[0], 3) for r in runs],
        "jobs_per_rep": runs[0][3],
        "urls_per_sec": round(touched / dt),
    }


def bloom_throughput(spark) -> dict:
    """Sharded Bloom seen-set (north_rule FPR<=1e-6): build over the
    frontier's URLs, probe a half-seen/half-new candidate stream.
    The 1e10 target is the same plan with more shards (geometry math
    asserted in tests/test_bloom.py::test_geometry_north_rule_scale)."""
    from pyspark.sql import functions as F

    from gocrawler_spark.operators import bloom as B

    n = min(FRONTIER_ROWS, 2_000_000)
    shards = 64
    urls = synthetic_frontier(spark, n).select("url").localCheckpoint(eager=True)
    # min-of-3, same noise-robust protocol as the frontier segment
    # (this sandbox shows one-sided multi-second stalls; min estimates
    # the intrinsic cost)
    t_build = None
    for _ in range(3):
        t0 = time.time()
        bf = B.build(
            urls, n_shards=shards, expected_keys_per_shard=n // shards, fpr=1e-6
        ).cache()
        bf.count()
        dt = time.time() - t0
        t_build = dt if t_build is None or dt < t_build else t_build
        if _ < 2:
            bf.unpersist()
    cand = urls.limit(n // 2).unionByName(
        spark.range(n // 2).select(
            F.concat(F.lit("https://new"), F.col("id").cast("string"),
                     F.lit(".example/x")).alias("url")
        )
    ).localCheckpoint(eager=True)
    t_probe = None
    n_seen = 0
    for _ in range(3):
        t0 = time.time()
        res = B.probe(bf, cand, n_shards=shards)
        n_seen = res.filter(F.col("maybe_seen")).count()
        dt = time.time() - t0
        t_probe = dt if t_probe is None or dt < t_probe else t_probe
    return {
        "keys": n,
        "build_sec": round(t_build, 3),
        "build_urls_per_sec": round(n / t_build),
        "probe_rows": n,
        "probe_sec": round(t_probe, 3),
        "probe_urls_per_sec": round(n / t_probe),
        "maybe_seen": n_seen,
        "false_positives": n_seen - n // 2,
    }


def cuckoo_throughput(spark) -> dict:
    """Sharded cuckoo seen-set (the deletable half of the north_rule's
    "bloom/cuckoo" family): build over the frontier's URLs, probe a
    half-seen/half-new stream, then DELETE the seen half — the
    retirement operation Bloom cannot do without a rebuild. Same
    min-of-3 noise protocol as the bloom segment."""
    from pyspark.sql import functions as F

    from gocrawler_spark.operators import cuckoo as C

    n = min(FRONTIER_ROWS, 2_000_000)
    shards = 64
    urls = synthetic_frontier(spark, n).select("url").localCheckpoint(eager=True)
    t_build = None
    cf = None
    for i in range(3):
        t0 = time.time()
        cf = C.build(urls, n_shards=shards, expected_keys_per_shard=n // shards).cache()
        cf.count()
        dt = time.time() - t0
        t_build = dt if t_build is None or dt < t_build else t_build
        if i < 2:
            cf.unpersist()
    seen_half = urls.limit(n // 2).localCheckpoint(eager=True)
    cand = seen_half.unionByName(
        spark.range(n // 2).select(
            F.concat(F.lit("https://new"), F.col("id").cast("string"),
                     F.lit(".example/x")).alias("url")
        )
    ).localCheckpoint(eager=True)
    t_probe = None
    n_seen = 0
    for _ in range(3):
        t0 = time.time()
        res = C.probe(cf, cand, n_shards=shards)
        n_seen = res.filter(F.col("maybe_seen")).count()
        dt = time.time() - t0
        t_probe = dt if t_probe is None or dt < t_probe else t_probe
    t0 = time.time()
    after = C.delete(cf, seen_half, n_shards=shards)
    still = (
        C.probe(after, seen_half, n_shards=shards)
        .filter(F.col("maybe_seen"))
        .count()
    )
    t_delete = time.time() - t0  # includes the verification probe
    return {
        "keys": n,
        "build_sec": round(t_build, 3),
        "build_urls_per_sec": round(n / t_build),
        "probe_rows": n,
        "probe_sec": round(t_probe, 3),
        "probe_urls_per_sec": round(n / t_probe),
        "maybe_seen": n_seen,
        "false_positives": n_seen - n // 2,
        "delete_rows": n // 2,
        "delete_plus_verify_sec": round(t_delete, 3),
        "deleted_still_seen": still,
    }


def noise_canary(spark) -> dict:
    """Fixed host-speed calibration job, reported alongside every
    bench run. This VM sits on a shared hypervisor whose contention is
    invisible in /proc/loadavg yet slows identical Spark jobs 5-10x
    (measured same-day: the same frontier segment at 3.3 s and 11.6 s
    min-of-5, load < 0.5 both times). A fixed CPU-bound job — hash +
    aggregate over 20M rows, no I/O, no UDFs — run 3x gives each
    BENCH_r*.json its own machine-speed reference, so per-round totals
    can be read relative to the host's speed at measurement time
    rather than as absolute regressions."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.time()
        (
            spark.range(20_000_000)
            .select(F.xxhash64("id").alias("h"))
            .groupBy((F.col("h") % 1024).alias("b"))
            .agg(F.sum("h").alias("s"))
            .count()
        )
        return time.time() - t0

    runs = [round(once(), 3) for _ in range(3)]
    return {"rows": 20_000_000, "runs_sec": runs, "min_sec": min(runs)}


def _warm_session(spark) -> None:
    """Absorb one-time session costs (codegen compiler, Arrow init,
    Python worker pool spin-up) so per-query timings measure the
    queries, not JVM cold-start: measured 6s+ folded into whichever
    query happens to run first."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark.range(1000).select(
        F.explode(F.split(F.lit("a b c"), " ")).alias("t")
    ).groupBy("t").count().count()

    def noop(batches):
        for pdf in batches:
            yield pd.DataFrame({"x": pdf["id"]})

    spark.range(100).mapInPandas(noop, "x long").count()


def run_queries(spark) -> dict:
    from gocrawler_spark.queries import QUERIES

    _assert_headline_covers_registry()
    _warm_session(spark)
    out = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n = df.count()
        out[name] = round(time.time() - t0, 3)
    return out


def main_bench():
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # North-metric segments (frontier/bloom/cuckoo) run FIRST, in a
    # warm but otherwise clean JVM: measured 1.72M URLs/s when the
    # same segment ran after the 81-query suite vs 2.25M+ fresh — the
    # suite leaves block-manager/GC pressure that depresses a
    # throughput metric the query timings don't suffer from (each
    # query is short; the frontier segment is a sustained 7.5M-row
    # job). Queries keep their own _warm_session so their timings are
    # unaffected by the reorder.
    _warm_session(spark)
    # canary sampled at BOTH ends: a fast host at t=0 can degrade
    # mid-run (observed: start canary 0.69 s, then the same ngram
    # queries 6x slower than their quiet-window costs), and a single
    # leading sample would misattribute that to the code
    canary = noise_canary(spark)
    # CANARY GUARD (round-5): the r4 closing suite ran under ~2x host
    # contention (start canary 0.537 s vs the 0.28-0.35 s quiet
    # reference) and its analytics subtotal recorded a phantom +22%
    # that a quiet re-timing fully dissolved. If the start canary
    # exceeds 1.5x the quiet reference, wait and re-sample a few
    # times; if the box never quiets, still emit the JSON but flag it
    # host_contended so the subtotals are not read as a regression
    # base. The reference only applies at >=8 cores (the canary
    # parallelizes; measured quiet mins are ~flat 0.28-0.42 s across
    # local[8..32], but a 2-core canary is intrinsically slower).
    quiet_ref = float(os.environ.get("BENCH_CANARY_QUIET_REF", "0.30"))
    contended = CPUS >= 8 and canary["min_sec"] > 1.5 * quiet_ref
    if contended:
        for _ in range(int(os.environ.get("BENCH_CANARY_RETRIES", "3"))):
            time.sleep(30)
            canary = noise_canary(spark)
            if canary["min_sec"] <= 1.5 * quiet_ref:
                contended = False
                break
    fr = frontier_throughput(spark)
    bl = bloom_throughput(spark)
    ck = cuckoo_throughput(spark)
    q = run_queries(spark)
    canary = {"start": canary, "end": noise_canary(spark)}
    total = round(sum(q.values()) + fr["sec"], 3)
    gates = round(sum(s for n, s in q.items() if n in ENGINE_GATES), 3)
    analytics = round(sum(s for n, s in q.items() if n not in ENGINE_GATES), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    scaling = None
    try:
        with open("BENCH/scaling_latest.json") as f:
            scaling = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    print(
        json.dumps(
            {
                "metric": "headline query suite + frontier schedule/dedup throughput",
                "value": total,
                "unit": "sec",
                # sequential engine-loop gates vs everything else:
                # round-over-round comparisons should read
                # analytics_sec (gates are run-the-loop verifications
                # whose per-wave driver latency dominates at toy SF)
                "engine_gates_sec": gates,
                "analytics_sec": analytics,
                "engine_gate_queries": sorted(ENGINE_GATES),
                "queries": q,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "host_canary": canary,
                # True = suite ran on a box the canary guard could not
                # quiet; do NOT use this run's subtotals as a
                # round-over-round comparison base (see r4 postmortem)
                "host_contended": contended,
                "canary_quiet_ref_sec": quiet_ref,
                "frontier": fr,
                "bloom": bl,
                "cuckoo": ck,
                # latest `--scaling` sweep (pinned multi-level, DRAM
                # ceiling) — see BENCH/BASELINE.md Protocol
                "scaling_evidence": scaling,
            }
        )
    )
    spark.stop()


def main_frontier_only(cpus: int):
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    canary = noise_canary(spark)
    # BENCH_FRONTIER_REPS trades noise robustness for wall clock on the
    # long large-row sweeps (a local[1] rep at 200M rows is ~5 min;
    # min-of-3 across 2 interleaved JVMs is still 6 samples per level)
    reps = int(os.environ.get("BENCH_FRONTIER_REPS", "5"))
    fr = frontier_throughput(spark, reps=reps)
    print(json.dumps({"cpus": cpus, "host_canary": canary, **fr}))
    spark.stop()


def main_scaling(levels=(8, 32), reps=2):
    """Run the identical frontier job at several parallelism levels
    (north_rule two-cluster-size criterion: N and 4N cores; passing
    more than two levels measures the whole curve, and the efficiency
    is reported for every (N, 4N) pair present).

    Noise protocol (see BENCH/BASELINE.md): levels are interleaved
    round-robin across `reps` fresh JVMs per level; each JVM itself
    times 5 runs after a warmup and reports the MIN; the level's
    throughput is the best JVM's. A DRAM-bandwidth probe
    (scripts/membw_probe.py) runs after the Spark measurements and is
    reported alongside: the frontier job is scan/join-bound, so on ONE
    box the 4x-core efficiency of any level pair is physically capped
    by the socket's bandwidth ratio between those core counts — a cap
    a real 4x-node cluster does not have (4x nodes = 4x memory
    channels). Results are spliced between the RESULTS markers of
    BENCH/BASELINE.md (the surrounding protocol/caveat prose is
    kept); if the file or markers are missing, a minimal doc is
    written."""
    levels = tuple(sorted(set(levels)))

    import shutil

    pin = shutil.which("taskset") is not None

    def one_jvm(cpus: int) -> dict | None:
        """One fresh-JVM measurement; retry once on failure (this VM
        shows transient JVM deaths under back-to-back 48g heaps) and
        surface the subprocess stderr tail instead of aborting the
        whole interleaved protocol.

        The JVM is PINNED to exactly `cpus` host cores (taskset) when
        available: without pinning, a local[8] JVM on a 32-core box
        still uses all 32 cores for GC/compiler/IO helper threads and
        Python workers, inflating the small level's throughput and
        biasing the measured N->4N efficiency DOWN (measured: the
        unpinned local[8] min improved 1.9x across days while
        local[32] held, swinging 'efficiency' 0.93 -> 0.47 on
        identical code). Pinning makes 'N executors' mean N cores of
        EVERYTHING; the memory bus remains shared — a residual bias
        that still favors the small level, so the pinned ratio is a
        conservative lower bound."""
        cmd = [sys.executable, __file__, "--frontier-only", str(cpus)]
        if pin:
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        for attempt in (1, 2):
            # let the previous JVM's derby metastore lock release —
            # a back-to-back start can fail instantly on the lock
            time.sleep(5)
            p = subprocess.run(
                cmd,
                capture_output=True,
                text=True,
            )
            lines = [
                l for l in p.stdout.strip().splitlines() if l.startswith("{")
            ]
            if p.returncode == 0 and lines:
                return json.loads(lines[-1])
            tail = "\n".join(p.stderr.strip().splitlines()[-12:])
            sys.stderr.write(
                f"[scaling] local[{cpus}] attempt {attempt} failed "
                f"(rc={p.returncode}); stderr tail:\n{tail}\n"
            )
        return None

    runs: dict[int, list[dict]] = {lv: [] for lv in levels}
    for _ in range(reps):
        for cpus in levels:  # interleaved to cancel machine drift
            r = one_jvm(cpus)
            if r is not None:
                runs[cpus].append(r)
    for cpus, rs in runs.items():
        if not rs:
            raise RuntimeError(
                f"no successful measurement at local[{cpus}] after retries"
            )
    best = {c: max(rs, key=lambda r: r["urls_per_sec"]) for c, rs in runs.items()}
    tput = {c: best[c]["urls_per_sec"] for c in levels}
    pairs = [(lo, lo * 4) for lo in levels if lo * 4 in tput]
    eff = {
        f"{lo}->{hi}": round((tput[hi] / tput[lo]) / (hi / lo), 3)
        for lo, hi in pairs
    }

    # DRAM-bandwidth ceiling: measured AFTER the Spark runs (the probe
    # saturates the memory bus and would perturb them)
    membw = None
    probe = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "scripts", "membw_probe.py")
    if os.path.exists(probe):
        bw_levels = sorted({1, *levels, *(lo * 4 for lo, _ in pairs)})
        p = subprocess.run(
            [sys.executable, probe] + [str(x) for x in bw_levels],
            capture_output=True, text=True,
        )
        if p.returncode == 0 and p.stdout.strip().startswith("{"):
            membw = json.loads(p.stdout.strip().splitlines()[-1])

    report = {
        "job": "frontier schedule+dedup (see bench.py frontier_throughput)",
        "rows": best[levels[0]]["rows"],
        **{f"local{c}_urls_per_sec": tput[c] for c in levels},
        "scaling_efficiency": eff,
        "protocol": (
            f"interleaved round-robin, {reps} JVMs per level, "
            f"min-of-{os.environ.get('BENCH_FRONTIER_REPS', '5')} per JVM"
            + (", JVMs core-pinned via taskset" if pin else "")
        ),
        # per-JVM host canaries (comparable WITHIN a level: the canary
        # itself parallelizes, so 8-core and 32-core canaries differ
        # intrinsically) — a slow canary flags a contended JVM
        "host_canaries": {
            f"local{c}": [
                r.get("host_canary", {}).get("min_sec") for r in rs
            ]
            for c, rs in runs.items()
        },
        "dram_bandwidth": membw,
    }
    print(json.dumps(report))
    # persist for main_bench: each round's BENCH_r*.json then carries
    # the latest scaling evidence (the driver only runs `python
    # bench.py`, never --scaling)
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling_latest.json", "w") as f:
        json.dump(report, f)

    def fmt_runs(rs):
        return " / ".join(
            ", ".join(str(round(s, 1)) for s in r["runs_sec"]) for r in rs
        )

    def fmt_canaries(rs):
        return ", ".join(
            str(r.get("host_canary", {}).get("min_sec", "?")) for r in rs
        )

    rows_md = "".join(
        f"| local[{c}] | {best[c]['sec']} | {tput[c]:,} | {fmt_runs(runs[c])} |\n"
        for c in levels
    )
    eff_md = ", ".join(
        f"{lo}\u2192{hi}: {eff[f'{lo}->{hi}']}" for lo, hi in pairs
    )
    canary_md = "; ".join(
        f"local[{c}]: {fmt_canaries(runs[c])}" for c in levels
    )
    bw_md = ""
    if membw:
        bw_md = (
            "- DRAM copy bandwidth on this box (GB/s by concurrent "
            "pinned cores): "
            + ", ".join(
                f"{k}: {v}" for k, v in membw["levels_gbps"].items()
            )
            + " \u2014 bandwidth-bound 4\u00d7 efficiency ceiling: "
            + ", ".join(
                k.replace("->", "\u2192") + f": {v}"
                for k, v in membw["efficiency_ceiling_4x"].items()
            )
            + " (the frontier job is scan/join-bound; on one box all "
            "cores share a memory controller, on a real 4\u00d7 "
            "cluster bandwidth scales with nodes)\n"
        )
    block = (
        f"## Results ({__import__('datetime').date.today()}, "
        "interleaved round-robin, "
        f"{best[levels[0]]['rows']:,}-row frontier"
        + (", JVMs core-pinned via taskset" if pin else "")
        + ")\n\n"
        "| parallelism | min wall sec | URLs/sec | all timed runs (sec) |\n"
        "|---|---|---|---|\n"
        + rows_md
        + "\n"
        f"- **scaling efficiency per 4\u00d7 cores: {eff_md}** "
        "(target \u2265 0.8)\n"
        + bw_md
        + "- per-JVM host-canary mins (within-level contention check): "
        f"{canary_md}\n"
    )
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/BASELINE.md"
    B, E = "<!-- RESULTS:BEGIN -->", "<!-- RESULTS:END -->"
    try:
        doc = open(path).read()
        assert B in doc and E in doc
        # first BEGIN .. last END, so historical duplicated markers
        # inside the block collapse instead of accumulating
        doc = doc[: doc.index(B) + len(B)] + "\n" + block + doc[doc.rindex(E):]
    except (FileNotFoundError, AssertionError):
        doc = (
            "# BENCH \u2014 frontier throughput + scaling efficiency\n\n"
            + B + "\n" + block + E + "\n"
        )
    with open(path, "w") as f:
        f.write(doc)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        levels = tuple(int(a) for a in sys.argv[2:]) or (8, 32)
        main_scaling(levels)
    elif len(sys.argv) > 1 and sys.argv[1] == "--frontier-only":
        main_frontier_only(int(sys.argv[2]))
    else:
        main_bench()
