"""The crawl engine: iterative batch "waves" over DataFrame state.

Each wave is ONE declarative DataFrame job graph (SURVEY.md §2.8):

    frontier ──select (window/top-k per host + global ordered limit)
            ──fetch (anti-join pages cache → Arrow-batched pandas UDF,
                      politeness fail-count refusal)
            ──┬─ curation column chain → gates → signature dedup
              │      → accepted docs → corpus_freq MERGE
              └─ link explode → validate/ban filters → wave-local
                 groupBy dedup → frontier full-outer MERGE

With wave_size=1 the engine reproduces the reference's sequential
schedule exactly (crawl order, URL-seen set, accepted docs, corpus
frequencies — verified against oracle/pyoracle.py). With wave_size=k
it is the scale mode: the same plan, more rows per wave.

Scale design (100 TB / 1e10-URL frontier):
- the frontier is one pinned DataFrame, materialized once per wave:
  the selected rows' status transition fuses into the link merge,
  whose joins broadcast the wave-sized side (Catalyst/AQE picks the
  strategy), so the frontier side is streamed, never rebuilt twice;
- domain_counter / fail_counts are one-row-per-host dims → broadcast;
- the fetch stage repartitions the wave by domain so per-task host
  fan-out is bounded; per_host_budget caps per-host skew per wave;
- state lineage is truncated per wave via localCheckpoint (test mode)
  or parquet snapshots + a JSON manifest (resume mode — an
  Iceberg-style shim; see TableStore). Checkpoints mirror the
  in-memory delta shape: append-only families persist ONLY the rows
  appended since the last commit (O(wave) I/O per checkpoint), the
  manifest naming the cumulative segment list;
- append-only state (pages, signatures, logs, corpus/host counters)
  is DELTA-ACCUMULATED: each wave pins only its small delta and the
  state field is a lazy union of the pinned pieces, compacted into a
  single pin every COMPACT_EVERY waves — the Iceberg delta+compact
  pattern. This cuts the eager materializations per wave roughly in
  half versus re-checkpointing every full table every wave, and at
  1e10-row scale it is the only shape that works at all (re-writing
  a frontier-sized table per wave is O(waves · state)).

The network fetcher is pluggable; tests/bench use the deterministic
synthetic web (sources/synthetic_web.py). Replaces reference
crawler.go:1082-1406,1477-1543.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.config import CrawlConfig
from gocrawler_spark.operators import corpus as CO
from gocrawler_spark.operators import curation as CU
from gocrawler_spark.operators import frontier as FR
from gocrawler_spark.operators import cuckoo as CK
from gocrawler_spark.operators import images as IM
from gocrawler_spark.operators import politeness as PO
from gocrawler_spark.pins import PinSet
from gocrawler_spark.plans.store import TableStore

# fixed engine geometry (no caller has needed another value)
COMPACT_EVERY = 8  # waves between compactions of the delta pieces
CUCKOO_SHARDS = 16  # shards of the deletable seen-set
WAVE_BUDGET_MS = 4000  # per-host crawl-delay budget of one wave

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def pandas_fetcher(fetch_fn) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Wrap a python fetch function (url -> (content, links, ok)) into a
    mapInPandas batch function (Arrow transfer, no per-row Python in
    Spark's row pipeline — the fetch itself is inherently per-URL)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "content": [], "links": [], "ok": []}
            for u in pdf["url"]:
                c, l, ok = fetch_fn(u)
                out["url"].append(u)
                out["content"].append(c)
                out["links"].append(l)
                out["ok"].append(ok)
            yield pd.DataFrame(out)

    return fn


def pandas_html_fetcher(html_fetch_fn) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """S2 with real markup: wrap a raw-page fetch (url -> (html, ok))
    and derive (plain_text, links) from the body IN the same Arrow
    batch via functions/html.py — the downloadUrl product pair
    (crawler.go:219,235) as one vectorized stage."""
    from gocrawler_spark.functions import html as HT

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "content": [], "links": [], "ok": []}
            for u in pdf["url"]:
                raw, ok = html_fetch_fn(u)
                c, l = HT.parse_page(raw) if ok else ("", [])
                out["url"].append(u)
                out["content"].append(c)
                out["links"].append(l)
                out["ok"].append(ok)
            yield pd.DataFrame(out)

    return fn


@dataclass
class CrawlState:
    frontier: DataFrame
    domain_counter: DataFrame  # (domain, n_scheduled)
    fail_counts: DataFrame  # (domain, n_failed)
    pages: DataFrame  # (url, content, links, ok)
    signatures: DataFrame  # (signature, url)
    corpus_freq: DataFrame  # (token, count)
    crawl_log: DataFrame  # (wave, sel_rank, url, domain, seq, status_after)
    accepted: DataFrame  # accepted docs
    ranking_rows: DataFrame  # S6 CSV analog
    images: DataFrame | None = None  # input_hint payload table (graft)
    cuckoo: DataFrame | None = None  # deletable fetched-URL seen set
    robots: DataFrame | None = None  # robots.txt cache (politeness)
    wave: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        fetch_fn=None,
        html_fetch_fn=None,
        lang_gate=CU.default_lang_gate,
        checkpoint_dir: str | None = None,
        with_images: bool = False,
        use_cuckoo: bool = False,
        use_robots: bool = False,
        robots_fn=None,
        checkpoint_every: int = 1,
        index_transport=None,
    ):
        from gocrawler_spark.sources import synthetic_web

        self.spark = spark
        self.cfg = cfg
        self.fetch_fn = fetch_fn or synthetic_web.fetch_page
        self.html_fetch_fn = html_fetch_fn
        self.lang_gate = lang_gate
        self.checkpoint_dir = checkpoint_dir
        self.with_images = with_images
        # deletable seen-set (north_rule names the bloom/cuckoo pair):
        # tracks exactly the FETCHED page keys, so URL retirement is a
        # per-shard O(1) delete instead of a Bloom rebuild — the
        # recrawl wave's enabler (retire/retire_stalest below)
        self.use_cuckoo = use_cuckoo
        self._cuckoo_cap = 200_000
        self.use_robots = use_robots
        self.robots_fn = robots_fn
        self.checkpoint_every = checkpoint_every
        self.index_transport = index_transport
        self.store = TableStore(checkpoint_dir) if checkpoint_dir else None
        self.pins = PinSet(spark)
        # delta-accumulated state: family -> list of pieces (pinned
        # deltas or lazy projections of pinned deltas); the state
        # fields expose lazy unions. _live holds every pinned
        # DataFrame the current pieces depend on — the retain set for
        # PinSet at wave end.
        self._pieces: dict[str, list[DataFrame]] = {}
        self._live: list[DataFrame] = []
        self._next_seq: int = 0
        # delta checkpointing: _pending holds each family's appended
        # deltas not yet flushed to a parquet segment; _flushed_segs
        # holds segment manifest entries flushed but not yet named by
        # a committed manifest; _seg_counter gives segments stable
        # monotonic names (resume continues after the committed count,
        # so a crash-orphaned segment is overwritten on replay).
        self._pending: dict[str, list[DataFrame]] = {}
        self._flushed_segs: dict[str, list[dict]] = {}
        self._seg_counter: dict[str, int] = {}
        self.state = self._init_state()

    # ------------------------------------------------------------------

    def _df(self, schema: str) -> DataFrame:
        # an empty list would become a Python-side RDD: every job that
        # scans a union view over it would start Python workers for its
        # empty partitions. emptyRDD has no partitions, so no tasks.
        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), schema
        )

    # append-only families and, for the summed ones, (key, value) of
    # the additive merge their union view re-aggregates
    _SUMMED = {
        "domain_counter": ("domain", "n_scheduled"),
        "fail_counts": ("domain", "n_failed"),
        "corpus_freq": ("token", "count"),
    }
    _APPEND = (
        "pages", "signatures", "crawl_log", "accepted", "ranking_rows",
        "images", "domain_counter", "fail_counts", "corpus_freq",
    )

    def _init_state(self) -> CrawlState:
        s = self.spark
        boot = self._pin(FR.bootstrap_frontier(s, self.cfg))
        max_seq = boot.agg(F.max("seq")).first()[0]
        self._next_seq = (max_seq if max_seq is not None else -1) + 1
        bases = {
            "domain_counter": self._df("domain string, n_scheduled long"),
            "fail_counts": self._df("domain string, n_failed long"),
            "pages": self._df(
                "url string, content string, links array<string>, ok boolean"
            ),
            "signatures": self._df("signature string, url string"),
            "corpus_freq": self._df("token string, count long"),
            "crawl_log": self._df(
                "wave long, sel_rank int, url string, domain string, seq long,"
                " status_after int"
            ),
            "accepted": self._df(
                "wave long, url string, curated string, doc_len int,"
                " signature string, score double"
            ),
            "ranking_rows": self._df(
                "wave long, url string, score double, doc_len int,"
                " signature string, best_paragraph string"
            ),
            "images": IM.empty_images(s) if self.with_images else None,
        }
        self._pieces = {
            k: [v] for k, v in bases.items() if v is not None
        }
        return CrawlState(
            frontier=boot,
            robots=PO.empty_robots(s) if self.use_robots else None,
            **bases,
        )

    # -- delta accumulation ------------------------------------------

    def _union_view(self, family: str) -> DataFrame:
        pieces = self._pieces[family]
        df = pieces[0]
        for p in pieces[1:]:
            df = df.unionByName(p)
        if family in self._SUMMED and len(pieces) > 1:
            key, val = self._SUMMED[family]
            df = df.groupBy(key).agg(F.sum(val).alias(val))
        return df

    def _append(self, family: str, delta: DataFrame) -> None:
        """Record a per-wave delta and refresh the state field's lazy
        union view. Plans that captured the previous view keep their
        pre-delta snapshot (DataFrames are immutable) — exactly the
        read-your-own-wave semantics the reference has."""
        self._pieces[family].append(delta)
        setattr(self.state, family, self._union_view(family))
        if self.store is not None:
            self._pending.setdefault(family, []).append(delta)

    def _flush_pending(self) -> None:
        """Write every family's not-yet-persisted delta rows to a
        parquet segment. Segments stay INVISIBLE until a manifest
        commit names them (checkpoint); flushing early is safe —
        crash-orphaned segments are ignored by readers and
        overwritten on replay. Called by checkpoint() and, crucially,
        by _compact(): the pending plans reference the wave pins the
        compaction is about to free."""
        if self.store is None:
            return
        for fam, deltas in list(self._pending.items()):
            if not deltas:
                continue
            df = deltas[0]
            for d in deltas[1:]:
                df = df.unionByName(d)
            self._write_segment(fam, df)
            self._pending[fam] = []

    def _write_segment(
        self, fam: str, df: DataFrame, tombstone_key: str | None = None
    ) -> None:
        """Write ``df`` as the family's next segment and queue it for
        the next commit; with ``tombstone_key`` the rows are keys to
        delete. An empty segment is dropped (the index is reused and
        overwritten by the next write)."""
        k = self._seg_counter.get(fam, 0)
        seg = self.store.write_segment(fam, f"seg{k:06d}", df, self.state.wave)
        if seg["row_count"] == 0:
            shutil.rmtree(seg["path"], ignore_errors=True)
            return
        if tombstone_key is not None:
            seg["kind"] = "tombstone"
            seg["key"] = tombstone_key
        self._seg_counter[fam] = k + 1
        self._flushed_segs.setdefault(fam, []).append(seg)

    def _compact(self) -> None:
        """Collapse every piece list into one pinned table and reset
        the live set — bounds plan depth and frees the content-heavy
        early-wave pins (the Iceberg compaction analog). Pending
        checkpoint deltas are flushed to disk first: their plans
        reference the pins being freed."""
        self._flush_pending()
        for fam in list(self._pieces):
            view = self._union_view(fam)
            piece = self._pin(view)
            self._pieces[fam] = [piece]
            setattr(self.state, fam, piece)
        self._live = [p[0] for p in self._pieces.values()]

    def _pin(self, df: DataFrame) -> DataFrame:
        """Truncate lineage between waves (iterative-algorithm hygiene).
        Tracked by self.pins; superseded pins are freed at wave end."""
        return self.pins.pin(df)

    def _gc_pins(self) -> None:
        """Free every pin not referenced by current state — called at
        the end of each wave, after all new state is eagerly
        materialized. The retain set is the frontier/cuckoo/robots pins
        plus every pinned delta the lazy union views depend on
        (self._live); wave-transient pins (selection, wave rows, merge
        intermediates) fall out of it and are freed."""
        st = self.state
        keep = list(self._live) + [st.frontier, st.cuckoo, st.robots]
        self.pins.retain(keep)

    # ------------------------------------------------------------------

    def step(self) -> bool:
        """Run one wave. Returns False when the frontier is exhausted
        (including the reference's terminal domain-counter quirk,
        crawler.go:386,420).

        AQE stays whatever the session configured, deliberately: the
        delta-accumulated state views union many pinned pieces, each
        carrying its own partitioning, and AQE's partition coalescing
        collapses those stacked-partition stages (measured ~20% of
        wave wall time at wave_size=1 with AQE off; AQE on wins at
        every wave size now that the views are lazy unions)."""
        st, cfg = self.state, self.cfg
        sel = FR.select_wave(
            st.frontier, st.domain_counter, cfg.wave_size, cfg.per_host_budget
        )
        sel = sel.withColumn(
            "sel_rank",
            F.row_number().over(
                Window.orderBy(
                    F.desc((F.col("status") == 4).cast("int")),
                    F.desc(
                        F.when(F.col("status") == 4, F.lit(0.0)).otherwise(
                            F.col("priority")
                        )
                    ),
                    F.asc("seq"),
                )
            ),
        )
        sel = self._pin(sel)
        if sel.isEmpty():
            # terminal quirk: getNextLink increments pool[0]'s domain
            # even when nothing is eligible (crawler.go:386,420)
            first = st.frontier.orderBy("seq").limit(1).select("domain")
            self._append(
                "domain_counter",
                first.select(
                    "domain", F.lit(1).cast("long").alias("n_scheduled")
                ),
            )
            self._gc_pins()
            return False

        st.wave += 1
        wave = st.wave

        # ---- politeness (north_rule): robots cache + token budget ----
        blocked_urls = None
        if self.use_robots:
            st.robots = self._pin(
                PO.fetch_missing_robots(
                    st.robots, sel, wave, robots_fn=self.robots_fn, seed=cfg.seed
                )
            )
            gated = PO.robots_gate(sel, st.robots)
            # the budget window ranks ONLY robots-allowed rows: a
            # refusal consumes zero crawl-delay time, so letting
            # disallowed rows occupy politeness_rank slots would defer
            # allowed URLs a host could legally fetch this wave — with
            # continually minted disallowed URLs outranking them, that
            # deferral can starve indefinitely
            g = PO.token_budget_cap(
                gated.filter(F.col("robots_allowed")),
                wave_budget_ms=WAVE_BUDGET_MS,
            )
            # disallowed -> refused (status 3, no fetch); over-budget ->
            # deferred (stay pending, compete again next wave)
            blocked = gated.filter(~F.col("robots_allowed"))
            blocked_urls = self._pin(blocked.select("url"))
            sel = self._pin(
                g.filter(F.col("within_budget")).select(
                    "url", "domain", "count", "status", "seq", "priority", "sel_rank"
                ).unionByName(
                    blocked.select(
                        "url", "domain", "count", "status", "seq", "priority", "sel_rank"
                    )
                )
            )

        # A3: selection-time domain counter increment (crawler.go:420)
        # — a lazy delta over the pinned selection; the counter view
        # re-aggregates the pieces at its next read (select_wave's
        # broadcast side, one row per host).
        self._live.append(sel)
        self._append(
            "domain_counter",
            sel.groupBy("domain").agg(
                F.count(F.lit(1)).cast("long").alias("n_scheduled")
            ),
        )

        # ---- fetch stage (S1-S3): cache anti-join + politeness ----
        cached = sel.join(st.pages.select("url", "content", "links", "ok"), "url")
        to_fetch = sel.join(st.pages.select("url"), "url", "left_anti")
        # fail_counts is one row per FAILING host — orders of magnitude
        # smaller than the host universe (and bounded by max_domain_failures
        # hosts that actually errored), so the hint stays safe where the
        # full domain_counter's would not (see select_wave's knob)
        refused = to_fetch.join(
            F.broadcast(
                st.fail_counts.filter(F.col("n_failed") > cfg.max_domain_failures)
            ),
            "domain",
        ).select("url")
        if blocked_urls is not None:
            # robots-disallowed: never fetched, never served from cache
            cached = cached.join(blocked_urls, "url", "left_anti")
            refused = refused.unionByName(
                sel.join(blocked_urls, "url", "left_semi").select("url")
            ).distinct()
        fetchable = to_fetch.join(refused, "url", "left_anti")
        # scale: repartition by domain bounds per-task host fan-out and
        # keeps politeness group-local; per_host_budget bounds skew.
        fetch_udf = (
            pandas_html_fetcher(self.html_fetch_fn)
            if self.html_fetch_fn is not None
            else pandas_fetcher(self.fetch_fn)
        )
        # the fetch runs EXACTLY once: fetched_new is the only pin that
        # executes the UDF; everything downstream (page cache delta,
        # failure delta, the wave view) is a lazy projection of it.
        fetched_new = self._pin(
            fetchable.repartition(F.col("domain"))
            .select("url")
            .mapInPandas(fetch_udf, FETCH_SCHEMA)
        )
        self._live.append(fetched_new)
        fetched = fetched_new.unionByName(
            refused.select(
                "url",
                F.lit("").alias("content"),
                F.array().cast("array<string>").alias("links"),
                F.lit(False).alias("ok"),
            )
        ).unionByName(cached.select("url", "content", "links", "ok"))

        # politeness bookkeeping: only TRANSPORT failures count
        # (refusals don't re-report — crawler.go:192-216,503-505).
        # Deliberate deviation (shared with pyoracle): the threshold is
        # max_domain_failures ACTUAL failures; the reference's
        # non-overlapping \W-scan over its failure log undercounts
        # unbroken same-domain runs ~2x (crawler.go:507-518), an
        # artifact we implement the intent of, not the bug.
        self._append(
            "fail_counts",
            fetched_new.filter(~F.col("ok"))
            .join(sel.select("url", "domain"), "url")
            .groupBy("domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_failed")),
        )

        # S3 memoization: append newly fetched OK pages
        ok_new = fetched_new.filter(F.col("ok"))
        self._append("pages", ok_new)

        # deletable seen-set: insert EXACTLY the new page-cache keys
        # (cuckoo delete is only sound for inserted keys, so it must
        # NOT over-insert wave candidates)
        if self.use_cuckoo:
            new_ck = CK.build(
                ok_new.select("url"),
                n_shards=CUCKOO_SHARDS,
                expected_keys_per_shard=self._cuckoo_cap,
            )
            st.cuckoo = self._pin(
                new_ck
                if st.cuckoo is None
                else CK.merge(st.cuckoo, new_ck)
            )

        # graft payload: images+captions of newly fetched pages →
        # input_hint table (first-fetch only, so re-crawls are
        # idempotent; cache hits never re-extract)
        if self.with_images:
            self._append(
                "images",
                IM.build_image_table(ok_new.select("url"), seed=self.cfg.seed),
            )

        # the wave's row metadata is pinned WITHOUT the page bodies —
        # it backs the crawl-log piece (must stay live, so keep it
        # small); the body-bearing view joins it back to the pinned
        # fetch output lazily (cheap broadcast joins, no UDF re-run).
        wave_meta = self._pin(
            sel.join(fetched.select("url", "ok"), "url").select(
                "url", "domain", "seq", "sel_rank", "priority",
                F.col("status").alias("prev_status"), "ok",
            )
        )
        self._live.append(wave_meta)
        wave_rows = wave_meta.join(
            fetched.select("url", "content", "links"), "url"
        )

        # frontier status transitions (F10)
        status_after = wave_meta.select(
            "url", F.when(F.col("ok"), 2).otherwise(3).alias("new_status")
        )
        # status_after is wave-sized -> broadcast: the frontier side is
        # streamed in place. This stays LAZY and fuses into the
        # link-expansion merge below — one frontier materialization per
        # wave instead of two.
        status_updated = (
            st.frontier.alias("f")
            .join(F.broadcast(status_after.alias("s")), "url", "left")
            .select(
                "url", "domain", "count",
                F.coalesce(F.col("s.new_status"), F.col("f.status")).alias("status"),
                "seq", "eligible",
            )
        )
        self._append(
            "crawl_log",
            wave_meta.select(
                F.lit(wave).cast("long").alias("wave"),
                "sel_rank", "url", "domain", "seq",
                F.when(F.col("ok"), 2).otherwise(3).alias("status_after"),
            ),
        )

        # ---- document pipeline (T/P ops) ----
        docs = wave_rows.filter(F.col("ok"))
        curated = CU.curate_docs(
            docs.select("url", "sel_rank", "prev_status", "links", "content"),
            cfg,
            lang_gate=self.lang_gate,
            key_cols=("url", "sel_rank", "prev_status"),
        )
        gated = CU.doc_gates(curated, cfg)
        len_ok = gated.filter(F.col("len_ok"))
        # P5 first-wins: cross-wave anti-join + intra-wave window by
        # selection order
        sig_new = CU.signature_dedup(len_ok, st.signatures, [F.asc("sel_rank")])
        # the wave's ONE curation materialization; the signature table
        # delta, ranking rows, accepted docs, and corpus-frequency
        # delta are all lazy projections/filters of this pin.
        sig_new = self._pin(sig_new)
        self._live.append(sig_new)
        self._append("signatures", sig_new.select("signature", "url"))
        scored = sig_new.filter(F.col("score") >= F.lit(cfg.score_threshold))
        self._append(
            "ranking_rows",
            scored.select(
                F.lit(wave).cast("long").alias("wave"), "url", "score",
                F.col("doc_len").cast("int"), "signature", "best_paragraph",
            ),
        )
        accepted = scored.filter(F.col("burst_ok"))
        # S11: fire-and-forget indexer notification for every accepted
        # doc (crawler.go:1384-1396); disabled while add_url is empty.
        if cfg.add_url and self.index_transport is not None:
            from gocrawler_spark.sinks import indexer as IX

            IX.notify_indexer(accepted, cfg.add_url, self.index_transport)
        self._append(
            "accepted",
            accepted.select(
                F.lit(wave).cast("long").alias("wave"), "url", "curated",
                F.col("doc_len").cast("int"), "signature", "score",
            ),
        )

        # A2: corpus frequency delta from accepted docs (the union
        # view re-aggregates on read; compaction folds it down)
        self._append("corpus_freq", CO.token_freq(accepted.select("curated"), cfg))

        # ---- link expansion (F6/F5/A4) ----
        # bootstrap pages expand immediately (crawler.go:1110-1113);
        # normal pages ONLY when the doc passed every gate
        # (crawler.go:1401-1404 — the early returns skip addLinksOf)
        boot_parents = wave_rows.filter(
            (F.col("prev_status") == 4) & F.col("ok")
        ).select("url", "seq", "links")
        accepted_parents = (
            accepted.filter(F.col("prev_status") == 0)
            .select("url")
            .join(wave_rows.select("url", "seq", "links"), "url")
            .select("url", "seq", "links")
        )
        parents = boot_parents.unionByName(accepted_parents)
        cand = FR.candidate_links(parents, cfg)
        # ONE frontier materialization per wave: the lazy status
        # transition plan feeds the merge directly; the insertion seq
        # base is tracked driver-side, so no extra max(seq) job runs
        # over the unmaterialized plan.
        st.frontier = self._pin(
            FR.merge_into_frontier(
                status_updated, cand, cfg, pin=self._pin, base=self._next_seq
            )
        )
        # narrow max over the just-pinned blocks (no recompute)
        m = st.frontier.agg(F.max("seq")).first()[0]
        if m is not None:
            self._next_seq = m + 1
        if wave % COMPACT_EVERY == 0:
            self._compact()
        self._gc_pins()
        return True

    def retire(self, urls: DataFrame) -> DataFrame:
        """The RECRAWL wave's retirement half: make the given fetched
        URLs crawlable again (north_rule: the frontier 'retires URLs
        (re-crawl after TTL, host removed by policy, page gone 410)').

        Per retired URL, atomically within one engine barrier:
        - cuckoo seen-set: O(1) fingerprint DELETE per shard — the
          operation the Bloom sibling cannot do without a rebuild
          (operators/cuckoo.py; requires use_cuckoo=True);
        - page cache: the memo row is evicted (lazy broadcast
          anti-join piece — O(wave) work now, folded away by the next
          compaction) so the next selection actually re-fetches;
        - signatures: the doc's P5 row is dropped, else the refreshed
          content would be rejected as a near-duplicate of itself;
        - frontier: status 2/3 -> 0 (pending) with count preserved —
          the in-degree evidence keeps driving priority.

        Accounting families (crawl_log, accepted, ranking_rows,
        corpus_freq, fail/domain counters) are append-only HISTORY and
        are deliberately untouched: a recrawl is a new observation,
        not a retraction. Scale shape: `urls` is wave-sized; every
        join here broadcasts it against state, and the cuckoo delete
        moves only the affected shard blobs.

        Returns the pinned retired-key frame (kept live: the rewritten
        pages/signatures views anti-join against it until the next
        compaction)."""
        if not self.use_cuckoo:
            raise ValueError("retire() requires use_cuckoo=True")
        if self.state.cuckoo is None:
            raise ValueError(
                "retire() before any fetched wave: the cuckoo seen-set "
                "is only built once a wave has fetched"
            )
        st = self.state
        retired = self._pin(urls.select("url").distinct())
        self._live.append(retired)
        if self.store is not None:
            # Iceberg-style row-level delete for the parquet shim:
            # flush every pending APPEND first (segment order is the
            # apply order, so rows appended before the retire must
            # land in earlier segments), then write the retired keys
            # as a TOMBSTONE segment for each url-keyed family. The
            # reader folds segments sequentially and anti-joins each
            # tombstone against everything before it — a later
            # re-fetch appends after the tombstone and survives.
            self._flush_pending()
            for fam in ("pages", "signatures"):
                self._write_segment(fam, retired, tombstone_key="url")
        st.cuckoo = self._pin(
            CK.delete(st.cuckoo, retired, n_shards=CUCKOO_SHARDS)
        )
        for fam in ("pages", "signatures"):
            view = self._union_view(fam).join(
                F.broadcast(retired), "url", "left_anti"
            )
            self._pieces[fam] = [view]
            setattr(st, fam, view)
        marker = retired.withColumn("_retired", F.lit(True))
        reset = (
            st.frontier.join(F.broadcast(marker), "url", "left")
            .select(
                "url",
                "domain",
                "count",
                F.when(
                    F.col("_retired").isNotNull()
                    & F.col("status").isin(2, 3),
                    F.lit(0),
                )
                .otherwise(F.col("status"))
                .alias("status"),
                "seq",
                "eligible",
            )
        )
        st.frontier = self._pin(reset)
        self._gc_pins()
        return retired

    def retire_stalest(self, k: int) -> DataFrame:
        """Staleness-ranked retirement: pick the k OK pages whose most
        RECENT successful fetch is oldest (max crawl_log wave, url
        tiebreak — the engine's age signal; a production deployment
        would rank by the λ·age model of queries/freshness_q.py over
        its change history) and retire them. max, not min: the
        crawl_log is append-only history, so a retired-then-refetched
        URL gains a new wave row — ranking by its FIRST fetch would
        keep it 'stalest' forever and repeated retire_stalest calls
        would loop on the same URL instead of advancing to the
        next-oldest page. Returns the retired key frame."""
        stale = (
            self.state.crawl_log.filter(F.col("status_after") == 2)
            .groupBy("url")
            .agg(F.max("wave").alias("last_wave"))
            .join(self.state.pages.select("url"), "url", "left_semi")
            .orderBy(F.asc("last_wave"), F.asc("url"))
            .limit(k)
            .select("url")
        )
        return self.retire(stale)

    def checkpoint(self) -> None:
        """Commit a snapshot: flush pending delta segments, rewrite
        the mutating tables (frontier/cuckoo/robots — row-level MERGE
        persistence is out of scope for the parquet shim), and
        atomically commit the manifest naming everything.
        Per-checkpoint I/O for the append-only families is O(rows
        appended since the last checkpoint), not O(state)."""
        if self.store is None:
            return
        self._flush_pending()
        st = self.state
        self.store.commit(
            st.wave,
            full_tables={
                "frontier": st.frontier,
                "cuckoo": st.cuckoo,
                "robots": st.robots,
            },
            delta_segments={
                f: segs for f, segs in self._flushed_segs.items() if segs
            },
            metrics={"wave": st.wave},
        )
        self._flushed_segs = {}

    def snapshot_files(self, out_dir: str, baseline=None) -> dict:
        """S8 checkpoint file emission (crawler.go:1294-1341): write
        ``corpusFrequencies.txt`` (all.num format, W1 total order) and —
        when a baseline corpus frame is supplied — the A6
        background-subtracted ``corpusNoEngFrequencies.txt``."""
        import os

        from gocrawler_spark.sinks import corpus_files as CF

        if baseline is not None:
            return CF.snapshot_corpus_files(
                self.state.corpus_freq, baseline, out_dir
            )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "corpusFrequencies.txt")
        CF.write_freq_allnum(self.state.corpus_freq, path)
        return {"corpusFrequencies": path}

    @classmethod
    def resume(cls, spark: SparkSession, cfg: CrawlConfig, checkpoint_dir: str, **kw):
        """Reconstruct an engine from the last committed snapshot.
        Exact resume: the restored state is byte-identical to the
        checkpointed one, so continuing produces the same results as a
        never-interrupted run (tests/test_resume.py). A table the
        engine does not keep (the ``bloom`` seen-set of older
        snapshots) is skipped, and the next checkpoint's manifest no
        longer names it."""
        eng = cls(spark, cfg, checkpoint_dir=checkpoint_dir, **kw)
        loaded = eng.store.load_snapshot(spark)
        if loaded is None:
            return eng
        wave, tables = loaded
        st = eng.state
        for name, df in tables.items():
            if name == "frontier":
                st.frontier = eng._pin(df)
            elif name == "cuckoo":
                if eng.use_cuckoo:
                    st.cuckoo = eng._pin(df)
            elif name == "robots":
                if st.robots is not None:
                    st.robots = eng._pin(df)
            elif name in eng._pieces or name == "images":
                if name in eng._SUMMED:
                    # delta segments are additive per-checkpoint
                    # partials — fold them back to current totals
                    key, val = eng._SUMMED[name]
                    df = df.groupBy(key).agg(F.sum(val).alias(val))
                piece = eng._pin(df)
                eng._pieces[name] = [piece]
                setattr(st, name, piece)
        eng._live = [p[0] for p in eng._pieces.values()]
        # continue segment numbering after the committed count so a
        # replayed wave overwrites any crash-orphaned segment dir
        man = eng.store.read_manifest() or {"tables": {}}
        for nm, entry in man["tables"].items():
            if entry.get("mode") == "delta":
                eng._seg_counter[nm] = len(entry["segments"])
        m = st.frontier.agg(F.max("seq")).first()[0]
        eng._next_seq = (m if m is not None else -1) + 1
        if (
            eng.use_cuckoo
            and st.cuckoo is None
            and "pages" in tables
        ):
            # snapshot predates the cuckoo table: rebuild EXACTLY from
            # the page cache — the filter tracks precisely those keys,
            # so this is reconstruction, not approximation
            st.cuckoo = eng._pin(
                CK.build(
                    st.pages.select("url"),
                    n_shards=CUCKOO_SHARDS,
                    expected_keys_per_shard=eng._cuckoo_cap,
                )
            )
        st.wave = wave
        return eng

    def run(self, max_steps: int = 1000) -> CrawlState:
        for _ in range(max_steps):
            if not self.step():
                break
            if self.store is not None and (
                self.state.wave % self.checkpoint_every == 0
            ):
                self.checkpoint()
        return self.state
