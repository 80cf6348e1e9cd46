"""Traced run: spans around calls into each layer, joined to Spark's event log.

``Tracer.install`` wraps, from the benchmark's side, the public entry
points of each layer (module and class attributes, so the engine's own
calls go through the wrappers):

- engine: ``CrawlEngine.step``, ``checkpoint``, ``resume``,
  ``retire_stalest``;
- materializations: ``PinSet.pin``, ``BucketedFrontier.write``/``merge``;
- store: ``TableStore.write_segment``, ``commit``, ``load_snapshot``;
- operators: ``select_wave``, ``candidate_links``, ``merge_into_frontier``,
  ``fetch_missing_robots``, ``robots_gate``, ``token_budget_cap``,
  ``curate_docs``, ``doc_gates``, ``signature_dedup``, ``token_freq``
  and cuckoo ``build``/``merge``/``delete``.

Each call records a span (label, start, end, parent) in memory and sets
a Spark job group naming the span, so every job in the event log joins
to the span that submitted it.

Attribution. Operators return lazy plans; their work runs in the pin or
write that follows. A pin is charged, in this order, to: the operator
whose returned DataFrame it pins; the operator span it runs inside; the
engine entry span it runs inside (retirement, checkpoint,
resume); ``fetch`` when it pins the fetch UDF's output schema; the most
recent operator called since the last pin of that kind; else the
engine's own bookkeeping (``crawl.pin``). A layer's time is the self
time (duration minus child spans) of the spans charged to it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time

_FETCH_COLS = ["url", "content", "links", "ok"]

# (module, attribute, label): operator entry points step() calls
_OPERATORS = [
    ("gocrawler_spark.operators.frontier", "select_wave", "frontier.select"),
    ("gocrawler_spark.operators.frontier", "candidate_links", "frontier.merge"),
    ("gocrawler_spark.operators.frontier", "merge_into_frontier", "frontier.merge"),
    ("gocrawler_spark.operators.politeness", "fetch_missing_robots", "politeness"),
    ("gocrawler_spark.operators.politeness", "robots_gate", "politeness"),
    ("gocrawler_spark.operators.politeness", "token_budget_cap", "politeness"),
    ("gocrawler_spark.operators.curation", "curate_docs", "curation"),
    ("gocrawler_spark.operators.curation", "doc_gates", "curation"),
    ("gocrawler_spark.operators.curation", "signature_dedup", "curation"),
    ("gocrawler_spark.operators.corpus", "token_freq", "corpus"),
    ("gocrawler_spark.operators.cuckoo", "build", "cuckoo"),
    ("gocrawler_spark.operators.cuckoo", "merge", "cuckoo"),
    ("gocrawler_spark.operators.cuckoo", "delete", "cuckoo"),
]
# (module, class, attribute, label): entry points and materializations
_ENTRIES = [
    ("gocrawler_spark.plans.crawl", "CrawlEngine", "step", "crawl.wave"),
    ("gocrawler_spark.plans.crawl", "CrawlEngine", "checkpoint", "store.checkpoint"),
    ("gocrawler_spark.plans.crawl", "CrawlEngine", "retire_stalest", "crawl.retire"),
    ("gocrawler_spark.plans.store", "TableStore", "write_segment", "store.write"),
    ("gocrawler_spark.plans.store", "TableStore", "commit", "store.commit"),
    ("gocrawler_spark.plans.store", "TableStore", "load_snapshot", "store.load"),
    ("gocrawler_spark.plans.bucketed", "BucketedFrontier", "write", "frontier.merge"),
    ("gocrawler_spark.plans.bucketed", "BucketedFrontier", "merge", "frontier.merge"),
]

# per-wave counts of each layer's work, from the oracle replay
ORACLE_COUNTS = (
    "frontier.rows", "frontier.candidates", "frontier.new_urls",
    "politeness.robots_fetched", "politeness.refused", "politeness.deferred",
    "fetch.pages", "fetch.cache_hits", "fetch.failed", "curation.docs_in",
    "curation.accepted", "corpus.tokens", "cuckoo.inserts",
)
LAYERS = ("crawl", "frontier", "politeness", "fetch", "curation", "corpus",
          "cuckoo", "store")
MB = 1e6


class Tracer:
    def __init__(self):
        # span: [label, start, end, parent, op]; start/end in perf_counter s
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.sc = None
        self.op = -1  # index of the running operation
        self.ops: list[tuple[str, float, float]] = []  # (kind, start, end)
        self.wave_end: list[dict] = []
        self.writes: list[tuple[int, int, int]] = []  # (op, segments, bytes)
        self._outputs: dict[int, tuple[object, str]] = {}
        self._pending: list[str] = []
        self.overhead = 0.0

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod, attr, label in _OPERATORS:
            m = importlib.import_module(mod)
            setattr(m, attr, self._wrap(getattr(m, attr), label, "op"))
        for mod, cls, attr, label in _ENTRIES:
            c = getattr(importlib.import_module(mod), cls)
            setattr(c, attr, self._wrap(getattr(c, attr), label, "entry"))
        from gocrawler_spark.pins import PinSet
        from gocrawler_spark.plans.crawl import CrawlEngine

        pin = PinSet.pin
        tracer = self

        def traced_pin(pins, df):
            if tracer.sc is None:
                return pin(pins, df)
            return tracer._call(pin, (pins, df), {}, tracer._pin_label(df), "pin")

        PinSet.pin = traced_pin
        resume = CrawlEngine.resume.__func__
        CrawlEngine.resume = classmethod(
            self._wrap(resume, "store.resume", "entry")
        )

    def _wrap(self, fn, label, kind):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.sc is None:
                return fn(*a, **kw)
            return tracer._call(fn, a, kw, label, kind)

        return wrapper

    def _call(self, fn, a, kw, label, kind):
        t0 = time.perf_counter()
        if kind == "entry" and label == "crawl.wave":
            self._outputs.clear()
            self._pending.clear()
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        span = [label, 0.0, 0.0, parent, self.op, kind]
        self.spans.append(span)
        t1 = span[1] = time.perf_counter()
        try:
            out = fn(*a, **kw)
        finally:
            t2 = span[2] = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb{self.stack[-1]}" if self.stack else None
            )
        if kind == "op":
            self._outputs[id(out)] = (out, label)
            self._pending.append(label)
        elif label == "store.write":
            self.writes.append(
                (self.op, 1, sum(p["bytes"] for p in out["partitions"]))
            )
        self.overhead += (t1 - t0) + (time.perf_counter() - t2)
        return out

    def _pin_label(self, df) -> str:
        hit = self._outputs.pop(id(df), None)
        if hit is not None:
            layer = hit[1].split(".")[0]
            self._pending = [p for p in self._pending if not p.startswith(layer)]
            return hit[1]
        for sid in reversed(self.stack):
            label, kind = self.spans[sid][0], self.spans[sid][5]
            if kind == "op" or (kind == "entry" and label != "crawl.wave"):
                return label
        if df.columns == _FETCH_COLS:
            self._pending.clear()
            return "fetch"
        return self._pending[-1] if self._pending else "crawl.pin"

    # -- run bookkeeping ---------------------------------------------
    def attach(self, spark) -> None:
        """Start recording: spans before this (set-up) are not kept."""
        self.sc = spark.sparkContext
        self.epoch = time.time() - time.perf_counter()

    def begin_op(self, kind: str) -> None:
        self.op = len(self.ops)
        self.ops.append((kind, time.perf_counter(), 0.0))

    def end_op(self, eng=None) -> None:
        kind, t0, _ = self.ops[self.op]
        self.ops[self.op] = (kind, t0, time.perf_counter())
        if kind == "wave":
            held = sum(
                i.memSize() + i.diskSize()
                for i in self.sc._jsc.sc().getRDDStorageInfo()
            )
            self.wave_end.append(
                {"pins": len(eng.pins._tracked), "held_mb": held / MB}
            )
        self.op = -1

    # -- metrics -------------------------------------------------------
    def metrics(self, out_dir, oracle, kernel, checkpoint_mb) -> dict:
        """Per-layer metric values by name (BENCHMARK.json ``per_layer``)."""
        jobs = parse_event_log(out_dir)
        waves = [i for i, o in enumerate(self.ops) if o[0] == "wave"]
        nw = len(waves)

        def per_wave(fn):
            return statistics.mean(fn(i) for i in waves) if waves else 0.0

        # self time per (op, label)
        self_t: dict[tuple[int, str], float] = {}
        for sid, (label, t1, t2, parent, op, kind) in enumerate(self.spans):
            d = t2 - t1
            self_t[(op, label)] = self_t.get((op, label), 0.0) + d
            if parent is not None:
                p = self.spans[parent]
                self_t[(op, p[0])] = self_t.get((op, p[0]), 0.0) - d

        def label_s(prefix, op):
            return sum(v for (o, lab), v in self_t.items()
                       if o == op and lab.startswith(prefix))

        # jobs per op and per layer, from the event log
        def span_of(job):
            g = job.get("group") or ""
            return int(g[2:]) if g.startswith("pb") else None

        by_op: dict[int, list[dict]] = {}
        for j in jobs:
            sid = span_of(j)
            if sid is None or sid >= len(self.spans) or self.spans[sid][4] < 0:
                continue
            j["label"] = self.spans[sid][0]
            by_op.setdefault(self.spans[sid][4], []).append(j)

        def job_sum(op, key, prefix=""):
            return sum(j[key] for j in by_op.get(op, []) if j["label"].startswith(prefix))

        def driver_s(op):
            """Wall time of the operation outside every Spark job."""
            kind, t0, t1 = self.ops[op]
            busy, reach = 0.0, t0 + self.epoch
            for s, e in sorted((j["start"], j["end"]) for j in by_op.get(op, [])):
                e = min(e, t1 + self.epoch)
                if e > reach:
                    busy += e - max(s, reach)
                    reach = e
            return (t1 - t0) - busy

        m = {
            "crawl.jobs_per_wave": per_wave(lambda i: len(by_op.get(i, []))),
            "crawl.stages_per_wave": per_wave(lambda i: job_sum(i, "stages")),
            "crawl.pins_per_wave": per_wave(
                lambda i: sum(1 for s in self.spans if s[4] == i and s[5] == "pin")),
            "crawl.driver_s": per_wave(driver_s),
            "crawl.retire_s": sum(t1 - t0 for k, t0, t1 in self.ops if k == "retire"),
            "frontier.select_s": per_wave(lambda i: label_s("frontier.select", i)),
            "frontier.merge_s": per_wave(lambda i: label_s("frontier.merge", i)),
            "frontier.shuffle_mb": per_wave(lambda i: job_sum(i, "shuffle_write", "frontier")) / MB,
            "politeness.s": per_wave(lambda i: label_s("politeness", i)),
            "fetch.s": per_wave(lambda i: label_s("fetch", i)),
            "curation.s": per_wave(lambda i: label_s("curation", i)),
            "corpus.s": per_wave(lambda i: label_s("corpus", i)),
            "cuckoo.s": per_wave(lambda i: label_s("cuckoo", i)),
            # store work of the whole run: segment flushes also run in
            # retirements, not only in checkpoints
            "store.checkpoint_s": sum(
                label_s(lab, i) for i in range(len(self.ops))
                for lab in ("store.checkpoint", "store.write", "store.commit")),
            "store.write_mb": sum(b for o, _, b in self.writes if o >= 0) / MB,
            "store.segments": sum(n for o, n, _ in self.writes if o >= 0),
            "store.load_s": sum(t1 - t0 for k, t0, t1 in self.ops if k == "resume"),
            "store.checkpoint_mb": checkpoint_mb,
            "pins.live": statistics.mean(w["pins"] for w in self.wave_end) if nw else 0.0,
            "pins.held_mb": statistics.mean(w["held_mb"] for w in self.wave_end) if nw else 0.0,
            "spark.task_s": per_wave(lambda i: job_sum(i, "task_ms")) / 1e3,
            "spark.gc_s": per_wave(lambda i: job_sum(i, "gc_ms")) / 1e3,
            "spark.tasks": per_wave(lambda i: job_sum(i, "tasks")),
            "spark.shuffle_write_mb": per_wave(lambda i: job_sum(i, "shuffle_write")) / MB,
            "spark.spill_mb": per_wave(lambda i: job_sum(i, "spill")) / MB,
            "trace.overhead_s": self.overhead / max(nw, 1),
        }
        for k in ORACLE_COUNTS:
            m[k] = statistics.mean(c.get(k, 0) for c in oracle.wave_counts)
        m["cuckoo.deletes"] = float(oracle.retired_total)
        if not any(s[0].startswith("cuckoo") for s in self.spans):
            m["cuckoo.inserts"] = m["cuckoo.deletes"] = 0.0
        m["frontier.new_ratio"] = m["frontier.new_urls"] / max(m["frontier.candidates"], 1)
        m["curation.accept_ratio"] = m["curation.accepted"] / max(m["curation.docs_in"], 1)
        m["fetch.ms_per_url"] = per_wave(
            lambda i: job_sum(i, "task_ms", "fetch")) / max(m["fetch.pages"], 1)
        m["fetch.kernel_ms_per_url"], m["fetch.gen_ms_per_url"] = kernel

        wave_s = m["crawl.wave_wall_s"] = per_wave(lambda i: self.ops[i][2] - self.ops[i][1])
        shares = {
            layer: per_wave(lambda i, layer=layer: label_s(layer, i)) / wave_s
            for layer in LAYERS
        }
        top = max(shares, key=shares.get)
        m["trace.top_layer_share"] = shares[top]
        print("info: layer shares of wave wall time: " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
        print(f"info: top layer {top} = {shares[top]:.3f} of wave wall time")
        return m


def parse_event_log(out_dir: str) -> list[dict]:
    """Jobs of the run's Spark event log with their group, wall
    interval (epoch s), stage count and task totals."""
    paths = [
        p for p in glob.glob(os.path.join(out_dir, "events", "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1e3, "end": ev["Submission Time"] / 1e3,
                        "stages": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0,
                        "shuffle_write": 0, "spill": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["task_ms"] += tm.get("Executor Run Time", 0)
                    j["gc_ms"] += tm.get("JVM GC Time", 0)
                    j["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
    return list(jobs.values())
