#!/usr/bin/env python3
"""Crawl-engine benchmark: timed CrawlEngine waves on a generated web.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 30 --trace 0

Runs one workload on ``local[4]`` from this single driver process and
prints, as its last stdout line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (``trace.py``). Every run checks the engine's output against
a plain-Python oracle on the same generated web (``checks.py``).

Operations are the timed waves plus, in ``recrawl_durable``, one
retirement, one checkpoint and one resume; a run attempts the same
operations whatever the seed. ``--seconds`` sets the number of timed
waves: whole multiples of the workload's nominal wave time, at least
one. Every wave is timed from the engine's first wave, so the timed
window includes the cold start of each Spark code path.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WAVE_S = 30  # nominal wave time: --seconds // WAVE_S timed waves, at least one
N_HOSTS = 4000  # hosts of the generated web
RETIRE_K = 50  # URLs retire_stalest retires in a durable workload


@dataclass(frozen=True)
class Workload:
    wave_size: int
    per_host_budget: int
    # robots, the cuckoo seen-set, then one retirement, checkpoint and resume
    durable: bool = False


WORKLOADS = {
    # per-URL work: fetch UDF + HTML parse, curation, link explode/merge
    "crawl_wide": Workload(wave_size=400, per_host_budget=4),
    # fixed per-wave cost: a small polite wave, cuckoo seen-set, one
    # retirement, a committed checkpoint, one resume
    "recrawl_durable": Workload(wave_size=200, per_host_budget=2, durable=True),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(out: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside ``out``, and let the workers import ``perfbench``."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_CONF_DIR", None)


def build_session(out: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(out, "tmp")
    b = (
        SparkSession.builder.master("local[4]")
        .appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(out, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(out, "warehouse"))
        # C1 only: in a JVM that lives under a minute the C2 compiler's
        # threads take ~40% of the CPU, and how much they compile
        # depends on timing
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
        )
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(out, "events"))
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live descendant: the JVM and Spark's
    Python workers."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    mine, total, grew = {os.getpid()}, 0, True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    total = sum(procs[p][1] for p in mine if p in procs)
    return total / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def make_cfg(wl: Workload, seeds: list[str]):
    from gocrawler_spark.config import test_profile

    return test_profile(
        wave_size=wl.wave_size,
        per_host_budget=wl.per_host_budget,
        bootstrapping_links=tuple(seeds),
    )


def engine_options(wl: Workload, web, ckpt: str | None) -> dict:
    """Only options that change what the crawl does: the web hooks,
    robots, the cuckoo seen-set and checkpointing."""
    kw = {"html_fetch_fn": web.html}
    if wl.durable:
        kw.update(use_robots=True, robots_fn=web.robots, use_cuckoo=True)
    if ckpt is not None:
        kw["checkpoint_dir"] = ckpt
    return kw


def observe(eng) -> dict:
    """The engine's crawl in plain Python: visited relation, final
    frontier and page-cache keys (read after the timed window)."""
    st = eng.state
    return {
        "visited": sorted(
            (r[0], r[1], r[2])
            for r in st.crawl_log.select("wave", "url", "status_after").collect()
        ),
        "frontier": sorted(
            tuple(r)
            for r in st.frontier.select(
                "url", "domain", "count", "status", "seq"
            ).collect()
        ),
        "pages": sorted(r[0] for r in st.pages.select("url").collect()),
    }


def plan_of(wl: Workload, seconds: float) -> list[str]:
    """The run's operations, the same for every seed."""
    plan = ["wave"] * max(1, int(seconds // WAVE_S))
    if wl.durable:
        plan += ["retire", "checkpoint", "resume"]
    return plan


def checkpoint_mb(ckpt: str) -> float:
    """Bytes of the parquet files the committed manifest names."""
    from gocrawler_spark.plans.store import TableStore

    man = TableStore(ckpt).read_manifest() or {"tables": {}}
    return sum(
        p["bytes"]
        for t in man["tables"].values()
        for s in t["segments"]
        for p in s["partitions"]
    ) / 1e6


def kernel_ms(web, urls: list[str]) -> tuple[float, float]:
    """The engine's HTML fetch batch function on one pandas batch outside
    Spark, and the generator alone on the same URLs (ms per URL)."""
    import pandas as pd

    from gocrawler_spark.plans.crawl import pandas_html_fetcher

    batch = pd.DataFrame({"url": urls})
    t0 = time.perf_counter()
    list(pandas_html_fetcher(web.html)(iter([batch])))
    t1 = time.perf_counter()
    for u in urls:
        web.html(u)
    t2 = time.perf_counter()
    return 1e3 * (t1 - t0) / len(urls), 1e3 * (t2 - t1) / len(urls)


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    plan = plan_of(wl, args.seconds)
    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    prepare_env(out)

    from perfbench import checks
    from perfbench.web import Web

    web = Web(args.seed, N_HOSTS)
    seeds = web.seeds(wl.wave_size, wl.per_host_budget)
    cfg = make_cfg(wl, seeds)
    ckpt = os.path.join(out, "ckpt") if wl.durable else None

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()

    # ---- set-up: process start to engine ready (JVM, session, engine) --
    spark = build_session(out, bool(args.trace))
    from gocrawler_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(spark, cfg, **engine_options(wl, web, ckpt))
    setup_wall, setup_cpu = time.perf_counter() - T_START, tree_cpu_s()
    if tracer is not None:
        tracer.attach(spark)

    # ---- timed window: whole operations, timed one by one -----------
    op_s, engine_retired = [], []  # (kind, wall s, cpu s)
    failed = 0
    for n, kind in enumerate(plan):
        if tracer is not None:
            tracer.begin_op(kind)
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            if kind == "wave":
                eng.step()
            elif kind == "retire":
                retired_df = eng.retire_stalest(RETIRE_K)
            elif kind == "checkpoint":
                eng.checkpoint()
            else:  # resume from the committed checkpoint
                eng.pins.release_all()
                eng = CrawlEngine.resume(
                    spark, cfg, ckpt, **engine_options(wl, web, None)
                )
        except Exception:  # noqa: BLE001 - a raising operation is a failed one
            print(f"operation {kind} failed:", file=sys.stderr)
            traceback.print_exc()
            failed = len(plan) - n
            break
        op_s.append((kind, time.perf_counter() - t, tree_cpu_s() - c))
        if tracer is not None:
            tracer.end_op(eng)
        if kind == "retire":
            engine_retired = sorted(r[0] for r in retired_df.collect())

    # ---- checks made apart from the engine --------------------------
    errors = []
    if not failed:
        seen = observe(eng)
        ckpt_mb = checkpoint_mb(ckpt) if ckpt else 0.0
    stop_session(spark)
    if not failed:
        oracle = checks.PoliteWaveOracle(cfg, web, use_robots=wl.durable)
        oracle.bootstrap()
        retired = Counter()
        for kind in plan:
            if kind == "wave":
                oracle.step_wave()
            elif kind == "retire":
                want = oracle.retire_stalest(RETIRE_K)
                retired.update(want)
                if engine_retired != want:
                    errors.append(
                        f"retired {len(engine_retired)} URLs, oracle {len(want)}"
                    )
        errors += checks.compare(seen, oracle.observed())
        errors += checks.check_properties(
            seen, web, seeds, wl.per_host_budget, wl.durable, retired=retired,
        )
        short = [w for w, n in oracle.selected.items() if n != wl.wave_size]
        if short:
            errors.append(f"waves {short} did not select {wl.wave_size} URLs")
        for e in errors:
            print("check failed:", e, file=sys.stderr)

    result = {
        "correct": not errors and not failed,
        "attempted": len(plan),
        "failed": failed,
    }
    if failed:
        values = {}
    elif args.trace:
        first = sorted(u for w, u, _ in seen["visited"] if w == 1)
        values = tracer.metrics(out, oracle, kernel_ms(web, first), ckpt_mb)
    else:
        values = {
            "cpu_ms_per_url": 1e3 * sum(o[2] for o in op_s) / len(seen["visited"]),
            "wave_cpu_s": statistics.median(o[2] for o in op_s if o[0] == "wave"),
            "setup_s": setup_cpu,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
        if not failed
    }
    print(
        "info: ops_s=%s setup_s=%.3f setup_cpu_s=%.2f run_s=%.1f"
        % ([(o[0], round(o[1], 3), round(o[2], 2)) for o in op_s],
           setup_wall, setup_cpu, time.perf_counter() - T_START)
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gocrawler_spark")):
        print("perfbench: the crawl engine (gocrawler_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
