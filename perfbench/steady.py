#!/usr/bin/env python3
"""Steadiness command: repeat every workload in fresh processes.

    python3 perfbench/steady.py --runs 10 --seed0 1 --out .perfbench_out/steady.json

Runs ``run.py`` ``--runs`` times per workload, each run in a new
process with its own seed (``seed0``, ``seed0 + 1``, ...), alternating
the workload order from one round to the next. For every end-to-end
metric of every workload it writes the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the minimum, the
maximum and the spread (interquartile distance over the median), plus
the share of failed operations, the wall time of a wave and the wall
time of a whole run. ``--traced N`` adds N traced runs per workload
and reports the traced wave time against the untraced one (the tracing
overhead).
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    run_s = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    r = json.loads(lines[-1])
    r["run_s"] = run_s
    for line in lines:
        if line.startswith("info: ops_s="):
            ops = ast.literal_eval(line.split("=", 1)[1].split(" setup_s=")[0])
            r["wave_s"] = statistics.median(o[1] for o in ops if o[0] == "wave")
        elif line.startswith("info: top layer "):
            r["top_layer"] = line[len("info: top layer "):]
    return r


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": (q3 - q1) / med, "n": len(values),
            "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "steady.json"))
    args = ap.parse_args(argv)
    cfg = bench_config()
    names = [w["name"] for w in cfg["workloads"]]
    runs: dict[str, list[dict]] = {n: [] for n in names}
    traced: dict[str, list[dict]] = {n: [] for n in names}
    for i in range(max(args.runs, args.traced)):
        order = names if i % 2 == 0 else names[::-1]
        for name in order:
            for trace, store, n in ((0, runs, args.runs), (1, traced, args.traced)):
                if i >= n:
                    continue
                r = one_run(name, args.seed0 + i, cfg["run_seconds"], trace)
                store[name].append(r)
                print(name, args.seed0 + i, f"trace={trace}", f"run_s={r['run_s']:.1f}",
                      json.dumps(r["metrics"]) if not trace else r["correct"],
                      flush=True)
    report = {}
    for name in names:
        rs = runs[name]
        rep = {
            "correct": all(r["correct"] for r in rs),
            "failed_share": sorted({r["failed"] / r["attempted"] for r in rs}),
        }
        for m in cfg["end_to_end"]:
            rep[m["name"]] = summary([r["metrics"][m["name"]]["value"] for r in rs])
        rep["wave_wall_s"] = summary([r["wave_s"] for r in rs])
        rep["run_wall_s"] = summary([r["run_s"] for r in rs])
        if traced[name]:
            tr = traced[name]
            rep["traced"] = {
                k: statistics.median(r["metrics"][k]["value"] for r in tr)
                for k in tr[0]["metrics"]
            }
            rep["top_layer"] = [r.get("top_layer") for r in tr]
            rep["trace_overhead"] = (
                statistics.median(r["wave_s"] for r in tr)
                / statistics.median(r["wave_s"] for r in rs) - 1
            )
            print(f"{name:16s} top layer {rep['top_layer']}, traced wave time vs"
                  f" untraced {rep['trace_overhead']:+.3f}")
        report[name] = rep
        for m in cfg["end_to_end"] + [{"name": n, "bound": None}
                                      for n in ("wave_wall_s", "run_wall_s")]:
            s = rep[m["name"]]
            print(f"{name:16s} {m['name']:14s} median {s['median']:.4f} "
                  f"q1 {s['q1']:.4f} q3 {s['q3']:.4f} min {s['min']:.4f} "
                  f"max {s['max']:.4f} spread {s['spread']:.4f} (bound {m['bound']})")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
