"""Steadiness of the benchmark: run one workload N times and summarise.

    python3 perfbench/steady.py --workload kt_grow --runs 10 [--first-seed 1] [--trace 0|1]

Each run is ``run.py`` in a fresh process with its own seed (first-seed,
first-seed + 1, ...). For every metric it prints the median, the first
and third quartiles (``statistics.quantiles(n=4)``), min, max and the
relative spread (Q3 - Q1) / median, next to the bound from
BENCHMARK.json. Runs one after another, never in parallel.

With ``--overhead`` each seed is run twice, untraced and traced, and the
table shows the traced run's end-to-end metrics (from its info line)
against the untraced ones: the tracing overhead per metric.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600, check=False)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {out.returncode})")
    return json.loads(lines[-2])["info"], json.loads(lines[-1]), wall


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--overhead", action="store_true")
    p.add_argument("--save", help="append each run's info and result lines to this file")
    args = p.parse_args()
    bench = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    walls, bad = [], 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        trace = 0 if args.overhead else args.trace
        info, res, wall = run_once(args.workload, seed, seconds, trace)
        walls.append(wall)
        if args.save:
            with open(args.save, "a", encoding="utf-8") as f:
                f.write(json.dumps({"info": info, "result": res, "wall": wall}) + "\n")
        bad += (not res["correct"]) or res["failed"] > 0
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.overhead:
            tinfo, tres, twall = run_once(args.workload, seed, seconds, 1)
            walls.append(twall)
            for k, v in tinfo["end_to_end"].items():
                traced.setdefault(k, []).append(v)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} wall={wall:.1f}s "
              f"extra rounds={info['rounds']['extra']} "
              f"load={info['host_start']['loadavg'][0]:.2f}->{info['host_end']['loadavg'][0]:.2f}",
              flush=True)

    print(f"\n{args.workload}: {args.runs} runs, run wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s, runs with a wrong result or failed call: {bad}")
    head = f"{'metric':45s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'min':>12s} {'max':>12s} {'spread':>7s} {'bound':>6s}"
    if args.overhead:
        head += f" {'traced':>12s} {'overhead':>9s}"
    print(head)
    for k, vs in values.items():
        s = summary(vs)
        b = bounds.get(k)
        line = (f"{k:45s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} {s['min']:12.4f} "
                f"{s['max']:12.4f} {s['spread']:7.3f} {'' if b is None else b:>6}")
        if args.overhead and k in traced:
            t = statistics.median(traced[k])
            line += f" {t:12.4f} {(t - s['median']) / s['median'] if s['median'] else 0:9.3f}"
        print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
