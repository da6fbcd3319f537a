"""Steadiness report: run every workload on several seeds, each run in
a fresh process, and report each end-to-end metric's median and
quartile spread ((Q3 - Q1) / median, ``statistics.quantiles(n=4)``)
against its bound in BENCHMARK.json, plus one traced run per workload
beside the untraced medians (tracing overhead).

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out FILE.json]

Prints a markdown table; ``--out`` also writes every run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
           "--trace", str(trace)]
    t = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n"
                           f"{out.stderr[-2000:]}")
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": result, "samples": report["samples"],
            "loadavg_start": report["facts"]["loadavg_start"]}


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]

    runs = []
    for w in names:
        for s in seeds:
            runs.append(run_once(spec, w, s, 0))
            print(f"{w} seed {s}: {runs[-1]['wall_s']:.1f} s, correct="
                  f"{runs[-1]['result']['correct']}", file=sys.stderr, flush=True)
        runs.append(run_once(spec, w, seeds[0], 1))

    print("| workload | metric | median | spread | bound | spread < bound/3 | traced |")
    print("|---|---|---|---|---|---|---|")
    for w in names:
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = next(r for r in runs if r["workload"] == w and r["trace"])
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in plain]
            sp = spread(vals)
            tv = traced["result"]["metrics"].get(f"trace.{m['name']}", {}).get("value")
            print(f"| {w} | {m['name']} | {statistics.median(vals):.4g} {m['unit']} "
                  f"| {sp:.3f} | {m['bound']} | {'yes' if sp < m['bound'] / 3 else 'no'} "
                  f"| {'' if tv is None else f'{tv:.4g}'} |")
        walls = [r["wall_s"] for r in plain]
        failed = sum(r["result"]["failed"] for r in plain)
        print(f"| {w} | run wall (median) | {statistics.median(walls):.1f} s | | | "
              f"failed ops: {failed} | |")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
