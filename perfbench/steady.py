#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload k times, one seed each.

    python3 perfbench/steady.py --workload api --runs 10 [--seed 1] \\
        [--seconds 10] [--trace 0]

Prints, for every metric of the last JSON line of ``run.py``, the median, the
quartiles (``statistics.quantiles(values, n=4)``), the spread (quartile
distance over the median) and the max/min ratio; and per run the wall time
and the share of failed operations. With ``BENCHMARK.json`` present, each
end-to-end spread is compared with a third of the metric's bound. The raw
results, with each run's ``run.json`` (set-ups, warm-up, per-operation
times), go to ``.perfbench/steady/<workload>-trace<t>.json``.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, quartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one workload k times and report each metric's spread.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    bench = {}
    if os.path.exists(bench_path):
        with open(bench_path) as f:
            bench = json.load(f)
    seconds = args.seconds or bench.get("run_seconds", 10)
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}

    results = []
    for i in range(args.runs):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed + i), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            print(f"run {i} (seed {args.seed + i}) exited with {proc.returncode}", file=sys.stderr)
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        out["wall_s"] = wall
        out["seed"] = args.seed + i
        run_dir = f"{args.workload}-{'trace' if args.trace else 'plain'}"
        with open(os.path.join(ROOT, ".perfbench", "run", run_dir, "run.json")) as f:
            out["run"] = json.load(f)
        results.append(out)
        print(f"run {i + 1}/{args.runs} seed {args.seed + i}: {wall:.1f} s wall, "
              f"{out['failed']}/{out['attempted']} failed, correct={out['correct']}, "
              f"CPU steal {out['run']['steal_share']:.1%}", flush=True)

    os.makedirs(os.path.join(ROOT, ".perfbench", "steady"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady",
                           f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(results, f, indent=1)

    print(f"\n{args.workload}, {args.runs} runs of {seconds} s, trace {args.trace}")
    print(f"{'metric':<40}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'max/min':>9}  bound/3")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = spread(values)
        ratio = max(values) / min(values) if min(values) > 0 else float("inf")
        verdict = ""
        if name in bounds:
            verdict = f"{bounds[name] / 3:.3f} {'ok' if sp < bounds[name] / 3 else 'WIDE'}"
        print(f"{name:<40}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{sp:>9.3f}{ratio:>9.3f}  {verdict}")
    shares = {r["failed"] / r["attempted"] for r in results}
    walls = [r["wall_s"] for r in results]
    print(f"failed share per run: {sorted(shares)}; wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
