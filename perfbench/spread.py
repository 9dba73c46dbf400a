#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, as the acceptance rule measures it.

    python3 perfbench/spread.py --workload nightly_batch --seeds 1 2 3 4 5

Runs ``run.py`` once per seed (untraced, ``run_seconds`` from
``BENCHMARK.json``), then prints for each end-to-end metric the median,
the quartiles and the spread: (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``, next to the metric's bound.
With ``--trace`` it also makes one traced run per seed and reports the
tracing overhead of every end-to-end metric (traced median / untraced
median - 1).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed (seed {seed}): {out.stderr[-2000:]}")
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    result["wall_s"] = time.monotonic() - t0
    result["record"] = record
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = [run(args.workload, s, bench["run_seconds"], 0) for s in args.seeds]
    for r in runs:
        print(json.dumps({k: round(v["value"], 4) for k, v in r["metrics"].items()}
                         | {"correct": r["correct"], "wall_s": round(r["wall_s"], 1)}))
    print(f"{'metric':<14}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>8}{'bound':>7}")
    for name, bound in bounds.items():
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{name:<14}{med:>10.3f}{q1:>10.3f}{q3:>10.3f}{(q3 - q1) / med:>8.3f}{bound:>7}")
    print(f"runs correct: {sum(r['correct'] for r in runs)}/{len(runs)}; "
          f"mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    if args.trace:
        traced = [run(args.workload, s, bench["run_seconds"], 1) for s in args.seeds]
        for name in bounds:
            plain = statistics.median(r["metrics"][name]["value"] for r in runs)
            with_log = statistics.median(t["record"]["e2e"][name] for t in traced)
            print(f"tracing overhead {name}: {with_log / plain - 1:+.3f}")
        print(f"traced mean wall {statistics.mean(t['wall_s'] for t in traced):.1f} s")


if __name__ == "__main__":
    main()
