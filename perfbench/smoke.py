#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: those in ``BENCHMARK.json``) it makes one
untraced and one traced run with ``--seconds 1`` and checks that the run
exits 0, its answer checks pass, and its last line carries exactly the
``end_to_end`` (untraced) or ``per_layer`` (traced) metrics of
``BENCHMARK.json`` with their units and finite values.  It then copies
``BENCHMARK.json`` and the benchmark's directories alone into a scratch
directory and checks that a run there fails without printing a result.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            out = _run(ROOT, w, trace)
            tag = f"{w} --trace {trace}"
            if out.returncode != 0:
                problems.append(f"{tag}: exit {out.returncode}: {out.stderr[-1500:]}")
                continue
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
            want = {m["name"]: m["unit"] for m in spec}
            got = result["metrics"]
            if set(got) != set(want):
                problems.append(f"{tag}: metrics differ: {sorted(set(got) ^ set(want))}")
            for name, m in got.items():
                if m.get("unit") != want.get(name) or not math.isfinite(m.get("value", math.nan)):
                    problems.append(f"{tag}: bad metric {name}: {m}")
            print(f"{tag}: ok ({result['attempted']} operations)", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(bare, workloads[0], 0)
    shutil.rmtree(bare)
    if out.returncode == 0 or '"metrics"' in out.stdout:
        problems.append(f"bare directory: exit {out.returncode}, stdout {out.stdout[-300:]!r}")
    else:
        print(f"bare directory: fails as required (exit {out.returncode})")

    for p in problems:
        print(f"PROBLEM {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
