"""Per-layer metrics of a traced run.

Every workload reports the same per-layer set (the names in
``BENCHMARK.json``): per timed pass, the Spark jobs its calls submitted
and their time, the driver gap between and around them, task totals
for scan, shuffle, spill, writes and results, and the driver JVM's JIT
compile time and class loads inside the pass.  The record also carries
the split of every single call under its own span name, e.g.
``plans.medallion.silver.increment.gap_s``.
"""

from __future__ import annotations

import statistics

from perfbench.spans import span_stats, subtree_jobs

# generic per-pass quantity -> span_stats key
_PASS_KEYS = {
    "spark.jobs": ("jobs", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.job_s": ("job_s", "s"),
    "spark.gap_s": ("gap_s", "s"),
    "executor.run_s": ("run_s", "s"),
    "executor.cpu_s": ("cpu_s", "s"),
    "executor.gc_s": ("gc_s", "s"),
    "scan.input_mb": ("input_mb", "MB"),
    "shuffle.read_mb": ("shuffle_read_mb", "MB"),
    "shuffle.write_mb": ("shuffle_write_mb", "MB"),
    "spill.mb": ("spill_mb", "MB"),
    "sources.sinks.written_mb": ("written_mb", "MB"),
    "sources.sinks.written_rows": ("written_rows", "count"),
    "driver.result_mb": ("result_mb", "MB"),
}
UNITS = {
    "session.get_spark.s": "s",
    "plans.calls": "count",
    **{k: u for k, (_, u) in _PASS_KEYS.items()},
    "spark.gap_share": "ratio",
    "plans.slowest_call.share": "ratio",
    "caching.released": "count",
    "jvm.jit_compile_s": "s",
    "jvm.classes_loaded": "count",
    "trace.jobs_outside_calls": "count",
    "trace.jobs_attributed_share": "ratio",
    "trace.setup_s": "s",
    "trace.pass_s": "s",
    "trace.peak_rss_mb": "MB",
}
# the per-call split kept in the record
_CALL_KEYS = ("s", "jobs", "gap_s", "shuffle_mb", "spill_mb", "written_mb", "written_rows")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(b, wl, traced, by_span, e2e) -> tuple[dict, dict]:
    """(metrics for the result line, the record's per-call split)."""
    spans = b.spans.spans
    pass_ids = [
        i
        for i, s in enumerate(spans)
        if s.attrs.get("kind") == "pass" and s.attrs.get("index", -1) >= 0
    ]
    per_pass: dict[str, list[float]] = {}
    calls: dict[str, list[dict]] = {}
    outside = 0
    in_pass = 0
    for pid in pass_ids:
        jobs = subtree_jobs(spans, by_span, pid)
        st = span_stats(spans[pid], jobs)
        for name, (key, _) in _PASS_KEYS.items():
            per_pass.setdefault(name, []).append(st[key])
        per_pass.setdefault("spark.gap_share", []).append(st["gap_s"] / st["s"])
        in_pass += len(jobs)
        kids = [i for i, s in enumerate(spans) if s.parent == pid]
        grandkids = [i for i, s in enumerate(spans) if s.parent in kids]
        for i in [pid, *kids]:
            if spans[i].attrs.get("kind") != "call":
                outside += len(by_span.get(i, []))
        for i in kids + grandkids:
            s = spans[i]
            if s.attrs.get("kind") in ("call", "batch"):
                calls.setdefault(s.name, []).append(
                    span_stats(s, subtree_jobs(spans, by_span, i))
                )
    out = {k: _med(v) for k, v in per_pass.items()}
    out["session.get_spark.s"] = b.session_s
    out["plans.calls"] = _med([len(p.op_s) for p in traced])
    out["plans.slowest_call.share"] = _med([max(p.op_s) / p.seconds for p in traced if p.op_s])
    out["caching.released"] = _med([p.named["caching.released"] for p in traced])
    for k in ("jvm.jit_compile_s", "jvm.classes_loaded"):
        out[k] = _med([p.named[k] for p in traced])
    out["trace.jobs_outside_calls"] = outside / max(1, len(pass_ids))
    out["trace.jobs_attributed_share"] = (in_pass - outside) / in_pass if in_pass else 1.0
    out["trace.setup_s"] = e2e["setup_s"]
    out["trace.pass_s"] = e2e["pass_s"]
    out["trace.peak_rss_mb"] = e2e["peak_rss_mb"]
    metrics = {k: {"value": out[k], "unit": UNITS[k]} for k in UNITS}

    detail: dict[str, float] = {}
    for name, stats in calls.items():
        if name == "streaming.batch":
            detail["streaming.batch.jobs_p50"] = _med([s["jobs"] for s in stats])
            detail["streaming.batch.gap_s_p50"] = _med([s["gap_s"] for s in stats])
            continue
        for key in _CALL_KEYS:
            detail[f"{name}.{key}"] = _med([s[key] for s in stats])
    detail.update(wl.layer_detail(detail))
    detail["jobs_outside_every_span"] = len(by_span.get(-1, []))
    return metrics, detail
