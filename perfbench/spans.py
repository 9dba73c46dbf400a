"""Spans recorded by the benchmark, and their split from Spark's event log.

A :class:`Spans` recorder keeps spans in memory (name, start, end,
parent, run id) around each call the benchmark makes into the program.
:func:`read_event_log` reads Spark's own uncompressed JSON event log, and
:func:`attribute` charges every job to the innermost span whose interval
holds the job's submit time.  Job tags cannot do this: ``build_global_dw``
and the scheduler's task threads submit jobs from threads that never see
the caller's tags, while a submit time is always inside the call that
caused it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs))

    def index(self, span: Span) -> int:
        return self.spans.index(span)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "run_id": s.run_id,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    written_bytes: int = 0
    written_records: int = 0
    result_bytes: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics summed, from one application's log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0)
                for sid in ev.get("Stage IDs", []):
                    # a stage listed again by a later job was skipped
                    # there: its tasks ran in the job that first listed it
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1000.0
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.result_bytes += m.get("Result Size", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                out = m.get("Output Metrics", {})
                job.written_bytes += out.get("Bytes Written", 0)
                job.written_records += out.get("Records Written", 0)
    return sorted(jobs.values(), key=lambda j: j.submit)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Event-log times have millisecond resolution, the span clock finer.
_SLACK = 0.002


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span index -> the jobs whose submit time it is the innermost
    span for.  Jobs outside every span map to ``-1``."""
    out: dict[int, list[Job]] = {-1: []}
    for job in jobs:
        best, best_len = -1, float("inf")
        for i, s in enumerate(spans):
            if s.start - _SLACK <= job.submit <= s.end + _SLACK and s.seconds < best_len:
                best, best_len = i, s.seconds
        out.setdefault(best, []).append(job)
    return out


def subtree_jobs(spans: list[Span], by_span: dict[int, list[Job]], root: int) -> list[Job]:
    """Jobs attributed to span ``root`` or to any span below it."""
    below = {root}
    for i, s in enumerate(spans):  # parents precede children
        if s.parent in below:
            below.add(i)
    return [j for i in below for j in by_span.get(i, [])]


def span_stats(span: Span, jobs: list[Job]) -> dict:
    """The split of one span: jobs, job time, driver gap and task totals.

    ``gap_s`` is the span's wall time minus the union of its jobs'
    intervals (clipped to the span): planning, py4j, file listing and
    scheduling between jobs."""
    busy = _union_seconds(
        [(max(j.submit, span.start), min(j.end or span.end, span.end)) for j in jobs]
    )
    return {
        "s": span.seconds,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "job_s": busy,
        "gap_s": max(0.0, span.seconds - busy),
        "run_s": sum(j.run_s for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "input_mb": sum(j.input_bytes for j in jobs) / MB,
        "shuffle_read_mb": sum(j.shuffle_read_bytes for j in jobs) / MB,
        "shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / MB,
        "shuffle_mb": sum(j.shuffle_read_bytes + j.shuffle_write_bytes for j in jobs) / MB,
        "spill_mb": sum(j.spill_bytes for j in jobs) / MB,
        "written_mb": sum(j.written_bytes for j in jobs) / MB,
        "written_rows": sum(j.written_records for j in jobs),
        "result_mb": sum(j.result_bytes for j in jobs) / MB,
    }
