#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one fresh single-client process.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts a session at
``local[<cores>]`` with the library's defaults (driver heap included),
writes its inputs from ``--seed``, warms up (a cold pass, see the
workload), then repeats the workload's timed pass (closed loop, one
client) until ``--seconds`` have passed, at least once.  Answers are
checked outside the timed spans.  The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the run's full record (provenance, every named phase time
and, with ``--trace 1``, the per-call split).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, charges each job to the benchmark span it was
submitted in, and reports the per-layer metrics, among them the traced
run's own end-to-end values (``trace.*``): their ratio to the untraced
runs' values is the tracing overhead (``perfbench/spread.py --trace``).

Everything the run writes stays under ``.perfbench/`` in the checkout;
oracle answers are cached there per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# the result line's end-to-end metrics; the record also carries the
# untraced run's peak_rss_mb, whose run-to-run spread with the library's
# growable heap is too wide to gate (the traced run reports it per layer)
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}


def _process_age() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_T0 = _process_age()


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters since boot (user, nice, system,
    idle, iowait, irq, softirq, steal), from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _cpu_shares(before: list[int], after: list[int]) -> dict:
    """Shares of the machine's CPU time between two readings: busy, and
    stolen by the host (time a virtual CPU was ready but not run)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "cpu_busy_share": (total - d[3] - d[4] - d[7]) / total,
        "cpu_steal_share": d[7] / total,
    }


def _source_id() -> dict:
    """The git commit when the checkout is a repository, else a digest of
    the program's sources (an exported source tree has no ``.git``)."""
    import hashlib

    out = {"commit": None}
    try:
        out["commit"] = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("e_commerce_data_lakehouse_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    out["source_sha256"] = h.hexdigest()[:16]
    return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    """One run: session, spans, failure count and the workload."""

    def __init__(self, args, cores: int):
        from perfbench.spans import Spans

        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = cores
        self.run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
        self.run_dir = os.path.join(STATE, "runs", self.run_id)
        self.oracle_dir = os.path.join(STATE, "oracle")
        self.spans = Spans(self.run_id)
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.session_s = 0.0
        self.cpu_window: dict = {}

    def fail(self, reason: str, tb: str | None = None) -> None:
        self.failures.append(reason)
        print(f"FAILED: {reason}", file=sys.stderr)
        if tb:
            print(tb, file=sys.stderr)

    def start_session(self, event_log: str | None):
        from e_commerce_data_lakehouse_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            # no hsperfdata file: it would land in /tmp, outside the checkout
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": f"file://{event_log}",
                }
            )
        with self.spans.span("session.get_spark", kind="setup") as s:
            self.spark = get_spark(master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = s.seconds
        return self.spark

    def jvm_counters(self) -> tuple[int, int]:
        """(JIT compile milliseconds, classes loaded) of the driver JVM so
        far, from its own management beans; reading them runs no job."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return (
            mf.getCompilationMXBean().getTotalCompilationTime(),
            mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        )

    def timed_passes(self, wl) -> list:
        """Passes while the ``seconds`` window has room for one more of
        the last pass's length (always at least one)."""
        from perfbench.workloads import OpFailed

        passes = []
        t0 = time.monotonic()
        while True:
            t_pass = time.monotonic()
            try:
                p = wl.run_pass(len(passes))
            except OpFailed:
                return passes
            finally:
                released = wl.release()
            p.named["caching.released"] = released + sum(
                v for k, v in p.named.items() if k.startswith("caching.")
            )
            passes.append(p)
            now = time.monotonic()
            if now - t0 + (now - t_pass) > self.seconds:
                return passes

    def provenance(self, t_load1: float) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "workload": self.workload_name,
            "seed": self.seed,
            "seconds": self.seconds,
            "spark_version": pyspark.__version__,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "nproc": self.cores,
            "load1_start": t_load1,
            "load1_end": os.getloadavg()[0],
            # the whole machine over the timed passes: a high steal share
            # marks a run slowed by other tenants of the host
            **self.cpu_window,
            **_source_id(),
        }


def _e2e(setup_s: float, passes: list, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": _median([p.seconds for p in passes]),
        "peak_rss_mb": rss_mb,
    }


def _named_record(passes: list) -> dict:
    """Median of every named value over the passes."""
    out = {"op_s_p50": _median([x for p in passes for x in p.op_s])}
    for k in sorted({k for p in passes for k in p.named}):
        out[k] = _median([p.named[k] for p in passes if k in p.named])
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    args = _parse()
    # import the checkout's packages as ``perfbench.*``, never this
    # directory's modules as top-level names
    sys.path[0] = ROOT
    try:
        from perfbench import layers
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    load1 = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    b = Bench(args, cores)
    os.makedirs(b.run_dir)
    os.environ["TMPDIR"] = os.path.join(b.run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.chdir(b.run_dir)
    event_log = os.path.join(b.run_dir, "eventlog") if args.trace else None

    spark = b.start_session(event_log)
    record: dict = {}
    metrics: dict = {}
    passes: list = []
    try:
        wl = WORKLOADS[args.workload](b)
        with b.spans.span("setup", kind="setup"):
            wl.set_up()
            wl.warm_up()
        setup_s = AGE_AT_T0 + time.monotonic() - T0
        wl.release()
        cpu0 = _cpu_ticks()
        passes = b.timed_passes(wl)
        b.cpu_window = _cpu_shares(cpu0, _cpu_ticks())
        e2e = _e2e(setup_s, passes, _vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
        record.update(
            provenance=b.provenance(load1), e2e=e2e, named=_named_record(passes)
        )
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        if args.trace and passes:
            from perfbench.spans import attribute, read_event_log

            spark.stop()  # flushes and closes the event log
            (log,) = os.listdir(event_log)
            by_span = attribute(b.spans.spans, read_event_log(os.path.join(event_log, log)))
            metrics, record["layers"] = layers.per_layer(b, wl, passes, by_span, e2e)
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            b.spans.dump(os.path.join(STATE, "traces", f"{b.run_id}.spans.jsonl"))
    except Exception:  # noqa: BLE001 — report the run as failed, then stop Spark
        b.fail("run aborted", traceback.format_exc())
    _stop(spark)
    failed = min(len(b.failures), max(1, b.attempted))
    result = {
        "correct": not b.failures and bool(passes),
        "attempted": max(1, b.attempted),
        "failed": failed,
        "metrics": metrics,
    }
    record["failures"] = b.failures
    record["error_rate"] = failed / max(1, b.attempted)
    os.chdir(ROOT)
    shutil.rmtree(b.run_dir, ignore_errors=True)
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(json.dumps({"run_id": b.run_id, **record, "result": result}) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
