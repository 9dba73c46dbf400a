"""The benchmark workloads, driven through the program's public API.

Each workload has a set-up (inputs written, a warm-up), a timed
pass that the run repeats, and answer checks that run outside every
timed span.  A pass returns the latency of each operation it made (one
stage call, one micro-batch or one query) and its named phase times.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from e_commerce_data_lakehouse_spark.caching import release_persisted
from e_commerce_data_lakehouse_spark.entry_queries import (
    DIM_DATE_END,
    DIM_DATE_START,
    QUERIES,
    load,
)
from e_commerce_data_lakehouse_spark.functions.dates import build_dim_date
from e_commerce_data_lakehouse_spark.plans.corpus_medallion import run_streaming
from e_commerce_data_lakehouse_spark.plans.global_dw import build_global_dw
from e_commerce_data_lakehouse_spark.plans.medallion import orders_dag

from perfbench import inputs
from perfbench.checks import Oracle, matches

# gen-sf of the nightly inputs, set by the run budget (each run pays a
# session start and a cold warm-up pass)
SF = 0.01


class OpFailed(Exception):
    """An operation raised; the pass cannot go on."""


class Pass:
    """What one pass measured: its wall time, the latency of each
    operation, and named values (phase times, program-reported stage
    times, cache releases) under the names the record reports."""

    def __init__(self):
        self.seconds = 0.0
        self.op_s: list[float] = []
        self.named: dict[str, float] = {}


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.in_dir = os.path.join(bench.run_dir, "inputs")
        self._dirs = 0

    def fresh_dir(self) -> str:
        """A new working directory: every pass starts from empty tables,
        ledger and checkpoint."""
        self._dirs += 1
        return os.path.join(self.b.run_dir, f"work-{self._dirs}")

    def set_up(self) -> None:
        inputs.write_tables(self.b.seed, SF, self.in_dir, self.tables)

    def layer_detail(self, detail: dict) -> dict:
        """Workload-specific ratios derived from the per-call split."""
        return {}

    def warm_up(self) -> None:
        raise NotImplementedError

    def release(self) -> int:
        """Drop every cache between passes (and queries), so that warm
        means codegen-warm only; returns how many library persists went."""
        self.spark.catalog.clearCache()
        return release_persisted()

    def run_pass(self, i: int) -> Pass:
        raise NotImplementedError

    @contextmanager
    def pass_span(self, p: Pass, i: int):
        """The span of one pass.  It also charges to the pass the JIT
        compile time and the classes the driver JVM loaded inside it:
        code generated per query execution is compiled again each pass."""
        jit0, classes0 = self.b.jvm_counters()
        with self.b.spans.span("pass", kind="pass", index=i) as ps:
            yield ps
        jit1, classes1 = self.b.jvm_counters()
        p.seconds = ps.seconds
        p.named["jvm.jit_compile_s"] = (jit1 - jit0) / 1000.0
        p.named["jvm.classes_loaded"] = classes1 - classes0

    def op(self, name: str, fn, **attrs):
        """One timed operation, as a span; a raise counts as a failure."""
        self.b.attempted += 1
        with self.b.spans.span(name, kind="call", **attrs) as s:
            try:
                out = fn()
            except Exception as e:  # boundary: record, report, stop the pass
                self.b.fail(f"{name} raised {type(e).__name__}: {e}", traceback.format_exc())
                raise OpFailed(name) from e
        return out, s.seconds

    def check(self, ok: bool, reason: str) -> None:
        if not ok:
            self.b.fail(reason)


# --------------------------------------------------------------------------
# nightly_batch: backfill + increment through the medallion, the global DW,
# then the reports
# --------------------------------------------------------------------------

# Registered queries run after the DW, to the noop sink.  The percentiles
# reach operators.ranking, which no pipeline calls; why the other queries
# of a read-only mix are left out is in perfbench/README.md.
REPORTS = (
    ("ranking", "order_percentiles_by_status"),
    ("aggregates", "customer_360"),
    ("aggregates", "top_orders_per_month"),
)
INTERACTIVE = ("customer_360", "top_orders_per_month")
WARM_THREADS = 3


class NightlyBatch(Workload):
    name = "nightly_batch"
    tables = ("orders", "events", "customer", "part")

    def set_up(self) -> None:
        super().set_up()
        self.drops_dir = os.path.join(self.b.run_dir, "drops")
        self.raw = inputs.write_order_drops(
            self.b.seed, os.path.join(self.in_dir, "orders.parquet"), self.drops_dir
        )
        self.oracle = Oracle(
            {t: os.path.join(self.in_dir, f"{t}.parquet") for t in self.tables},
            self.b.oracle_dir,
            f"{self.name}-{self.b.seed}-{SF:g}",
        )

    def layer_detail(self, detail: dict) -> dict:
        inc = [k for k in detail if k.endswith(".increment.written_mb")]
        written_mb = sum(detail[k] for k in inc)
        rows = sum(detail[k.replace("written_mb", "written_rows")] for k in inc)
        return {
            "sources.sinks.increment.write_amp": written_mb
            / (self.raw["increment_bytes"] / 1e6),
            "sources.sinks.increment.rows_rewritten_per_delta_row": rows
            / self.raw["increment_rows"],
        }

    def warm_up(self) -> None:
        """A cold pass whose global DW and reports run beside the medallion
        chain, which shortens set-up (timed passes make one call at a
        time); the reports' answers are collected and checked."""
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            dw = pool.submit(self._global_dw, self.fresh_dir())
            answers = [pool.submit(self._collect, q) for _, q in REPORTS]
            self.run_pass(-1, check=False, tail=False)
            dw.result()
            answers = [a.result() for a in answers]
        # the chain once more, alone: after one cold pass the JIT is still
        # compiling its code up to the top tier during the next pass
        self.run_pass(-1, check=False, tail=False)
        self.b.attempted += len(REPORTS)
        for (_, q), answer in zip(REPORTS, answers):
            if answer is not None:
                reason = matches(self.oracle, q, QUERIES[q].oracle, *answer)
                self.check(reason is None, reason or "")

    def _collect(self, q: str):
        try:
            df = QUERIES[q].spark_fn(self.spark, self.in_dir)
            return df.columns, df.collect()
        except Exception as e:  # boundary: record, report, check the rest
            self.b.fail(f"{q} raised {type(e).__name__}: {e}", traceback.format_exc())
            return None

    def run_pass(self, i: int, check: bool = True, tail: bool = True) -> Pass:
        """The program's own ``orders_dag``, task by task: the backfill
        drops are in ``raw/`` when the pass starts; the increment drop
        arrives (a rename into ``raw/``) after the backfill, and the same
        task functions run again, ``raw_export`` re-listing the drops.
        The tail is the global DW, then the reports, with the caches
        dropped before and after each report."""
        wd = self.fresh_dir()
        for d in ("drop_a", "drop_b"):
            shutil.copytree(os.path.join(self.drops_dir, d), os.path.join(wd, "raw", d))
        shutil.copytree(
            os.path.join(self.drops_dir, "drop_c"), os.path.join(wd, "incoming", "drop_c")
        )
        dag, tables = orders_dag(self.spark, self.in_dir, wd)
        p = Pass()
        with self.pass_span(p, i):
            for phase in ("backfill", "increment"):
                if phase == "increment":
                    os.rename(
                        os.path.join(wd, "incoming", "drop_c"), os.path.join(wd, "raw", "drop_c")
                    )
                with self.b.spans.span(f"phase.{phase}", kind="phase") as ph:
                    for stage in dag.topo_order():
                        _, s = self.op(
                            f"plans.medallion.{stage}.{phase}", dag.tasks[stage].fn
                        )
                        p.op_s.append(s)
                        p.named[f"plans.medallion.{stage}.{phase}.s"] = s
                p.named[f"{phase}_s"] = ph.seconds
            if tail:
                dw, s = self.op(
                    "plans.global_dw.build_global_dw", lambda: self._global_dw(wd)
                )
                p.op_s.append(s)
                p.named["global_dw_s"] = s
                p.named["caching.build_global_dw.released"] = self.release()
                lat = {}
                for module, q in REPORTS:
                    try:
                        _, lat[q] = self.op(
                            f"operators.{module}.{q}",
                            lambda q=q: QUERIES[q]
                            .spark_fn(self.spark, self.in_dir)
                            .write.format("noop")
                            .mode("overwrite")
                            .save(),
                        )
                    finally:
                        p.named[f"caching.{q}.released"] = self.release()
                    p.op_s.append(lat[q])
                    p.named[f"operators.{module}.{q}.s"] = lat[q]
                p.named["mix_s"] = sum(lat.values())
                p.named["interactive_s"] = sum(lat[q] for q in INTERACTIVE)
        if check:
            self._check(tables, dw)
        return p

    def _global_dw(self, wd: str):
        tables = load(self.spark, self.in_dir, *self.tables)
        return build_global_dw(
            self.spark,
            f"{wd}/global_dw",
            orders=tables["orders"],
            events=tables["events"],
            customer=tables["customer"],
            part=tables["part"],
            dim_date=build_dim_date(self.spark, DIM_DATE_START, DIM_DATE_END),
        )

    def _check(self, t: dict, dw) -> None:
        cols = list(inputs.RAW_COLUMNS)
        silver = t["silver_orders"].read().select(*cols).toArrow()
        expected = self.raw["expected_silver"]
        keys = silver["o_orderkey"]
        self.check(
            pc.count_distinct(keys).as_py() == silver.num_rows,
            "silver is not unique on o_orderkey",
        )
        self.check(
            silver.num_rows == expected.num_rows,
            f"silver has {silver.num_rows} rows, expected the "
            f"{expected.num_rows} distinct keys of the three drops",
        )
        order = [("o_orderkey", "ascending")]
        got = silver.sort_by(order)
        want = expected.cast(got.schema).sort_by(order)
        self.check(
            got.num_rows != want.num_rows or got.equals(want),
            "silver differs from the latest version of each key",
        )
        fact_rows = t["fact_orders"].row_count()
        self.check(
            fact_rows == t["silver_orders"].row_count(),
            f"fact has {fact_rows} rows, silver {t['silver_orders'].row_count()}",
        )
        rollup = t["agg_daily"].read().agg(F.sum("record_count")).first()[0]
        self.check(
            rollup == fact_rows,
            f"rollup record_count sums to {rollup}, fact has {fact_rows} rows",
        )
        got = dw.catalog.collect()
        reason = matches(
            self.oracle,
            "global_dw_catalog",
            QUERIES["global_dw_catalog"].oracle,
            dw.catalog.columns,
            got,
        )
        self.check(reason is None, reason or "")


# --------------------------------------------------------------------------
# corpus_stream: a file-source stream drained through run_streaming
# --------------------------------------------------------------------------

# the first 800 of the 1,000 documents generated at gen-sf0.02, streamed
# as two files; the warm-up drains the same two files, so both batch
# shapes (first batch, batch against stored state) run before timing
CORPUS_SF = 0.02
CORPUS_DOCS = 800
CORPUS_FILES = 2


class _Progress(StreamingQueryListener):
    """Collects every micro-batch's progress; the benchmark's own listener."""

    def __init__(self):
        self.batches: list[tuple[float, float, int]] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = _epoch(p.timestamp)
        self.batches.append(
            (start, p.durationMs.get("triggerExecution", 0) / 1000.0, p.numInputRows)
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class CorpusStream(Workload):
    name = "corpus_stream"

    def set_up(self) -> None:
        self.stream_dir, files = inputs.write_doc_stream(
            self.b.seed,
            CORPUS_SF,
            CORPUS_DOCS,
            os.path.join(self.b.run_dir, "stream"),
            CORPUS_FILES,
        )
        self.oracle = Oracle(
            {"documents": os.path.join(self.stream_dir, "*.parquet")},
            self.b.oracle_dir,
            f"{self.name}-{self.b.seed}-{CORPUS_DOCS}-{CORPUS_FILES}",
        )
        self.schema = self.spark.read.parquet(files[0]).schema
        self.listener = _Progress()
        self.spark.streams.addListener(self.listener)

    def warm_up(self) -> None:
        self._drain(-1, check=False)

    def run_pass(self, i: int) -> Pass:
        return self._drain(i, check=True)

    def _drain(self, i: int, check: bool) -> Pass:
        """One drain of every stream file into fresh tables and checkpoint."""
        src = self.stream_dir
        wd = self.fresh_dir()
        stream = (
            self.spark.readStream.schema(self.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        self.listener.batches.clear()
        self.listener.terminated.clear()
        p = Pass()
        n_files = len(os.listdir(src))
        with self.pass_span(p, i):
            with self.b.spans.span("streaming.drain", kind="call") as drain:
                try:
                    all_runs, tables = run_streaming(
                        self.spark, f"{wd}/tables", stream, f"{wd}/checkpoint"
                    )
                except Exception as e:  # boundary: a failed micro-batch
                    self.b.attempted += 1
                    self.b.fail(f"drain raised {type(e).__name__}: {e}", traceback.format_exc())
                    raise OpFailed("streaming.drain") from e
        p.named["drain_s"] = drain.seconds
        if not self.listener.terminated.wait(30):
            self.b.fail("no termination event from the streaming listener")
        drain_idx = self.b.spans.index(drain)
        for start, dur, rows in self.listener.batches:
            self.b.spans.add("streaming.batch", start, start + dur, drain_idx, kind="batch", rows=rows)
            p.op_s.append(dur)
        self.b.attempted += len(all_runs)
        for runs in all_runs:
            for r in runs:
                self.check(r.status == "success", f"micro-batch stage {r.name}: {r.status}")
        self.check(
            len(self.listener.batches) == len(all_runs) == n_files,
            f"{len(all_runs)} micro-batches, {len(self.listener.batches)} progress "
            f"events, {n_files} files",
        )
        if p.op_s:
            p.named["batch_s_p50"] = statistics.median(p.op_s)
        stage_s: dict[str, list[float]] = {}
        for runs in all_runs:
            for r in runs:
                stage_s.setdefault(r.name, []).append(r.seconds)
        for stage, xs in stage_s.items():
            p.named[f"plans.corpus_medallion.{stage}.s_p50"] = statistics.median(xs)
        p.named["sources.sinks.corpus.files_per_batch"] = n_files / max(1, len(all_runs))
        if p.op_s:
            p.named["streaming.batch.s_first"] = p.op_s[0]
            p.named["streaming.batch.s_last"] = p.op_s[-1]
            # later batches against earlier ones: the cost of growing state
            k = max(1, len(p.op_s) // 2)
            p.named["streaming.batch.growth"] = statistics.median(
                p.op_s[-k:]
            ) / statistics.median(p.op_s[:k])
        if check:
            cat = tables["catalog"].read().select("stage", "n_docs", "n_tokens")
            reason = matches(
                self.oracle,
                "streaming_corpus_ingest",
                QUERIES["streaming_corpus_ingest"].oracle,
                cat.columns,
                cat.collect(),
            )
            self.check(reason is None, reason or "")
        return p


WORKLOADS = {w.name: w for w in (NightlyBatch, CorpusStream)}
