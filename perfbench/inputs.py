"""Seeded inputs for the benchmark workloads.

Every table comes from the ``gen_*`` functions of ``tools/gen_scale_data``
called with this module's own ``numpy`` generator, so the workload seed
decides the data; ``generate()`` in that tool pins its seed and is not
used.  The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from tools import gen_scale_data as gen

# Child-seed order is part of the input definition: appending a table at
# the end keeps every earlier table bit-identical for a given seed.
_TABLES = ("orders", "events", "customer", "part", "documents", "drops")

# Raw CSV columns of the orders chain (the ``orders_dag`` raw schema).
RAW_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
)


def _rngs(seed: int) -> dict[str, np.random.Generator]:
    children = np.random.SeedSequence(seed).spawn(len(_TABLES))
    return {
        name: np.random.default_rng(child)
        for name, child in zip(_TABLES, children)
    }


def _write(table: pa.Table, path: str, row_groups: int = 8) -> None:
    # several row groups so a scan splits into parallel tasks (a single
    # group scans as one task whatever the core count)
    pq.write_table(
        table, path, row_group_size=max(1024, -(-table.num_rows // row_groups))
    )


def write_tables(seed: int, sf: float, out_dir: str, names: tuple[str, ...]) -> None:
    """Write ``<out_dir>/<name>.parquet`` for each requested table."""
    os.makedirs(out_dir, exist_ok=True)
    rngs = _rngs(seed)
    for name in names:
        if name == "orders":
            table, _ = gen.gen_orders(sf, rngs[name])
        elif name == "events":
            table = gen.gen_events(sf, rngs[name])
        elif name == "customer":
            table = gen.gen_customer(sf, rngs[name])
        elif name == "part":
            table = gen.gen_static_dims(sf, rngs[name])["part"]
        elif name == "documents":
            table = gen.gen_documents(sf, rngs[name])
        else:
            raise ValueError(f"unknown table {name!r}")
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _raw(orders: pa.Table) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": orders["o_orderkey"],
            "o_custkey": orders["o_custkey"],
            "o_orderstatus": pc.cast(orders["o_orderstatus"], pa.string()),
            "o_totalprice": orders["o_totalprice"],
            "o_orderdate": pc.cast(orders["o_orderdate"], pa.date32()),
        }
    )


def _write_csv_drop(table: pa.Table, drop_dir: str, files: int) -> list[str]:
    os.makedirs(drop_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    paths = []
    for i in range(files):
        path = os.path.join(drop_dir, f"part-{i:05d}.csv")
        pacsv.write_csv(table.slice(i * step, step), path)
        paths.append(path)
    return paths


def write_order_drops(
    seed: int, orders_path: str, out_dir: str, files_per_drop: int = 2
) -> dict:
    """The nightly chain's raw deliveries, as CSV part files under
    ``<out_dir>/drop_{a,b,c}`` (the layout ``orders_dag`` lists):

    - ``drop_a`` / ``drop_b``: the backfill, split by even/odd order day,
      plus ~1% of odd-day rows delivered in both drops;
    - ``drop_c``: the increment, ~1% of the backfill's row count, dated
      after the backfill's watermark; about a tenth of it re-delivers
      existing keys with a new price and date.

    Returns the expected silver table (the latest version of every key),
    which the correctness checks use, and the increment's size.
    """
    rng = _rngs(seed)["drops"]
    raw = _raw(pq.read_table(orders_path))
    n = raw.num_rows
    day = pc.day(raw["o_orderdate"])
    odd = pc.equal(pc.bit_wise_and(day, 1), 1)
    odd_idx = np.flatnonzero(odd.to_numpy(zero_copy_only=False))
    dup = raw.take(
        np.sort(rng.choice(odd_idx, size=max(1, n // 100), replace=False))
    )
    drop_a = pa.concat_tables([raw.filter(pc.invert(odd)), dup])
    drop_b = pa.concat_tables([raw.filter(odd), dup])

    n_inc = max(10, n // 100)
    n_redeliver = max(1, n_inc // 10)
    watermark = pc.max(raw["o_orderdate"]).as_py()
    base_days = np.datetime64(watermark, "D").astype(np.int64)
    keys = np.concatenate(
        [
            np.sort(rng.choice(n, size=n_redeliver, replace=False)),
            np.arange(n, n + n_inc - n_redeliver),
        ]
    ).astype(np.int64)
    days = base_days + rng.integers(1, 31, size=n_inc)
    inc = pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, max(1, n // 10), size=n_inc),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_inc)]
            ),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_inc), 2),
            "o_orderdate": pa.array(days.astype("datetime64[D]"), pa.date32()),
        }
    )
    _write_csv_drop(drop_a, os.path.join(out_dir, "drop_a"), files_per_drop)
    _write_csv_drop(drop_b, os.path.join(out_dir, "drop_b"), files_per_drop)
    (inc_path,) = _write_csv_drop(inc, os.path.join(out_dir, "drop_c"), 1)
    # expected silver: every backfill key once, re-delivered keys replaced
    # by their increment version, new increment keys added
    replaced = np.zeros(n, dtype=bool)
    replaced[keys[:n_redeliver]] = True
    expected = pa.concat_tables([raw.filter(pa.array(~replaced)), inc])
    return {
        "expected_silver": expected,
        "increment_rows": n_inc,
        "increment_bytes": os.path.getsize(inc_path),
    }


def write_doc_stream(
    seed: int, sf: float, n_docs: int, out_dir: str, files: int
) -> tuple[str, list[str]]:
    """The first ``n_docs`` generated documents in doc_id order, split into
    ``files`` parquet files whose modification times increase with doc_id
    (the file source replays files oldest first).  Returns the directory
    and its files."""
    docs = gen.gen_documents(sf, _rngs(seed)["documents"])
    docs = docs.sort_by("doc_id").slice(0, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-docs.num_rows // files)
    paths = []
    t0 = 1_700_000_000
    for i in range(files):
        path = os.path.join(out_dir, f"docs-{i:05d}.parquet")
        pq.write_table(docs.slice(i * step, step), path)
        os.utime(path, (t0 + i, t0 + i))
        paths.append(path)
    return out_dir, paths
