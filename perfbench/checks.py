"""Answer checks: the program's outputs against DuckDB oracles.

Oracle answers depend only on the generated inputs, so they are cached
per input set (seed, scale, workload) under the benchmark's state
directory; the slow oracles run once per seed, not once per run.
"""

from __future__ import annotations

import json
import os

import duckdb

from tools.driver_sim import normalize


def _jsonable(rows: list[tuple]) -> list[list]:
    return [[v if isinstance(v, (int, float, str, bool, type(None))) else repr(v) for v in r] for r in rows]


class Oracle:
    """DuckDB over one directory of input tables, with an answer cache."""

    def __init__(self, tables: dict[str, str], cache_dir: str, key: str):
        self.tables = tables
        self.cache_path = os.path.join(cache_dir, f"{key}.json")
        os.makedirs(cache_dir, exist_ok=True)
        self._cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self._cache = json.load(f)

    def answer(self, name: str, sql: str) -> tuple[list[str], list[list]]:
        if name not in self._cache:
            con = duckdb.connect()
            try:
                con.execute("SET threads TO 2")
                for t, path in self.tables.items():
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = normalize(res.fetchall(), cols)
            finally:
                con.close()
            self._cache[name] = [cols, _jsonable(rows)]
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self.cache_path)
        cols, rows = self._cache[name]
        return cols, rows


def matches(oracle: Oracle, name: str, sql: str, cols: list[str], rows: list) -> str | None:
    """``None`` when the Spark answer equals the oracle's as a multiset
    of rows (the driver-sim normalisation), else a short reason."""
    ocols, orows = oracle.answer(name, sql)
    if sorted(cols) != sorted(ocols):
        return f"{name}: columns {sorted(cols)} != {sorted(ocols)}"
    got = _jsonable(normalize([tuple(r) for r in rows], list(cols)))
    if len(got) != len(orows):
        return f"{name}: {len(got)} rows != {len(orows)}"
    if got != orows:
        diff = [(a, b) for a, b in zip(got, orows) if a != b][:2]
        return f"{name}: values differ, e.g. {diff}"
    return None
