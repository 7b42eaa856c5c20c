"""Output checks: each query's result against its DuckDB oracle, and the
Laplace solve against its pinned iteration count, final diff and grid
digest.

The canonical form is the one ``tests/test_oracle_parity.py`` uses:
rows sorted as strings, columns in name order, floats at 6 decimals,
NaN as NULL. The benchmark's tests pin that the two agree.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os

import numpy as np


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(rows, colnames) -> list[str]:
    order = sorted(range(len(colnames)), key=lambda k: colnames[k])
    return sorted("|".join(norm_cell(row[k]) for k in order) for row in rows)


def _as_row_value(v):
    """Arrow's Python value in the shape ``DataFrame.collect`` gives:
    structs become tuples (a ``Row`` is a tuple), recursively."""
    if isinstance(v, dict):
        return tuple(_as_row_value(x) for x in v.values())
    if isinstance(v, list):
        return [_as_row_value(x) for x in v]
    return v


def arrow_rows(table) -> list[list]:
    """Rows of an Arrow table as lists of collect-shaped values."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [[_as_row_value(v) for v in row] for row in zip(*cols)]


def digest(lines: list[str]) -> str:
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class Oracle:
    """DuckDB over the source fixture files, one view per table.

    Oracle answers depend only on the oracle SQL and the fixtures, so
    each is computed once per checkout and kept as (columns, row count,
    digest of the canonical rows) under ``cache_dir``."""

    def __init__(self, fixture_dir: str, tables, sql: dict[str, str], cache_dir: str):
        self.fixture_dir = fixture_dir
        self.tables = tables
        self.sql = sql
        self.cache_dir = cache_dir
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for name in self.tables:
                self._con.sql(
                    f"CREATE VIEW {name} AS SELECT * FROM '{self.fixture_dir}/{name}.parquet'"
                )
        return self._con

    def _run(self, name: str) -> tuple[list[str], list[str]]:
        rel = self._duck().sql(self.sql[name])
        rows = rel.fetchall()
        cols = [d[0] for d in rel.description]
        return cols, canon(rows, cols)

    def expected(self, name: str) -> dict:
        key = hashlib.md5(self.sql[name].encode()).hexdigest()[:12]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
        cols, lines = self._run(name)
        found = {"cols": sorted(cols), "rows": len(lines), "md5": digest(lines)}
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(found, fh)
        os.replace(path + ".tmp", path)
        return found

    def mismatch(self, name: str, table) -> str | None:
        """None when the Arrow ``table``'s rows equal the oracle's, else
        why not."""
        scols = table.column_names
        want = self.expected(name)
        if sorted(scols) != want["cols"]:
            return f"columns {sorted(scols)} != {want['cols']}"
        if table.num_rows != want["rows"]:
            return f"row count {table.num_rows} != {want['rows']}"
        s_canon = canon(arrow_rows(table), scols)
        if digest(s_canon) == want["md5"]:
            return None
        _, d_canon = self._run(name)
        bad = [(a, b) for a, b in zip(s_canon, d_canon) if a != b]
        return f"{len(bad)} differing rows, first {bad[:1]}"

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def grid_md5(grid_df) -> str:
    """md5 of the grid's float64 values in (i, j) order."""
    table = grid_df.toArrow()
    i = table.column("i").to_numpy()
    j = table.column("j").to_numpy()
    v = table.column("v").to_numpy().astype("<f8")
    order = np.lexsort((j, i))
    return hashlib.md5(v[order].tobytes()).hexdigest()


def laplace_mismatch(case, result, digest: str) -> str | None:
    """None when a solve matches the pinned case, else why not."""
    if result.num_iterations != case.iterations:
        return f"iterations {result.num_iterations} != {case.iterations}"
    if not math.isclose(result.final_diff, case.final_diff, rel_tol=case.diff_rel_tol, abs_tol=0.0):
        return f"final diff {result.final_diff!r} != {case.final_diff!r}"
    if case.grid_md5 and digest != case.grid_md5:
        return f"grid md5 {digest} != {case.grid_md5}"
    return None
