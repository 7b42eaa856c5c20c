"""Differential oracle tests: every SQL-expressible query vs DuckDB —
the same comparison the driver runs (row count + column names +
order-insensitive value hash), at sf0.001 for speed.

This file is the local pre-flight for CORRECTNESS_r{N}.json: if it is
green here, the driver's sf0.01 run should be green too (the queries
are scale-independent in semantics).
"""

from __future__ import annotations

import datetime
import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SMOKE_SF

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _norm_cell(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # collapse -0.0 and float noise already rounded upstream
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda k: colnames[k])
    return sorted(
        "|".join(_norm_cell(row[k]) for k in order) for row in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    # caching queries (pagerank et al.) must not leak InMemoryRelations
    # into the shared session across the ~260-query sweep
    spark.catalog.clearCache()
    sdf = QUERIES[name](spark, SMOKE_SF)
    srows = sdf.collect()
    scols = sdf.columns
    rel = duck.sql(ORACLES[name])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    s_canon = _canon([[r[c] for c in scols] for r in srows], scols)
    d_canon = _canon(drows, dcols)
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows, first: {mismatches[:3]}"


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must execute and be stable."""
    for name in sorted(set(QUERIES) - set(ORACLES)):
        if name.startswith("laplace"):
            continue  # covered by test_laplace_blocked.py
        spark.catalog.clearCache()
        df = QUERIES[name](spark, SMOKE_SF)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 10
