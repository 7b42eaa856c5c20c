"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one process per run, about a minute each)
and need the catalog's sf0.001 fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness, oracle, probes, workloads  # noqa: E402
from pwir_zadanie_4_mapreduce_spark.catalog import SMOKE_SF_DIR  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workload_queries_are_registered_with_oracles():
    import __spark_entry__

    queries = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    names = [q for w in workloads.WORKLOADS.values() for q in w.queries]
    assert names
    for name in names:
        assert name in queries, name
        assert name in oracles, name


def test_benchmark_json_lists_every_workload():
    listed = [w["name"] for w in _benchmark_json()["workloads"]]
    assert listed == list(workloads.WORKLOADS)


def test_seed_permutation_is_deterministic_and_covers_the_list():
    for wl in workloads.WORKLOADS.values():
        for seed in range(20):
            a = workloads.pass_order(wl, seed, 0)
            assert a == workloads.pass_order(wl, seed, 0)
            assert sorted(a) == sorted(wl.queries)
    wl = workloads.WORKLOADS["query_mix"]
    orders = {tuple(workloads.pass_order(wl, seed, 0)) for seed in range(20)}
    assert len(orders) > 10  # the seed really reorders


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.PER_LAYER


def test_canonical_form_matches_the_oracle_parity_test():
    parity = pytest.importorskip("tests.test_oracle_parity")
    import datetime

    rows = [
        [1.23456789, None, float("nan"), True, "x"],
        [-0.0, 7, 2.5, False, datetime.datetime(2020, 1, 2, 3, 4, 5)],
        [[1.0, None], (2, "a"), 0.1 + 0.2, None, "y"],
    ]
    cols = ["e", "b", "a", "d", "c"]
    assert oracle.canon(rows, cols) == parity._canon(rows, cols)


def test_arrow_rows_take_collect_shapes():
    pa = pytest.importorskip("pyarrow")
    table = pa.table(
        {
            "s": [{"a": 1, "b": "x"}],
            "l": [[{"a": 2, "b": "y"}]],
            "f": [0.5],
        }
    )
    assert oracle.arrow_rows(table) == [[(1, "x"), [(2, "y")], 0.5]]


def test_tail_rule():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 101)]
    value, pct = harness.tail(xs)
    assert pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_union_and_metric_parsing():
    assert probes.union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert probes.union_seconds([(0, 2)], 1, 10) == 1
    assert probes.parse_metric("2.2 s", "timing") == pytest.approx(2200.0)
    assert probes.parse_metric("477 ms", "timing") == 477.0
    assert probes.parse_metric("139.6 KiB", "size") == pytest.approx(139.6 * 1024)
    assert probes.parse_metric("7,135", "sum") == 7135.0
    assert probes.parse_metric("total (min, med, max)\n1.0 MiB (1 B, 2 B, 3 B)", "size") == 1 << 20


def test_tables_read_follow_the_oracles():
    sql = {"a": "SELECT * FROM orders JOIN lineitem ON 1=1", "b": "SELECT 1 FROM events"}
    assert workloads.tables_read(["a", "b"], sql) == ["orders", "lineitem", "events"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _smoke(workload: str, trace: int, *extra: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0, record["errors"]
    assert result["correct"] is True
    assert record["error_rate"] == 0
    bench = _benchmark_json()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    return record


@pytest.mark.skipif(not os.path.isdir(SMOKE_SF_DIR), reason="sf0.001 fixtures absent")
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_query_mix(trace):
    record = _smoke("query_mix", trace, "--fixtures", SMOKE_SF_DIR)
    assert record["nproc"] >= 1 and record["master"].startswith("local[")
    assert record["fixture_fingerprint"]
    if trace:
        assert record["metrics"]["operators.construct_jobs"]["value"] > 0
        assert record["metrics"]["plans.tasks"]["value"] > 0
        assert "trace_overhead" in record


def test_smoke_laplace_tiny_n():
    record = _smoke("laplace_n256", 1, "--laplace-n8")
    assert record["metrics"]["laplace.iterations"]["value"] == workloads.LAPLACE_N8.iterations
    assert record["grid_md5"] == workloads.LAPLACE_N8.grid_md5
