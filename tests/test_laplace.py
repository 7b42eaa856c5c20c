"""Golden-output tests for the Laplace solve as its callers run it
(`laplace_blocked.solve_blocked` at default sizing, as the CLI, the
registry and `tools/laplace_perf.py` call it) and for the shared
pieces in `laplace`.

Two oracles: the compiled reference binary's output (FIXTURES.md §2:
exact iteration counts, final diffs and %.10f grids), and
`c_reference`, a pure-Python transcription of the C loop that
reproduces those goldens exactly. test_laplace_blocked.py uses the
same oracles for forced block/chunk configurations.
"""

from __future__ import annotations

import pytest

from pwir_zadanie_4_mapreduce_spark import laplace
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

GOLDEN_N4 = """4.5600000000 4.5600000000 4.5600000000 4.5600000000
7.3200000000 6.5462491961 6.4362495359 6.8800000000
7.3200000000 7.8687495359 7.7587491961 6.8800000000
9.8500000000 9.8500000000 9.8500000000 9.8500000000
"""

GOLDEN_N8_ITERS = 47
GOLDEN_N8_DIFF = 0.0000030808
GOLDEN_N8 = """\
4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000 4.5600000000
7.3200000000 6.0508443009 5.6100965587 5.4539415829 5.4267729218 5.5180913101 5.8509568129 6.8800000000
7.3200000000 6.7132822042 6.3755998373 6.2189003545 6.1750581536 6.2346383153 6.4457356565 6.8800000000
7.3200000000 7.1066841651 6.9601252944 6.8710006903 6.8199273359 6.7996672154 6.8173503075 6.8800000000
7.3200000000 7.4333326651 7.4872153308 7.4850576486 7.4339818451 7.3267592158 7.1439977176 6.8800000000
7.3200000000 7.8194305242 8.0703520282 8.1480312891 8.1041910522 7.9293889311 7.5518848506 6.8800000000
7.3200000000 8.4540402131 8.8267300431 8.9325307405 8.9053609895 8.7347256685 8.2541522400 6.8800000000
9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000 9.8500000000
"""


def c_reference(n: int) -> tuple[list[list[float]], int, float]:
    """laplace-seq.c:184-209 transcribed: in-place red-black SOR over
    the getInitialValue grid (laplace-common-impl.h:11-33), sweeping
    until max |Δ| over a sweep <= epsilon. Returns (grid, #iters, diff)."""
    omega, epsilon = laplace.get_omega(n), laplace.get_epsilon(n)
    edge = {0: 4.56, n - 1: 9.85}
    g = [
        [edge.get(i, 7.32 if j == 0 else 6.88 if j == n - 1 else 0.0) for j in range(n)]
        for i in range(n)
    ]
    iters = 0
    while True:
        max_diff = 0.0
        for color in (0, 1):
            for i in range(1, n - 1):
                up, row, down = g[i - 1], g[i], g[i + 1]
                for j in range(1 + (i + color + 1) % 2, n - 1, 2):  # (i+j)%2 == color
                    tmp = (((up[j] + down[j]) + row[j - 1]) + row[j + 1]) / 4.0
                    old = row[j]
                    row[j] = (1.0 - omega) * old + omega * tmp
                    max_diff = max(max_diff, abs(old - row[j]))
        iters += 1
        if max_diff <= epsilon:
            return g, iters, max_diff


def _fmt(grid: list[list[float]]) -> str:
    return "".join(" ".join("%.10f" % v for v in row) + "\n" for row in grid)


def test_omega_epsilon_closed_forms():
    # laplace-common-impl.h:37-48 — golden values from BASELINE.md
    assert abs(laplace.get_epsilon(4) - 0.0000024142) < 1e-10
    assert abs(laplace.get_epsilon(8) - 0.0000036131) < 1e-10
    assert abs(laplace.get_epsilon(16) - 0.0000061258) < 1e-10


def test_c_reference_reproduces_fixtures():
    # FIXTURES.md §2: full grids for N=4/8, stats rows for N=16/32/64
    g, iters, diff = c_reference(4)
    assert (_fmt(g), iters, "%.10f" % diff) == (GOLDEN_N4, 15, "0.0000016081")
    g, iters, diff = c_reference(8)
    assert (_fmt(g), iters, "%.10f" % diff) == (GOLDEN_N8, GOLDEN_N8_ITERS, "0.0000030808")
    for n, want_iters, want_diff in [
        (16, 132, "0.0000056832"),
        (32, 368, "0.0000110032"),
        (64, 1045, "0.0000212198"),
    ]:
        _, iters, diff = c_reference(n)
        assert (iters, "%.10f" % diff) == (want_iters, want_diff), n


def test_n2_no_interior_cells(spark):
    # C loop body never executes for N=2: one sweep, diff 0
    r = solve_blocked(spark, 2)
    assert r.num_iterations == 1
    assert r.final_diff == 0.0


def test_n_below_2_rejected(spark):
    for n in (1, 0):
        with pytest.raises(ValueError):
            solve_blocked(spark, n)


def test_n4_exact_golden_grid(spark):
    r = solve_blocked(spark, 4)
    assert r.num_iterations == 15
    assert laplace.format_grid(r, 4) == GOLDEN_N4


def test_n8_iterations_and_grid(spark):
    r = solve_blocked(spark, 8)
    assert r.num_iterations == GOLDEN_N8_ITERS
    assert abs(r.final_diff - GOLDEN_N8_DIFF) < 1e-9
    assert laplace.format_grid(r, 8) == GOLDEN_N8


def test_solve_storage_stays_bounded(spark):
    """Each chunk's localCheckpoint must release the previous chunk's
    grid — a solve holds ONE live grid (like the reference's two
    malloc'd buffers), not one per chunk. N=32 at the default k=32 runs
    368 iterations = 12 chunks; without the release the persistent-RDD
    registry would gain ~12 entries."""
    before = laplace._persisted_rdd_ids(spark.sparkContext)
    r = solve_blocked(spark, 32)
    after = laplace._persisted_rdd_ids(spark.sparkContext)
    leaked = after - before
    # only the final grid's checkpoint survives (the caller's result)
    assert len(leaked) <= 2, f"chunk checkpoints leaked: {sorted(leaked)}"
    # release must not change results — FIXTURES.md §2 stats row
    assert r.num_iterations == 368
    assert abs(r.final_diff - 0.0000110032) < 1e-9
