"""Golden-output tests for the Laplace solver's execution knobs
(`laplace_blocked.solve_blocked` with forced `num_blocks` and
`sweeps_per_job`).

Same oracles as test_laplace.py — the compiled reference binary's
output (FIXTURES.md §2) and `c_reference`, the pure-Python
transcription of the C loop, which the solver must match bit for bit
(grid, iteration count, final diff) at sizes and block/chunk
configurations the binary's fixtures do not cover.

The block/chunk knobs are deliberately exercised off the defaults
(forced multi-block, tiny chunks, mid-chunk convergence) because at
test N the sizing heuristic would otherwise collapse to one block.
"""

from __future__ import annotations

import pytest

from pwir_zadanie_4_mapreduce_spark import laplace
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

from tests.test_laplace import GOLDEN_N4, GOLDEN_N8, GOLDEN_N8_DIFF, GOLDEN_N8_ITERS, c_reference


def test_n_below_2_rejected(spark):
    # validated before any block sizing
    with pytest.raises(ValueError):
        solve_blocked(spark, 1, num_blocks=2, sweeps_per_job=4)


def test_n2_no_interior_cells(spark):
    # one row per block, one sweep per chunk: still one sweep, diff 0
    r = solve_blocked(spark, 2, num_blocks=2, sweeps_per_job=1)
    assert r.num_iterations == 1
    assert r.final_diff == 0.0


def test_n4_exact_golden_grid_multiblock(spark):
    # 2 blocks of 2 rows, chunks of 4 sweeps: convergence at iteration
    # 15 lands mid-chunk (15 = 3*4 + 3), covering the recompute path
    r = solve_blocked(spark, 4, num_blocks=2, sweeps_per_job=4)
    assert r.num_iterations == 15
    assert laplace.format_grid(r, 4) == GOLDEN_N4


def test_n4_exact_golden_grid_chunk_boundary(spark):
    # sweeps_per_job=5: 15 = 3*5 exactly — convergence on the last
    # sweep of a chunk (the no-recompute branch)
    r = solve_blocked(spark, 4, num_blocks=1, sweeps_per_job=5)
    assert r.num_iterations == 15
    assert laplace.format_grid(r, 4) == GOLDEN_N4


def test_n8_iterations_and_grid(spark):
    # 3 blocks → ragged last block (8 rows into blocks of 3+3+2),
    # halo (2k=8) wider than a block — the all-to-all degenerate case
    r = solve_blocked(spark, 8, num_blocks=3, sweeps_per_job=4)
    assert r.num_iterations == GOLDEN_N8_ITERS
    assert abs(r.final_diff - GOLDEN_N8_DIFF) < 1e-9
    assert laplace.format_grid(r, 8) == GOLDEN_N8


@pytest.mark.parametrize(
    "n,num_blocks,k",
    [(8, 2, 8), (9, 2, 3), (7, 3, 4), (11, 1, 32), (12, 4, 7)],
    ids=["n8_b2_k8", "n9_b2_k3", "n7_b3_k4", "n11_b1_k32", "n12_b4_k7"],
)
def test_bit_identical_to_c_reference(spark, n, num_blocks, k):
    """Exact float equality with the C transcription. Odd n runs the
    kernel's strided path (the dense-plane path needs even n); every
    case converges mid-chunk, so the redo path runs too."""
    grid, iters, diff = c_reference(n)
    r = solve_blocked(spark, n, num_blocks=num_blocks, sweeps_per_job=k)
    assert (r.num_iterations, r.final_diff) == (iters, diff)
    got = [row["v"] for row in r.grid.orderBy("i", "j").collect()]
    assert got == [v for row in grid for v in row]


def test_n16_stats_default_sizing(spark):
    # defaults (heuristic block count, k=32): 132 iterations, diff
    # 0.0000056832 — the FIXTURES.md §2 stats row
    r = solve_blocked(spark, 16)
    assert r.num_iterations == 132
    assert abs(r.final_diff - 0.0000056832) < 1e-9


def test_blocked_storage_stays_bounded(spark):
    """Round-4 advice: the chunk loop must release the previous
    chunk's localCheckpoint — small k at N=16 runs many chunks, each
    materializing a grid; only the final one may remain persisted."""
    before = laplace._persisted_rdd_ids(spark.sparkContext)
    r = solve_blocked(spark, 16, sweeps_per_job=8)
    after = laplace._persisted_rdd_ids(spark.sparkContext)
    leaked = after - before
    assert len(leaked) <= 2, f"chunk checkpoints leaked: {sorted(leaked)}"
    assert r.num_iterations == 132


def test_max_iterations_cap(spark):
    r = solve_blocked(spark, 16, sweeps_per_job=8, max_iterations=20)
    assert r.num_iterations == 20
    assert r.final_diff > r.epsilon


def test_chunking_invariance_bit_exact(spark):
    """The chunk size and block count are pure execution knobs: any
    (num_blocks, sweeps_per_job) combination must produce bit-identical
    grids and identical iteration counts — this sweeps the mid-chunk
    convergence recompute, the chunk-boundary branch, k=1 (degenerate
    one-sweep chunks), and halo-wider-than-block placements in one
    invariant."""
    n = 12
    base = solve_blocked(spark, n, num_blocks=1, sweeps_per_job=64)
    base_grid = laplace.format_grid(base, n)
    for nb, k in [(1, 1), (3, 5), (4, 7), (2, 64)]:
        r = solve_blocked(spark, n, num_blocks=nb, sweeps_per_job=k)
        assert r.num_iterations == base.num_iterations, (nb, k)
        assert laplace.format_grid(r, n) == base_grid, (nb, k)
