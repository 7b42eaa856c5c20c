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

from pwir_zadanie_4_mapreduce_spark import laplace, laplace_blocked
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


def _solve_counting_jobs(spark, group, **kwargs):
    """Run ``solve_blocked(spark, **kwargs)`` under job group ``group``;
    return the result and the number of Spark jobs the solve ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        r = solve_blocked(spark, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return r, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_chunk_single_block(spark, monkeypatch):
    """Each chunk is one Spark job: the convergence maxima ride the
    chunk's own job (no separate reduce), and a one-block solve builds
    no exchange. N=16 converges at 132: k=4 runs 33 chunks, k=8 runs 17
    plus a redo; the set-up jobs are the same for both."""
    plans: list[str] = []
    real = laplace_blocked.checkpoint_tracked

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(laplace_blocked, "checkpoint_tracked", spy)
    r4, jobs4 = _solve_counting_jobs(spark, "laplace-k4", n=16, num_blocks=1, sweeps_per_job=4)
    r8, jobs8 = _solve_counting_jobs(spark, "laplace-k8", n=16, num_blocks=1, sweeps_per_job=8)
    assert r4.num_iterations == r8.num_iterations == 132
    assert jobs4 - jobs8 == 33 - 18
    chunk_plans = [p for p in plans if "MapInArrow" in p]
    assert len(chunk_plans) == 33 + 18
    assert not [p for p in chunk_plans if "Exchange" in p]
    # the same probe sees the halo exchange of a two-block solve
    plans.clear()
    solve_blocked(spark, 8, num_blocks=2, sweeps_per_job=8)
    chunk_plans = [p for p in plans if "MapInArrow" in p]
    assert chunk_plans and all("Exchange" in p for p in chunk_plans)


@pytest.mark.parametrize(
    "n,num_blocks,k",
    [(12, 1, 5), (12, 3, 5), (9, 2, 3)],
    ids=["n12_b1_k5", "n12_b3_k5", "n9_b2_k3"],
)
def test_reliable_checkpoint_bit_identical(spark, monkeypatch, n, num_blocks, k):
    """The maxima accumulator under reliable checkpoints, where each
    chunk's job is the checkpoint-file write: grid, iteration count and
    final diff stay exact."""
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    grid, iters, diff = c_reference(n)
    r = solve_blocked(spark, n, num_blocks=num_blocks, sweeps_per_job=k)
    assert (r.num_iterations, r.final_diff) == (iters, diff)
    got = [row["v"] for row in r.grid.orderBy("i", "j").collect()]
    assert got == [v for row in grid for v in row]


def test_maxima_merge_is_idempotent():
    """Spark may merge an accumulator update made in a transformation
    more than once when it computes a partition again; merging a
    block's maxima twice must leave the chunk's maxima unchanged."""
    param = laplace_blocked._elementwise_max()
    once = param.addInPlace(param.zero([0.0] * 3), [0.5, 0.25, 0.0])
    once = param.addInPlace(once, [0.125, 0.75, 0.0])
    assert once == [0.5, 0.75, 0.0]
    assert param.addInPlace(once, [0.125, 0.75, 0.0]) == once
