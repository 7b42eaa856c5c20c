"""Workload definitions and the seed-driven query order.

A workload is either a query mix (registered queries from
``__spark_entry__.queries()``, run over the multi-file sf0.1 fixture)
or one Laplace solve to convergence. The seed only permutes the query
order of each pass; the program sees the same fixtures on every seed.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

# The catalog's table names; kept here so the benchmark's own tests and
# table derivation do not need the program importable.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class LaplaceCase:
    n: int
    num_blocks: int
    sweeps_per_job: int
    iterations: int
    final_diff: float
    # relative tolerance on final_diff: the N=256 value is the reference
    # binary's full-precision print, the N=8 one its %.10f print
    diff_rel_tol: float
    # md5 of the converged grid's float64 values in (i, j) order
    grid_md5: str


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...] = ()
    laplace: LaplaceCase | None = None
    # --seconds per pass: turns --seconds into a whole number of passes
    seconds_per_pass: float = 30.0

    @property
    def is_laplace(self) -> bool:
        return self.laplace is not None


LAPLACE_N256 = LaplaceCase(
    n=256,
    num_blocks=1,
    sweeps_per_job=256,
    iterations=7668,
    final_diff=8.24830425454337e-05,
    diff_rel_tol=1e-12,
    grid_md5="a278961d8a09b51a4d8f71ad3064bb5f",
)

# Tiny case for the smoke test (FIXTURES.md §2: N=8 converges in 47).
LAPLACE_N8 = LaplaceCase(
    n=8,
    num_blocks=1,
    sweeps_per_job=8,
    iterations=47,
    final_diff=3.0808e-06,
    diff_rel_tol=1e-4,
    grid_md5="f7e3965eab77d641ef04a5b27b912077",
)

# query_mix: single-pass headline queries (shuffle, window and
# Python/Arrow UDF work in the executed plan) and a loop operator whose
# construction runs eager jobs (graph loop over a cached edge table with
# a lineage cut per round).
HEADLINE_QUERIES = (
    "window_top3_orders_per_customer",
    "udf_arrow_batch_map",
    "multimodal_png_decode_stats",
)
LOOP_QUERIES = ("dedup_cluster_components",)

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="query_mix",
            queries=HEADLINE_QUERIES + LOOP_QUERIES,
            seconds_per_pass=5.0,
        ),
        Workload(name="laplace_n256", laplace=LAPLACE_N256),
    )
}

def passes_for(workload: Workload, seconds: float) -> int:
    """Whole passes for ``seconds``, at least one: the amount of work
    depends on the arguments only, never on how fast the machine is."""
    return max(1, int(seconds // workload.seconds_per_pass))


def pass_order(workload: Workload, seed: int, pass_index: int) -> list[str]:
    """The seed's permutation of the workload's queries for one pass."""
    order = list(workload.queries)
    random.Random(f"{workload.name}:{seed}:{pass_index}").shuffle(order)
    return order


def tables_read(query_names, oracles: dict[str, str]) -> list[str]:
    """Fixture tables the queries read, taken from the table names their
    DuckDB oracles reference."""
    found = set()
    for name in query_names:
        sql = oracles[name]
        found.update(t for t in TABLES if re.search(rf"\b{t}\b", sql))
    return [t for t in TABLES if t in found]
