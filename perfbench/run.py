"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Prints the run's full record as one JSON line, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. Exits 2
without a result when the program is not present beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time


def main(argv=None) -> int:
    t_start = time.time()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from perfbench import harness, probes, workloads

    t_start -= probes.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--fixtures",
        help="source fixture directory, one parquet file per table "
        "(default: the catalog's sf0.1 directory)",
    )
    ap.add_argument(
        "--laplace-n8",
        action="store_true",
        help="solve the tiny N=8 case instead of N=256 (smoke test)",
    )
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("__spark_entry__.py", "pwir_zadanie_4_mapreduce_spark", "tools/make_fixtures.py")
        if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: program not found beside perfbench/: {missing}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    if args.laplace_n8 and wl.is_laplace:
        wl = dataclasses.replace(wl, laplace=workloads.LAPLACE_N8)
    opts = harness.Options(
        workload=wl,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        root=root,
        fixtures=args.fixtures,
    )
    result = harness.execute(opts, t_start)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
