"""spark-graft benchmark: end-to-end and per-layer metrics for three
workloads on ``local[nproc]``, one closed-loop client per run.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. BENCHMARK.json at the root
lists the workloads and metrics; perfbench/DESIGN.md explains them.
"""
