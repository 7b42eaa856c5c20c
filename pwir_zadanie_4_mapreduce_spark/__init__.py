"""PySpark-native analytics engine with the capability surface of
``storaged/PWiR-zadanie-4-MapReduce`` (a red-black SOR Laplace solver,
see /root/reference/laplace-seq.c), generalized to a relational +
LLM-data-pipeline operator set per SURVEY.md §2.

Layout
------
- ``session``    SparkSession builder with scale-aware defaults
- ``catalog``    table loading for the driver-supplied parquet fixtures
- ``laplace_blocked``  the reference capability: iterative red-black SOR
                     (temporal-blocked solver ``solve_blocked``)
- ``laplace``    the solver's shared pieces: omega/epsilon, result, sinks
- ``operators``  relational / dedup / similarity / text / multimodal ops
- ``sources``    readers (parquet/csv/json/range/generated grid)
- ``functions``  reusable column expressions (cosine, tokenize, ...)
- ``plans``      plan-inspection helpers (pushdown/broadcast assertions)
- ``streaming``  structured-streaming variants of the event-time ops
"""

__version__ = "0.1.0"
