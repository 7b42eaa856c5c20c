"""Advanced relational surface: subqueries, as-of join, grouping sets,
exact percentiles, distribution windows, skew-salted join, generated
source, array unnest, row-wise UDF.

These extend SURVEY.md §2.2 beyond the first 53 queries. Same design
rules as operators/relational.py: declarative DataFrame plans so
Catalyst keeps pushdown/pruning/broadcast, every computed column
aliased identically to the DuckDB oracle, doubles rounded via dround.

Scale notes (100 TB) are on each operator; the salted-join and as-of
operators are the explicit "what breaks at 1000 executors" answers:
hot keys and point-in-time joins are the two classic large-pipeline
shuffle pathologies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark.catalog import load_table
from pwir_zadanie_4_mapreduce_spark.functions.rounding import dround
from pwir_zadanie_4_mapreduce_spark.laplace_blocked import cell_expr
from pwir_zadanie_4_mapreduce_spark.operators.registry import register
from pwir_zadanie_4_mapreduce_spark.functions.lineage import cut_lineage


def _r4(c: Column) -> Column:
    return dround(c, 4)


# ---------------------------------------------------------------------------
# generated source (reference O1 generalized: data-as-a-function)
# ---------------------------------------------------------------------------


@register(
    "source_range_generated",
    oracle="""
    SELECT i,
           ROUND(SUM(v), 4)  AS row_sum,
           COUNT(*)          AS n
    FROM (
      SELECT CAST(r.range // 16 AS INTEGER) AS i,
             CAST(r.range % 16 AS INTEGER) AS j,
             CAST(CASE WHEN r.range // 16 = 0 THEN 4.56
                       WHEN r.range // 16 = 15 THEN 9.85
                       WHEN r.range % 16 = 0 THEN 7.32
                       WHEN r.range % 16 = 15 THEN 6.88
                       ELSE 0.0 END AS DOUBLE) AS v
      FROM range(256) r
    )
    GROUP BY i ORDER BY i
    """,
)
def source_range_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated source: the reference's data-as-a-function input
    (getInitialValue, laplace-common-impl.h:11-33) as a spark.range
    pipeline — no file scan, rows materialize on executors.

    100 TB note: spark.range is the canonical embarrassingly-parallel
    source; numSlices controls parallelism with zero shuffle."""
    n = 16
    ij = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("i"),
        (F.col("id") % n).cast("int").alias("j"),
    )
    return (
        ij.withColumn("v", cell_expr(F.col("j"), n))
        .groupBy("i")
        .agg(_r4(F.sum("v")).alias("row_sum"), F.count("*").alias("n"))
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar_small_qty",
    oracle="""
    SELECT l.l_partkey AS l_partkey,
           ROUND(SUM(l.l_extendedprice), 4) AS small_qty_revenue
    FROM lineitem l
    JOIN (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.5 * a.avg_qty
    GROUP BY l.l_partkey
    ORDER BY small_qty_revenue DESC, l.l_partkey
    LIMIT 100
    """,
)
def subquery_scalar_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    half their part's average quantity.

    Spark plan: the per-part average is a separate agg joined back —
    the de-correlated form Catalyst itself rewrites scalar subqueries
    into. The agg output is small (one row per part) → broadcast.

    100 TB note: de-correlation turns O(rows²) correlated evaluation
    into one partial+final agg plus one broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(_r4(F.sum("l_extendedprice")).alias("small_qty_revenue"))
        .orderBy(F.desc("small_qty_revenue"), "l_partkey")
        .limit(100)
    )


@register(
    "subquery_exists_recent_buyers",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o.o_totalprice > 100000
    )
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def subquery_exists_recent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS as a left-semi join (the plan Catalyst
    produces for EXISTS): customers with a recent large order.

    100 TB note: semi-join shuffles only the distinct keys of the
    filtered orders side — never materializes the match rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_totalprice") > 100000)
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "subquery_in_top_nations",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_nationkey IN (
      SELECT n.n_nationkey FROM nation n JOIN region r
        ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('ASIA', 'EUROPE')
    )
    ORDER BY s.s_acctbal DESC, s.s_name
    LIMIT 50
    """,
)
def subquery_in_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as semi-join against a broadcast dim chain."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    keys = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey"
    )
    return (
        sup.join(F.broadcast(keys), sup.s_nationkey == keys.n_nationkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), "s_name")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# as-of join (point-in-time): the classic operator Spark lacks natively
# ---------------------------------------------------------------------------


@register(
    "join_asof_last_click_before_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS last_click_id,
           c.ts       AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    ORDER BY purchase_id
    """,
)
def join_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: for each purchase, the same user's
    latest click at-or-before it (LEFT: first-session purchases keep a
    NULL click). Composed from existing ops (SURVEY brief: composition
    first, Pandas UDF only if needed): union both sides tagged, one
    window sort per key carries the most recent click forward, then
    keep the purchase rows.

    (Round-5 realignment: through round 4 this op asof-joined orders
    — whose dates span 1995-2001 — against events timestamped 2024,
    so every probe row matched NULL and the oracle compare was
    vacuously green. Same plan, overlapping domains now; the NULL
    path is still exercised by purchases with no prior click.)

    100 TB note: this is ONE shuffle on (key, ts) — the naive
    range-join + groupBy-max double-shuffles and explodes matches
    (every earlier click per purchase) before collapsing them. The
    union-window form never materializes the cross product; skew on a
    hot user is bounded by that user's own rows.

    Ties: clicks at exactly the purchase timestamp count (<=),
    matching DuckDB ASOF with <=; within the union, side=0 (click)
    sorts before side=1 (purchase) at equal ts so last_value sees the
    tying click."""
    events = load_table(spark, sf_dir, "events")

    # r13 optimization round (guide §7.2): the tagged sides used to be
    # a unionByName of two separately-filtered events scans — the scan
    # + filter ran twice. One isin-filtered scan with conditional
    # columns emits the identical row set (each event is exactly one
    # type), halving the scan work; the In(event_type, ...) predicate
    # still pushes to the parquet scan.
    is_purchase = F.col("event_type") == "purchase"
    merged = events.filter(F.col("event_type").isin("purchase", "click")).select(
        F.col("user_id").alias("key"),
        "ts",
        F.when(is_purchase, 1).otherwise(0).alias("side"),
        F.when(is_purchase, F.col("event_id")).alias("purchase_id"),
        F.when(~is_purchase, F.col("event_id")).alias("click_id"),
    )
    w = (
        Window.partitionBy("key")
        # click_id as final tie-break keeps the pick deterministic if
        # a user ever has two clicks at the same timestamp (none in
        # the fixtures, but determinism must not be data-dependent)
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn("last_click_ts", F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w))
    return (
        merged.filter(F.col("side") == 1)
        .select("purchase_id", "last_click_id", "last_click_ts")
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# grouping sets / percentiles / distribution windows
# ---------------------------------------------------------------------------


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0 AS total,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-status,
    per-priority, and grand-total in one pass. Fixed-point cents sums
    on both engines — the grand-total cell reaches ~3.75e11 at sf1,
    where a double sum's fold order flips the 4th decimal (caught by
    the r10 sf1 sweep).

    100 TB note: one scan expands to the three groupings map-side
    (Expand operator) — 3× shuffle rows but 1× input read, always
    cheaper than three separate jobs over the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            # no final ROUND: raw int64/1e2 quotient (r10 sf10 catch —
            # 4-decimal ROUND of ~1e11+ totals is beyond double ULP)
            (F.sum(cents).cast("double") / 100.0).alias("total"),
            F.count("*").alias("n"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


@register(
    "agg_percentiles_price",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile`
    ≡ DuckDB `quantile_cont`).

    100 TB note: exact percentiles buffer each group's values — fine
    for bounded groups; the unbounded-cardinality path is
    approx_percentile (t-digest, fixed memory), declared rows-only."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            _r4(F.percentile("o_totalprice", F.lit(0.5))).alias("p50"),
            _r4(F.percentile("o_totalprice", F.lit(0.9))).alias("p90"),
            _r4(F.percentile("o_totalprice", F.lit(0.99))).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "window_distribution_ranks",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4)       OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST()    OVER w, 4) AS cume
    FROM orders
    WHERE o_totalprice > 400000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, quartile, o_orderkey
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist.

    Tie-broken by o_orderkey so ranks are deterministic cross-engine."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            _r4(F.percent_rank().over(w)).alias("pct_rank"),
            _r4(F.cume_dist().over(w)).alias("cume"),
        )
        .orderBy("o_orderpriority", "quartile", "o_orderkey")
    )


@register(
    "join_cross_region_pairs",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a CROSS JOIN region b
    WHERE a.r_name < b.r_name
    ORDER BY region_a, region_b
    """,
)
def join_cross_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (unordered region pairs). Safe ONLY because
    both sides are bounded dims — the one join type that must never
    touch a fact table at scale."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    a = r.select(F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_name").alias("region_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("region_a") < F.col("region_b"))
        .orderBy("region_a", "region_b")
    )


@register(
    "sql_api_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY revenue DESC, n_name
    """,
)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (SURVEY.md §7.6: no parser of our
    own — spark.sql over registered views IS the SQL API). Identical
    text runs on both engines; Catalyst still broadcasts the dims.

    Revenue is the fixed-point cents sum (int64, order-independent):
    the plain double SUM flipped in the 4th decimal at sf1 (~1.2e10
    totals, NATION_0/NATION_8 — the r10 sf1 sweep's flake class),
    exactly like join_salted_order_revenue before its r9 fix."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c, n) */ n.n_name AS n_name,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                   * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 10000.0 AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY revenue DESC, n_name
        """
    )  # no final ROUND: the raw int64/1e4 quotient is scale-independent
    # (4-decimal ROUND of totals whose x*1e4 nears 2^53 diverges between
    # engines — the r10 sf10 class; migrated here r11 per ADVICE)


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.45), 4) AS p45_exact,
           ROUND(quantile_cont(o_totalprice, 0.55), 4) AS p55_exact,
           approx_quantile(o_totalprice, 0.5)
             BETWEEN quantile_cont(o_totalprice, 0.45)
                 AND quantile_cont(o_totalprice, 0.55) AS approx_in_bracket
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the fixed-memory percentile for unbounded
    group cardinality (the exact form buffers per-group values;
    agg_percentiles_price is the oracle-checked exact counterpart).

    The approximate value itself is engine-specific (Spark's GK sketch
    has no DuckDB twin), so the oracle checks a BRACKET instead: with
    accuracy 1000 the rank error is ≤ 0.1 % of n, so the approximate
    median must land inside the exact [p45, p55] — emitted as a
    boolean the oracle expects to be TRUE, alongside the exact bracket
    endpoints which DO hash-compare cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    p45 = F.percentile("o_totalprice", F.lit(0.45))
    p55 = F.percentile("o_totalprice", F.lit(0.55))
    approx = F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(1000))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            _r4(p45).alias("p45_exact"),
            _r4(p55).alias("p55_exact"),
            ((approx >= p45) & (approx <= p55)).alias("approx_in_bracket"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "window_range_frame_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 4)
             AS spend_30d
    FROM orders WHERE o_custkey <= 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time (30-day trailing spend) — value-
    based frames complement the ROWS frames elsewhere; peers at equal
    order dates aggregate together, which ROWS cannot express."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice,
               SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                 AS raw_spend
        FROM orders WHERE o_custkey <= 100
        ORDER BY o_custkey, o_orderkey
        """
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        dround(F.col("raw_spend"), 4).alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# skew-salted join (the 100 TB hot-key answer, verified vs the plain join)
# ---------------------------------------------------------------------------

_SALT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_expr: Column,
    n_salt: int,
    how: str = "inner",
) -> DataFrame:
    """Generic skew-salted equi join: the fact side gets a ROW-LEVEL
    deterministic salt (``salt_expr`` must vary per row, e.g. a hash
    of a row-unique column set — a per-KEY salt would send every row
    of a hot key to the same reducer and mitigate nothing); the dim
    side replicates each row n_salt×. Result ≡ the plain join; a hot
    key's rows now spread over up to n_salt reducers.

    100 TB note: the manual form of AQE skew-join splitting, kept
    explicit so the technique is testable and its cost visible (dim
    inflates n_salt× — in production salt only keys above a frequency
    threshold)."""
    sf = fact.withColumn("__salt", F.pmod(salt_expr, F.lit(n_salt)).cast("int"))
    sd = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s).cast("int") for s in range(n_salt)]))
    )
    cond = (sf[fact_key] == sd[dim_key]) & (sf["__salt"] == sd["__salt"])
    return sf.join(sd, cond, how).drop(sf["__salt"]).drop(sd["__salt"])


@register(
    "join_salted_order_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_salted_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join (see salted_join), result identical to
    the plain join. The row-level salt hashes (l_orderkey,
    l_linenumber) — unique per lineitem row — so a hot orderkey's
    rows land on distinct reducers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        F.xxhash64("l_orderkey", "l_linenumber"),
        _SALT,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            # fixed-point revenue (round-9): FLOOR(x*1e4+0.5) of the
            # identical per-row double is the same int64 in every
            # engine, and integer sums are order-independent — the
            # double-sum spelling flipped the 4th decimal at sf0.1
            # (~6e9 totals, ~1.2e5 addends) purely on summation order.
            # NO final ROUND (r10 sf10 catch): these 5 priority groups
            # reach ~6e11 at sf10, where a double's ULP (~1.3e-4) is
            # coarser than the 1e-4 grid — x*1e4 sits near 2^53 and
            # the engines' 4-decimal rounds diverge. The raw quotient
            # int64/1e4 is bit-identical in both engines at ANY scale.
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + F.lit(0.5)
                    )
                )
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


_BLOOM_PRICE_MIN = 480000.0  # ~top 2-3% of orders — the selective side


@register(
    "join_runtime_bloom_revenue",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > {_BLOOM_PRICE_MIN}
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_runtime_bloom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join — the shape where RUNTIME FILTERING is
    the 100 TB scan-reduction lever: ~2-3% of orders qualify
    (o_totalprice > p97), so ~97% of the lineitem shuffle is wasted
    unless the join key set flows back to the fact scan. Spark's
    InjectRuntimeFilter does exactly that for shuffle joins: a
    bloom_filter_agg over the filtered creation side is planted as a
    might_contain predicate on the application side, discarding
    non-qualifying fact rows AT THE SCAN, before the exchange —
    the engine-side equivalent of the semi-join pushdown warehouses
    hand-roll.

    The op itself is the natural declarative plan (no hints): at toy
    SF Catalyst broadcasts the filtered orders (broadcast already
    prunes via the hash relation — bloom would be redundant and Spark
    correctly skips it); in the shuffle-join regime a 100 TB run
    lands in, the runtime filter engages.
    test_runtime_bloom_filter_injected pins that regime explicitly:
    autoBroadcastJoinThreshold=-1 + bloom thresholds opened ⇒ the
    optimized plan carries bloom_filter_agg + might_contain on the
    lineitem side. Revenue uses the fixed-point money convention
    (integer tenth-of-cent sums, one final division)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _BLOOM_PRICE_MIN)
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + F.lit(0.5)
                    )
                )
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


_SKEW_HOT_THRESHOLD = 7  # fact rows per key ⇒ "hot" (fixture: top ~1/7 of orders)


@register(
    "join_skew_aqe_order_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_skew_aqe_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION skew-join spelling (round-5 verdict #2): salt ONLY
    keys above a frequency threshold, not every key. The manual demo
    (join_salted_order_revenue) replicates the ENTIRE dim side
    n_salt× — slope 0.91 at sf1 because the replication grows with
    the dim. Here:

      1. hot-key detection: one narrow groupBy-count on the fact key
         (map-side combinable; at 100 TB run it on a 1% sample with a
         scaled threshold — detection only needs the heavy hitters,
         and a missed borderline key just joins unsalted, still
         correct);
      2. the hot-key set is broadcast (true skew means FEW hot keys —
         that is what makes them hot);
      3. fact rows with hot keys get a row-level salt in [0, n); cold
         rows salt 0;
      4. dim rows replicate n× ONLY for hot keys; cold dim rows ship
         once with salt 0.

    Result ≡ the plain join (every (key, salt) pair on the fact side
    meets exactly one dim row). Dim inflation is O(n·|hot|), not
    O(n·|dim|). This is the hand-rolled form of what AQE's
    skewJoin.enabled does at runtime (split oversized shuffle
    partitions); spelled out so the technique is plan-testable and
    works for the patterns AQE skew handling does not cover
    (aggregations, outer-join sides)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # localCheckpoint: the tiny hot frame feeds BOTH the fact-side and
    # dim-side broadcasts — unmaterialized, the lineitem groupBy-count
    # scan would execute twice absent exchange reuse (round-6 advice)
    hot = (
        li.groupBy("l_orderkey")
        .count()
        .filter(F.col("count") >= _SKEW_HOT_THRESHOLD)
        .select(F.col("l_orderkey").alias("hot_key"))
        .transform(cut_lineage)
    )
    sf = (
        li.join(F.broadcast(hot), li["l_orderkey"] == hot["hot_key"], "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("hot_key").isNotNull(),
                F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("hot_key")
    )
    sd = (
        orders.join(F.broadcast(hot), orders["o_orderkey"] == hot["hot_key"], "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("hot_key").isNotNull(),
                    F.sequence(F.lit(0), F.lit(_SALT - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("hot_key")
    )
    joined = sf.join(
        sd,
        (sf["l_orderkey"] == sd["o_orderkey"]) & (sf["__salt"] == sd["__salt"]),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            # fixed-point revenue (round-9): FLOOR(x*1e4+0.5) of the
            # identical per-row double is the same int64 in every
            # engine, and integer sums are order-independent — the
            # double-sum spelling flipped the 4th decimal at sf0.1
            # (~6e9 totals, ~1.2e5 addends) purely on summation order.
            # NO final ROUND (r10 sf10 catch): these 5 priority groups
            # reach ~6e11 at sf10, where a double's ULP (~1.3e-4) is
            # coarser than the 1e-4 grid — x*1e4 sits near 2^53 and
            # the engines' 4-decimal rounds diverge. The raw quotient
            # int64/1e4 is bit-identical in both engines at ANY scale.
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + F.lit(0.5)
                    )
                )
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "window_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an unbounded frame
    (each customer's first, latest, and second order price on every
    row). The frame must be explicit: the default frame stops at
    CURRENT ROW, where last_value degenerates to the row itself."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "agg_corr_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4)                 AS sd_qty,
           ROUND(stddev_samp(l_extendedprice), 4)            AS sd_price,
           ROUND(var_samp(l_discount), 4)                    AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_discount), 4)      AS covar_qty_disc
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates: stddev/variance/correlation/covariance
    — single-pass partial+final (Welford-style merge), no extra scan
    per statistic.

    Magnitude discipline (r11 sf10 catch): each reported moment must
    be O(1e4) or smaller, because the engines' co-moment MERGE ORDERS
    differ and the accumulated relative error ~sqrt(n)*eps (~9e-13 at
    sf10's 6e7 rows) flips the 4th decimal of any ~1e8+ value. The
    raw variance of l_extendedprice (~9.0e8) did exactly that in the
    r11 sf10 sweep, so the op reports its STDDEV (~3e4, where the
    shared .4f grid sits at ~1e-9 relative — deterministic to sf1000)
    and keeps raw variance on the O(1e-3) discount column. corr is
    normalized O(1) by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
            _r4(F.stddev_samp("l_extendedprice")).alias("sd_price"),
            _r4(F.var_samp("l_discount")).alias("var_disc"),
            _r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
            _r4(F.covar_samp("l_quantity", "l_discount")).alias("covar_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scalar_datetime_extras",
    oracle="""
    SELECT o_orderkey,
           CAST(dayofweek(o_orderdate) AS INTEGER)  AS dow,
           CAST(quarter(o_orderdate) AS INTEGER)    AS qtr,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
           o_orderdate + INTERVAL 90 DAY            AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS INTEGER)                         AS days_since_epoch_start
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def scalar_datetime_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function family beyond year/month/trunc: day-of-week,
    quarter, ISO week, interval arithmetic, day difference.

    DuckDB's dayofweek is 0=Sunday..6 while Spark's is 1=Sunday..7,
    so Spark subtracts 1 to the shared convention."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("woy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).alias("days_since_epoch_start"),
    ).orderBy("o_orderkey")


@register(
    "unpivot_order_metrics",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0 AS total_price,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
             ROUND(MAX(o_totalprice), 4) AS max_price
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (total_price, avg_price, max_price))
    ORDER BY o_orderpriority, metric
    """,
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): per-priority price metrics melted to
    (priority, metric, value) rows — the inverse of pivot_event_counts.
    Expand-based: no shuffle beyond the upstream aggregation. Sums in
    fixed-point cents on both engines (per-priority ~7.5e10 at sf1 —
    the double-sum fold-order flake class, caught by the r10 sf1
    sweep)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    wide = orders.groupBy("o_orderpriority").agg(
        # no final ROUND on the fixed-point quotients (r10 sf10 class):
        # int64 cast → /100.0 → /count is IEEE-deterministic, identical
        # in both engines at any scale; only the max (a single bounded
        # value) keeps its 4-decimal round.
        (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        (F.sum(cents).cast("double") / 100.0 / F.count("*")).alias("avg_price"),
        _r4(F.max("o_totalprice")).alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["total_price", "avg_price", "max_price"],
        "metric",
        "value",
    ).orderBy("o_orderpriority", "metric")


@register(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS bucket
               FROM orders WHERE o_orderkey < 200),
         b AS (SELECT NULLIF(n_nationkey % 7, 0) AS bucket,
                      COUNT(*) AS n_nations
               FROM nation GROUP BY 1)
    SELECT a.o_orderkey, a.bucket, b.n_nations
    FROM a JOIN b ON a.bucket IS NOT DISTINCT FROM b.bucket
    ORDER BY a.o_orderkey
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    buckets match each other, unlike plain = which drops them — the
    semantics gap that silently loses rows in key-nullable joins."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    a = orders.select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("bucket")
    )
    nation = load_table(spark, sf_dir, "nation")
    b = (
        nation.select(F.nullif(F.col("n_nationkey") % 7, F.lit(0)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_nations"))
    )
    return (
        a.join(F.broadcast(b), a.bucket.eqNullSafe(b.bucket))
        .select("o_orderkey", a.bucket.alias("bucket"), "n_nations")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q18-style group-by-having join; union distinct; unnest; row-wise UDF
# ---------------------------------------------------------------------------


@register(
    "having_large_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           ROUND(SUM(l.l_quantity), 4) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    HAVING SUM(l.l_quantity) > 150
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by + HAVING over a join (TPC-H Q18 shape): orders whose
    line quantities sum past a threshold.

    100 TB note: the quantity agg runs on lineitem alone FIRST
    (partial agg before the join), then joins orders — aggregating
    pre-join keeps the shuffle at one row per orderkey."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .select("o_orderkey", "o_totalprice", _r4(F.col("raw_qty")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan → conjunctive filter → global agg.

    The whole predicate pushes to the parquet scan (all four columns
    have min/max stats) — the canonical pushdown showcase."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _r4(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           ANY_VALUE(n.n_name) AS n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-fact join + two broadcast dims + top-k.

    Join order: filter both fact sides FIRST (returnflag on lineitem,
    date range on orders), join on orderkey, then broadcast customer
    and nation. TakeOrderedAndProject caps the sort at k=20."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.any_value("n_name").alias("n_name"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join
    (promo revenue share of a quarter)."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            _r4(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_pct")
        )
    )


@register(
    "setop_union_distinct_keys",
    oracle="""
    SELECT k FROM (
      SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000
      UNION
      SELECT user_id AS k FROM events WHERE event_type = 'purchase'
    ) ORDER BY k
    """,
)
def setop_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) across heterogeneous sources."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("k"))
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("k"))
    )
    return orders.unionByName(ev).distinct().orderBy("k")


@register(
    "array_posexplode_embeddings",
    oracle="""
    SELECT e.vec_id AS vec_id,
           CAST(t.range AS INTEGER) AS dim,
           ROUND(CAST(e.embedding[CAST(t.range + 1 AS INTEGER)] AS DOUBLE), 4) AS val
    FROM embeddings e CROSS JOIN range(4) t
    WHERE e.vec_id < 20
    ORDER BY vec_id, dim
    """,
)
def array_posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UNNEST WITH ORDINALITY): first 4 dims of each of
    the first 20 vectors, long form.

    100 TB note: explode multiplies row count by array length — slice
    BEFORE exploding so only the needed prefix is generated."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return (
        emb.select("vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("dim", "raw_val"))
        .select("vec_id", "dim", _r4(F.col("raw_val").cast("double")).alias("val"))
        .orderBy("vec_id", "dim")
    )


@register(
    "scalar_regexp_extract",
    oracle="""
    SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) AS src_num,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(regexp_extract(props_k, '(\\d+)', 1) AS DOUBLE)), 4) AS avg_k
    FROM (
      SELECT d.source, e.props AS props_k
      FROM documents d JOIN events e ON d.doc_id % 100 = e.user_id % 100
      WHERE e.event_id < 1000
    )
    GROUP BY src_num ORDER BY src_num
    """,
)
def scalar_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract over two columns (capture-group semantics shared
    with DuckDB), on a deliberately key-mangled join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000).select(
        "user_id", "props"
    )
    joined = docs.join(ev, docs.doc_id % 100 == ev.user_id % 100)
    return (
        joined.select(
            F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("src_num"),
            F.regexp_extract("props", r"(\d+)", 1).cast("double").alias("k_val"),
        )
        .groupBy("src_num")
        .agg(F.count("*").alias("n_docs"), _r4(F.avg("k_val")).alias("avg_k"))
        .orderBy("src_num")
    )


@register(
    "agg_collect_sorted_list",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS top_keys
    FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 5
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list into a deterministic (sorted) array per group —
    collect_list order is partition-dependent, so sort_array makes the
    result reproducible cross-run and cross-engine. The array is
    emitted as a comma-joined string: cross-engine comparison tooling
    (pandas-based canonicalizers) cannot sort/hash ndarray cells."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    top = orders.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    return (
        top.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"), ","
            ).alias("top_keys")
        )
        .orderBy("o_orderpriority")
    )


@register(
    "scalar_from_json_struct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-ful JSON parsing: from_json into a typed struct, then
    aggregate the field (the production spelling when the schema is
    known — one parse, typed columns; get_json_object re-parses per
    path and returns strings). 100 TB: parse once in the scan
    projection, never per-expression."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    parsed = ev.select(
        "event_type", F.from_json("props", "k int").alias("p")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _r4(F.avg(F.col("p.k").cast("double"))).alias("avg_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "scalar_map_functions",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    WHERE user_id < 50
    GROUP BY user_id ORDER BY user_id
    """,
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed expression surface: per-user event counts assembled
    into a map<string,bigint> (map_from_entries over the grouped
    counts), then read back out with element_at. The map is an
    intermediate — the output is scalar so the cross-engine hash is
    type-stable (map iteration order differs between engines)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("counts")
    )
    return mapped.select(
        "user_id",
        F.coalesce(F.element_at("counts", "purchase"), F.lit(0)).alias("n_purchase"),
        F.coalesce(F.element_at("counts", "click"), F.lit(0)).alias("n_click"),
        F.size("counts").alias("n_types"),
    ).orderBy("user_id")


@register(
    "udf_python_rowwise_priority",
    oracle="""
    SELECT
      CASE WHEN CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) <= 2
           THEN 'expedite' ELSE 'routine' END AS bucket,
      COUNT(*) AS n
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def udf_python_rowwise_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — declared as the SLOW path on
    purpose (SURVEY §2.2 'UDF surface'): same logic is expressible
    with built-ins; the UDF exists to exercise serialization plumbing.

    100 TB note: per-row Python costs ~10-100× the built-in form —
    the production spelling is the CASE expression in the oracle."""

    @F.udf("string")
    def bucket_priority(p: str) -> str:
        return "expedite" if int(p.split("-")[0]) <= 2 else "routine"

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(bucket_priority("o_orderpriority").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff + fixed-width histogram
# ---------------------------------------------------------------------------


def snapshot_diff(old: DataFrame, new: DataFrame, key: str, cmp_cols: list) -> DataFrame:
    """Generic CDC between two snapshots of a keyed table: full outer
    join on the key, change_type ∈ added/removed/changed (unchanged
    rows are dropped). Column comparison is null-safe (<=>).

    100 TB note: this is the incremental-ingestion primitive. The
    full outer join shuffles both snapshots on the key once; if the
    snapshots are stored bucketed by the key (the natural layout for
    repeated diffs) the exchange disappears entirely.
    """
    o = old.select(F.col(key).alias("k"), *[F.col(c).alias(f"o_{c}") for c in cmp_cols])
    n = new.select(F.col(key).alias("k"), *[F.col(c).alias(f"n_{c}") for c in cmp_cols])
    # presence flags survive the outer join even when all payload
    # columns are legitimately NULL
    o = o.withColumn("o_present", F.lit(True))
    n = n.withColumn("n_present", F.lit(True))
    j = o.join(n, "k", "full_outer")
    differs = F.lit(False)
    for c in cmp_cols:
        differs = differs | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    change = (
        F.when(F.col("o_present").isNull(), F.lit("added"))
        .when(F.col("n_present").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(F.col("k").alias(key), "change_type")
    )


@register(
    "cdc_orders_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 3),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 17 = 2
                    THEN ROUND(o_totalprice * 1.1, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 5)
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                  OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
                THEN 'changed' END AS change_type
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE CASE WHEN old.o_orderkey IS NULL THEN 'added'
               WHEN new.o_orderkey IS NULL THEN 'removed'
               WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                 OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
               THEN 'changed' END IS NOT NULL
    ORDER BY o_orderkey
    """,
)
def cdc_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff exercised on two synthetic snapshots of orders
    (key-modulus membership + a price bump simulate delete/insert/
    update): emits exactly the added/removed/changed keys. The
    modulus construction keeps the fixture deterministic and lets the
    oracle mirror the snapshots symbolically."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 11 != 3)
    new = orders.filter(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 17 == 2, dround(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"]).orderBy(
        "o_orderkey"
    )


@register(
    "agg_histogram_price",
    oracle="""
    SELECT LEAST(CAST(floor(o_totalprice / 25000) AS INTEGER), 19) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY bucket ORDER BY bucket
    """,
)
def agg_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20 × 25k buckets, open-ended top) of
    order totals — one projection + one aggregation, the shape every
    data-quality dashboard runs. Map-side partial aggregation means
    the shuffle carries ≤ 20 rows per task at any corpus size."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000).cast("int"), F.lit(19))
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            dround(F.min("o_totalprice"), 2).alias("lo"),
            dround(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# further TPC-H shapes (Q4 / Q12 / Q19) + edit-distance text op
# ---------------------------------------------------------------------------


@register(
    "q4_priority_late_ship",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated semi join + priority count
    (adapted to the fixture's columns: 'some line shipped after the
    order date' replaces commit/receipt lateness).

    leftsemi join keeps orders single-copy regardless of how many
    lineitems match — the semi join is THE scale answer to the
    EXISTS subquery (no fan-out, no distinct needed)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_priority_by_flag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN CAST(SUBSTR(o.o_orderpriority, 1, 1) AS INTEGER) <= 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN CAST(SUBSTR(o.o_orderpriority, 1, 1) AS INTEGER) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional-count pivot by
    priority class (returnflag substitutes the fixture-absent
    shipmode). Both CASE counts ride one aggregation — one shuffle,
    two output measures."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    pr = F.substring("o_orderpriority", 1, 1).cast("int")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(pr <= 2, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(pr > 2, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjuncts over join output.

    The optimizer lesson: per-side implied predicates (brand IN (...),
    size <= 35, quantity <= 40) are derivable from the disjunction and
    push to the scans even though the full predicate needs both
    tables; part stays broadcast-size after its pushdown. Catalyst
    does this constraint propagation automatically when the
    disjunction is written as one boolean expression."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            # fixed-point 1e-4-grid sum, no final ROUND (r11 sf10
            # catch: the ~4e10 double revenue sum flipped the 3rd
            # decimal on fold order alone)
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + F.lit(0.5)
                    )
                )
                .cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "text_levenshtein_nearest",
    oracle="""
    WITH p AS (
        SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents),
    q AS (SELECT * FROM p WHERE doc_id < 20)
    SELECT q.doc_id,
           MIN(levenshtein(q.prefix, p.prefix)) AS min_dist
    FROM q JOIN p ON p.doc_id <> q.doc_id
    GROUP BY q.doc_id ORDER BY q.doc_id
    """,
)
def text_levenshtein_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance nearest neighbor (prefix-bounded): for each probe
    doc (id < 20), the minimum Levenshtein distance from its 40-char
    prefix to any other document's prefix — the character-level
    near-dup check that complements token Jaccard (catches
    whitespace/punctuation edits Jaccard over-penalizes).

    Bounding to a fixed prefix caps the O(len²) DP per pair; probes
    broadcast, so the corpus is scanned once. At 100 TB the probe set
    is a sample and the full-text confirmation runs only on low
    prefix distances."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("prefix")
    )
    probes = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("q_id"), F.col("prefix").alias("q_prefix")
    )
    return (
        docs.crossJoin(F.broadcast(probes))
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(F.min(F.levenshtein("q_prefix", "prefix")).alias("min_dist"))
        .select(F.col("q_id").alias("doc_id"), "min_dist")
        .orderBy("doc_id")
    )


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH q AS (
        SELECT quantile_cont(o_totalprice, 0.05) AS lo,
               quantile_cont(o_totalprice, 0.95) AS hi
        FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o_totalprice), 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(o_totalprice, q.lo), q.hi)), 4) AS winsorized_mean,
           CAST(SUM(CASE WHEN o_totalprice < q.lo OR o_totalprice > q.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders, q
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-clamped) mean — the robust-statistics staple of
    data-quality monitoring: outliers are clamped to the 5th/95th
    percentile before averaging. Two passes by necessity (quantiles,
    then clamp-agg); the quantile result is a single broadcast row.
    At 100 TB swap F.percentile for approx_percentile and the second
    pass is unchanged."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    q = orders.agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    out_of_range = (F.col("o_totalprice") < F.col("lo")) | (F.col("o_totalprice") > F.col("hi"))
    return orders.crossJoin(F.broadcast(q)).agg(
        F.count("*").alias("n"),
        _r4(F.avg("o_totalprice")).alias("raw_mean"),
        _r4(F.avg(clamped)).alias("winsorized_mean"),
        F.sum(out_of_range.cast("int")).alias("n_clamped"),
    )


@register(
    "quality_null_audit",
    oracle="""
    WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
                      CAST(COUNT(o_orderkey) AS BIGINT) AS c1,
                      CAST(COUNT(o_custkey) AS BIGINT) AS c2,
                      CAST(COUNT(o_orderstatus) AS BIGINT) AS c3,
                      CAST(COUNT(o_totalprice) AS BIGINT) AS c4,
                      CAST(COUNT(o_orderdate) AS BIGINT) AS c5,
                      CAST(COUNT(o_orderpriority) AS BIGINT) AS c6
               FROM orders)
    SELECT col AS column_name, total - c AS n_null,
           ROUND((total - c)::DOUBLE / total, 6) AS null_frac
    FROM t UNPIVOT (c FOR col IN (c1 AS 'o_orderkey', c2 AS 'o_custkey',
                                  c3 AS 'o_orderstatus', c4 AS 'o_totalprice',
                                  c5 AS 'o_orderdate', c6 AS 'o_orderpriority'))
    ORDER BY column_name
    """,
)
def quality_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null audit over orders — the data-quality profiling
    pass every ingestion runs. ONE aggregation computes every
    per-column non-null count (map-side partials, one shuffled row),
    then a driver-free unpivot turns it long. Never N scans — column
    count is plan width, not pass count."""
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    agg = orders.agg(
        F.count("*").alias("total"), *[F.count(c).alias(f"c_{c}") for c in cols]
    )
    pairs = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.col(f"c_{c}"))]
    )
    exploded = agg.select("total", F.explode(pairs).alias("column_name", "c"))
    return exploded.select(
        "column_name",
        (F.col("total") - F.col("c")).alias("n_null"),
        dround((F.col("total") - F.col("c")).cast("double") / F.col("total"), 6).alias(
            "null_frac"
        ),
    ).orderBy("column_name")


@register(
    "source_python_datasource_grid",
    oracle="""
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(CASE WHEN i = 0 THEN 4.56 WHEN i = 7 THEN 9.85
                     WHEN j = 0 THEN 7.32 WHEN j = 7 THEN 6.88
                     ELSE 0.0 END AS DOUBLE) AS v
    FROM range(8) t1(i), range(8) t2(j)
    ORDER BY i, j
    """,
)
def source_python_datasource_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Laplace initial grid served by a CUSTOM PYTHON DATA SOURCE
    (Spark 4 pyspark.sql.datasource API, sources/grid_source.py) — the
    connector form of the reference's generated input (O1,
    laplace-common-impl.h:11-33) with the reference's 1-D row-block
    partitioning as InputPartitions (laplace-par.c:245-251). Shows the
    engine's source surface beyond built-in file formats; the oracle
    recomputes the closed-form grid relationally."""
    from pwir_zadanie_4_mapreduce_spark.sources.grid_source import (
        make_laplace_grid_datasource,
    )

    try:
        spark.dataSource.register(make_laplace_grid_datasource())
    except Exception:
        pass  # already registered in this session
    grid = (
        spark.read.format("laplace_grid")
        .option("n", 8)
        .option("partitions", 4)
        .load()
    )
    return grid.orderBy("i", "j")


@register(
    "scalar_variant_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(json_extract(props, '$.k')) AS BIGINT) AS n_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT CAST(json_extract(props, '$.k') AS INTEGER)) AS n_distinct_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON through VARIANT (Spark 4): parse_json once
    into the binary variant encoding, typed variant_get extraction,
    then aggregate. Versus from_json (scalar_from_json_struct),
    VARIANT needs no up-front schema — the 100 TB pattern for
    evolving event payloads: parse at ingest, store the variant
    column, extract lazily with pushdown-friendly typed paths."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


@register(
    "udtf_tokenize_positions",
    oracle=r"""
    SELECT doc_id,
           CAST(pos - 1 AS INTEGER) AS pos,
           tok AS token,
           CAST(length(tok) AS INTEGER) AS token_len
    FROM (
      SELECT doc_id,
             unnest(list_transform(
                 list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                 (x, i) -> {'pos': i, 'tok': x}), recursive := true)
      FROM documents WHERE doc_id < 5)
    ORDER BY doc_id, pos
    """,
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+ UDTF): one input
    row → many output rows, applied per-row via LATERAL — the
    tokenizer-as-table-function shape (Hive posexplode lineage,
    SURVEY.md §2.2 'UDF surface'). Declared the SLOW path like every
    row-wise Python surface: the same result is a posexplode over
    split (the oracle's spelling); the UDTF exists to exercise the
    table-function plumbing end-to-end.

    The class is defined in-function (closure) so workers unpickle it
    by value — no module import on the executor path."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos int, token string, token_len int")
    class TokenizePositions:
        def eval(self, text: str):
            toks = [t for t in (text or "").split() if t]
            for pos, tok in enumerate(toks):
                yield (pos, tok, len(tok))

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select("doc_id", "text")
    )
    out = docs.lateralJoin(TokenizePositions(F.col("text").outer()))
    return out.select("doc_id", "pos", "token", "token_len").orderBy("doc_id", "pos")


UDTF_TOPK = 3  # constant arg; analyze() derives tok_1..tok_k from it


@register(
    "udtf_dynamic_topk_tokens",
    oracle=rf"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
    toks AS (
      SELECT doc_id, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY length(tok) DESC, tok) AS rk
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tok
            FROM d)),
    -- LEFT JOIN from d: the UDTF yields one (all-NULL) row even for a
    -- token-less doc, so the oracle must too (a bare GROUP BY over the
    -- unnested tokens would silently drop such docs)
    p AS (
      SELECT doc_id,
             MAX(CASE WHEN rk = 1 THEN tok END) AS tok_1,
             MAX(CASE WHEN rk = 2 THEN tok END) AS tok_2,
             MAX(CASE WHEN rk = 3 THEN tok END) AS tok_3
      FROM toks GROUP BY doc_id)
    SELECT d.doc_id, p.tok_1, p.tok_2, p.tok_3
    FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id
    """,
)
def udtf_dynamic_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 analyze()): the output schema
    is not declared statically — analyze() reads the constant k
    argument at plan time and emits k columns tok_1..tok_k, the
    dynamic-schema table-function surface (pivot-like UDTFs, variable
    feature extractors) that a fixed returnType cannot express.
    Returns each document's k longest tokens (ties to lexicographic),
    one wide row per doc; the oracle mirrors k=3 with a rank pivot.

    Like every row-wise Python surface, declared the SLOW path — the
    value under test is the analyze-time schema derivation and
    LATERAL plumbing, both of which run identically at any scale."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class TopKTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(k.value)):
                schema = schema.add(f"tok_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, k: int):
            toks = sorted(
                (t for t in (text or "").split() if t),
                key=lambda t: (-len(t), t),
            )[:k]
            yield tuple(toks) + (None,) * (k - len(toks))

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select("doc_id", "text")
    )
    out = docs.lateralJoin(TopKTokens(F.col("text").outer(), lit(UDTF_TOPK)))
    cols = ["doc_id"] + [f"tok_{i + 1}" for i in range(UDTF_TOPK)]
    return out.select(*cols).orderBy("doc_id")


@register(
    "sql_api_parameterized_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_api_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (Spark 4 named-parameter binding): the query
    text carries :min_price / :since placeholders and the values
    arrive via spark.sql(..., args=...) — typed literal binding at the
    analyzer, NOT string interpolation, so a user-supplied value can
    never change the query's structure (the injection-safe surface any
    SQL entry point exposed to applications needs). Catalyst constant-
    folds the bound literals exactly like inline ones — same pushdown,
    same plan; the oracle is the same text with the literals inlined.
    The per-priority sums are ~4e9 at sf0.1 — the magnitude where a
    plain double sum's fold order flips the 4th decimal — so both
    engines sum fixed-point cents (the round-9 money-sum convention).
    """
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    raw = spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderdate >= :since
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"min_price": 150000.0, "since": "1995-01-01"},
    )
    return raw.select(
        "o_orderpriority",
        "n_orders",
        # no final ROUND: raw int64/1e2 quotient (r10 sf10 class)
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
    )


@register(
    "scalar_collated_grouping",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_brand)
                    ELSE p_brand END AS b,
               p_retailprice
        FROM part)
    SELECT lower(b) AS brand_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(p_retailprice), 4) AS total_price
    FROM mixed GROUP BY lower(b) ORDER BY brand_ci
    """,
)
def scalar_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATED strings (Spark 4): grouping under UTF8_LCASE merges
    case variants of a key AT THE TYPE LEVEL — comparison, grouping,
    and join semantics follow the collation with no expression rewrite
    at the call sites, which is the production spelling when an entire
    column is case-insensitive by contract (emails, tags, locales).
    The fixture brands are single-case, so half the rows are lowered
    first (deterministically, by p_partkey parity) to create real case
    variants; the emitted key is lower()ed because the group's surfaced
    representative under a collation is whichever variant the engine
    picked. The oracle is the classical lower()-grouping rewrite — the
    two spellings must agree exactly.
    """
    part = load_table(spark, sf_dir, "part").select(
        F.when(F.col("p_partkey") % 2 == 0, F.lower("p_brand"))
        .otherwise(F.col("p_brand"))
        .alias("b"),
        "p_retailprice",
    )
    return (
        part.groupBy(F.collate(F.col("b"), "UTF8_LCASE").alias("bc"))
        .agg(
            F.count("*").alias("n"),
            dround(F.sum("p_retailprice"), 4).alias("total_price"),
        )
        .select(F.lower(F.col("bc")).alias("brand_ci"), "n", "total_price")
        .orderBy("brand_ci")
    )


@register(
    "agg_transpose_status_metrics",
    oracle="""
    WITH m AS (
        SELECT o_orderstatus AS st,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM orders GROUP BY o_orderstatus)
    SELECT 'avg_price' AS key,
           MAX(CASE WHEN st = 'F' THEN avg_price END) AS "F",
           MAX(CASE WHEN st = 'O' THEN avg_price END) AS "O",
           MAX(CASE WHEN st = 'P' THEN avg_price END) AS "P"
    FROM m
    UNION ALL
    SELECT 'max_price',
           MAX(CASE WHEN st = 'F' THEN max_price END),
           MAX(CASE WHEN st = 'O' THEN max_price END),
           MAX(CASE WHEN st = 'P' THEN max_price END)
    FROM m
    ORDER BY key
    """,
)
def agg_transpose_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4): flip a bounded metrics frame so
    metrics become rows and group values become columns — the
    report-orientation step every BI export does, previously a
    hand-written unpivot+pivot pair and now one relational operator
    (the frame must be BOUNDED: its row count becomes the column
    count, so transpose is for group-level summaries, never raw
    data). The oracle is exactly that classical rewrite, so the two
    spellings must agree; the avg uses the fixed-point cents sum
    (see join_range_binned) because a ~1e10 double sum's order can
    flip the 4th decimal at scale."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("st"))
        .agg(
            # no final ROUND on the fixed-point quotient (r10 sf10 class)
            (F.sum(cents) / 100.0 / F.count("*")).alias("avg_price"),
            dround(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .orderBy("st")
    )
    return m.transpose().orderBy("key")


@register(
    "agg_listagg_priority_digest",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_listagg_priority_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG (Spark 4 / SQL:2023): ordered string concatenation as a
    true aggregate — `listagg(DISTINCT x, ',') WITHIN GROUP (ORDER BY
    x)` — the audit-digest spelling (which priorities a status ever
    carried, as one scannable cell) that previously took
    collect_set + array_sort + array_join. WITHIN GROUP ordering makes
    the cell deterministic, so it hash-matches DuckDB's
    string_agg(DISTINCT ... ORDER BY) twin exactly. Groups and
    distinct-value sets are bounded (statuses × priorities), so the
    agg is one partial-combinable exchange at any scale.

    The customer count rides in a SEPARATE aggregate joined back on
    the (3-row) group key: mixing ListAgg with another DISTINCT
    aggregate in one Aggregate trips a Spark 4.1 distinct-rewrite bug
    (ClassCastException in ListAgg.withNewChildrenInternal — the
    rewrite hands the SortOrder child back as a bare attribute)."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH digest AS (
            SELECT o_orderstatus,
                   listagg(DISTINCT o_orderpriority, ',')
                     WITHIN GROUP (ORDER BY o_orderpriority) AS priorities
            FROM orders GROUP BY o_orderstatus),
        cust AS (
            SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
            FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, priorities, n_customers
        FROM digest JOIN cust USING (o_orderstatus)
        ORDER BY o_orderstatus
        """
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE user_id % 3 = 0) AS BIGINT) AS n_div_null,
           ROUND(SUM(CASE WHEN user_id % 3 = 0 THEN NULL
                          ELSE value / (user_id % 3) END), 4) AS sum_safe_div,
           CAST(COUNT(*) FILTER (WHERE TRY_CAST(event_type AS INTEGER) IS NULL)
                AS BIGINT) AS n_uncastable,
           ROUND(SUM(COALESCE(TRY_CAST(json_extract_string(props, '$.k')
                                       AS DOUBLE), 0)), 4) AS sum_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide (NULL on /0 instead
    of a job-killing exception under ANSI mode) and try_cast (NULL on
    malformed input). The production spelling for dirty data at
    100 TB — one poisoned row must not fail a million-task job, and
    NULL-on-error keeps the expression inside whole-stage codegen
    (vs. a Python UDF try/except at 100x the cost).
    """
    ev = load_table(spark, sf_dir, "events")
    safe_div = F.try_divide("value", F.col("user_id") % 3)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(safe_div.isNull()).alias("n_div_null"),
            _r4(F.sum(safe_div)).alias("sum_safe_div"),
            F.count_if(
                F.expr("try_cast(event_type AS int)").isNull()
            ).alias("n_uncastable"),
            _r4(
                F.sum(
                    F.coalesce(
                        F.expr(
                            "try_cast(get_json_object(props, '$.k') AS double)"
                        ),
                        F.lit(0.0),
                    )
                )
            ).alias("sum_k"),
        )
        .orderBy("event_type")
    )


EQUIDEPTH_BUCKETS = 10


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH t AS (
        SELECT o_totalprice,
               ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
                   AS bucket
        FROM orders)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 4) AS lo,
           ROUND(MAX(o_totalprice), 4) AS hi
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bucket, data-driven
    boundaries) — the complement of agg_histogram_price's fixed-width
    buckets and the shape optimizers use for selectivity statistics.
    ntile over a total order (price, key) makes bucket assignment
    deterministic under ties.

    100 TB note: the global ntile needs a total sort; the scalable
    spelling samples quantile boundaries (approx_percentile) and
    assigns buckets with a broadcast range lookup — same output shape,
    no global sort. Kept exact here because the oracle must match
    row-for-row; the scale path is IMPLEMENTED as
    agg_equidepth_histogram_binned (operators/binned.py)."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    t = orders.withColumn("bucket", F.ntile(EQUIDEPTH_BUCKETS).over(w))
    return (
        t.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            dround(F.min("o_totalprice"), 4).alias("lo"),
            dround(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


ZORDER_BITS = 8
ZORDER_BLOCK_SHIFT = 8  # block = morton >> 8 (256 cells/block)


def _morton_terms(xcol: str, ycol: str, div_op: str) -> str:
    """Bit-interleave (Morton/Z-order) of two {ZORDER_BITS}-bit ints as
    pure integer arithmetic — the SAME formula string works in Spark
    SQL and DuckDB modulo the integer-division spelling (`div` vs
    `//`), which is the only dialect difference injected."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({xcol} {div_op} {1 << i}) % 2) * {4 ** i}")
        terms.append(f"(({ycol} {div_op} {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


@register(
    "layout_zorder_blocks",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey % {1 << ZORDER_BITS} AS cx,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % {1 << ZORDER_BITS}
                   AS dy,
               o_custkey, CAST(o_orderdate AS DATE) AS od
        FROM orders),
    m AS (
        SELECT o_custkey, od,
               ({_morton_terms('cx', 'dy', '//')}) // {1 << ZORDER_BLOCK_SHIFT}
                   AS block
        FROM base)
    SELECT CAST(block AS BIGINT) AS block,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
           CAST(MIN(od) AS TIMESTAMP) AS min_date,
           CAST(MAX(od) AS TIMESTAMP) AS max_date
    FROM m GROUP BY block ORDER BY block
    """,
)
def layout_zorder_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout: interleave the bits of two
    scan dimensions (customer, order day) and report per-block
    min/max envelopes — the file-level statistics a lakehouse uses
    for multi-dimensional data skipping (Delta OPTIMIZE ZORDER BY /
    Iceberg sort orders). Tight envelopes on BOTH columns in the same
    block set are exactly what linear sort orders cannot give.

    The interleave is pure integer arithmetic (one generated
    expression, fully inside whole-stage codegen — no UDF); the same
    formula text feeds the oracle, so block ids are bit-identical.
    100 TB: write with repartitionByRange(morton) and each output
    file becomes one such envelope; scans filtered on either
    dimension prune blocks by min/max alone."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
    ).withColumn(
        "cx", F.col("o_custkey") % (1 << ZORDER_BITS)
    ).withColumn(
        "dy",
        F.datediff("od", F.lit("1970-01-01").cast("date")) % (1 << ZORDER_BITS),
    )
    block = F.expr(
        f"({_morton_terms('cx', 'dy', 'div')}) div {1 << ZORDER_BLOCK_SHIFT}"
    )
    return (
        base.withColumn("block", block)
        .groupBy("block")
        .agg(
            F.count("*").alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("od").cast("timestamp").alias("min_date"),
            F.max("od").cast("timestamp").alias("max_date"),
        )
        .orderBy("block")
    )


PRUNE_CUST_LO, PRUNE_CUST_HI = 40, 80
PRUNE_DATE_LO, PRUNE_DATE_HI = "1996-01-01", "1996-12-31"


@register(
    "layout_pruning_stats",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey % {1 << ZORDER_BITS} AS cx,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % {1 << ZORDER_BITS}
                   AS dy,
               o_custkey, CAST(o_orderdate AS DATE) AS od
        FROM orders),
    m AS (
        SELECT o_custkey, od,
               ({_morton_terms('cx', 'dy', '//')}) // {1 << ZORDER_BLOCK_SHIFT}
                   AS block
        FROM base),
    blocks AS (
        SELECT block, COUNT(*) AS n,
               MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
               MIN(od) AS min_date, MAX(od) AS max_date
        FROM m GROUP BY block),
    kept AS (
        SELECT * FROM blocks
        WHERE max_cust >= {PRUNE_CUST_LO} AND min_cust <= {PRUNE_CUST_HI}
          AND max_date >= DATE '{PRUNE_DATE_LO}' AND min_date <= DATE '{PRUNE_DATE_HI}')
    SELECT CAST((SELECT COUNT(*) FROM blocks) AS BIGINT) AS n_blocks,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT)   AS n_blocks_kept,
           CAST((SELECT SUM(n) FROM blocks) AS BIGINT)   AS rows_total,
           CAST((SELECT SUM(n) FROM kept) AS BIGINT)     AS rows_scanned,
           CAST((SELECT COUNT(*) FROM m
                 WHERE o_custkey BETWEEN {PRUNE_CUST_LO} AND {PRUNE_CUST_HI}
                   AND od BETWEEN DATE '{PRUNE_DATE_LO}' AND DATE '{PRUNE_DATE_HI}')
                AS BIGINT) AS rows_matching
    """,
)
def layout_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit over the Z-order layout: a
    2-D range predicate (customer × order date) is evaluated against
    the per-block min/max envelopes from layout_zorder_blocks, and the
    query reports blocks kept, rows the pruned scan would read, and
    the true matching rows — the manifest-pruning arithmetic a
    lakehouse planner (Delta/Iceberg file skipping) runs before
    touching data.

    100 TB note: this audit is how you VERIFY a layout earns its keep
    — rows_scanned/rows_total is the scan-cost ratio the envelope
    stats buy, and it runs on block metadata (thousands of rows), not
    on the table."""
    base = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.to_date("o_orderdate").alias("od"))
        .withColumn("cx", F.col("o_custkey") % (1 << ZORDER_BITS))
        .withColumn(
            "dy",
            F.datediff("od", F.lit("1970-01-01").cast("date")) % (1 << ZORDER_BITS),
        )
        .withColumn(
            "block",
            F.expr(f"({_morton_terms('cx', 'dy', 'div')}) div {1 << ZORDER_BLOCK_SHIFT}"),
        )
    )
    base = base.transform(cut_lineage)  # blocks + exact count reuse it
    blocks = base.groupBy("block").agg(
        F.count("*").alias("n"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.min("od").alias("min_date"),
        F.max("od").alias("max_date"),
    )
    kept = blocks.filter(
        (F.col("max_cust") >= PRUNE_CUST_LO)
        & (F.col("min_cust") <= PRUNE_CUST_HI)
        & (F.col("max_date") >= F.lit(PRUNE_DATE_LO).cast("date"))
        & (F.col("min_date") <= F.lit(PRUNE_DATE_HI).cast("date"))
    )
    totals = blocks.agg(
        F.count("*").alias("n_blocks"), F.sum("n").alias("rows_total")
    )
    kept_tot = kept.agg(
        F.count("*").alias("n_blocks_kept"), F.sum("n").alias("rows_scanned")
    )
    matching = base.filter(
        F.col("o_custkey").between(PRUNE_CUST_LO, PRUNE_CUST_HI)
        & F.col("od").between(
            F.lit(PRUNE_DATE_LO).cast("date"), F.lit(PRUNE_DATE_HI).cast("date")
        )
    ).agg(F.count("*").alias("rows_matching"))
    return (
        totals.crossJoin(F.broadcast(kept_tot))
        .crossJoin(F.broadcast(matching))
        .select(
            "n_blocks", "n_blocks_kept", "rows_total", "rows_scanned", "rows_matching"
        )
    )


@register(
    "sql_api_priority_share_cte",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             o_orderpriority,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0 AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT m, o_orderpriority,
           rev AS revenue,
           ROUND(rev / SUM(rev) OVER (PARTITION BY m), 4) AS share
    FROM daily
    ORDER BY m, o_orderpriority
    """,
)
def sql_api_priority_share_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end breadth check: a CTE + aggregation + window query
    run VERBATIM through spark.sql over the registered views — proving
    the free SQL API (SURVEY.md §7.6) handles the composite shapes a
    reference user would type, not just star joins. The same text
    (modulo ROUND placement) is the oracle.

    Catalyst plans the CTE once; the share window partitions by month
    — no global sort."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    out = spark.sql(
        """
        WITH daily AS (
          -- fixed-point cents sum, raw quotient (r11 sf10 catch: the
          -- ~1e10 month x priority double sums flipped the 4th
          -- decimal on fold order); the share ratio divides two
          -- engine-identical doubles, so its 4-dec round is safe
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
                 o_orderpriority,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / 100.0 AS rev
          FROM orders GROUP BY 1, 2
        )
        SELECT m, o_orderpriority,
               rev AS revenue,
               rev / SUM(rev) OVER (PARTITION BY m) AS share
        FROM daily
        ORDER BY m, o_orderpriority
        """
    )
    return out.select(
        "m",
        "o_orderpriority",
        F.col("revenue"),
        dround(F.col("share"), 4).alias("share"),
    )


@register(
    "udf_arrow_batch_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def udf_arrow_batch_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python boundary: whole Arrow
    record batches in and out, no pandas conversion (the step below
    mapInPandas in the UDF-cost ladder; SURVEY.md §2.2 'UDF surface').
    The computation is columnar pyarrow.compute calls, so even the
    Python side is vectorized C.

    The worker fn is a closure (no module-global references — workers
    unpickle it by value; the documented driver-cwd trap). 100 TB
    note: batch size bounds worker memory via
    maxRecordsPerBatch, same as every Arrow surface here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it):
        for batch in it:
            net = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"), net],
                ["l_orderkey", "l_linenumber", "net_price"],
            )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    )
    out = li.mapInArrow(
        batches, "l_orderkey bigint, l_linenumber int, net_price double"
    )
    return out.select(
        "l_orderkey", "l_linenumber", dround(F.col("net_price"), 4).alias("net_price")
    )


@register(
    "sql_api_pivot_order_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS st_f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS st_o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS st_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_api_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause through the SQL entry point (the DataFrame
    pivot lives in pivot_event_counts; this exercises the parser
    surface a SQL-first user reaches for). Explicit IN list, so the
    plan is a static Expand + aggregate — no value-discovery scan.

    The oracle spells the same table as portable conditional
    aggregation because PIVOT syntax differs across engines — the
    results, not the syntax, are the contract."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COALESCE(st_f, 0) AS st_f,
               COALESCE(st_o, 0) AS st_o,
               COALESCE(st_p, 0) AS st_p
        FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS st_f, 'O' AS st_o, 'P' AS st_p))
        ORDER BY o_orderpriority
        """
    )


@register(
    "sql_api_lateral_topk",
    oracle="""
    SELECT r.r_name, t.n_name, CAST(t.n_customers AS BIGINT) AS n_customers
    FROM region r, LATERAL (
      SELECT n.n_name, COUNT(*) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n.n_name
      LIMIT 2
    ) t
    ORDER BY r.r_name, n_customers DESC, t.n_name
    """,
)
def sql_api_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL entry point: the
    top-2 nations by customer count within each region — identical
    LATERAL text runs on both engines. Catalyst decorrelates the
    lateral into a join + per-group window rather than re-executing
    the subquery per outer row, so the shape stays scale-safe (the
    DataFrame spelling of the same query is the rank-filter join in
    window_top3_orders_per_customer)."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, CAST(t.n_customers AS BIGINT) AS n_customers
        FROM region r, LATERAL (
          SELECT n.n_name, COUNT(*) AS n_customers
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, n.n_name
          LIMIT 2
        ) t
        ORDER BY r.r_name, n_customers DESC, t.n_name
        """
    )


_RECURSIVE_BFS_SQL = """
WITH RECURSIVE edges2 AS (
  SELECT 'S' AS from_type, CAST(l_suppkey AS BIGINT) AS from_id,
         'P' AS to_type,   CAST(l_partkey AS BIGINT) AS to_id
  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
  UNION ALL
  SELECT 'P', CAST(l_partkey AS BIGINT), 'S', CAST(l_suppkey AS BIGINT)
  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
),
walk(node_type, node_id, dist) AS (
  SELECT 'S', CAST(1 AS BIGINT), 0
  UNION ALL
  SELECT DISTINCT e.to_type, e.to_id, walk.dist + 1
  FROM walk JOIN edges2 e
    ON e.from_type = walk.node_type AND e.from_id = walk.node_id
  WHERE walk.dist < 3
)
SELECT node_type, node_id, CAST(MIN(dist) AS INTEGER) AS dist
FROM walk
GROUP BY node_type, node_id
ORDER BY dist, node_type, node_id
"""


@register("sql_api_recursive_bfs", oracle=_RECURSIVE_BFS_SQL)
def sql_api_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the SQL entry point (new in Spark 4):
    min-distance BFS to depth 3 from supplier #1 over the symmetrized
    supplier↔part graph — IDENTICAL recursive SQL runs on both
    engines, and the result equals the iterative DataFrame BFS
    (graph_bfs_levels) on the shared frontier.

    Honest scale note — the usual roles are inverted here: the
    recursive CTE enumerates level-wise walk frontiers (DISTINCT per
    step bounds each level by 2|V|, but ping-pong revisits remain and
    are deduped only by the final MIN); the
    iterative semi-join/anti-join BFS with an explicit visited set
    (graph_bfs_levels) is the 100 TB path, and this op is the SQL
    parser-surface demo."""
    from pwir_zadanie_4_mapreduce_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_BFS_SQL)



ASOF_NEAREST_HORIZON_S = 3600  # +/- 1 hour


@register(
    "join_asof_nearest_event",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS pts
        FROM events WHERE event_type = 'purchase'),
    c AS (
        SELECT event_id AS click_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS cts
        FROM events WHERE event_type = 'click'),
    cand AS (
        SELECT p.purchase_id, p.user_id, c.click_id,
               c.cts - p.pts AS offset_s,
               abs(c.cts - p.pts) AS adist,
               c.cts
        FROM p JOIN c ON c.user_id = p.user_id
                     AND abs(c.cts - p.pts) <= {ASOF_NEAREST_HORIZON_S})
    SELECT purchase_id, user_id, click_id,
           CAST(offset_s AS BIGINT) AS offset_s
    FROM cand
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY purchase_id ORDER BY adist, cts, click_id) = 1
    ORDER BY purchase_id
    """,
)
def join_asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — the bidirectional sibling of
    join_asof_last_click_before_purchase: each purchase is matched to the
    same user's click closest in time in EITHER direction, within a
    ±1-hour horizon (attribution/sensor alignment semantics: 'the
    interaction nearest the conversion', which last-touch misses when
    the nearest signal comes just AFTER). The horizon is what makes
    nearest-asof scale-safe — unbounded nearest would force a full
    per-key search; bounded, the candidate set is per-key event
    density × a constant window, and purchases with nothing in the
    horizon drop out (declared inner semantics).

    Plan: ONE user-keyed equi-join (co-partitioned; both sides are
    event-type scan filters, no second pass) with the horizon as a
    post-join filter, then min_by over the (|Δt|, ts, event_id)
    ordering struct picks the winner per purchase — no window, no
    shuffle beyond the purchase-grain agg. Timestamps compare at
    second grain on BOTH engines (unix_timestamp vs FLOOR(epoch)), so
    the tie-break chain is engine-identical."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("sec").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("sec").alias("cts"),
    )
    cand = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.abs(F.col("cts") - F.col("pts")) <= ASOF_NEAREST_HORIZON_S),
    )
    adist = F.abs(F.col("cts") - F.col("pts"))
    pick = F.min_by(
        F.struct(
            F.col("click_id").alias("click_id"),
            (F.col("cts") - F.col("pts")).alias("offset_s"),
        ),
        F.struct(
            adist.alias("adist"),
            F.col("cts").alias("cts"),
            F.col("click_id").alias("click_id"),
        ),
    )
    return (
        cand.groupBy("purchase_id", "user_id")
        .agg(pick.alias("w"))
        .select(
            "purchase_id",
            "user_id",
            F.col("w.click_id").alias("click_id"),
            F.col("w.offset_s").cast("bigint").alias("offset_s"),
        )
        .orderBy("purchase_id")
    )
