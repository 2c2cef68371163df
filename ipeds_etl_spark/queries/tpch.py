"""TPC-H shapes over the star-schema tables: pricing summaries, correlated
and uncorrelated subqueries, window frames, grouping sets, set
operations, SCD2, market baskets and co-purchase graphs, skylines,
concentration and seasonality readouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.operators.indexes import basket_items
from ipeds_etl_spark.plans.views import exact_sum
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries.shared import KMV_K
from ipeds_etl_spark.sources.tables import load_table


@_register(
    "orders_snapshot_diff",
    """
    WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
               FROM orders WHERE o_orderkey % 11 <> 0),
         n AS (SELECT o_orderkey, o_orderstatus,
                      CASE WHEN o_orderkey % 7 = 0
                           THEN o_totalprice + CAST(1.0 AS DOUBLE)
                           ELSE o_totalprice END AS o_totalprice
               FROM orders WHERE o_orderkey % 13 <> 0)
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
       OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
    """,
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC between table versions, `operators/cdc.py`):
    the 'what changed between version N and M' answer for any two reads
    of a transactional table (`txn.read_table(version=...)`), computed
    from the snapshots alone — no change log required. The benchmark
    derives the two versions deterministically from orders (keys %11==0
    appear → insert, %13==0 vanish → delete, %7==0 reprice → update);
    one pk-co-partitioned full-outer join, output O(changes)."""
    from ipeds_etl_spark.operators.cdc import snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = base.filter(F.col("o_orderkey") % 11 != 0)
    new = base.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.col("o_totalprice") + F.lit(1.0),
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, pk=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )


# ===========================================================================
# Bloom-filter semi-join pruning
# ===========================================================================
@_register(
    "orders_bloom_semi_join",
    """
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 250000)
    GROUP BY l.l_returnflag
    """,
)
def q_orders_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with Bloom pre-pruning: the fact scan (lineitem) is
    map-side filtered by a ~KB bitmap of the qualifying order keys
    BEFORE the exact semi join, so at 100 TB the exchange (or the
    broadcast probe) sees only the sliver that can possibly match.
    False positives are removed by the exact join — the oracle runs the
    plain semi join and the value hashes must agree.

    Build jobs: the Bloom filter is sized by a count and its bits collected."""
    from ipeds_etl_spark.operators.bloom import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    qualifying = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 250000)
    ).select("o_orderkey")
    # no parallelism floor (opt r13): the floor dated from the sha256
    # probe family; the default probe is two-seed xxhash64, within
    # noise of the scan itself, so the round-robin exchange of the
    # fact table was pure overhead (ABAB at sf0.1: 2.7 -> 2.3 s)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    pruned = bloom_semi_join(li, "l_orderkey", qualifying, "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum("l_extendedprice").alias("revenue"),
    )


@_register(
    "orders_range_join_periods",
    """
    WITH periods AS (
      SELECT y AS period_year,
             make_date(y, 1, 1) AS period_start,
             make_date(y, 6, 30) AS period_end,
             CASE WHEN y % 2 = 0 THEN 'H1-even' ELSE 'H1-odd' END AS period_label
      FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
    )
    SELECT p.period_label,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN periods p
      ON o.o_orderdate BETWEEN p.period_start AND p.period_end
    GROUP BY p.period_label
    """,
)
def q_orders_range_join_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: facts against a small derived period
    dimension on BETWEEN — broadcast nested-loop at this dim size; the
    scale path for large interval sets is bucketing both sides to
    aligned time buckets and equi-joining on the bucket (same plan
    family as the LSH band join)."""
    o = load_table(spark, sf_dir, "orders")
    periods = (
        o.select(F.year("o_orderdate").alias("period_year"))
        .distinct()
        .select(
            "period_year",
            F.make_date("period_year", F.lit(1), F.lit(1)).alias("period_start"),
            F.make_date("period_year", F.lit(6), F.lit(30)).alias("period_end"),
            F.when(F.col("period_year") % 2 == 0, "H1-even")
            .otherwise("H1-odd")
            .alias("period_label"),
        )
    )
    joined = o.join(
        F.broadcast(periods),
        on=F.col("o_orderdate").between(F.col("period_start"), F.col("period_end")),
    )
    return joined.groupBy("period_label").agg(
        F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("revenue")
    )


@_register(
    "orders_range_join_bucketed",
    """
    WITH periods AS (
      SELECT y AS period_year,
             make_date(y, 1, 1) AS period_start,
             make_date(y, 6, 30) AS period_end,
             CASE WHEN y % 2 = 0 THEN 'H1-even' ELSE 'H1-odd' END AS period_label
      FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
    )
    SELECT p.period_label,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN periods p
      ON o.o_orderdate BETWEEN p.period_start AND p.period_end
    GROUP BY p.period_label
    """,
)
def q_orders_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range-join SCALE path: same query as
    ``orders_range_join_periods`` but through the bucketed equi-join
    (``operators.interval``) — no BroadcastNestedLoopJoin anywhere in
    the plan, so it survives interval sets too large to broadcast. The
    oracle is the plain BETWEEN formulation: bucketing + residual
    filter must be result-identical."""
    from ipeds_etl_spark.operators.interval import interval_bucket_join

    o = load_table(spark, sf_dir, "orders")
    periods = (
        o.select(F.year("o_orderdate").alias("period_year"))
        .distinct()
        .select(
            "period_year",
            F.make_date("period_year", F.lit(1), F.lit(1)).alias("period_start"),
            F.make_date("period_year", F.lit(6), F.lit(30)).alias("period_end"),
            F.when(F.col("period_year") % 2 == 0, "H1-even")
            .otherwise("H1-odd")
            .alias("period_label"),
        )
    )
    joined = interval_bucket_join(
        o.select("o_orderkey", "o_orderdate", "o_totalprice"),
        "o_orderdate",
        periods,
        "period_start",
        "period_end",
        bucket_days=32,
    )
    return joined.groupBy("period_label").agg(
        F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("revenue")
    )


@_register(
    "orders_distinct_aggs",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_orders_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over different columns in one agg —
    exercises Spark's Expand-based multi-distinct rewrite."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count("*").alias("n_orders"),
    )


@_register(
    "customers_semi_anti",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F') THEN 'has_f' ELSE 'no_f' END AS bucket
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
    """,
)
def q_customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (has orders) + anti-join (none above 400k) + a
    semi-join-derived flag — the EXISTS/NOT EXISTS family as left_semi
    / left_anti joins."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders")
    keys_with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    keys_big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    keys_f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    base = c.join(keys_with_orders, "c_custkey", "left_semi").join(
        keys_big, "c_custkey", "left_anti"
    )
    flagged = base.join(
        keys_f.withColumn("has_f", F.lit(True)), "c_custkey", "left"
    )
    return flagged.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("has_f"), "has_f").otherwise("no_f").alias("bucket"),
    )


@_register(
    "kpi_rollup",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
    """,
)
def q_kpi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup (year, status) → year → grand
    total — one pass, Spark expands the grouping sets internally."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("order_year"), "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("total_revenue"))
    )


@_register(
    "kpi_cube",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderpriority,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY CUBE(year(o_orderdate), o_orderpriority)
    """,
)
def q_kpi_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE (every grouping-set combination) with GROUPING()
    indicator columns — the disambiguation a real report needs, since
    a NULL group key in cube output can mean 'subtotal' or a genuinely
    NULL value. Completes the grouping-sets family next to
    ``kpi_rollup``; one pass via Spark's Expand."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"), "o_orderpriority", "o_totalprice"
    )
    return (
        o.cube("order_year", "o_orderpriority")
        .agg(
            F.grouping(F.col("order_year")).cast("int").alias("g_year"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "order_year",
            "o_orderpriority",
            "g_year",
            "g_priority",
            "n_orders",
            "total_revenue",
        )
    )


@_register(
    "customer_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 350000
    """,
)
def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION ALL / EXCEPT chain with SQL's left-to-right
    set-op precedence, expressed with the DataFrame set operators."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey")
    )
    orders_1995 = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    big_orders = o.filter(F.col("o_totalprice") > 350000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    # SQL precedence: ((A INTERSECT B) UNION ALL C) EXCEPT D; EXCEPT
    # and INTERSECT are DISTINCT-based (subtract/intersect), UNION ALL
    # keeps duplicates until the final EXCEPT collapses them.
    return (
        building.intersect(orders_1995)
        .unionAll(machinery)
        .subtract(big_orders)
        .select(F.col("c_custkey"))
    )


@_register(
    "nation_top2_customers",
    """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
    """,
)
def q_nation_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated lateral subquery (Spark 4 ``lateralJoin`` with
    ``Column.outer()`` references): top-2 customers by balance per
    nation — the J1 lateral-join family generalized beyond unnest.
    Catalyst decorrelates this into a ranked window join under the
    hood; the API-level correlation is what the reference's
    CROSS JOIN LATERAL exercised."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return n.lateralJoin(top2).select("n_name", "c_custkey", "c_acctbal")


@_register(
    "orders_profile",
    """
    SELECT 'o_totalprice' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_filled,
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,6)) AS DOUBLE) AS min_val,
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,6)) AS DOUBLE) AS max_val,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) / count(o_totalprice)
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_val,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(count(*) AS BIGINT),
           CAST(count(o_custkey) AS BIGINT),
           CAST(CAST(min(o_custkey) AS DECIMAL(18,6)) AS DOUBLE),
           CAST(CAST(max(o_custkey) AS DECIMAL(18,6)) AS DOUBLE),
           CAST(CAST(SUM(CAST(o_custkey AS DECIMAL(18,6))) / count(o_custkey)
                AS DECIMAL(18,6)) AS DOUBLE),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: one aggregate pass computing per-column
    completeness, range, exact-decimal mean, and distinct counts —
    the engine-side `df.summary()` with deterministic arithmetic. All
    columns profile in ONE scan (a struct of aggregates per column),
    then unpivot to rows."""
    o = load_table(spark, sf_dir, "orders")

    def stats(c: str):
        col = F.col(c)
        dec = col.cast("decimal(18,6)")
        return F.struct(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_filled"),
            F.min(dec).cast("double").alias("min_val"),
            F.max(dec).cast("double").alias("max_val"),
            (F.sum(dec) / F.count(col)).cast("decimal(18,6)").cast("double").alias("mean_val"),
            F.countDistinct(col).alias("n_distinct"),
        ).alias(c)

    one = o.agg(stats("o_totalprice"), stats("o_custkey"))
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"), F.col(c).alias("s")
                    )
                    for c in ("o_totalprice", "o_custkey")
                ]
            )
        ).alias("r")
    )
    return stacked.select(
        "r.column_name",
        F.col("r.s.n_rows").alias("n_rows"),
        F.col("r.s.n_filled").alias("n_filled"),
        F.col("r.s.min_val").alias("min_val"),
        F.col("r.s.max_val").alias("max_val"),
        F.col("r.s.mean_val").alias("mean_val"),
        F.col("r.s.n_distinct").alias("n_distinct"),
    )


@_register(
    "customer_order_window_funcs",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate)) AS INTEGER) AS yr_rank,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate)) AS INTEGER) AS yr_dense_rank,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_customer_order_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/offset/frame window family in one pass —
    row_number, rank, dense_rank, ntile, percent_rank, cume_dist,
    lag/lead, and a running decimal-exact frame sum — all over ONE
    partition spec (Catalyst collapses same-spec functions into a
    single Window operator: one shuffle, one sort)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wy = Window.partitionBy("o_custkey").orderBy(F.year("o_orderdate"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wy).alias("yr_rank"),
        F.dense_rank().over(wy).alias("yr_dense_rank"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
    )


@_register(
    "orders_calendar_dims",
    """
    SELECT year(o_orderdate) AS y,
           quarter(o_orderdate) AS q,
           month(o_orderdate) AS m,
           CAST(count(*) FILTER (WHERE isodow(o_orderdate) <= 5) AS BIGINT) AS weekday_orders,
           CAST(count(*) FILTER (WHERE isodow(o_orderdate) > 5) AS BIGINT) AS weekend_orders,
           strftime(min(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS month_start,
           strftime(max(last_day(o_orderdate)), '%Y-%m-%d') AS month_end,
           strftime(min(o_orderdate + INTERVAL 90 DAY), '%Y-%m-%d') AS first_due
    FROM orders GROUP BY 1, 2, 3
    """,
)
def q_orders_calendar_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family: truncation, last_day, date
    arithmetic, ISO weekday classification (Spark's ``dayofweek`` is
    1=Sunday; the portable ISO form is ``(dayofweek+5)%7+1`` —
    pinned against DuckDB's native ``isodow``)."""
    o = load_table(spark, sf_dir, "orders")
    isodow = (F.dayofweek("o_orderdate") + 5) % 7 + 1
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(
            F.count(F.when(isodow <= 5, 1)).alias("weekday_orders"),
            F.count(F.when(isodow > 5, 1)).alias("weekend_orders"),
            F.date_format(
                F.min(F.date_trunc("month", "o_orderdate")), "yyyy-MM-dd"
            ).alias("month_start"),
            F.date_format(F.max(F.last_day("o_orderdate")), "yyyy-MM-dd").alias(
                "month_end"
            ),
            F.date_format(F.min(F.date_add("o_orderdate", 90)), "yyyy-MM-dd").alias(
                "first_due"
            ),
        )
    )


# ===========================================================================
# Round-3 additions (registered FIRST thing in the round so every entry
# gets a driver CORRECTNESS row — the round-2 lesson).
# ===========================================================================
@_register(
    "kpi_grouping_sets",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def q_kpi_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary (non-hierarchical) GROUPING SETS — (year, priority)
    detail, a status-only slice, and the grand total in ONE pass over
    orders via Spark's Expand, with GROUPING() indicators
    disambiguating subtotal NULLs from real NULLs. Completes the
    grouping family next to ``kpi_rollup`` (hierarchy) and
    ``kpi_cube`` (powerset)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        "o_orderstatus",
        "o_orderpriority",
        "o_totalprice",
    )
    return (
        o.groupingSets(
            [["order_year", "o_orderpriority"], ["o_orderstatus"], []],
            "order_year",
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "order_year",
            "o_orderstatus",
            "o_orderpriority",
            "g_year",
            "g_status",
            "g_priority",
            "n_orders",
            "total_revenue",
        )
    )


@_register(
    "orders_open_interval_counts",
    """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 60 + 1 AS INTEGER) AS e
      FROM orders),
    deltas AS (
      SELECT s AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT e + 1, -1 FROM iv),
    per_date AS (SELECT d, SUM(delta) AS delta FROM deltas GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(SUM(delta) OVER (ORDER BY d) AS BIGINT) AS n_open
    FROM per_date
    """,
)
def q_orders_open_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counts by sweep line: each order holds an
    open interval (synthetic deterministic duration); how many are open
    at every boundary date? Sweep line = +1 at start, -1 past end,
    prefix-sum over dates — O(n log n) against the O(n·m) naive range
    join.

    The prefix sum is built as a DISTRIBUTED two-phase scan, not a
    global window: a cumulative window partitioned by YEAR (parallel),
    plus per-year offsets (cumulative over a years-sized frame,
    broadcast back). A single `ORDER BY date` window would serialize
    the whole table through one task at 100 TB; the oracle uses exactly
    that global form, which pins the two-phase rewrite to the canonical
    semantics.

    Build jobs: the per-day deltas are checkpointed."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("s"),
        (F.col("o_orderkey") % 60 + 1).cast("int").alias("dur"),
    )
    # both boundary rows from ONE scan (explode of a 2-element array;
    # a union of two selects would scan orders twice)
    deltas = o.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("d"), F.lit(1).alias("delta")),
                F.struct(
                    F.expr("date_add(date_add(s, dur), 1)").alias("d"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b")
    ).select("b.d", "b.delta")
    # per_date is O(distinct boundary dates) — tiny next to orders.
    # Checkpointing it makes the two consumers (in-year cumulative,
    # year offsets) read the small artifact instead of re-scanning the
    # fact table per branch (measured: Catalyst did not plan a
    # ReusedExchange here; without this the orders scan runs twice).
    per_date = (
        deltas.groupBy("d").agg(F.sum("delta").alias("delta")).localCheckpoint()
    )
    yr = F.year("d").alias("y")
    w_in = Window.partitionBy("y").orderBy("d")
    within = per_date.select("d", "delta", yr).withColumn(
        "cum_in", F.sum("delta").over(w_in)
    )
    w_years = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_date.groupBy(yr)
        .agg(F.sum("delta").alias("yr_delta"))
        .select("y", F.coalesce(F.sum("yr_delta").over(w_years), F.lit(0)).alias("off"))
    )
    return within.join(F.broadcast(offsets), "y").select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        (F.col("cum_in") + F.col("off")).cast("bigint").alias("n_open"),
    )


@_register(
    "orders_dq_report",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders)
    SELECT r.rule, r.violations, n.total, r.violations = 0 AS passed FROM (
      SELECT 'not_null(o_orderkey,o_custkey)' AS rule,
             CAST(count(*) FILTER (WHERE o_orderkey IS NULL OR o_custkey IS NULL) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'range(o_totalprice)',
             CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL AND o_totalprice < 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                     AND o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches(o_orderpriority)',
             CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST(coalesce((SELECT SUM(c) FROM (
               SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0) AS BIGINT)
      UNION ALL
      SELECT 'references(o_custkey)',
             CAST((SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL
                     AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
    ) r CROSS JOIN n
    """,
)
def q_orders_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (`operators/quality.py`): six
    constraint kinds over orders — null checks, range, value set,
    regex, key uniqueness, and referential integrity against customer —
    compiled into one shared full-scan aggregate plus the two rules
    that need their own shape (unique: hash agg on the key;
    references: left-anti join, broadcast at dim size). The report is
    the dbt-test / Deequ contract: (rule, violations, total, passed)."""
    from ipeds_etl_spark.operators import quality as DQ

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return DQ.dq_report(
        o,
        [
            DQ.not_null("o_orderkey", "o_custkey"),
            DQ.accepted_range("o_totalprice", lo=0),
            DQ.in_set("o_orderstatus", ["O", "F", "P"]),
            DQ.matches("o_orderpriority", "^[1-5]-"),
            DQ.unique("o_orderkey"),
            DQ.references("o_custkey", c, "c_custkey"),
        ],
    )


# ===========================================================================
# TPC-H Q11 shape: part-value concentration within one nation
# ===========================================================================
@_register(
    "nation_part_value_concentration",
    """
    WITH nv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS value
    FROM nv
    WHERE val * 500 > (SELECT SUM(val) FROM nv)
    ORDER BY value DESC, partkey
    """,
)
def q_nation_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part supplied value within one nation,
    kept only where it exceeds 1/500 of the nation's total — a grouped
    aggregate gated by an uncorrelated scalar aggregate over ITSELF.
    Written as SQL so Catalyst plans the scalar as a broadcast
    (single-row) subquery over the reused ``nv`` aggregate rather
    than a second scan. The threshold is cross-multiplied in exact
    decimal (``val * 500 > total``): no division, hash-identical
    engines. Scale: one fact shuffle on l_partkey; supplier and
    nation broadcast; the nation filter prunes the fact stream inside
    the broadcast-join stage before the exchange."""
    for t in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q11_{t}")
    return spark.sql(
        """
        WITH nv AS (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
          FROM q11_lineitem
          JOIN q11_supplier ON s_suppkey = l_suppkey
          JOIN q11_nation ON n_nationkey = s_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY l_partkey)
        SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS value
        FROM nv
        WHERE val * 500 > (SELECT SUM(val) FROM nv)
        ORDER BY value DESC, partkey
        """
    )


# ===========================================================================
# TPC-H Q1 shape: pricing summary
# ===========================================================================
@_register(
    "lineitem_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: one scan, partial+final hash agg on a
    2-value × 2-value grouping key. Money sums in decimal (exact, so
    partition-order-independent — see ``exact_sum``), averages as one
    double division of exact numerators. At 100 TB this is the
    map-side-combine showcase: shuffle carries 4 groups × a few
    decimal buffers, nothing else."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    # _REV6 re-round: the scale-12 product summed over sf>=0.1 row
    # counts exceeds 2^53 in integer form, so the final double cast
    # diverges between engines without a per-row round back to scale 6
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    n = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity").alias("sum_qty"),
        exact_sum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        (exact_sum("l_quantity") / n).alias("avg_qty"),
        (exact_sum("l_discount") / n).alias("avg_disc"),
        n.cast("long").alias("count_order"),
    )


# ===========================================================================
# SCD Type-2: change-interval dimension build
# ===========================================================================
_CUSTOMER_SCD2_SQL = """
    WITH daily AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderpriority, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             lag(o_orderpriority) OVER w AS prev_attr
      FROM daily
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)),
    changes AS (
      SELECT * FROM seq WHERE prev_attr IS NULL OR prev_attr <> o_orderpriority)
    SELECT o_custkey AS custkey,
           CAST(row_number() OVER w2 AS INTEGER) AS version,
           o_orderpriority AS attr,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           coalesce(strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d'), '9999-12-31')
             AS valid_to
    FROM changes
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    """


@_register("customer_scd2", _CUSTOMER_SCD2_SQL)
def q_customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) build from an event history,
    at daily grain: compact to the day's LAST state per key (same-day
    flips never make zero-length intervals), detect transitions with
    ``lag``, then number and bound each validity interval with
    ``row_number``/``lead`` over the surviving change rows. All three
    windows share the ``custkey`` partition key (the compaction window
    adds the date — a finer key on the same shuffle), so the whole
    build is ONE shuffle plus sorts — the canonical scale shape for
    snapshot-to-interval conversion, unchanged for CDC streams
    compacted per key. The open interval is pinned to 9999-12-31 so
    the output is join-ready for as-of lookups."""
    # ONE explicit shuffle on custkey: hash(custkey) clusters every
    # finer window key too — the (custkey, date) compaction window and
    # the custkey history windows all run on this single exchange, and
    # the compaction sort (custkey, date, orderkey desc) is a superset
    # of the history sort (custkey, date), so there is one sort total.
    o = load_table(spark, sf_dir, "orders").repartition("o_custkey")
    wd = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    daily = (
        o.select(
            "o_custkey",
            "o_orderpriority",
            "o_orderdate",
            F.row_number().over(wd).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    changes = daily.withColumn(
        "prev_attr", F.lag("o_orderpriority").over(w)
    ).filter(
        F.col("prev_attr").isNull()
        | (F.col("prev_attr") != F.col("o_orderpriority"))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).alias("version"),
        F.col("o_orderpriority").alias("attr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd"),
            F.lit("9999-12-31"),
        ).alias("valid_to"),
    )


# ===========================================================================
# Market-basket co-occurrence mining
# ===========================================================================
@_register(
    "orders_market_basket",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS key_a, b.l_partkey AS key_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, key_a, key_b
    LIMIT 20
    """,
)
def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part-pair mining (market basket): per-order pair
    expansion through ``pairs_within_buckets`` — the same join-free
    in-bucket expansion as LSH dedup, so the basket never self-joins
    and a pathological mega-order is rank-capped instead of going
    quadratic. Count agg is map-side combinable; final result is a
    distributed top-k (TakeOrderedAndProject), never a full sort."""
    items = basket_items(spark, sf_dir)
    pairs = DD.pairs_within_buckets(
        items, ["l_orderkey"], F.struct(F.col("l_partkey").alias("id")),
        cap_mode="agg",  # baskets are naturally small; skip the rank window
    )
    return (
        pairs.groupBy(
            F.col("a.id").alias("key_a"), F.col("b.id").alias("key_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "key_a", "key_b")
        .limit(20)
    )


# ===========================================================================
# Cohort revenue (LTV) matrix
# ===========================================================================
@_register(
    "customer_cohort_ltv",
    """
    WITH firsts AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY 1)
    SELECT strftime(date_trunc('month', f.first_dt), '%Y-%m') AS cohort_month,
           (year(o.o_orderdate) * 12 + month(o.o_orderdate))
             - (year(f.first_dt) * 12 + month(f.first_dt)) AS months_since,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def q_customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: cohort = month of first order; cell =
    (active customers, exact revenue) at each month offset. The first-
    order aggregate and the enrichment join share the ``custkey``
    shuffle key, so AQE plans one exchange + (at small sf) a broadcast
    of the cohort side; month arithmetic is integer (year*12+month),
    portable across engines — no interval math."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    month_no = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        o.join(firsts, "o_custkey")
        .groupBy(
            F.date_format(F.date_trunc("month", "first_dt"), "yyyy-MM").alias(
                "cohort_month"
            ),
            (month_no(F.col("o_orderdate")) - month_no(F.col("first_dt"))).alias(
                "months_since"
            ),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            exact_sum("o_totalprice").alias("revenue"),
        )
    )


# ===========================================================================
# Full-outer reconciliation
# ===========================================================================
@_register(
    "nations_customer_supplier_balance",
    """
    WITH c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_customers,
                      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS cust_bal
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_suppliers,
                      CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS supp_bal
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(c.cust_bal, 0.0) AS cust_bal,
           coalesce(s.n_suppliers, 0) AS n_suppliers,
           coalesce(s.supp_bal, 0.0) AS supp_bal
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q_nations_customer_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided reconciliation via FULL OUTER join of per-nation
    aggregates (the missing join-type in the suite): either side may
    lack a nation, so both are aggregated first (25 rows each — the
    join is trivially broadcastable after aggregation, and at any
    scale the outer join runs over pre-aggregated keys, not raw
    rows)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum("c_acctbal").alias("cust_bal"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(
            F.count("*").alias("n_suppliers"),
            exact_sum("s_acctbal").alias("supp_bal"),
        )
    )
    return c.join(s, c.nk_c == s.nk_s, "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
    )


# ===========================================================================
# Year-over-year growth (lag analytics on aggregates)
# ===========================================================================
@_register(
    "orders_yoy_growth",
    """
    WITH y AS (
      SELECT year(o_orderdate) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT yr, revenue, n_orders,
           lag(revenue) OVER w AS prev_revenue,
           (revenue - lag(revenue) OVER w) / lag(revenue) OVER w AS yoy_growth
    FROM y WINDOW w AS (ORDER BY yr)
    """,
)
def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: exact decimal yearly rollup, then
    ``lag`` over the handful of year rows. The global window runs over
    O(years) pre-aggregated rows — a single-task sort of ~10 rows, not
    a table sort; growth is one double division of exact sums."""
    o = load_table(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        exact_sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return y.select(
        "yr",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
    )


# ===========================================================================
# RFM scoring via broadcast quartile cut-points (no global ntile sort)
# ===========================================================================
@_register(
    "customer_rfm_scores",
    """
    WITH mx AS (SELECT max(o_orderdate) AS max_dt FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT max_dt FROM mx)) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey),
    q AS (SELECT quantile_cont(recency_days, 0.25) AS r1, quantile_cont(recency_days, 0.5) AS r2, quantile_cont(recency_days, 0.75) AS r3,
                 quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2, quantile_cont(frequency, 0.75) AS f3,
                 quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2, quantile_cont(monetary, 0.75) AS m3
          FROM rfm)
    SELECT o_custkey AS custkey, recency_days, frequency, monetary,
           CASE WHEN recency_days <= r1 THEN 4 WHEN recency_days <= r2 THEN 3
                WHEN recency_days <= r3 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN frequency > f3 THEN 4 WHEN frequency > f2 THEN 3
                WHEN frequency > f1 THEN 2 ELSE 1 END AS f_score,
           CASE WHEN monetary > m3 THEN 4 WHEN monetary > m2 THEN 3
                WHEN monetary > m1 THEN 2 ELSE 1 END AS m_score
    FROM rfm CROSS JOIN q
    """,
)
def q_customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring. Scores
    come from broadcast quartile CUT-POINTS compared map-side — NOT a
    global ``ntile`` (which would serialize the whole customer set
    through one window task and break ties by partition luck).
    Cut-point scoring is deterministic under any partitioning. The
    exact percentile agg is the same shape as ``docs_robust_zscore``;
    at 100 TB swap ``approx_percentile`` (same plan, documented
    epsilon)."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("max_dt"))
    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count("*").alias("frequency"),
            exact_sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("max_dt", "last_dt").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    q = rfm.agg(
        *[
            F.percentile(c, p).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    r, f_, m = F.col("recency_days"), F.col("frequency"), F.col("monetary")
    return rfm.crossJoin(F.broadcast(q)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.when(r <= F.col("r1"), 4)
        .when(r <= F.col("r2"), 3)
        .when(r <= F.col("r3"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(f_ > F.col("f3"), 4)
        .when(f_ > F.col("f2"), 3)
        .when(f_ > F.col("f1"), 2)
        .otherwise(1)
        .alias("f_score"),
        F.when(m > F.col("m3"), 4)
        .when(m > F.col("m2"), 3)
        .when(m > F.col("m1"), 2)
        .otherwise(1)
        .alias("m_score"),
    )


# ===========================================================================
# PageRank on the part co-purchase graph — integer arithmetic, exact
# ===========================================================================
_PR_SCALE = 10**12
_PR_ITERS = 3


def _pagerank_sql() -> str:
    """Unrolled power-iteration CTEs over a ``pairs(id_a, id_b)`` edge
    list. All arithmetic is BIGINT with floor division — bit-identical
    across engines (no float summation order to worry about). DuckDB
    ``SUM(BIGINT)`` widens to HUGEINT, so every rank is re-CAST."""
    base = (15 * _PR_SCALE) // 100
    out = f"""
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg)"""
    for i in range(1, _PR_ITERS + 1):
        out += f""",
    r{i} AS (
      SELECT e.dst AS node,
             CAST({base} + (85 * CAST(SUM(r.rank // deg.d) AS BIGINT)) // 100
                  AS BIGINT) AS rank
      FROM edges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN deg ON deg.node = e.src
      GROUP BY e.dst)"""
    return out


@_register(
    "parts_copurchase_pagerank",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    {_pagerank_sql()}
    SELECT node AS partkey, rank AS pagerank_pico FROM r{_PR_ITERS}
    """,
)
def q_parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_PR_ITERS} power iterations, d=0.85) over the part
    co-purchase graph (parts are linked when they appear in the same
    order) — the classic 'influential product' ranking, and the
    suite's iterative-algorithm showcase alongside the components
    fixpoints. All rank arithmetic is scaled BIGINT with floor
    division, so partial-aggregation order cannot perturb a single bit
    (double summation is non-associative; integers are) and the DuckDB
    oracle replays the exact values. Per iteration: one join of ranks
    to edges (both shuffle on node id — co-partitioned across rounds)
    plus a map-combinable sum; edges are materialized once
    (localCheckpoint) so the pair expansion is not re-run per round.
    Scale: state is O(nodes) rows, rounds are a constant; rank
    overflow headroom = 9.2e18 / (nodes × 1e12), so drop _PR_SCALE to
    1e9 beyond ~a million graph nodes.

    Ref: Page et al., 'The PageRank citation ranking' (1999).

    Build jobs: the pair expansion and the power rounds are checkpointed."""
    items = basket_items(spark, sf_dir)
    pairs = DD.pairs_within_buckets(
        items, ["l_orderkey"], F.struct(F.col("l_partkey").alias("id")),
        cap_mode="agg",
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")).distinct()
    # both edge directions from ONE pass over the pair pipeline — a
    # union of two selects would run the (expensive) pair extraction
    # twice inside the checkpoint (measured 24.7s → 13.4s at 10× sf0.1)
    raw_edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
    )
    # out-degree is STATIC across rounds: bake it onto the edge list as
    # a COUNT window over the src partitioning already in place (no
    # extra exchange, no self-join), then materialize ONCE — every
    # power iteration is then one join (edges ⋈ ranks on the
    # co-partitioned src key) plus the rank sum. One checkpoint instead
    # of the previous checkpoint→join→checkpoint chain (5-run medians
    # at sf0.1: ~3.3 s → ~2.5 s, bit-identical output).
    edges = raw_edges.withColumn(
        "d", F.count("*").over(Window.partitionBy("src"))
    ).localCheckpoint()
    ranks = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(_PR_SCALE).cast("long").alias("rank"))
    )
    base = (15 * _PR_SCALE) // 100
    for _ in range(_PR_ITERS):
        contrib = edges.join(ranks, edges.src == ranks.node).select(
            F.col("dst"),
            F.expr("rank div d").alias("c"),
        )
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(base) + F.expr("85 * sum(c) div 100")).alias("rank")
        )
    return ranks.select(
        F.col("node").alias("partkey"), F.col("rank").alias("pagerank_pico")
    )


# ===========================================================================
# Association rules (support / confidence / lift) on basket pairs
# ===========================================================================
@_register(
    "orders_basket_rules",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
    supp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS key_a, b.l_partkey AS key_b,
             CAST(count(*) AS BIGINT) AS pair_n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT key_a, key_b, pair_n,
           sa.s AS supp_a, sb.s AS supp_b,
           CAST(pair_n AS DOUBLE) / n.n_orders AS support,
           CAST(pair_n AS DOUBLE) / sa.s AS conf_a_to_b,
           CAST(pair_n AS DOUBLE) / sb.s AS conf_b_to_a,
           CAST(pair_n * n.n_orders AS DOUBLE) / (sa.s * sb.s) AS lift
    FROM pairs
    JOIN supp sa ON sa.l_partkey = key_a
    JOIN supp sb ON sb.l_partkey = key_b
    CROSS JOIN n
    WHERE pair_n >= 3
    ORDER BY lift DESC, key_a, key_b
    LIMIT 25
    """,
)
def q_orders_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over basket pairs: support, directional
    confidence, and lift for every frequent part pair (≥3 co-orders).
    Pair counts ride the join-free in-bucket expansion; item supports
    are one combinable agg joined back (AQE broadcasts the support
    side while it fits). Every ratio is ONE IEEE division of exact
    BIGINT counts (lift's numerator/denominator multiplied exactly
    first), so DuckDB reproduces each double bit-for-bit. Top-k by
    lift is a distributed TakeOrdered, never a global sort.

    Build jobs: a lazy ``localCheckpoint`` runs its shuffle stage under AQE."""
    # items feeds THREE plan branches (pairs, supports, universe
    # count); Catalyst does not share subplans, so materialize the
    # deduped frame once — otherwise the lineitem scan + DISTINCT
    # SHUFFLE run 3× (audit showed 4 scans before this). Costs ~0.3s
    # of write-back at sf0.1 where scans are OS-cached; at cluster
    # scale one materialization vs three full-table shuffles is not
    # close.
    items = basket_items(spark, sf_dir)
    n_df = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    # supp feeds BOTH direction joins (sa, sb) and Catalyst does not
    # share the agg subtree — materialize the part-sized frame once
    # (opt r13, guide §2.4: one fewer items pass + exchange)
    supp = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("s"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        DD.pairs_within_buckets(
            items, ["l_orderkey"], F.struct(F.col("l_partkey").alias("id")),
            cap_mode="agg",
        )
        .groupBy(F.col("a.id").alias("key_a"), F.col("b.id").alias("key_b"))
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 3)
    )
    sa = supp.select(F.col("l_partkey").alias("key_a"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("l_partkey").alias("key_b"), F.col("s").alias("supp_b"))
    return (
        pairs.join(sa, "key_a")
        .join(sb, "key_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "key_a",
            "key_b",
            "pair_n",
            "supp_a",
            "supp_b",
            (F.col("pair_n").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("pair_n").cast("double") / F.col("supp_a")).alias("conf_a_to_b"),
            (F.col("pair_n").cast("double") / F.col("supp_b")).alias("conf_b_to_a"),
            (
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("supp_a") * F.col("supp_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "key_a", "key_b")
        .limit(25)
    )


# ===========================================================================
# Relational division: suppliers covering every brand
# ===========================================================================
@_register(
    "supplier_brand_coverage",
    """
    WITH b AS (SELECT CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands FROM part),
    sup AS (
      SELECT l_suppkey AS suppkey,
             CAST(count(DISTINCT p_brand) AS BIGINT) AS brands_supplied
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1)
    SELECT suppkey, brands_supplied, n_brands,
           brands_supplied = n_brands AS covers_all
    FROM sup CROSS JOIN b
    """,
)
def q_supplier_brand_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ('suppliers that supply EVERY brand') via
    distinct-count comparison — the scalable form of the classic
    double-NOT-EXISTS: one broadcast dim join, one distinct agg, and a
    1-row universe count broadcast back. Universal quantification
    never needs a quadratic check."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    n_brands = p.agg(F.countDistinct("p_brand").alias("n_brands"))
    sup = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.countDistinct("p_brand").alias("brands_supplied"))
    )
    return sup.crossJoin(F.broadcast(n_brands)).select(
        "suppkey",
        "brands_supplied",
        "n_brands",
        (F.col("brands_supplied") == F.col("n_brands")).alias("covers_all"),
    )


# ===========================================================================
# Unpivot / melt (wide → long)
# ===========================================================================
@_register(
    "orders_yearly_metrics_long",
    """
    WITH wide AS (
      SELECT year(o_orderdate) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
      FROM orders GROUP BY 1)
    SELECT yr, metric, value
    FROM wide UNPIVOT (value FOR metric IN (revenue, n_orders, n_customers))
    """,
)
def q_orders_yearly_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt, the inverse of the pivot
    family): yearly metric columns become (metric, value) rows via
    ``DataFrame.unpivot`` — a pure map-side Expand, no shuffle beyond
    the source agg."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        exact_sum("o_totalprice").alias("revenue"),
        F.count("*").cast("double").alias("n_orders"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["yr"],
        values=["revenue", "n_orders", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ===========================================================================
# Correlation matrix from exact integer moments
# ===========================================================================
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _corr_sql() -> str:
    """Pearson correlations hand-built from scale-0 decimal moments so
    both engines run the IDENTICAL op sequence (native corr() uses
    engine-specific streaming algorithms that differ in the last ulp).
    Per-row: floor-quantize to micro-units (same IEEE double ops both
    engines), accumulate BIGINT-exact sums as DECIMAL(38,0)."""
    units = {
        c: f"CAST(floor({c} * 1000000) AS DECIMAL(38,0))" for c in _CORR_COLS
    }
    moments = ["CAST(count(*) AS DECIMAL(38,0)) AS n"]
    for c, u in units.items():
        moments.append(f"SUM({u}) AS s_{c}")
        moments.append(f"SUM({u} * {u}) AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]]
    for a, b in pairs:
        moments.append(f"SUM({units[a]} * {units[b]}) AS sp_{a}_{b}")
    corr_exprs = []
    for a, b in pairs:
        num = f"CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        da = f"sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE))"
        db = f"sqrt(CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE))"
        corr_exprs.append(f"{num} / ({da} * {db}) AS corr_{a}_{b}")
    return (
        "WITH m AS (SELECT "
        + ", ".join(moments)
        + " FROM lineitem) SELECT "
        + ", ".join(corr_exprs)
        + " FROM m"
    )


@_register("lineitem_corr_matrix", _corr_sql())
def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem measures in ONE
    map-combinable aggregation pass. Instead of native ``corr`` (whose
    streaming update order varies with partitioning and differs per
    engine), moments are accumulated EXACTLY: floor-quantized
    micro-unit integers summed as DECIMAL(38,0) — partial-agg order
    cannot change a bit — then each correlation is a short, identical
    double-op sequence on both engines. One shuffle carrying ~10
    decimal buffers at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    units = {
        c: F.floor(F.col(c) * 1_000_000).cast("decimal(38,0)") for c in _CORR_COLS
    }
    aggs = [F.count("*").cast("decimal(38,0)").alias("n")]
    for c, u in units.items():
        aggs.append(F.sum(u).alias(f"s_{c}"))
        aggs.append(F.sum(u * u).alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(units[a] * units[b]).alias(f"sp_{a}_{b}"))
    m = li.agg(*aggs)
    outs = []
    for a, b in pairs:
        num = (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        da = F.sqrt((F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double"))
        db = F.sqrt((F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double"))
        outs.append((num / (da * db)).alias(f"corr_{a}_{b}"))
    return m.select(*outs)


# ===========================================================================
# TPC-H Q3 shape: shipping-priority top-k over a 3-way join
# ===========================================================================
@_register(
    "orders_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_orders_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers ⋈ unshipped orders ⋈
    future-ship lineitems → revenue per order → top 10. Both filters
    push to the scans (cutting the join inputs before any shuffle),
    the customer side broadcasts after its filter, revenue is exact
    decimal, and the final top-k is TakeOrderedAndProject with a total
    (revenue, orderkey) order for cross-engine determinism."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ===========================================================================
# TPC-H Q5 shape: regional supplier volume over a 6-way join
# ===========================================================================
@_register(
    "regional_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join tree (region→nation→customer ⋈
    orders ⋈ lineitem ⋈ supplier with the LOCAL-supplier condition
    c_nationkey = s_nationkey). The dim chain
    (region/nation/supplier/customer-after-filter) broadcasts; only
    orders⋈lineitem shuffles on orderkey. Catalyst pushes the region
    filter through the nation join into the customer side — the
    classic join-reorder/pushdown showcase; revenue exact decimal."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ===========================================================================
# Point-in-time (as-of) join against the SCD2 dimension
# ===========================================================================
@_register(
    "orders_scd2_pointintime",
    f"""
    WITH scd AS (
      {_CUSTOMER_SCD2_SQL}
    )
    SELECT o.o_orderkey, s.custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           s.version, s.attr
    FROM orders o JOIN scd s
      ON o.o_custkey = s.custkey
     AND strftime(o.o_orderdate, '%Y-%m-%d') >= s.valid_from
     AND strftime(o.o_orderdate, '%Y-%m-%d') < s.valid_to
    WHERE o.o_custkey % 25 = 0
    """,
)
def q_orders_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer side of SCD Type-2: enrich each fact row with the
    dimension version VALID AT ITS EVENT TIME — `custkey` equality
    plus the interval residual ``valid_from <= order_date <
    valid_to``. Because the intervals tile each customer's history
    (and the open interval is pinned to 9999-12-31), every order
    matches exactly one version; the join plans as a hash join on the
    equality key with the range as a residual predicate — never a
    cartesian, and at 100 TB the dim side is O(customers × versions),
    the standard broadcast-or-shuffle dimension. Dates compare as
    yyyy-MM-dd strings on both engines (bytewise = chronological).
    The oracle embeds the full SCD2 build as a CTE — the dual queries
    share one definition of truth."""
    scd = q_customer_scd2(spark, sf_dir)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 25 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )
    return (
        o.join(
            scd,
            on=[
                o.o_custkey == scd.custkey,
                F.col("order_date") >= scd.valid_from,
                F.col("order_date") < scd.valid_to,
            ],
        )
        .select("o_orderkey", "custkey", "order_date", "version", "attr")
    )


_DEC = "decimal(18,6)"


# ===========================================================================
# TPC-H Q17 shape: small-quantity-order revenue (correlated scalar subquery)
# ===========================================================================
@_register(
    "lineitem_small_qty_revenue",
    """
    SELECT p.p_brand,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
                AS DOUBLE) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2')
      AND CAST(l.l_quantity AS DECIMAL(18,6)) * 5
          * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
           FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def q_lineitem_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape, deliberately written as SQL WITH the correlated
    scalar subqueries intact: Catalyst decorrelates each ``(SELECT agg
    ... WHERE l2.l_partkey = l.l_partkey)`` into a partkey-grouped
    aggregate joined back on the equality — the textbook
    RewriteCorrelatedScalarSubquery plan (one extra shuffle on
    l_partkey, shared by both subqueries after dedup). The "quantity
    below 20% of the part's average" threshold is cross-multiplied
    (``5 * qty * cnt < sum``) so the comparison is exact decimal
    arithmetic — no division, no float, hash-identical on any engine.
    Scale: the subquery aggregate is map-side combinable per partkey;
    the brand filter pushes to the part scan and prunes the probe side
    before the join."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql(
        """
        SELECT p.p_brand,
               CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
                    AS DOUBLE) AS avg_yearly,
               COUNT(*) AS n_small
        FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ('Brand#1', 'Brand#2')
          AND CAST(l.l_quantity AS DECIMAL(18,6)) * 5
              * (SELECT COUNT(*) FROM q17_lineitem l2
                 WHERE l2.l_partkey = l.l_partkey)
            < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
               FROM q17_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        ORDER BY p.p_brand
        """
    )


# ===========================================================================
# TPC-H Q21 shape: suppliers who were the ONLY late shipper of an order
# ===========================================================================
@_register(
    "supplier_late_only_orders",
    """
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 80 DAY
    ),
    cand AS (
      SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM late l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey)
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM cand JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_supplier_late_only_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness = shipped >80 days after the order
    date, the only date pair this schema carries): for each late
    (order, supplier) pair keep it only if the order involved ANOTHER
    supplier and NO other supplier was late on it.

    Both correlated subqueries fold into per-ORDER aggregates instead
    of semi/anti joins over the pair stream (opt r13, guide §2.3/2.4 —
    the join spelling re-ran the late join+distinct subtree on the
    anti-probe side and shuffled the full lineitem pair stream for the
    semi probe; 18 exchanges / 10 joins / 12 scans in the plan):

    * NOT EXISTS (another LATE supplier) ⇔ the order's distinct late-
      supplier count is 1 — a count on the late table, keeping the one
      supplier via ``min`` (with exactly one distinct value, min IS it).
    * EXISTS (another supplier, late or not) ⇔ min/max of the order's
      lineitem suppliers differ from the late supplier — min/max are
      map-combinable, so the lineitem exchange carries one row per
      order instead of every pair, and no second scan of ``late``.

    Both aggregates key on l_orderkey, so the candidate join reuses
    their partitioning; top-20 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 80 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    solo = (
        late.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__nl"),
            F.min("l_suppkey").alias("l_suppkey"),
        )
        .filter(F.col("__nl") == 1)
        .select("l_orderkey", "l_suppkey")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("__mn"), F.max("l_suppkey").alias("__mx")
    )
    cand = (
        solo.join(per_order, "l_orderkey")
        .filter(
            (F.col("__mn") != F.col("l_suppkey"))
            | (F.col("__mx") != F.col("l_suppkey"))
        )
        .select("l_orderkey", "l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(s), cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ===========================================================================
# TPC-H Q22 shape: idle high-balance customers (global scalar + anti join)
# ===========================================================================
_Q22_CUTOFF = "2000-01-01 00:00:00"


@_register(
    "customers_idle_high_balance",
    f"""
    WITH ab AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > ab.v
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_customers_idle_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers whose balance beats the positive-
    balance average but who placed no order since 2000 — per-nation
    count + total balance. The global average is a 1-row aggregate
    broadcast into the filter (the DataFrame twin of an uncorrelated
    scalar subquery — Catalyst plans the SQL form identically); the
    "no recent order" test is a left-anti join whose date predicate is
    pushed INTO the orders scan, so the anti side is the pruned subset,
    not the whole table. Average = exact decimal sum, ONE IEEE
    division — deterministic on both engines."""
    c = load_table(spark, sf_dir, "customer")
    avg_row = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


# ===========================================================================
# Time-based RANGE window frame: trailing 30-day spend per customer
# ===========================================================================
@_register(
    "orders_trailing_30d_spend",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS t30_spend,
           CAST(COUNT(*) OVER w AS BIGINT) AS t30_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
                / (COUNT(*) OVER w) AS DOUBLE) AS t30_avg
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY epoch_us(o_orderdate)
                 RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_orders_trailing_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-DAY revenue per customer — a true RANGE frame over
    event time (``rangeBetween`` on exact epoch MICROS — the
    ``unix_micros``/``epoch_us`` parity pair, since DuckDB ``epoch()``
    is fractional while Spark ``unix_timestamp`` truncates), not
    a ROWS frame: the frame holds however many orders landed in the
    last 30 days, zero or many, and same-timestamp peers are all
    included (RANGE peer semantics, identical in both engines under
    the UTC session). This is the time-series primitive behind
    trailing-revenue / rolling-MAU metrics; physically one shuffle on
    o_custkey + one sort, with the running frame maintained
    incrementally by Spark's sliding WindowExec (add/remove at the
    frame edges — O(n) per partition, not O(n·frame))."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30 * 86400 * 1_000_000, 0)
    )
    spend = F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        spend.alias("t30_spend"),
        cnt.alias("t30_orders"),
        (spend / cnt).alias("t30_avg"),
    )


# ===========================================================================
# Correlated LATERAL subquery: per-customer top-N without a window
# ===========================================================================
@_register(
    "customer_lateral_top_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey % 20 = 0
    """,
)
def q_customer_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer expressed as a correlated LATERAL
    subquery (ORDER BY + LIMIT inside the lateral body) — the SQL:2003
    surface Spark added lateral-subquery decorrelation for: Catalyst
    rewrites the per-row subquery into a ranked join, so it executes
    as one shuffle, not one subquery per customer row. The window-
    function formulation of the same problem is ``nation_top2_
    customers``; this pins the OTHER spelling end-to-end (DuckDB runs
    the identical text). Total (price DESC, orderkey) order makes the
    LIMIT deterministic cross-engine."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey % 20 = 0
        """
    )


# ===========================================================================
# Global row numbering without the single-task sort
# ===========================================================================
@_register(
    "orders_global_rownum",
    """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT)
             AS row_num
    FROM orders
    """,
)
def q_orders_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (o_orderdate, o_orderkey)-order row numbers via the
    two-phase range-partitioned form (``layout.global_row_number``) —
    NEVER the ``Window.orderBy`` spelling, whose plan funnels the
    whole table through one task (``Exchange SinglePartition``; the
    test pins its absence here). Same answer, all-parallel stages:
    range exchange + per-partition ranks + an O(partitions) offset
    collect. The oracle is the naive window — the equivalence IS the
    point.

    Build jobs: ``global_row_number`` samples ranges and collects their counts."""
    from ipeds_etl_spark.operators.layout import global_row_number

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return global_row_number(o, ["o_orderdate", "o_orderkey"]).select(
        "o_orderkey", "row_num"
    )


# ===========================================================================
# Recursive CTE (Spark 4): bounded multi-hop graph reachability
# ===========================================================================
_RCTE_SQL = """
    WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS key_a, b.l_partkey AS key_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT key_a AS s, key_b AS d FROM pairs
          UNION ALL SELECT key_b, key_a FROM pairs),
    seeds AS (SELECT DISTINCT s AS seed FROM e WHERE s % 100 = 0),
    walk(seed, node, depth) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION ALL
      SELECT w.seed, e.d, w.depth + 1
      FROM walk w JOIN e ON e.s = w.node
      WHERE w.depth < 3
    )
    SELECT seed, CAST(count(DISTINCT node) - 1 AS BIGINT) AS n_reachable_3hop
    FROM walk GROUP BY seed ORDER BY seed
    """


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric co-purchase edge list (s, d): part pairs sharing ≥ 2
    orders, both directions, materialized once (``localCheckpoint``) —
    a recursive CTE re-evaluates referenced CTEs each round, and the
    iterative BFS twin re-joins it per level."""
    items = basket_items(spark, sf_dir)
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("key_a"), F.col("b.l_partkey").alias("key_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= 2)
    )
    return (
        pairs.select(F.col("key_a").alias("s"), F.col("key_b").alias("d"))
        .unionByName(pairs.select(F.col("key_b").alias("s"), F.col("key_a").alias("d")))
        .localCheckpoint(eager=False)
    )


@_register("parts_copurchase_3hop", _RCTE_SQL)
def q_parts_copurchase_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts reachable within 3 co-purchase hops of each seed part —
    Spark 4's RECURSIVE CTE surface, exercised inside its current
    limits: recursion must be UNION ALL (the distinct-union form that
    would terminate on cycles is not supported yet —
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, checked this round), so
    termination comes from the explicit depth bound and dedup happens
    once, in the final DISTINCT aggregate. Path multiplicity is
    bounded by deg³ per seed (this graph: max degree 13). For
    unbounded-diameter closure the DataFrame-iterative components
    operators remain the scale path; this query pins the declarative
    spelling end-to-end against DuckDB's identical recursion.

    SCALE CONTRACT (measured r9): UNION ALL recursion enumerates
    PATHS, O(deg³) per seed — on the 10×-denser sf1 graph that
    exceeds Spark's 1M-row cteRecursionRowLimit. The scale path is
    the level-synchronous frontier-dedup twin
    (``parts_copurchase_3hop_bfs``), registered with the SAME oracle;
    this form stays as the declarative API demo at its documented
    sparse-graph scale.

    Build jobs: the edge list is checkpointed for the recursive CTE."""
    edges = _copurchase_edges(spark, sf_dir)
    edges.createOrReplaceTempView("rcte_edges")
    return spark.sql(
        """
        WITH RECURSIVE seeds AS (
          SELECT DISTINCT s AS seed FROM rcte_edges WHERE s % 100 = 0),
        walk(seed, node, depth) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION ALL
          SELECT w.seed, e.d, w.depth + 1
          FROM walk w JOIN rcte_edges e ON e.s = w.node
          WHERE w.depth < 3
        )
        SELECT seed, CAST(count(DISTINCT node) - 1 AS BIGINT) AS n_reachable_3hop
        FROM walk GROUP BY seed ORDER BY seed
        """
    )


@_register("parts_copurchase_3hop_bfs", _RCTE_SQL)
def q_parts_copurchase_3hop_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS twin of ``parts_copurchase_3hop``
    (VERDICT r9 item 3) — same output contract (depth-bounded
    reachability count per seed), same DuckDB oracle, but the
    DataFrame-iterative form that survives dense graphs.

    SEED-BITMAP spelling (opt r14, VERDICT r13 item 5; guide §8
    "shuffle keys and metadata instead of payloads" + §2.3): the former
    (seed, node) frontier rows made the level-3 expansion the single
    heaviest sf1 stage measured this round — frontier₂ ⋈ edges emitted
    ~240M pair rows whose duplicates mostly cross partitions, so the
    distinct's partial aggregate deduped little and the exchange
    carried nearly all of them (813 of 1188 task-seconds at 32 cores,
    no skew — pure volume). Seeds are multiples of 100, so a seed maps
    to a dense index ``seed div 100`` and the per-node REACHING-SEED
    SET becomes (node, word, bits) rows — one BIGINT carries 64 seeds.
    One BFS round is then: join the bitmap frame to edges on s,
    bitwise-OR per (d, word) (``bit_or`` — idempotent, so map-side
    partial aggregation dedupes REGARDLESS of partitioning, exactly
    what the (seed, node) distinct could not do), and OR the result
    into the previous frame via a full-outer co-keyed merge. No
    distinct, no anti-join, no (seed, node) materialization at any
    level; per-round rows are bounded by nodes × ceil(seeds/64).

    The readout is exact integer bit-counting: per word, 64 codegen'd
    conditional sums ((bits >> b) & 1 — arithmetic shift is safe under
    the & 1 mask) give each seed's reachable count; count includes the
    seed itself, so n_reachable = count − 1 as before. Identical rows
    to the frontier-dedup spelling (unit-pinned against it and against
    brute force), same DuckDB oracle.

    Scale shape: 3 × (shuffle_hash join on s + one bit_or aggregate +
    one co-keyed outer merge), every join pinned (both sides scale
    with the graph; AQE's compressed-bytes estimates are the measured
    defect class), each round's frame lineage-truncated.

    Build jobs: the edge list and every BFS level are checkpointed."""
    return _bfs3_seed_counts(_copurchase_edges(spark, sf_dir))


def _bfs3_seed_counts(edges: DataFrame) -> DataFrame:
    """Seed-bitmap 3-hop BFS over an (s, d) edge frame; seeds are the
    sources divisible by 100 (their ``div 100`` index packs into
    64-seed BIGINT words). Factored from the registered query so the
    bit arithmetic is unit-testable on synthetic graphs whose seed
    indices cross word boundaries."""
    seeds = (
        edges.filter(F.col("s") % 100 == 0)
        .select(F.col("s").alias("seed"))
        .distinct()
    )
    reach = seeds.select(
        F.col("seed").alias("node"),
        F.expr("cast((seed div 100) div 64 as int)").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast((seed div 100) % 64 as int))").alias(
            "bits"
        ),
    ).localCheckpoint(eager=False)
    for _ in range(3):
        expanded = (
            reach.join(edges.hint("shuffle_hash"), reach["node"] == edges["s"])
            .select(F.col("d").alias("node"), "word", "bits")
            .groupBy("node", "word")
            .agg(F.bit_or("bits").alias("bits"))
        )
        merged = (
            reach.withColumnRenamed("bits", "b0")
            .join(
                expanded.withColumnRenamed("bits", "b1").hint("shuffle_hash"),
                ["node", "word"],
                "full_outer",
            )
            .select(
                "node",
                "word",
                (
                    F.coalesce(F.col("b0"), F.lit(0).cast("long")).bitwiseOR(
                        F.coalesce(F.col("b1"), F.lit(0).cast("long"))
                    )
                ).alias("bits"),
            )
        )
        reach = merged.localCheckpoint(eager=False)
    # readout: explode each row's SET bits and count per (word, bit) —
    # rows exploded = Σ closure sizes (small), ONE narrow aggregate.
    # (The first spelling — 64 conditional sums per word in one wide
    # aggregate — was measured 1.4× SLOWER than the r13 form at sf0.1
    # in the paired record: the 64-aggregate expression tree is pure
    # plan/codegen weight in the driver-bound small-scale regime, and
    # buys nothing at sf1 where the joins dominate. Counts identical:
    # a (word, b) group's size IS the number of nodes with that bit
    # set.) Seeds always reach themselves, so every seed has a row and
    # absent groups cannot correspond to seeds.
    counts = (
        reach.select(
            "word",
            F.explode(
                F.filter(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda b: F.call_function(
                        "shiftright", F.col("bits"), b.cast("int")
                    ).bitwiseAND(F.lit(1))
                    == 1,
                )
            ).alias("bit"),
        )
        .groupBy("word", "bit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.select(
        (
            (F.col("word").cast("long") * 64 + F.col("bit")) * 100
        ).alias("seed"),
        (F.col("cnt") - 1).cast("long").alias("n_reachable_3hop"),
    ).orderBy("seed")


# ===========================================================================
# TPC-H Q18 shape: large-volume orders (IN over a grouped HAVING)
# ===========================================================================
@_register(
    "customers_large_orders",
    """
    SELECT c.c_name,
           c.c_custkey,
           o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_customers_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the IN-over-grouped-HAVING form, kept as SQL so
    Catalyst plans the membership test as a LEFT SEMI join against the
    aggregated subquery (no decorrelation needed — the subquery is
    uncorrelated, the planner's cheapest case). The quantity threshold
    sum is exact decimal; the final ordering carries a full tiebreaker
    (totalprice DESC, orderkey) so the LIMIT 100 cut is deterministic
    on any engine and any partitioning. Scale: the HAVING aggregate is
    map-side combinable on l_orderkey, the semi join co-partitions
    with the orders⋈lineitem join on the same key (one exchange
    reused), and TakeOrderedAndProject caps the driver at 100 rows."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q18_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q18_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q18_lineitem")
    return spark.sql(
        """
        SELECT c.c_name,
               c.c_custkey,
               o.o_orderkey,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM q18_customer c
        JOIN q18_orders o ON o.o_custkey = c.c_custkey
        JOIN q18_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM q18_lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY totalprice DESC, o.o_orderkey
        LIMIT 100
        """
    )


# ===========================================================================
# TPC-H Q7 shape: bilateral trade volume between two nations by year
# ===========================================================================
@_register(
    "nations_trade_volume",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
                AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN nation n1   ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2   ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_nations_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the 6-way snowflake join with a DISJUNCTIVE
    pair filter over two dimension branches (supplier nation ×
    customer nation). Discounted revenue follows the house decimal
    idiom (multiply exact decimals, re-round the product to scale 6,
    sum, ONE double cast — the _REV6 rule). Scale: all
    four dimension sides (supplier, customer, nation ×2) broadcast;
    the only exchange is lineitem⋈orders on orderkey, and the nation
    pair predicate prunes before the fact-side shuffle because the
    broadcast joins evaluate first in the same stage."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # Re-round the per-row product to scale 6 BEFORE the sum (the
    # _REV6 idiom): the unrounded DECIMAL(18,12) product overflows
    # 2^53 when summed at sf>=0.1, so the final double cast differs
    # between engines without it.
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ===========================================================================
# TPC-H Q20 shape: dominant suppliers per part (nested correlated agg)
# ===========================================================================
@_register(
    "suppliers_dominant_parts",
    """
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
    FROM supplier s
    JOIN (
      SELECT l_suppkey, l_partkey
      FROM lineitem l1
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) * 6
           > (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
              FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    ) d ON d.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
)
def q_suppliers_dominant_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a correlated scalar aggregate INSIDE a grouped
    HAVING — per (supplier, part) shipped quantity compared against
    a sixth of that part's total across all suppliers (>16.7% share —
    the largest multiplier that yields a non-trivial result set on the
    uniform synthetic quantities). Left as SQL so
    Catalyst decorrelates the inner sum into a partkey aggregate
    joined back on the HAVING's group (the nested form of the Q17
    rewrite). The comparison is cross-multiplied (``sum*6 > total``)
    in exact decimal — no division. Scale: both aggregates are
    map-side combinable over the same lineitem scan; the planner
    shares one exchange on l_partkey between the group and the
    decorrelated subquery, and the supplier join broadcasts."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q20_lineitem")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q20_supplier")
    return spark.sql(
        """
        SELECT s.s_name,
               CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
        FROM q20_supplier s
        JOIN (
          SELECT l_suppkey, l_partkey
          FROM q20_lineitem l1
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) * 6
               > (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
                  FROM q20_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        ) d ON d.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
        ORDER BY s.s_name
        """
    )


# ===========================================================================
# TPC-H Q13 shape: customer order-count distribution (filtered outer join)
# ===========================================================================
@_register(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N (non-urgent)
    orders — INCLUDING the zero bucket, which is the whole point of the
    shape: the priority filter lives in the LEFT JOIN's ON clause, not
    a WHERE (a WHERE would silently drop order-less customers and every
    customer whose orders are all urgent). ``count(o.o_orderkey)``
    counts only matched rows, so unmatched customers land in c_count=0.
    Scale: one orderkey-side filter inside the join, one shuffle on
    custkey shared by the join and the first aggregate; the second
    aggregate's domain is O(max orders per customer) — tiny
    regardless of corpus."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ===========================================================================
# TPC-H Q19 shape: disjunctive predicate spanning both join sides
# ===========================================================================
@_register(
    "parts_promo_revenue_disjunctive",
    """
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                         * (1 - CAST(l_discount AS DECIMAL(18,6)))
                         AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 20 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 35 AND 50)
    """,
)
def q_parts_promo_revenue_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a 3-arm disjunction whose arms mix PART-side
    (brand, size) and LINEITEM-side (quantity) predicates — the
    classic can't-fully-push case. What the planner CAN do, and what
    this pins: extract the common ``p_partkey = l_partkey`` equi key
    (never a cartesian), push the union of each side's arm predicates
    down to its scan as a partial filter (brand IN / size range on
    part, quantity range on lineitem), and evaluate the full
    disjunction as the join residual. Revenue follows the house
    decimal idiom. Scale: part side broadcasts; lineitem scan is
    pre-pruned by the pushed quantity envelope before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(20, 35)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(35, 50)
    )
    # each product rounded back to scale 6 BEFORE the sum: a scale-12
    # decimal sum of this magnitude exceeds 2^53 in integer form and
    # the decimal->double conversion rounds differently per engine
    # (the SCALE.md scale-0 rule, applied at scale 6 here); per-row
    # decimal->decimal rounding is deterministic on both engines
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ===========================================================================
# TPC-H Q12 shape: shipping-delay priority counts (CASE aggregation)
# ===========================================================================
@_register(
    "lineitem_priority_shipping_counts",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate < o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_lineitem_priority_shipping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: lines shipped within 60 days of their order,
    bucketed by return flag with the priority split expressed as CASE
    aggregates — one pass, no second join or pivot. The ship-window
    predicate references BOTH sides, so it evaluates as the join
    residual; the join itself stays equi on orderkey. Scale: one
    orderkey exchange (lineitem side; orders side co-shuffles), then a
    3-group CASE agg that combines map-side."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# TPC-H Q14 shape: promo revenue share (conditional ratio aggregate)
# ===========================================================================
@_register(
    "parts_promo_revenue_share",
    """
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                           * (1 - CAST(l_discount AS DECIMAL(18,6)))
                           AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                             * (1 - CAST(l_discount AS DECIMAL(18,6)))
                             AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE)
             AS promo_revenue_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q_parts_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one year's revenue from PROMO
    parts — two conditional exact-decimal sums and ONE final IEEE
    division (both sums at scale 6; products rounded per-row back to
    scale 6 so neither engine leaves the 2^53-exact integer range).
    Scale: date range pushes to the lineitem scan, part broadcasts,
    the whole thing is one map-combinable single-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
    total = F.sum(rev)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias(
            "promo_revenue_pct"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ===========================================================================
# TPC-H Q16 shape: supplier counts with a NOT IN exclusion (null-aware anti)
# ===========================================================================
@_register(
    "parts_supplier_counts_excluded",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_size IN (1, 14, 23, 45)
      AND p_type <> 'PROMO'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_parts_supplier_counts_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size)
    slice, EXCLUDING a denylist via NOT IN — kept as SQL because NOT IN
    over a nullable key is its own planning shape: Spark must use a
    NULL-AWARE anti join (a single-column broadcast NAAJ; a plain anti
    join would wrongly keep rows when the subquery yields a NULL).
    The denylist (negative-balance suppliers) is broadcast; the
    distinct count rides the Expand rewrite. Scale: part filters push
    to the scan, the only wide exchange is the (brand,type,size,supp)
    distinct."""
    for t in ("part", "lineitem", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q16_{t}")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM q16_part JOIN q16_lineitem ON l_partkey = p_partkey
        WHERE p_size IN (1, 14, 23, 45)
          AND p_type <> 'PROMO'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """
    )


# ===========================================================================
# TPC-H shape completion: Q2/Q4/Q6/Q8/Q9/Q10/Q15 (schema-adapted)
# ===========================================================================
_REV6 = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,6))"
    " * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))"
)


@_register(
    "orders_priority_late_exists",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_orders_priority_late_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with AT LEAST ONE slow line (EXISTS →
    left-semi join, so an order with many late lines counts once
    without a DISTINCT), counted per priority. The correlation crosses
    sides (l_shipdate vs o_orderdate), so the date predicate is the
    semi join's residual on the equi orderkey key. One orderkey
    exchange + a 5-group combinable agg."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q4_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q4_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM q4_orders o
        WHERE EXISTS (SELECT 1 FROM q4_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@_register(
    "lineitem_discount_revenue",
    f"""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                         * CAST(l_discount AS DECIMAL(18,6))
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q_lineitem_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure filter-and-aggregate forecast query —
    every predicate pushes to the parquet scan (date, discount range,
    quantity), no join at all, one single-group combinable sum. The
    plan IS the scan; at 100 TB this measures nothing but IO and
    pushdown quality. Products re-scaled to decimal(18,6) per row
    (the >2^53 rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * F.col("l_discount").cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "nation_market_share",
    f"""
    WITH vol AS (
      SELECT year(l.l_shipdate) AS l_year,
             n1.n_name AS supp_nation,
             {_REV6} AS rev
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA')
    SELECT l_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM(rev) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM vol
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of the revenue sold into a
    region, per year — the conditional-ratio-over-a-snowflake query.
    All five dimension branches broadcast; the only exchange is the
    fact join on orderkey + the year agg. Share = one IEEE division
    of two exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey"))
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select(F.year("l_shipdate").alias("l_year"),
                F.col("supp_nation"), rev.alias("rev"))
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("rev")).otherwise(zero))
    return (
        vol.groupBy("l_year")
        .agg(
            (num.cast("double") / F.sum("rev").cast("double")).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_year")
    )


@_register(
    "nation_year_red_revenue",
    f"""
    SELECT n_name AS nation, year(l_shipdate) AS o_year,
           CAST(SUM({_REV6}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(l_shipdate)
    ORDER BY nation, o_year
    """,
)
def q_nation_year_red_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: supplier-nation × year revenue for a
    LIKE-filtered part family (the product-line profit rollup, minus
    the partsupp cost leg this schema does not carry). The infix LIKE
    pushes as a contains filter on the part scan, part and the
    supplier→nation chain broadcast, one fact exchange feeds the
    (25 nations × years) agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("nation", "o_year")
    )


@_register(
    "customers_returned_revenue_top",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({_REV6}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_customers_returned_revenue_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    half-year window — returned-items triage. Revenue ordering uses
    the exact-decimal-summed double with custkey as total-order
    tiebreak, so the LIMIT 20 cut is engine-deterministic.
    TakeOrderedAndProject caps the driver at 20 rows; customer and
    nation broadcast; one orderkey exchange."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_register(
    "top_supplier_by_revenue",
    f"""
    WITH srev AS (
      SELECT l_suppkey, SUM({_REV6}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(srev.total_rev AS DOUBLE) AS total_rev
    FROM supplier s JOIN srev ON srev.l_suppkey = s.s_suppkey
    WHERE srev.total_rev = (SELECT max(total_rev) FROM srev)
    ORDER BY s.s_suppkey
    """,
)
def q_top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the quarter's MAX
    revenue — a grouped aggregate gated by a scalar aggregate over
    ITSELF with an EQUALITY (ties all surface; no LIMIT hides them).
    The comparison runs on the exact decimal sums — never the doubles
    — so the max-equality is engine-exact. Plan: one suppkey agg
    reused by both the scalar max (single-row broadcast) and the
    probe; supplier broadcasts."""
    for t in ("lineitem", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q15_{t}")
    return spark.sql(
        """
        WITH srev AS (
          SELECT l_suppkey,
                 SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))
                          AS DECIMAL(18,6))) AS total_rev
          FROM q15_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, CAST(srev.total_rev AS DOUBLE) AS total_rev
        FROM q15_supplier s JOIN srev ON srev.l_suppkey = s.s_suppkey
        WHERE srev.total_rev = (SELECT max(total_rev) FROM srev)
        ORDER BY s.s_suppkey
        """
    )


@_register(
    "parts_cheapest_supplier",
    """
    WITH offer AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,6))) AS best_price
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT p.p_partkey, s.s_name,
           CAST(o.best_price AS DOUBLE) AS best_price
    FROM part p
    JOIN offer o ON o.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    WHERE p.p_size = 10
      AND o.best_price = (SELECT MIN(o2.best_price) FROM offer o2
                          WHERE o2.l_partkey = o.l_partkey)
    ORDER BY p.p_partkey, s.s_name
    """,
)
def q_parts_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp-less adaptation): for each size-10
    part, the supplier(s) whose best offered line price equals the
    part's global minimum — the CORRELATED SCALAR MIN + EQUALITY
    pattern (ties surface, as Q2 requires). Catalyst decorrelates the
    min subquery into a partkey aggregate joined back; both the offer
    table and the decorrelated min share the same (partkey) exchange.
    Price comparisons stay in exact decimal; the double cast is
    output-only."""
    for t in ("lineitem", "part", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q2_{t}")
    return spark.sql(
        """
        WITH offer AS (
          SELECT l_partkey, l_suppkey,
                 MIN(CAST(l_extendedprice AS DECIMAL(18,6))) AS best_price
          FROM q2_lineitem GROUP BY l_partkey, l_suppkey)
        SELECT p.p_partkey, s.s_name,
               CAST(o.best_price AS DOUBLE) AS best_price
        FROM q2_part p
        JOIN offer o ON o.l_partkey = p.p_partkey
        JOIN q2_supplier s ON s.s_suppkey = o.l_suppkey
        WHERE p.p_size = 10
          AND o.best_price = (SELECT MIN(o2.best_price) FROM offer o2
                              WHERE o2.l_partkey = o.l_partkey)
        ORDER BY p.p_partkey, s.s_name
        """
    )


# ===========================================================================
# 2-D skyline (Pareto frontier): cheapest-and-smallest parts
# ===========================================================================
@_register(
    "parts_skyline_2d",
    """
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM part p
    WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
          AND q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
    ORDER BY p_retailprice, p_partkey
    """,
)
def q_parts_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (minimize price AND size): a part survives iff no other
    part is ≤ on both dimensions and < on one. In 2-D, dominance
    collapses to a prefix MIN over the price order — a point is on the
    frontier iff it has the min size at its price AND every strictly
    cheaper price's min size is larger — so the O(n²) NOT EXISTS the
    oracle runs becomes: per-price min (one map-combinable shuffle),
    then the distributed two-phase prefix min (per-bucket running min +
    a bucket-level offset table, the ``orders_open_interval_counts``
    recipe — the only global window runs over the O(buckets) offset
    rows, never over data). Ties: equal (price, size) points don't
    dominate each other, so duplicates all survive — both spellings
    agree by construction."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )
    per_price = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    pp = per_price.withColumn(
        "bkt", F.floor(F.col("p_retailprice") / 100.0).cast("long")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pp = pp.withColumn("prev_in", F.min("msize").over(w_in))
    # bucket offsets: O(price-range/100) rows — metadata-sized, the one
    # global window in the plan (same shape as the year-offset table in
    # orders_open_interval_counts)
    bstats = pp.groupBy("bkt").agg(F.min("msize").alias("bmin"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bstats = bstats.withColumn("prev_b", F.min("bmin").over(w_b))
    big = 1 << 31
    prev_min = F.least(
        F.coalesce(F.col("prev_in"), F.lit(big)),
        F.coalesce(F.col("prev_b"), F.lit(big)),
    )
    pref = pp.join(F.broadcast(bstats.select("bkt", "prev_b")), "bkt").select(
        "p_retailprice", "msize", prev_min.alias("prev_min")
    )
    return (
        p.join(pref, "p_retailprice")
        .filter((F.col("p_size") == F.col("msize")) & (F.col("p_size") < F.col("prev_min")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# ===========================================================================
# Gaps-and-islands: per-customer consecutive-month order streaks
# ===========================================================================
@_register(
    "customer_order_streaks",
    """
    WITH months AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
      FROM orders),
    isl AS (SELECT o_custkey, m,
                   m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
            FROM months),
    runs AS (SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS len
             FROM isl GROUP BY 1, 2)
    SELECT o_custkey AS custkey,
           CAST(SUM(len) AS BIGINT) AS active_months,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM runs GROUP BY 1 ORDER BY 1
    """,
)
def q_customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-calendar-month activity runs per
    customer (month_index − row_number is constant within an island —
    the classic Tabibian/SQL-cookbook identity), then per-customer
    streak stats. The dual of ``events_sessionize``: sessionization
    groups by TIME GAP on the raw stream, islands group by CALENDAR
    ADJACENCY on the distinct-period set. One custkey shuffle shared
    by the window and both aggregates; all integer arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    isl = months.withColumn("grp", F.col("m") - F.row_number().over(w))
    runs = isl.groupBy("o_custkey", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        runs.groupBy("o_custkey")
        .agg(
            F.sum("len").alias("active_months"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "active_months",
            "n_streaks",
            "longest_streak",
        )
        .orderBy("custkey")
    )


# ===========================================================================
# Top-k per group WITH TIES (rank, not row_number)
# ===========================================================================
@_register(
    "nation_top_customers_ties",
    """
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS spend
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nationkey, custkey, spend,
             CAST(rank() OVER (PARTITION BY nationkey
                               ORDER BY spend DESC) AS BIGINT) AS rnk
      FROM spend)
    SELECT nationkey, custkey, CAST(spend AS DOUBLE) AS spend, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY nationkey, rnk, custkey
    """,
)
def q_nation_top_customers_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-3 spenders WITH TIES — ``rank()``, not
    ``row_number()``: equal exact-decimal spends share a rank and ALL
    surface, so the result is a function of the data alone (the
    row_number spelling silently drops tied rows by arbitrary choice
    unless a tiebreak key is added — this is the other standards-
    compliant top-k semantics, SQL's FETCH FIRST ... WITH TIES). Spend
    is summed in DECIMAL(18,6) so ties are exact, not float-accidental.
    One custkey-grouped aggregate, one nation-keyed window."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend"))
    )
    w = Window.partitionBy("nationkey").orderBy(F.desc("spend"))
    return (
        spend.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("nationkey", "custkey", F.col("spend").cast("double").alias("spend"), "rnk")
        .orderBy("nationkey", "rnk", "custkey")
    )


# ===========================================================================
# Pareto concentration (80/20) via the distributed global prefix sum
# ===========================================================================
@_register(
    "orders_pareto_8020",
    """
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders GROUP BY 1),
    tot AS (SELECT SUM(spend) AS total FROM spend),
    c AS (SELECT o_custkey, spend,
                 SUM(spend) OVER (ORDER BY spend DESC, o_custkey) AS cum
          FROM spend)
    SELECT CAST(count(*) AS BIGINT) AS total_customers,
           CAST(SUM(CASE WHEN 5 * cum < 4 * total THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS top_customers_for_80pct,
           CAST(SUM(CASE WHEN 5 * cum < 4 * total THEN 1 ELSE 0 END) + 1
                AS DOUBLE) / count(*) AS customer_share,
           CAST(MIN(CASE WHEN 5 * cum >= 4 * total THEN cum END) AS DOUBLE)
             / CAST(MIN(total) AS DOUBLE) AS revenue_share_at_cut
    FROM c CROSS JOIN tot
    """,
)
def q_orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: how many top customers cover 80% of
    revenue (the Pareto question every usage dashboard asks). The
    cumulative spend over the spend-descending order runs through
    ``operators/layout.py::global_prefix_sum`` — per-range-partition
    running sums + O(partitions) driver offsets — NOT a global
    ``SUM() OVER (ORDER BY ...)`` window (an Exchange SinglePartition,
    the oracle's spelling, semantics-only). Decimal partials make the
    distributed prefix bit-equal to the serial one; the 80% threshold
    is cross-multiplied (5·cum ≥ 4·total) so no division happens until
    the two emitted ratios.

    Build jobs: ``global_prefix_sum`` samples ranges and collects their sums."""
    from ipeds_etl_spark.operators.layout import global_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend")
    )
    c = global_prefix_sum(
        spend, [F.desc("spend"), F.asc("o_custkey")], "spend", "cum"
    )
    tot = spend.agg(F.sum("spend").alias("total"))
    below = F.when(5 * F.col("cum") < 4 * F.col("total"), 1).otherwise(0)
    return (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("total_customers"),
            (F.sum(below) + 1).alias("top_customers_for_80pct"),
            F.min(
                F.when(5 * F.col("cum") >= 4 * F.col("total"), F.col("cum"))
            ).alias("_cut_cum"),
            F.min("total").alias("_total"),
        )
        .select(
            "total_customers",
            F.col("top_customers_for_80pct").cast("long").alias(
                "top_customers_for_80pct"
            ),
            (
                F.col("top_customers_for_80pct").cast("double")
                / F.col("total_customers")
            ).alias("customer_share"),
            (
                F.col("_cut_cum").cast("double") / F.col("_total").cast("double")
            ).alias("revenue_share_at_cut"),
        )
    )


# ===========================================================================
# Equi-depth histogram from exact decile cut points
# ===========================================================================
_EQD_QS = [round(0.1 * i, 1) for i in range(1, 10)]


def _equidepth_oracle() -> str:
    cuts = ", ".join(
        f"quantile_disc(l_extendedprice, {q}) AS c{i}"
        for i, q in enumerate(_EQD_QS, 1)
    )
    bucket = " + ".join(
        f"CASE WHEN l_extendedprice > c{i} THEN 1 ELSE 0 END"
        for i in range(1, len(_EQD_QS) + 1)
    )
    return f"""
    WITH cuts AS (SELECT {cuts} FROM lineitem)
    SELECT CAST(1 + {bucket} AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
    FROM lineitem CROSS JOIN cuts
    GROUP BY 1 ORDER BY 1
    """


@_register("lineitem_price_equidepth", _equidepth_oracle())
def q_lineitem_price_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram — the complement of
    ``events_value_histogram``'s equal-WIDTH bins: bucket bounds are
    the exact price deciles (two-pass histogram quantile operator, no
    buffering), broadcast back as a 1-row frame, and each row's bucket
    is a map-side CASE count of exceeded cut points (the RFM cut-point
    recipe generalized to 9 cuts). Ties land in the lowest qualifying
    bucket on both engines (strict >), so bucket populations are a
    pure function of the data — near-equal depths with skewed
    duplicates absorbed deterministically. One scan + the quantile
    passes; final shuffle is O(10 buckets)."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    qrows = exact_quantiles(
        li.withColumn("s", F.lit("all")), "l_extendedprice", _EQD_QS, ["s"]
    )
    cuts = qrows.groupBy().agg(
        *[
            F.max(
                F.when(F.col("q") == F.lit(q), F.col("l_extendedprice"))
            ).alias(f"c{i}")
            for i, q in enumerate(_EQD_QS, 1)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, len(_EQD_QS) + 1):
        bucket = bucket + F.when(
            F.col("l_extendedprice") > F.col(f"c{i}"), 1
        ).otherwise(0)
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(cuts))
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("bucket")
    )


# ===========================================================================
# Winsorized robust statistics (clip at exact p01/p99)
# ===========================================================================
@_register(
    "orders_winsorized_stats",
    """
    WITH cuts AS (
      SELECT quantile_disc(o_totalprice, 0.01) AS lo,
             quantile_disc(o_totalprice, 0.99) AS hi
      FROM orders),
    w AS (
      SELECT CASE WHEN o_totalprice < lo THEN lo
                  WHEN o_totalprice > hi THEN hi
                  ELSE o_totalprice END AS v,
             CASE WHEN o_totalprice < lo OR o_totalprice > hi
                  THEN 1 ELSE 0 END AS clipped
      FROM orders CROSS JOIN cuts)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           min(v) AS lo, max(v) AS hi,
           CAST(CAST(SUM(CAST(floor(v * 100.0) AS DECIMAL(38,0))) AS DOUBLE)
                / 100.0 / count(*) AS DOUBLE) AS winsorized_mean
    FROM w
    """,
)
def q_orders_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the robust-stats cleaning step between clipping
    and dropping: values outside the exact [p01, p99] order statistics
    are pulled TO the fence (not removed), then the mean is computed
    from exact cent-quantized decimal sums (the scale-0 micro-unit
    recipe; o_totalprice has 2 decimal digits so ×100 is lossless).
    Cut points come from the two-pass histogram quantile operator and
    broadcast as one row; clipping is a map-side CASE; the final
    aggregate is one combine-friendly pass. Mirrors what a feature
    pipeline does before z-scoring heavy-tailed monetary columns."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    o = load_table(spark, sf_dir, "orders")
    qrows = exact_quantiles(
        o.withColumn("s", F.lit("all")), "o_totalprice", [0.01, 0.99], ["s"]
    )
    cuts = qrows.groupBy().agg(
        F.max(F.when(F.col("q") == 0.01, F.col("o_totalprice"))).alias("clo"),
        F.max(F.when(F.col("q") == 0.99, F.col("o_totalprice"))).alias("chi"),
    )
    v = (
        F.when(F.col("o_totalprice") < F.col("clo"), F.col("clo"))
        .when(F.col("o_totalprice") > F.col("chi"), F.col("chi"))
        .otherwise(F.col("o_totalprice"))
    )
    clipped = F.when(
        (F.col("o_totalprice") < F.col("clo"))
        | (F.col("o_totalprice") > F.col("chi")),
        1,
    ).otherwise(0)
    w = o.select("o_totalprice").crossJoin(F.broadcast(cuts)).select(
        v.alias("v"), clipped.alias("clipped")
    )
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        (
            F.sum(F.floor(F.col("v") * 100.0).cast("decimal(38,0)")).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1))
        ).alias("winsorized_mean"),
    )


# ===========================================================================
# Weighted median via the distributed global prefix sum
# ===========================================================================
@_register(
    "lineitem_weighted_median_price",
    """
    WITH w AS (
      SELECT l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem),
    tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM w),
    c AS (SELECT v, wt, SUM(wt) OVER (ORDER BY v, wt) AS cum FROM w)
    SELECT min(CASE WHEN 2 * cum >= total_w THEN v END) AS weighted_median,
           CAST(MIN(total_w) AS BIGINT) AS total_weight
    FROM c CROSS JOIN tot
    """,
)
def q_lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price: the first value (in price order)
    whose cumulative weight reaches half the total — lower weighted
    median, integer weights so the threshold compare is the exact
    2·cum ≥ W cross-multiplication. The cumulative weight runs through
    ``global_prefix_sum`` (range exchange + O(partitions) offsets);
    the single-task ORDER BY window exists only in the oracle.
    Determinism note: (v, wt) is NOT unique across duplicate
    lineitems, so PER-ROW cumulative weights are tie-order-dependent
    (and the oracle's default RANGE frame assigns them differently
    than Spark's ROWS frame). Only the CROSSING VALUE is a total
    function of the data: within a tie group all rows share v, so
    whichever permutation the engines pick, the first row with
    2·cum ≥ W carries the same v. Do not rely on per-row prefix
    parity here; use a unique tiebreak (e.g. a row id) if you need
    it.

    Build jobs: ``global_prefix_sum`` samples ranges and collects their sums."""
    from ipeds_etl_spark.operators.layout import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    c = global_prefix_sum(li, [F.asc("v"), F.asc("wt")], "wt", "cum")
    tot = li.agg(F.sum("wt").cast("long").alias("total_w"))
    return (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("total_w"), F.col("v"))
            ).alias("weighted_median"),
            F.min("total_w").cast("long").alias("total_weight"),
        )
    )


# ===========================================================================
# Butterfly (4-cycle) counting on the order-part bipartite graph
# ===========================================================================
@_register(
    "parts_copurchase_butterflies",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(count(*) AS BIGINT) AS n_co
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT CAST(SUM((n_co * (n_co - 1)) // 2) AS BIGINT) AS n_butterflies,
           CAST(count(*) AS BIGINT) AS n_copurchase_pairs,
           CAST(SUM(CASE WHEN n_co >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_with_reinforcement
    FROM pairs
    """,
)
def q_parts_copurchase_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2×2 biclique / 4-cycle) count of the order-part
    bipartite graph — THE cohesion measure for bipartite networks
    (Wang et al., 'Butterfly counting in bipartite networks', and the
    motif behind bipartite clustering coefficients): a butterfly is
    two parts co-purchased by the same TWO orders, i.e. a reinforced
    co-purchase. Counted without enumerating 4-cycles: butterflies =
    Σ over co-purchase pairs of C(n_co, 2) — the pair-count table the
    basket family already materializes (memoized `basket_items` +
    rank-capped in-bucket expansion) plus one integer aggregate.
    n_co·(n_co−1)/2 is exact BIGINT (even product halved)."""
    from ipeds_etl_spark.operators import dedup as DD

    items = basket_items(spark, sf_dir)
    pairs = (
        DD.pairs_within_buckets(
            items,
            ["l_orderkey"],
            F.struct(F.col("l_partkey").alias("id")),
            cap_mode="agg",
        )
        .select(F.col("a.id").alias("p1"), F.col("b.id").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    return pairs.agg(
        F.sum(F.expr("(n_co * (n_co - 1)) div 2"))
        .cast("long")
        .alias("n_butterflies"),
        F.count(F.lit(1)).alias("n_copurchase_pairs"),
        F.sum(F.when(F.col("n_co") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("pairs_with_reinforcement"),
    )


# ===========================================================================
# Per-supplier OLS price trend from exact integer moments
# ===========================================================================
#: centering constants — shifting x and y changes neither the slope
#: nor its exactness, but keeps every cross-moment comfortably inside
#: BIGINT (|x'| <= ~1300 days, |y'| <= ~5.3e6 cents; see magnitude
#: audit in the docstring)
_TREND_X0 = "DATE '1995-01-01'"
_TREND_XC = 1250
_TREND_YC = 5_250_000  # cents


@_register(
    "supplier_price_trend",
    f"""
    WITH pts AS (
      SELECT l_suppkey,
             datediff('day', {_TREND_X0}, CAST(l_shipdate AS DATE)) - {_TREND_XC} AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT)
               - {_TREND_YC} AS y
      FROM lineitem),
    m AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY l_suppkey)
    SELECT l_suppkey,
           n AS n_lines,
           CAST(((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx) AS BIGINT)
             AS slope_millicents_per_day
    FROM m
    WHERE n > 1 AND n * sxx - sx * sx <> 0
    ORDER BY l_suppkey
    """,
)
def q_supplier_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier OLS slope of shipped price vs time — the classic
    "is this supplier's pricing drifting" monitor — computed entirely
    from exact integer moments: x = day index centered on the date
    range's midpoint, y = exact cents centered near the price mean,
    slope = (nΣxy − ΣxΣy)·1000 div (nΣx² − (Σx)²) as a scaled-BIGINT
    fixed point (milli-cents/day). NO floating point anywhere, so the
    result is a total function of the data on both engines.

    Magnitude audit (the reason for the centering constants): with
    |x'| ≤ 1300 and |y'| ≤ 5.3e6 and ~600 lines/supplier at any sf
    (lineitem and supplier scale together), nΣx'y'·1000 ≤ ~2.4e18 —
    inside BIGINT with 4x headroom. If per-supplier line counts ever
    grow 10x beyond that, promote the two products to DECIMAL(38,0)
    (DuckDB's SUM already widens to HUGEINT).

    Scale: ONE map-combinable aggregate over the fact scan (five
    integer sums), output O(suppliers). The slope arithmetic runs on
    the aggregate rows only."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_suppkey",
        (
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date"))
            - F.lit(_TREND_XC)
        ).alias("x"),
        (
            (F.col("l_extendedprice").cast("decimal(18,6)") * 100).cast("bigint")
            - F.lit(_TREND_YC)
        ).alias("y"),
    )
    m = pts.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        m.filter((F.col("n") > 1) & (den != 0))
        .select(
            "l_suppkey",
            F.col("n").alias("n_lines"),
            F.expr(
                "CAST(((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx) AS BIGINT)"
            ).alias("slope_millicents_per_day"),
        )
        .orderBy("l_suppkey")
    )


# ===========================================================================
# Month-of-year seasonality index
# ===========================================================================
@_register(
    "orders_monthly_seasonality",
    """
    WITH m AS (
      SELECT month(o_orderdate) AS month_of_year,
             CAST(count(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    t AS (SELECT SUM(rev) AS total FROM m)
    SELECT month_of_year,
           n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) * 12 / CAST(total AS DOUBLE) AS seasonal_index
    FROM m CROSS JOIN t
    ORDER BY month_of_year
    """,
)
def q_orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index (rev_month × 12 / rev_total — 1.0
    means a perfectly flat month). Sums are exact DECIMAL(18,2) —
    scale 2, not 6, because the 12-group monthly sums approach the
    2^53 integer-form boundary at scale 6 on a few hundred times this
    data (the SCALE.md re-rounding rule applied preemptively: cents
    are exact for money and 10^4 more headroom). One double
    multiply-by-12 (exact) + one IEEE division at the end.

    Scale: one 12-group map-combinable agg + a broadcast 1-row total —
    the cheapest possible seasonality readout at any corpus size."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").alias("month_of_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    t = m.agg(F.sum("rev").alias("total"))
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "month_of_year",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            (F.col("rev").cast("double") * 12 / F.col("total").cast("double")).alias(
                "seasonal_index"
            ),
        )
        .orderBy("month_of_year")
    )


# ===========================================================================
# Histogram quantile estimator with built-in calibration against exact
# ===========================================================================
_HQ_BINS = 256
_HQ_QS = (0.5, 0.9, 0.99)


@_register(
    "lineitem_histogram_quantile_error",
    f"""
    WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      min(l_extendedprice) AS lo,
                      max(l_extendedprice) AS hi FROM lineitem),
    b AS (SELECT CAST(least({_HQ_BINS - 1},
                 floor((l_extendedprice - lo) * {_HQ_BINS} / (hi - lo))) AS INT) AS bin,
                 CAST(count(*) AS BIGINT) AS c
          FROM lineitem CROSS JOIN s GROUP BY 1),
    cb AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM b),
    tgt AS (SELECT q, greatest(0, CAST(ceil(q * n) AS BIGINT) - 1) AS r
            FROM (SELECT unnest([{", ".join(str(q) for q in _HQ_QS)}]) AS q)
            CROSS JOIN s),
    hit AS (SELECT tgt.q, min(cb.bin) AS bin
            FROM tgt JOIN cb ON cb.cum > tgt.r GROUP BY tgt.q),
    ex AS ({" UNION ALL ".join(
        f"SELECT {q} AS q, quantile_disc(l_extendedprice, {q}) AS exact_value FROM lineitem"
        for q in _HQ_QS)})
    SELECT hit.q,
           lo + (bin + 1) * ((hi - lo) / {_HQ_BINS}) AS est_value,
           ex.exact_value,
           lo + (bin + 1) * ((hi - lo) / {_HQ_BINS}) - ex.exact_value AS err
    FROM hit JOIN ex ON hit.q = ex.q CROSS JOIN s
    ORDER BY hit.q
    """,
)
def q_lineitem_histogram_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass equi-width histogram quantile ESTIMATOR with its
    calibration gate attached: estimate p50/p90/p99 of price from a
    256-bin histogram (right bin edge of the bin containing the target
    order statistic), then report the error against the EXACT two-pass
    order statistic — the accuracy audit that justifies shipping the
    one-pass estimator on a 100 TB column where even the two-pass
    exact costs a second scan. Bin assignment and edge arithmetic use
    the IDENTICAL operation order on both engines (every step a
    correctly-rounded IEEE op), so estimates — not just errors — hash
    cross-engine.

    Scale: the estimator is ONE map-combinable agg into ≤256 counters
    (constant state, CMS-style); the cumulative window runs over 256
    rows; the exact side is the standard two-pass histogram quantile.
    At 100 TB you run the estimator per-batch and the exact gate on
    samples — both shapes are here."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    # one materialized 1-column projection feeds all consumers (stats
    # agg, histogram, both exact-quantile passes) — without it each
    # consumer re-plans its own parquet scan (9 scans in the first
    # audit; the events_temporal_split single-scan rule)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("v"))
        .localCheckpoint(eager=False)
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = (
        li.crossJoin(F.broadcast(s))
        .select(
            F.least(
                F.lit(_HQ_BINS - 1),
                F.floor(
                    (F.col("v") - F.col("lo")) * _HQ_BINS / (F.col("hi") - F.col("lo"))
                ),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(Window.orderBy("bin")))
    )
    tgt = s.select(
        "n",
        F.explode(array_lit([float(q) for q in _HQ_QS])).alias("q"),
    ).select(
        "q",
        F.greatest(
            F.lit(0).cast("long"), (F.ceil(F.col("q") * F.col("n")) - 1).cast("long")
        ).alias("r"),
    )
    hit = (
        tgt.join(F.broadcast(binned), F.col("cum") > F.col("r"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    exact = exact_quantiles(
        li.withColumn("g", F.lit("all")), "v", list(_HQ_QS), ["g"], n_buckets=4096
    ).select("q", F.col("v").alias("exact_value"))
    est = F.col("lo") + (F.col("bin") + 1) * (
        (F.col("hi") - F.col("lo")) / _HQ_BINS
    )
    return (
        hit.join(exact, "q")
        .crossJoin(F.broadcast(s))
        .select(
            "q",
            est.alias("est_value"),
            "exact_value",
            (est - F.col("exact_value")).alias("err"),
        )
        .orderBy("q")
    )


# ===========================================================================
# Customer spend-decile YoY transition matrix (mobility analysis)
# ===========================================================================
_DEC_Y1, _DEC_Y2 = 1996, 1997
_DEC_QS = [round(0.1 * i, 1) for i in range(1, 10)]


def _decile_oracle() -> str:
    qlist = ", ".join(str(q) for q in _DEC_QS)
    bucket = " + ".join(
        f"CASE WHEN spend > cuts[{i}] THEN 1 ELSE 0 END"
        for i in range(1, len(_DEC_QS) + 1)
    )
    return f"""
    WITH sp AS (
      SELECT o_custkey, year(o_orderdate) AS y,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders WHERE year(o_orderdate) IN ({_DEC_Y1}, {_DEC_Y2})
      GROUP BY 1, 2),
    cuts AS (
      SELECT y, quantile_disc(spend, [{qlist}]) AS cuts FROM sp GROUP BY y),
    dec AS (
      SELECT sp.o_custkey, sp.y, CAST(1 + {bucket} AS INTEGER) AS decile
      FROM sp JOIN cuts ON sp.y = cuts.y)
    SELECT a.decile AS decile_{_DEC_Y1}, b.decile AS decile_{_DEC_Y2},
           CAST(count(*) AS BIGINT) AS n_customers
    FROM dec a JOIN dec b ON a.o_custkey = b.o_custkey
     AND a.y = {_DEC_Y1} AND b.y = {_DEC_Y2}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@_register("customer_decile_transition", _decile_oracle())
def q_customer_decile_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-decile mobility matrix: customers are
    bucketed into WITHIN-YEAR spend deciles and the (decile_y1 →
    decile_y2) transition counts come out — the cohort-mobility
    readout behind churn/upsell models, and for a training-data
    pipeline the drift check on any score whose deciles should be
    stable across snapshots. Deciles use exact per-year quantile
    cutoffs from the two-pass histogram quantile (`exact_quantiles`
    with year as the group — NEVER ntile(), whose global sort is one
    task per partition clause), and bucket assignment is the RFM
    cut-point CASE chain over a broadcast 9-cutoff row. Customers
    active in only one of the two years drop out via the inner join
    (documented choice — the matrix is over the retained cohort).

    Scale: one (customer, year) spend agg; quantile's two passes over
    it; bucketing map-side against broadcast cutoffs; the transition
    join is customer-keyed between two year-slices of the same frame;
    output ≤ 100 cells.

    Build jobs: a lazy ``localCheckpoint`` runs its shuffle stage under AQE."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    o = load_table(spark, sf_dir, "orders")
    sp = (
        o.filter(F.year("o_orderdate").isin(_DEC_Y1, _DEC_Y2))
        .groupBy(
            "o_custkey", F.year("o_orderdate").alias("y")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
        .localCheckpoint(eager=False)
    )
    cuts = (
        exact_quantiles(sp, "spend", _DEC_QS, ["y"])
        .groupBy("y")
        .agg(F.sort_array(F.collect_list("spend")).alias("cuts"))
    )
    bucket = F.lit(1)
    for i in range(1, len(_DEC_QS) + 1):
        bucket = bucket + F.when(
            F.col("spend") > F.element_at("cuts", i), 1
        ).otherwise(0)
    dec = sp.join(F.broadcast(cuts), "y").select(
        "o_custkey", "y", bucket.cast("int").alias("decile")
    )
    a, b = dec.alias("a"), dec.alias("b")
    return (
        a.filter(F.col("a.y") == _DEC_Y1)
        .join(
            b.filter(F.col("b.y") == _DEC_Y2),
            F.col("a.o_custkey") == F.col("b.o_custkey"),
        )
        .groupBy(
            F.col("a.decile").alias(f"decile_{_DEC_Y1}"),
            F.col("b.decile").alias(f"decile_{_DEC_Y2}"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(f"decile_{_DEC_Y1}", f"decile_{_DEC_Y2}")
    )


# ===========================================================================
# Supplier concentration per part (Herfindahl-Hirschman index)
# ===========================================================================
@_register(
    "parts_supplier_hhi",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2),
    p AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(q * q) AS BIGINT) AS sq2,
             CAST(SUM(q) AS BIGINT) AS qt
      FROM ps GROUP BY 1)
    SELECT l_partkey, n_suppliers,
           CAST((sq2 * 10000) // (qt * qt) AS BIGINT) AS hhi_bp
    FROM p WHERE qt > 0
    ORDER BY l_partkey
    """,
)
def q_parts_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration monitor: the Herfindahl–Hirschman index of
    each part's supplier quantity shares, in basis points —
    HHI = Σ share² = Σq²·10000 div (Σq)², cross-multiplied so the
    whole figure is one truncating integer division (10000 bp = single
    supplier, 10000/n = perfectly split). The procurement-risk dual of
    `suppliers_dominant_parts`' share threshold.

    Scale: two map-combinable aggs — (part, supplier) quantity, then
    the per-part moment rollup; both ride the same partkey-prefixed
    key, so AQE coalesces them into one effective exchange. Output
    O(parts). Magnitude: q ≤ 50·lines-per-(part,supplier); q²·10⁴
    needs ~2^47 per part at 1000× this density — BIGINT-safe."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,0)")).cast("bigint").alias("q")
    )
    p = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("q") * F.col("q")).alias("sq2"),
        F.sum("q").alias("qt"),
    )
    return (
        p.filter(F.col("qt") > 0)
        .select(
            "l_partkey",
            "n_suppliers",
            F.expr("CAST((sq2 * 10000) div (qt * qt) AS BIGINT)").alias("hhi_bp"),
        )
        .orderBy("l_partkey")
    )


# ===========================================================================
# Inter-purchase gap quantiles (per-customer lag gaps, exact order stats)
# ===========================================================================
@_register(
    "customer_interpurchase_gaps",
    """
    WITH g AS (
      SELECT datediff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders),
    gg AS (SELECT gap FROM g WHERE gap IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(quantile_disc(gap, 0.5) AS BIGINT) AS p50_days,
           CAST(quantile_disc(gap, 0.9) AS BIGINT) AS p90_days,
           CAST(SUM(gap) AS BIGINT) AS sum_days,
           CAST(SUM(gap) AS DOUBLE) / count(*) AS mean_days
    FROM gg
    """,
)
def q_customer_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide inter-purchase cadence: per-customer consecutive
    order gaps (a lag window inside each customer partition — O(orders
    per customer) state), then EXACT p50/p90 of the gap distribution
    through the two-pass histogram quantile (the percentile() sort-agg
    would buffer every gap on one reducer) plus the exact-integer
    mean. The repurchase-cycle number behind churn windows and
    replenishment forecasts.

    Scale: one custkey exchange for the lag, the quantile's two
    map-combinable passes over the gap column, and a 1-row rollup —
    gaps never collect anywhere.

    Build jobs: a lazy ``localCheckpoint`` runs its shuffle stage under AQE."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
        .localCheckpoint(eager=False)
    )
    qs = (
        exact_quantiles(g.withColumn("s", F.lit("all")), "gap", [0.5, 0.9], ["s"])
        .groupBy()
        .pivot("q", [0.5, 0.9])
        .agg(F.first("gap"))
        .select(
            F.col("`0.5`").cast("long").alias("p50_days"),
            F.col("`0.9`").cast("long").alias("p90_days"),
        )
    )
    stats = g.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").cast("long").alias("sum_days"),
        (F.sum("gap").cast("double") / F.count(F.lit(1))).alias("mean_days"),
    )
    return stats.crossJoin(F.broadcast(qs)).select(
        "n_gaps", "p50_days", "p90_days", "sum_days", "mean_days"
    )


# ===========================================================================
# Join-key overlap profiler (sketch-estimated selectivity vs exact)
# ===========================================================================
def _join_profile_oracle() -> str:
    from ipeds_etl_spark.operators import sketches as SK

    ska = SK.kmv_sketch_sql("CAST(o_custkey AS VARCHAR)", KMV_K)
    skb = SK.kmv_sketch_sql("CAST(c_custkey AS VARCHAR)", KMV_K)
    merged = SK.kmv_merge_sql("a.sk", "b.sk", KMV_K)
    union_est = SK.kmv_estimate_from_sql("m", KMV_K)
    return f"""
    WITH a AS (SELECT {ska} AS sk FROM orders),
    b AS (SELECT {skb} AS sk FROM customer),
    p AS (SELECT a.sk AS ska, b.sk AS skb, {merged} AS m FROM a, b),
    est AS (
      SELECT {union_est} AS union_est,
             CAST(len(list_intersect(list_intersect(m, ska), skb)) AS DOUBLE)
               / len(m) AS jaccard_est
      FROM p),
    ex AS (
      SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_a,
             (SELECT count(DISTINCT c_custkey) FROM customer) AS exact_b,
             (SELECT count(*) FROM (
                SELECT DISTINCT o_custkey FROM orders
                INTERSECT SELECT DISTINCT c_custkey FROM customer))
               AS exact_common)
    SELECT est.union_est, est.jaccard_est,
           est.jaccard_est * est.union_est AS intersection_est,
           CAST(ex.exact_a AS BIGINT) AS exact_a,
           CAST(ex.exact_b AS BIGINT) AS exact_b,
           CAST(ex.exact_common AS BIGINT) AS exact_common
    FROM est CROSS JOIN ex
    """


@_register("orders_customer_join_profile", _join_profile_oracle())
def q_orders_customer_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-selectivity profiling from sketches — estimate how much of
    each side's key domain a join will touch BEFORE paying the join:
    one KMV sketch per side (each a single map-combinable agg over its
    own table — the two scans never meet), Theta-algebra
    union/Jaccard/intersection estimates on the merged k-minima, and
    the exact distinct/intersection counts alongside as calibration.
    This is the profile a pipeline consults to pick broadcast vs
    shuffle vs bloom-pruned join strategies (`orders_bloom_semi_join`
    is the action this readout justifies), and the same sketches
    stored per table-partition give partition-level overlap maps for
    free (merge is associative).

    Scale: sketch state ≤ k hashes per side regardless of table size;
    the estimate algebra runs on ONE 1×1 row pair. The exact columns
    are the gate-scale audit."""
    from ipeds_etl_spark.operators import sketches as SK

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.agg(SK.kmv_sketch(F.col("o_custkey").cast("string"), KMV_K).alias("ska"))
    b = c.agg(SK.kmv_sketch(F.col("c_custkey").cast("string"), KMV_K).alias("skb"))
    p = a.crossJoin(F.broadcast(b)).select(
        "ska", "skb", SK.kmv_merge(F.col("ska"), F.col("skb"), KMV_K).alias("m")
    )
    union_est = SK.kmv_estimate_from(F.col("m"), KMV_K)
    jacc = (
        F.size(F.array_intersect(F.array_intersect("m", "ska"), "skb")).cast("double")
        / F.size("m")
    )
    est = p.select(union_est.alias("union_est"), jacc.alias("jaccard_est"))
    oa = o.select(F.col("o_custkey").alias("k")).distinct()
    cb = c.select(F.col("c_custkey").alias("k")).distinct()
    ex = (
        oa.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(F.broadcast(cb.agg(F.count(F.lit(1)).alias("exact_b"))))
        .crossJoin(
            F.broadcast(
                oa.intersect(cb).agg(F.count(F.lit(1)).alias("exact_common"))
            )
        )
    )
    return est.crossJoin(F.broadcast(ex)).select(
        "union_est",
        "jaccard_est",
        (F.col("jaccard_est") * F.col("union_est")).alias("intersection_est"),
        "exact_a",
        "exact_b",
        "exact_common",
    )

# ===========================================================================
# Header/detail reconciliation (order total vs line-item rollup)
# ===========================================================================
@_register(
    "orders_header_detail_reconciliation",
    """
    WITH lsum AS (
      SELECT l_orderkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6)))
               AS detail_rev
      FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS header_total,
             lsum.detail_rev,
             abs(CAST(o.o_totalprice AS DECIMAL(18,6)) - lsum.detail_rev) AS adiff
      FROM orders o LEFT JOIN lsum ON lsum.l_orderkey = o.o_orderkey)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN detail_rev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_headerless,
           CAST(SUM(CASE WHEN adiff * 100 <= header_total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_1pct,
           CAST(SUM(CASE WHEN adiff * 100 > header_total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_1pct,
           CAST(max(adiff) AS DOUBLE) AS max_abs_diff
    FROM j
    """,
)
def q_orders_header_detail_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-header reconciliation — the bread-and-butter data-quality
    check on any header/detail pair: per-order discounted line revenue
    (exact decimal, the _REV6 re-round) against the order header's
    total, profiled as exact-match bands (within/beyond 1%, header
    with no lines). The 1% band is cross-multiplied in decimal
    (adiff·100 ≤ total — no ratio is ever floated), so every count is
    engine-exact; only max_abs_diff converts to double, once.

    Scale: one orderkey-keyed map-combinable rollup of lineitem + a
    same-key join to orders (co-partitioned by AQE on the shared key)
    + a 1-row profile. The per-order diff column is what a DQ alert
    would persist; the 1-row profile is what the dashboard reads."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
    ).cast("decimal(18,6)")
    lsum = li.groupBy("l_orderkey").agg(F.sum(rev).alias("detail_rev"))
    # the detail rollup is FACT-derived (O(orders) rows) — never let
    # AQE broadcast it from compression-skewed size estimates (31 s at
    # sf1 vs 4 s shuffled; the similarity-reattach lesson): pin a
    # shuffle-hash join on the shared orderkey, which both sides'
    # exchanges already provide
    j = o.select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,6)").alias("header_total")
    ).join(lsum.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"), "left")
    adiff = F.abs(F.col("header_total") - F.col("detail_rev"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("detail_rev").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_headerless"),
        F.sum(F.when(adiff * 100 <= F.col("header_total"), 1).otherwise(0))
        .cast("long")
        .alias("n_within_1pct"),
        F.sum(F.when(adiff * 100 > F.col("header_total"), 1).otherwise(0))
        .cast("long")
        .alias("n_beyond_1pct"),
        F.max(adiff).cast("double").alias("max_abs_diff"),
    )


# ===========================================================================
# STL-lite: integer-exact trend / day-of-week seasonal / residual
# ===========================================================================
@_register(
    "orders_stl_lite",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             isodow(o_orderdate) AS dow,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    tr AS (
      SELECT d, dow, cents,
             CAST(SUM(cents) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  // (count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
                  AS BIGINT) AS trend
      FROM daily),
    se AS (
      SELECT dow, CAST(SUM(cents - trend) // count(*) AS BIGINT) AS seasonal
      FROM tr GROUP BY dow)
    SELECT strftime(tr.d, '%Y-%m-%d') AS day,
           tr.cents, tr.trend, se.seasonal,
           tr.cents - tr.trend - se.seasonal AS residual
    FROM tr JOIN se ON tr.dow = se.dow
    ORDER BY day
    """,
)
def q_orders_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition, fully integer: daily revenue in
    exact cents; TREND = centered 7-day moving average (truncating
    integer division of an exact window sum — the edges use the
    partial window, same rule both engines); SEASONAL = per-ISO-dow
    mean of the detrended series (again one truncating div); RESIDUAL
    = exact remainder. Each component is a BIGINT, so
    cents == trend + seasonal + residual reconciles bit-for-bit and
    the decomposition is a total function of the data — the anomaly
    baseline `events_seasonal_anomaly` reads off raw cells, this one
    removes trend first (the classic decomposition split).

    Scale: the corpus compacts to O(days) rows in one map-combinable
    agg; every window thereafter runs over the compacted daily frame
    (the rolling-anomaly compaction rule)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        ((F.dayofweek("o_orderdate") + 5) % 7 + 1).alias("dow"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "dow",
        "cents",
        F.expr(
            "CAST(SUM(cents) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " div (count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))"
            " AS BIGINT)"
        ).alias("trend"),
    )
    se = tr.groupBy("dow").agg(
        F.expr("CAST(SUM(cents - trend) div count(*) AS BIGINT)").alias("seasonal")
    )
    return (
        tr.join(F.broadcast(se), "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "cents",
            "trend",
            "seasonal",
            (F.col("cents") - F.col("trend") - F.col("seasonal")).alias("residual"),
        )
        .orderBy("day")
    )

# ===========================================================================
# Relational set similarity: suppliers near-identical by part portfolio
# ===========================================================================
def _supplier_sim_oracle() -> str:
    from ipeds_etl_spark.functions.hashing import PARITY_HEX_DIGITS
    from ipeds_etl_spark.operators.dedup import (
        MERSENNE_P,
        N_PERMS,
        ROWS_PER_BAND,
        minhash_perms,
    )

    h = f"CAST(concat('0x', substr(sha256(x), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    mins = ",\n             ".join(
        f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_perms(N_PERMS))
    )
    def band_key(b):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        return " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    bands_union = " UNION ALL ".join(
        f"SELECT l_suppkey, {b} AS band, {band_key(b)} AS band_key FROM sig"
        for b in range(N_PERMS // ROWS_PER_BAND)
    )
    return f"""
    WITH sets AS (
      SELECT l_suppkey, list_distinct(list(CAST(l_partkey AS VARCHAR))) AS s
      FROM lineitem GROUP BY l_suppkey),
    hv AS (SELECT l_suppkey, list_transform(s, x -> {h}) AS hv FROM sets),
    sig AS (SELECT l_suppkey, {mins} FROM hv),
    bands AS ({bands_union}),
    pairs AS (
      SELECT DISTINCT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.l_suppkey < b.l_suppkey)
    SELECT pairs.supp_a, pairs.supp_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
    FROM pairs JOIN sets sa ON sa.l_suppkey = pairs.supp_a
               JOIN sets sb ON sb.l_suppkey = pairs.supp_b
    ORDER BY pairs.supp_a, pairs.supp_b
    """


@_register("suppliers_similar_by_parts", _supplier_sim_oracle())
def q_suppliers_similar_by_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH set-similarity on a RELATIONAL set — supplier pairs whose
    part portfolios band-collide, with exact portfolio Jaccard on the
    candidate sliver: the text-dedup machinery
    (`minhash_signatures_from_sets` + the same banded index) applied
    to "documents" that are sets of part keys. At 100 TB this is how
    you find near-identical entities by behavior (suppliers by
    catalog, users by event vocabulary, baskets by contents) without
    an O(n²) set-similarity join — the generalization the operator
    layer was designed for.

    Scale: one (supplier, part) distinct + collect_set agg builds the
    portfolios (set size bounded by catalog breadth); signatures are
    map-only; candidates are bucket collisions; Jaccard touches only
    the collided pairs."""
    from ipeds_etl_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures_from_sets,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_suppkey").agg(
        F.array_distinct(
            F.collect_list(F.col("l_partkey").cast("string"))
        ).alias("s")
    )
    sigs = minhash_signatures_from_sets(sets, "s", "l_suppkey")
    buckets = lsh_band_buckets(sigs, "l_suppkey")
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("supp_a"), F.col("b.l_suppkey").alias("supp_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("l_suppkey").alias("supp_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("l_suppkey").alias("supp_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    # |A∪B| = |A|+|B|−|A∩B| on distinct arrays (opt r13)
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        pairs.join(sa, "supp_a")
        .join(sb, "supp_b")
        .select("supp_a", "supp_b", (inter.cast("double") / union).alias("jaccard"))
        .orderBy("supp_a", "supp_b")
    )


# ===========================================================================
# Data-layout audit: z-order vs insertion-order min/max pruning
# ===========================================================================
#: 4 bits per dimension -> 8-bit z-value -> 64 files of 4 z-cells each.
_Z_FILES = 64


def _z_interleave_sql(pk: str, sk: str) -> str:
    terms = []
    for j in range(4):
        terms.append(f"(({pk} >> {j}) & 1) * {1 << (2 * j + 1)}")
        terms.append(f"(({sk} >> {j}) & 1) * {1 << (2 * j)}")
    return " + ".join(terms)


@_register(
    "lineitem_zorder_stats",
    f"""
    WITH q AS (
      SELECT CAST(l_partkey % 16 AS BIGINT) AS pk,
             CAST(l_suppkey % 16 AS BIGINT) AS sk,
             CAST(l_orderkey % {_Z_FILES} AS BIGINT) AS fn
      FROM lineitem),
    z AS (SELECT pk, sk, fn,
                 ({_z_interleave_sql('pk', 'sk')}) // 4 AS fz
          FROM q),
    zstat AS (SELECT fz, min(pk) AS pmin, max(pk) AS pmax,
                     min(sk) AS smin, max(sk) AS smax
              FROM z GROUP BY fz),
    nstat AS (SELECT fn, min(pk) AS pmin, max(pk) AS pmax,
                     min(sk) AS smin, max(sk) AS smax
              FROM z GROUP BY fn),
    hits AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM zstat) AS n_files,
        (SELECT CAST(SUM(CASE WHEN pmin <= 7 AND pmax >= 4
                               AND smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM zstat) AS z_box_files,
        (SELECT CAST(SUM(CASE WHEN pmin <= 7 AND pmax >= 4
                               AND smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM nstat) AS nat_box_files,
        (SELECT CAST(SUM(CASE WHEN smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM zstat) AS z_dim_files,
        (SELECT CAST(SUM(CASE WHEN smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM nstat) AS nat_dim_files,
        (SELECT CAST(SUM(CASE WHEN pk BETWEEN 4 AND 7
                               AND sk BETWEEN 8 AND 11
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM z) AS box_rows)
    SELECT * FROM hits
    """,
)
def q_lineitem_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: how many files does min/max (zone-map)
    pruning actually skip under a z-order clustering vs the natural
    insertion order? Rows are bucketed on two dims (partkey%16,
    suppkey%16), the 4+4 bits are interleaved into an 8-bit z-value,
    and files are 4-cell z-ranges (64 files) — vs 64 round-robin
    insertion-order files (`orderkey % 64`). For each layout the
    per-file (min,max) of both dims is the zone map, and a file is
    SCANNED when its ranges overlap the predicate box — exactly the
    parquet row-group pruning rule. Readout: a 4×4 box query and a
    one-dim band query touch ~4 and ~16 of 64 z-files but ALL 64
    insertion-order files (every round-robin file spans the full
    bucket range). Pure integer arithmetic end to end.

    Scale: this is THE mechanism that makes 100 TB scans affordable —
    writing fact tables z-ordered on the two most-filtered columns
    turns zone maps into a 4–16× scan reduction that insertion order
    never delivers. The audit itself is two map-combinable group-bys
    (64 groups each) + one filter count; the six scalar outputs are
    1-row broadcast-joined frames. The WRITE side of the same story is
    ``operators/layout.py::zorder_write`` (range-partition on the
    Morton code, parquet-footer-verified by
    ``tests/test_layout.py::test_zorder_localizes_both_dimensions``);
    this query is its oracle-checked analytical twin — same bit
    interleave, measured at the zone-map level.

    Build jobs: the z-ordered frame is checkpointed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 16).cast("long").alias("pk"),
        (F.col("l_suppkey") % 16).cast("long").alias("sk"),
        (F.col("l_orderkey") % _Z_FILES).cast("long").alias("fn"),
    )
    z = li.withColumn(
        "fz", F.expr(f"({_z_interleave_sql('pk', 'sk')}) div 4")
    ).localCheckpoint()

    def zone(df: DataFrame, fcol: str) -> DataFrame:
        return df.groupBy(fcol).agg(
            F.min("pk").alias("pmin"),
            F.max("pk").alias("pmax"),
            F.min("sk").alias("smin"),
            F.max("sk").alias("smax"),
        )

    zstat, nstat = zone(z, "fz"), zone(z, "fn")
    box = (
        (F.col("pmin") <= 7)
        & (F.col("pmax") >= 4)
        & (F.col("smin") <= 11)
        & (F.col("smax") >= 8)
    )
    dim = (F.col("smin") <= 11) & (F.col("smax") >= 8)

    def cnt(df: DataFrame, cond, name: str) -> DataFrame:
        return df.agg(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        )

    n_files = zstat.agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    rows = z.agg(
        F.sum(
            F.when(F.col("pk").between(4, 7) & F.col("sk").between(8, 11), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("box_rows")
    )
    out = (
        n_files.crossJoin(cnt(zstat, box, "z_box_files"))
        .crossJoin(cnt(nstat, box, "nat_box_files"))
        .crossJoin(cnt(zstat, dim, "z_dim_files"))
        .crossJoin(cnt(nstat, dim, "nat_dim_files"))
        .crossJoin(rows)
    )
    return out


# ===========================================================================
# Join-key skew profile: exact Gini + concentration shares
# ===========================================================================
@_register(
    "orders_key_skew_profile",
    """
    WITH f AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY o_custkey),
    r AS (SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM f),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS tot,
                 CAST(SUM(i * c) AS BIGINT) AS ic FROM r),
    t10 AS (SELECT CAST(SUM(c) AS BIGINT) AS top10
            FROM (SELECT c FROM f ORDER BY c DESC, k ASC LIMIT 10)),
    mx AS (SELECT CAST(MAX(c) AS BIGINT) AS maxc FROM f)
    SELECT n AS n_keys, tot AS total_rows,
           CAST(2 * ic - (n + 1) * tot AS DOUBLE) / (n * tot) AS gini,
           CAST((1000 * top10) // tot AS BIGINT) AS top10_share_x1000,
           CAST((1000 * maxc) // tot AS BIGINT) AS max_key_share_x1000
    FROM s CROSS JOIN t10 CROSS JOIN mx
    """,
)
def q_orders_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for orders ⋈ customer on o_custkey —
    the numbers a shuffle planner wants BEFORE picking a strategy:
    exact Gini coefficient of the key-frequency distribution (the
    textbook G = (2·Σ i·cᵢ − (n+1)·Σc) / (n·Σc) over ascending-sorted
    counts — numerator and denominator exact BIGINTs, ONE IEEE
    division), top-10-key share and max-single-key share in exact
    permille. Gini ≈ 0 ⇒ hash partitioning balances; high Gini + high
    max share ⇒ a hot-key join that AQE's skew-join split (on in
    ``session.py``) is there to break up.

    Scale: frequency table is one map-combinable agg to O(keys) rows;
    the ascending rank comes from `global_row_number` (range exchange
    + O(partitions) offsets — no SinglePartition window); top-10 is
    TakeOrderedAndProject. The oracle's ORDER BY window is the
    single-node replay.

    Build jobs: ``global_row_number`` samples ranges and collects their counts."""
    from ipeds_etl_spark.operators.layout import global_row_number

    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    r = global_row_number(f, [F.asc("c"), F.asc("k")], "i")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("ic"),
        F.max("c").cast("long").alias("maxc"),
    )
    t10 = (
        f.orderBy(F.desc("c"), F.asc("k"))
        .limit(10)
        .agg(F.sum("c").cast("long").alias("top10"))
    )
    return s.crossJoin(F.broadcast(t10)).select(
        F.col("n").alias("n_keys"),
        F.col("tot").alias("total_rows"),
        (
            (2 * F.col("ic") - (F.col("n") + 1) * F.col("tot")).cast("double")
            / (F.col("n") * F.col("tot"))
        ).alias("gini"),
        F.expr("CAST((1000 * top10) div tot AS BIGINT)").alias(
            "top10_share_x1000"
        ),
        F.expr("CAST((1000 * maxc) div tot AS BIGINT)").alias(
            "max_key_share_x1000"
        ),
    )


# ===========================================================================
# Benford first-digit DQ screen on order totals
# ===========================================================================
#: Benford probabilities log10(1+1/d), scaled 1e6 — fixed integer
#: CONSTANTS (they sum to exactly 1,000,000), so no libm at query time
_BENFORD_X1E6 = (
    (1, 301030),
    (2, 176091),
    (3, 124939),
    (4, 96910),
    (5, 79181),
    (6, 66947),
    (7, 57992),
    (8, 51153),
    (9, 45757),
)


@_register(
    "orders_benford_dq",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit),
    exp AS (SELECT * FROM (VALUES
      {", ".join(f"({d}, {p})" for d, p in _BENFORD_X1E6)}) AS t(digit, p_x1e6))
    SELECT exp.digit, coalesce(cnt, 0) AS cnt, p_x1e6,
           CAST((1000000 * coalesce(cnt, 0)) // n AS BIGINT) AS obs_x1e6,
           CAST(1000000 * coalesce(cnt, 0) - n * p_x1e6 AS BIGINT)
             AS deviation_x1e6
    FROM exp LEFT JOIN obs USING (digit) CROSS JOIN n
    ORDER BY exp.digit
    """,
)
def q_orders_benford_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order totals — the forensic DQ
    test for fabricated or truncated numeric columns. First digit via
    integer rendering (floor → BIGINT → first char: integers print
    identically on every engine; raw DOUBLE strings do not), expected
    shares as FIXED integer constants log10(1+1/d)·10⁶ (they sum to
    exactly 10⁶ — no libm at query time), deviations as exact
    1e6-scaled BIGINTs. The χ² statistic assembles from these exact
    cells in the test; the query itself performs zero IEEE operations.

    Scale: one map + one 9-group agg; the expected table is a 9-row
    literal joined broadcast."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    exp = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(dg).cast("long").alias("digit"),
                            F.lit(p).cast("long").alias("p_x1e6"),
                        )
                        for dg, p in _BENFORD_X1E6
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            "p_x1e6",
            F.expr(
                "CAST((1000000 * coalesce(cnt, 0)) div n AS BIGINT)"
            ).alias("obs_x1e6"),
            (
                1000000 * F.coalesce(F.col("cnt"), F.lit(0))
                - F.col("n") * F.col("p_x1e6")
            )
            .cast("long")
            .alias("deviation_x1e6"),
        )
        .orderBy("digit")
    )


# ===========================================================================
# Skyline layers (onion peeling of the 2-D Pareto frontier)
# ===========================================================================
_SKY_LAYERS = 3


def _skyline_pass(p: DataFrame) -> DataFrame:
    """One 2-D skyline over (p_retailprice, p_size), both minimized —
    the prefix-min spelling of `parts_skyline_2d` (per-price min, then
    the distributed two-phase prefix min; no O(n²) join, no full-data
    window)."""
    per_price = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    pp = per_price.withColumn(
        "bkt", F.floor(F.col("p_retailprice") / 100.0).cast("long")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pp = pp.withColumn("prev_in", F.min("msize").over(w_in))
    bstats = pp.groupBy("bkt").agg(F.min("msize").alias("bmin"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bstats = bstats.withColumn("prev_b", F.min("bmin").over(w_b))
    big = 1 << 31
    prev_min = F.least(
        F.coalesce(F.col("prev_in"), F.lit(big)),
        F.coalesce(F.col("prev_b"), F.lit(big)),
    )
    pref = pp.join(F.broadcast(bstats.select("bkt", "prev_b")), "bkt").select(
        "p_retailprice", "msize", prev_min.alias("prev_min")
    )
    return (
        p.join(pref, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("msize"))
            & (F.col("p_size") < F.col("prev_min"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


def _skyline_layers_oracle() -> str:
    parts = [
        """p0 AS (SELECT p_partkey, p_retailprice, p_size FROM part
             WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)"""
    ]
    for k in range(1, _SKY_LAYERS + 1):
        parts.append(
            f"""s{k} AS (
      SELECT * FROM p{k - 1} p WHERE NOT EXISTS (
        SELECT 1 FROM p{k - 1} q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)))"""
        )
        parts.append(
            f"""p{k} AS (
      SELECT * FROM p{k - 1}
      WHERE p_partkey NOT IN (SELECT p_partkey FROM s{k}))"""
        )
    union = " UNION ALL ".join(
        f"SELECT {k} AS layer, p_partkey, p_retailprice, p_size FROM s{k}"
        for k in range(1, _SKY_LAYERS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(layer AS BIGINT) AS layer, p_partkey, p_retailprice, p_size
    FROM ({union})
    ORDER BY layer, p_retailprice, p_partkey"""
    )


@_register("parts_skyline_layers", _skyline_layers_oracle())
def q_parts_skyline_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion peeling of the cheapest-and-smallest Pareto frontier:
    layer 1 is the skyline, layer 2 the skyline of what remains, layer
    3 of the rest — the ranking a sourcing engine uses when the first
    frontier is exhausted (and, in data terms, the layered non-
    dominated sort NSGA-style selection uses). Each peel is the
    prefix-min skyline (per-price min + two-phase distributed prefix
    min — never the O(n²) dominance join the oracle runs), the
    remainder shrinks monotonically, and the layer count is FIXED at
    3 (the house iterative contract; remainder localCheckpointed per
    round).

    Scale: 3 × (one per-price agg + one metadata-sized bucket window
    + one anti join on p_partkey) — all linear passes.

    Build jobs: each peel round checkpoints the remaining points."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_retailprice", "p_size")
        .localCheckpoint(eager=False)
    )
    out = None
    cur = p
    for k in range(1, _SKY_LAYERS + 1):
        sky = _skyline_pass(cur).withColumn("layer", F.lit(k).cast("long"))
        out = sky if out is None else out.unionByName(sky)
        if k < _SKY_LAYERS:
            cur = cur.join(
                sky.select("p_partkey"), "p_partkey", "left_anti"
            ).localCheckpoint(eager=False)
    return out.select("layer", "p_partkey", "p_retailprice", "p_size").orderBy(
        "layer", "p_retailprice", "p_partkey"
    )


# ===========================================================================
# Seasonal-naive forecast backtest on monthly revenue
# ===========================================================================
@_register(
    "orders_seasonal_naive_backtest",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS actual_cents
      FROM orders GROUP BY date_trunc('month', o_orderdate)),
    j AS (
      SELECT a.month, a.actual_cents, f.actual_cents AS forecast_cents
      FROM m a JOIN m f
        ON f.month = strftime(CAST(a.month || '-01' AS DATE)
                              - INTERVAL 12 MONTH, '%Y-%m'))
    SELECT month, actual_cents, forecast_cents,
           abs(actual_cents - forecast_cents) AS abs_err_cents,
           CAST((1000 * abs(actual_cents - forecast_cents)) // actual_cents
                AS BIGINT) AS ape_x1000
    FROM j ORDER BY month
    """,
)
def q_orders_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (ŷ_m = y_{m−12}) on
    monthly order revenue — the baseline every demand-forecast model
    must beat, produced the way a backtest harness wants it: one row
    per forecastable month with the exact absolute error and
    per-month APE in truncated permille. Revenue is floor-quantized
    to integer CENTS per order before summing (the scale-0 rule —
    double sums are order-dependent, cent sums are exact), so errors
    are exact BIGINTs; WAPE assembles in the test as Σ|err| over
    Σactual. Lag-12 is an equi-join on the shifted month key, not a
    window — no ordering requirement at all.

    Scale: one map-combinable monthly rollup to O(months) rows;
    everything after runs on that metadata-sized frame.

    Build jobs: a lazy ``localCheckpoint`` runs its shuffle stage under AQE."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("actual_cents")
    ).localCheckpoint(eager=False)
    f = m.select(
        F.date_format(
            F.add_months(F.to_date(F.concat(F.col("month"), F.lit("-01"))), 12),
            "yyyy-MM",
        ).alias("month"),
        F.col("actual_cents").alias("forecast_cents"),
    )
    return (
        m.join(f, "month")
        .select(
            "month",
            "actual_cents",
            "forecast_cents",
            F.abs(F.col("actual_cents") - F.col("forecast_cents")).alias(
                "abs_err_cents"
            ),
            F.expr(
                "CAST((1000 * abs(actual_cents - forecast_cents))"
                " div actual_cents AS BIGINT)"
            ).alias("ape_x1000"),
        )
        .orderBy("month")
    )


# ===========================================================================
# Per-supplier order-to-ship lag percentiles (exact, histogram-based)
# ===========================================================================
@_register(
    "supplier_ship_latency_percentiles",
    """
    WITH lag AS (
      SELECT l_suppkey AS suppkey,
             CAST(datediff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) AS BIGINT) AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h AS (SELECT suppkey, d, CAST(count(*) AS BIGINT) AS c
          FROM lag GROUP BY suppkey, d),
    cum AS (SELECT suppkey, d, c,
                   CAST(SUM(c) OVER (PARTITION BY suppkey ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum,
                   CAST(SUM(c) OVER (PARTITION BY suppkey) AS BIGINT) AS n
            FROM h)
    SELECT suppkey, CAST(min(n) AS BIGINT) AS n_items,
           CAST(min(CASE WHEN 2 * cum >= n THEN d END) AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN 10 * cum >= 9 * n THEN d END) AS BIGINT)
             AS p90_days,
           CAST(min(CASE WHEN 100 * cum >= 99 * n THEN d END) AS BIGINT)
             AS p99_days,
           CAST(min(d) AS BIGINT) AS min_days
    FROM cum GROUP BY suppkey ORDER BY suppkey
    """,
)
def q_supplier_ship_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-supplier order-to-ship lag SLA profile: exact p50/p90/p99
    in days via the integer histogram trick — lag days are a small
    integer domain, so the per-supplier cumulative runs over a
    histogram of O(distinct lags) rows, never over line items, and
    the percentile is the cross-multiplied cutoff (2·cum ≥ n etc.),
    not an engine quantile function. Negative minimums (present in
    this corpus) surface as the DQ smell they are — an SLA profile
    that hides them is lying.

    Scale: one fact-fact equi-join on the orderkey exchange, one
    map-combinable (supplier, lag) count, per-supplier windows over
    the metadata-sized histogram, one O(suppliers) rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("d"),
    )
    h = lag.groupBy("suppkey", "d").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window as W

    w_cum = (
        W.partitionBy("suppkey")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("suppkey")
    cum = h.select(
        "suppkey",
        "d",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    return (
        cum.groupBy("suppkey")
        .agg(
            F.min("n").cast("long").alias("n_items"),
            F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("d")))
            .cast("long")
            .alias("p50_days"),
            F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("d")))
            .cast("long")
            .alias("p90_days"),
            F.min(F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("d")))
            .cast("long")
            .alias("p99_days"),
            F.min("d").cast("long").alias("min_days"),
        )
        .orderBy("suppkey")
    )


# ===========================================================================
# Exact Gini concentration over the distributed global rank
# ===========================================================================
@_register(
    "customer_revenue_gini",
    """
    WITH rev AS (SELECT o_custkey AS c,
                        CAST(floor(SUM(o_totalprice)) AS BIGINT) AS x
                 FROM orders GROUP BY 1),
    r AS (SELECT c, x,
                 CAST(row_number() OVER (ORDER BY x, c) AS BIGINT) AS rnk
          FROM rev)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(x) AS BIGINT) AS total_revenue,
           CAST((CAST(1000 AS HUGEINT) * (2 * CAST(sum(rnk * x) AS HUGEINT)
                    - (CAST(count(*) AS HUGEINT) + 1) * CAST(sum(x) AS HUGEINT)))
             // (CAST(count(*) AS HUGEINT) * CAST(sum(x) AS HUGEINT))
             AS BIGINT) AS gini_x1000
    FROM r
    """,
)
def q_customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue concentration via
    the rank formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    ascending-sorted revenues — the single number behind every
    "how concentrated is our corpus/revenue/token budget" audit, here
    integer-exact: revenues floor to whole currency units (SUM the
    exact decimals FIRST, floor once) and the result ships ×1000
    truncated. Arithmetic envelope (ADVICE r9: the original BIGINT
    form wrapped silently at ~sf10 — 1000·(2T−(n+1)S) ≈ 1000·G·n·S
    reaches ~10²¹ ≫ 2⁶³): every product/sum past the per-row rnk·x is
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), good to n·Σx < 10³⁵ ≈
    sf10¹⁴ — checked-overflow types on both engines, so an envelope
    breach raises instead of recording garbage. The integral quotient
    is recovered exactly as (numer − numer % denom) / denom — decimal
    remainder is exact, and decimal division of an exact multiple
    yields the exact integer — rather than `div`, which Spark defines
    only on integral operands.

    Scale: the rank comes from ``layout.global_row_number`` — the
    two-phase range-exchange form — NOT a ``row_number() OVER (ORDER
    BY ...)`` window, whose plan funnels the whole table through one
    ``Exchange SinglePartition`` task (the oracle spells it that way
    because DuckDB is single-node anyway; the Spark plan must not).
    One combinable final aggregate; ties broken by custkey so the
    rank is a well-defined function of the data on both engines.

    Build jobs: ``global_row_number`` samples ranges and collects their counts."""
    from ipeds_etl_spark.operators.layout import global_row_number

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.floor(F.sum("o_totalprice")).cast("long").alias("x")
    )
    r = global_row_number(rev, ["x", "c"], "rnk")
    return gini_from_ranked(r)


def gini_from_ranked(r: DataFrame) -> DataFrame:
    """Decimal-exact gini×1000 from a ``(x, rnk)`` frame (ascending
    dense global rank, 1-based). Split out so the overflow envelope is
    testable on synthetic magnitudes the tables never reach
    (test_round10_ops: values where the old int64 form wrapped)."""
    dec = "decimal(38,0)"
    return (
        r.agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            # per-row rnk·x fits int64 (rnk ≤ n, x per key — the
            # stated per-row contract); everything ACCUMULATED is
            # decimal(38,0), including Σx: a plain long sum wraps
            # silently, a decimal one raises (caught writing the
            # round-10 envelope test)
            F.sum(F.col("x").cast(dec)).cast(dec).alias("__s"),
            F.sum((F.col("rnk") * F.col("x")).cast(dec)).cast(dec).alias("__t"),
        )
        .select(
            "n_customers",
            F.col("__s").alias("__sdec"),
            (
                F.lit(1000).cast(dec)
                * (
                    F.lit(2).cast(dec) * F.col("__t")
                    - (F.col("n_customers").cast(dec) + F.lit(1).cast(dec))
                    * F.col("__s")
                )
            ).alias("__numer"),
            (F.col("n_customers").cast(dec) * F.col("__s")).alias("__denom"),
        )
        .select(
            "n_customers",
            F.col("__sdec").cast("long").alias("total_revenue"),
            ((F.col("__numer") - F.col("__numer") % F.col("__denom")) / F.col("__denom"))
            .cast("long")
            .alias("gini_x1000"),
        )
    )
