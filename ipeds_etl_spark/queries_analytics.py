"""Round-5 relational-analytics query families: temporal dimension
modeling (SCD2), co-occurrence pair mining, sequential pattern mining,
cohort revenue analysis, semantic dedup policy, full-outer
reconciliation, and the classic TPC-H pricing-summary shape.

Same contract as ``queries_ext``: every query is registered with a
DuckDB oracle that replicates the exact value (dates pinned to
formatted strings, money sums in decimal, deterministic tie-breaks on
every window/order), so the driver's value-hash gate applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.plans.views import exact_sum
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries_ext import (
    _band_key_sql,
    _cos_sql,
    _ivf_codebook,
    _ivf_sql,
    _minhash_sig_sql,
)
from ipeds_etl_spark.sources.tables import load_table


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
@_register(
    "customer_scd2",
    """
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
    """,
)
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
    from ipeds_etl_spark.queries_ext import _basket_items

    items = _basket_items(spark, sf_dir)
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
# Sequential pattern mining: top event-type paths
# ===========================================================================
@_register(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 15
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: top 3-step event-type paths across
    users. ``lead`` over (user, time) turns each row into its own
    trigram — NO per-user array materialization (a power user with
    10⁷ events costs window-sort, not memory), one shuffle on
    ``user_id``, then a combinable count and a distributed top-k.
    Time ties broken by event_id for cross-engine determinism."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(F.concat_ws(" > ", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(15)
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
# SemDeDup: semantic keep/drop verdict per vector
# ===========================================================================
@_register(
    "emb_semantic_dedup",
    f"""
    WITH {_ivf_sql()},
    pairs AS (
      SELECT b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.4),
    dropped AS (SELECT DISTINCT id_b FROM pairs)
    SELECT e.vec_id, (d.id_b IS NULL) AS keep
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id_b
    """,
)
def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup policy: within each IVF centroid
    cluster, a vector is DROPPED when it is cosine-≥θ similar to any
    lower-id vector (the lower id is the canonical survivor). Composes
    the capped in-bucket pair expansion with an anti-join verdict —
    cluster-local work, so the 100 TB cost is one centroid shuffle
    plus bucket-bounded pair checks, never a corpus self-join.
    Ref policy: Abbas et al., "SemDeDup" (arXiv:2303.09540) — keep one
    representative per semantic near-dup group."""
    e = load_table(spark, sf_dir, "embeddings")
    from ipeds_etl_spark.operators import arrowverify as AV

    # drop verdict via per-member max cosine (opt r14, guide §2.3 +
    # §4.2): a vector is dropped iff it is the b-side of ANY qualifying
    # pair, i.e. iff the max cosine over its earlier in-bucket partners
    # reaches θ — so the Arrow member-stats kernel (same capped arrays,
    # same pair enumeration, same IEEE cosine as the pair verify;
    # bit-parity pinned by kernel tests + this oracle) yields the
    # dropped set directly, with no qualifying-hit stream and no
    # distinct exchange. Members with no qualifying pair carry the
    # -1.0 sentinel and fail mc >= θ, exactly like their absence from
    # a pair stream's id_b side.
    assigned = SIM.assign_centroids(
        e, "vec_id", "embedding", None, cent_rows=_ivf_codebook(spark, sf_dir)
    )
    stats = AV.member_cos_stats_within_buckets(
        assigned.select("centroid_id", "vec_id", "embedding"),
        ["centroid_id"],
        "vec_id",
        "embedding",
        floor=0.4,
        thresholds=[],
    )
    dropped = stats.filter(F.col("mc") >= 0.4).select(F.col("id").alias("drop_id"))
    return e.select("vec_id").join(
        dropped, e.vec_id == dropped.drop_id, "left"
    ).select("vec_id", F.col("drop_id").isNull().alias("keep"))


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
# Time-series resample + LOCF gap fill
# ===========================================================================
_BUCKET_SECS = 21600  # 6-hour grid → 120 buckets over the 30-day corpus


@_register(
    "events_resample_locf",
    f"""
    WITH b AS (
      SELECT user_id, epoch_us(ts) // {_BUCKET_SECS * 1000000} AS bucket,
             value, ts, event_id
      FROM events),
    lastv AS (
      SELECT user_id, bucket, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM b) WHERE rn = 1),
    bounds AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM b),
    grid AS (
      SELECT u.user_id, g.bucket
      FROM (SELECT DISTINCT user_id FROM b) u
      CROSS JOIN (SELECT unnest(generate_series(b0, b1)) AS bucket FROM bounds) g)
    SELECT g.user_id,
           strftime(to_timestamp(g.bucket * {_BUCKET_SECS}), '%Y-%m-%d %H:%M:%S')
             AS bucket_ts,
           last_value(l.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
           (l.value IS NULL) AS is_gap
    FROM grid g LEFT JOIN lastv l
      ON g.user_id = l.user_id AND g.bucket = l.bucket
    """,
)
def q_events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to a fixed grid with last-observation-
    carried-forward gap fill: per (user, 6h bucket) take the last
    value, densify to the full corpus grid (per-user sequence explode
    — map-side row generation, no grid table), then LOCF via
    ``last(ignorenulls)`` over the user window. ONE shuffle on
    user_id serves both the join and the fill window; the grid bounds
    are a 1-row broadcast. Scale: output is users × buckets — the
    grid explode happens AFTER the per-bucket compaction, so the big
    raw table is touched exactly once."""
    e = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros("ts") / F.lit(_BUCKET_SECS * 1_000_000)).cast("long")
    b = e.select(
        "user_id", bucket.alias("bucket"), "value", "ts", "event_id"
    )
    w_last = Window.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    lastv = (
        b.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "bucket", "value")
    )
    bounds = b.agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
    grid = (
        b.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(lastv, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            F.date_format(
                F.timestamp_seconds(F.col("bucket") * _BUCKET_SECS),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket_ts"),
            F.last("value", ignorenulls=True).over(w_fill).alias("value_locf"),
            F.col("value").isNull().alias("is_gap"),
        )
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

    Ref: Page et al., 'The PageRank citation ranking' (1999)."""
    from ipeds_etl_spark.queries_ext import _basket_items

    items = _basket_items(spark, sf_dir)
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
    lift is a distributed TakeOrdered, never a global sort."""
    # items feeds THREE plan branches (pairs, supports, universe
    # count); Catalyst does not share subplans, so materialize the
    # deduped frame once — otherwise the lineitem scan + DISTINCT
    # SHUFFLE run 3× (audit showed 4 scans before this). Costs ~0.3s
    # of write-back at sf0.1 where scans are OS-cached; at cluster
    # scale one materialization vs three full-table shuffles is not
    # close.
    from ipeds_etl_spark.queries_ext import _basket_items

    items = _basket_items(spark, sf_dir)
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
# End-to-end dedup resolution over the WHOLE corpus
# ===========================================================================
def _dedup_resolution_sql() -> str:
    from ipeds_etl_spark.queries import ORACLE_SQL

    # reuse the recursive-CTE fixpoint of dedup_components, then join
    # the verdict back onto the full corpus (singletons keep themselves)
    comp = ORACLE_SQL["dedup_components"]
    head, _, _tail = comp.rpartition("SELECT id AS doc_id")
    return (
        head
        + """
    SELECT d.doc_id,
           coalesce(c.component_id, d.doc_id) AS cluster_id,
           coalesce(CAST(c.component_size AS BIGINT), 1) AS cluster_size,
           (c.id IS NULL OR c.id = c.component_id) AS keep
    FROM documents d
    LEFT JOIN (SELECT id, component_id,
                      count(*) OVER (PARTITION BY component_id) AS component_size
               FROM comps) c
      ON d.doc_id = c.id
    """
    )


@_register("docs_dedup_resolution", None)
def q_docs_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end dedup pipeline in one query: MinHash → LSH
    buckets → candidate pairs → connected components → per-document
    keep/drop verdict over the ENTIRE corpus (docs in no pair are
    their own singleton cluster, kept). This is what a training-data
    run actually executes; the pieces are separately oracle-checked
    (`dedup_minhash_lsh`, `dedup_components`) and this composition is
    too. Scale = the sum of its parts: map-only signatures, bucket
    shuffle, capped expansion, O(diameter) label rounds, one left
    join back to the corpus."""
    from ipeds_etl_spark.operators.components import dedup_clusters

    from ipeds_etl_spark.queries_ext import _lsh_doc_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = _lsh_doc_pairs(spark, sf_dir)
    clusters = dedup_clusters(pairs)  # (id, component_id, component_size, keep)
    return (
        d.select("doc_id")
        .join(clusters, d.doc_id == clusters.id, "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("cluster_id"),
            F.coalesce(F.col("component_size").cast("long"), F.lit(1)).alias(
                "cluster_size"
            ),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


from ipeds_etl_spark.queries import ORACLE_SQL as _OSQL  # noqa: E402

_OSQL["docs_dedup_resolution"] = _dedup_resolution_sql()


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
# Text normalization (canonical form for exact dedup)
# ===========================================================================
_ACCENTS_FROM = "àáâãäåèéêëìíîïòóôõöùúûüçñÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑ"
_ACCENTS_TO = "aaaaaaeeeeiiiiooooouuuucnAAAAAAEEEEIIIIOOOOOUUUUCN"


@_register(
    "docs_normalize_text",
    f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 translate(lower(text), '{_ACCENTS_FROM}', '{_ACCENTS_TO}'),
                 '[^\\p{{L}}\\p{{N}}\\s]+', ' ', 'g'),
               '\\s+', ' ', 'g')) AS norm,
             text
      FROM documents)
    SELECT doc_id,
           sha256(norm) AS norm_sha,
           CAST(len(norm) AS BIGINT) AS norm_len,
           norm <> text AS changed
    FROM n
    """,
)
def q_docs_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization for dedup/canonicalization:
    lowercase → fixed-table accent fold (``translate`` with an
    identical table on both engines — no reliance on engine-specific
    Unicode folding) → punctuation→space → whitespace collapse →
    trim → sha256 of the canonical form. Pure regexp/translate
    expression chain: a map-only 100 TB pass that fuses into any
    ingest scan; pair with ``exact_dedup`` on ``norm_sha`` for
    normalization-insensitive exact dedup."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.lower(F.col("text")), _ACCENTS_FROM, _ACCENTS_TO),
                r"[^\p{L}\p{N}\s]+",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.sha2(norm, 256).alias("norm_sha"),
        F.length(norm).cast("long").alias("norm_len"),
        (norm != F.col("text")).alias("changed"),
    )


# ===========================================================================
# Containment pairs (near-subset detection)
# ===========================================================================
@_register(
    "docs_containment_pairs",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id, list_distinct(s) AS sh FROM sh),
    pairs AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
             CAST(len(x.sh) AS BIGINT) AS n_a,
             CAST(len(y.sh) AS BIGINT) AS n_b
      FROM cand c
      JOIN sets x ON x.doc_id = c.id_a
      JOIN sets y ON y.doc_id = c.id_b)
    SELECT id_a, id_b, n_common,
           CAST(n_common AS DOUBLE) / n_a AS a_in_b,
           CAST(n_common AS DOUBLE) / n_b AS b_in_a
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / least(n_a, n_b) >= 0.5
    """,
)
def q_docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT between LSH candidate pairs — catches
    near-SUBSET duplication (doc A pasted inside doc B) that symmetric
    Jaccard under-scores: containment(A,B) = |A∩B|/|A| is high even
    when B is much bigger. Candidates come from the capped LSH
    pipeline (never all-pairs); shingle sets are re-attached by
    equi-join and compared with one ``array_intersect`` per pair.
    Every ratio is one IEEE division of exact counts. Ref policy: Lee
    et al., 'Deduplicating Training Data Makes Language Models
    Better' (arXiv:2107.06499) flags sub-document duplication."""
    from ipeds_etl_spark.queries_ext import _lsh_doc_pairs

    d = load_table(spark, sf_dir, "documents")
    cand = _lsh_doc_pairs(spark, sf_dir)
    sets = d.select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.array_distinct(TX.shingles_of(F.col("w"), 3)).alias("sh"),
    )
    x = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    y = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    out = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
    )
    return (
        out.filter(
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b")
            >= 0.5
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n_a")).alias("a_in_b"),
            (F.col("n_common").cast("double") / F.col("n_b")).alias("b_in_a"),
        )
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
# Sliding (overlapping) event-time windows
# ===========================================================================
@_register(
    "events_sliding_active_users",
    """
    WITH w AS (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
             user_id, value
      FROM events)
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM w GROUP BY win_start
    """,
)
def q_events_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows (2h length, 1h slide — each event in
    exactly two windows): distinct active users + event count per
    window via ``F.window(ts, '2 hours', '1 hour')``, the overlapping
    twin of the tumbling family. Spark expands the slide internally
    (an Expand node, map-side ×2 row factor) before the agg; the
    oracle replays it with an explicit 2-element unnest. Distinct-user
    is the standard two-phase Expand; shuffle is O(windows), window
    alignment is the shared epoch-hour grid (UTC session both
    engines)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "active_users",
            "n_events",
        )
    )


# ===========================================================================
# Point-in-time (as-of) join against the SCD2 dimension
# ===========================================================================
@_register("orders_scd2_pointintime", None)
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


_OSQL["orders_scd2_pointintime"] = f"""
    WITH scd AS (
      {_OSQL["customer_scd2"]}
    )
    SELECT o.o_orderkey, s.custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           s.version, s.attr
    FROM orders o JOIN scd s
      ON o.o_custkey = s.custkey
     AND strftime(o.o_orderdate, '%Y-%m-%d') >= s.valid_from
     AND strftime(o.o_orderdate, '%Y-%m-%d') < s.valid_to
    WHERE o.o_custkey % 25 = 0
    """
