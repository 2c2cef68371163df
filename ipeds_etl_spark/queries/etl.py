"""The reference ETL surface: every operator of SURVEY.md §2 as a named
query over the star-schema testdata, with the DuckDB oracle that the
correctness gate runs on the same parquet files. The flagship,
``kpi_yearly``, is the yearly KPI rollup (reference
``architecture.md:55``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import (
    coalesce_pick,
    safe_double,
    safe_int,
    safe_str,
    stable_hash,
)
from ipeds_etl_spark.operators.merge import upsert_on_pk
from ipeds_etl_spark.plans.views import dim_lookup, enrich_join, exact_sum, latest_per_key_window
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# A2 `kpi_group_agg` — flagship: yearly KPI rollup (≅ yearly_kpis,
# reference architecture.md:55). Ratio KPIs from exact sums.
# ---------------------------------------------------------------------------
@_register(
    "kpi_yearly",
    """
    SELECT year(o_orderdate) AS order_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_order_value,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS open_rate
    FROM orders
    GROUP BY year(o_orderdate)
    """,
)
def q_kpi_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
            (exact_sum("o_totalprice") / F.count("*")).alias("avg_order_value"),
            (
                F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("open_rate"),
        )
    )


# ---------------------------------------------------------------------------
# W1 `latest_per_key` — latest order per customer (≅ institutions_latest,
# reference architecture.md:52). Window variant keeps whole rows; ties
# broken totally by (date, orderkey).
# ---------------------------------------------------------------------------
@_register(
    "latest_per_key",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return latest_per_key_window(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )


# Aggregate formulation of the same view (max_by — no window sort; the
# shape we'd run at 100 TB).
@_register(
    "latest_per_key_agg",
    """
    SELECT o_custkey, o_orderdate AS last_order_date,
           o_orderkey AS last_order_key, o_totalprice AS last_order_price
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q_latest_per_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    tie = F.struct("o_orderdate", "o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order_date"),
        F.max_by("o_orderkey", tie).alias("last_order_key"),
        F.max_by("o_totalprice", tie).alias("last_order_price"),
    )


# ---------------------------------------------------------------------------
# J2 `enrich_equi_join` — fact-to-dim enrichment chain (≅
# admissions_enriched, reference architecture.md:53). Dim sides broadcast.
# ---------------------------------------------------------------------------
@_register(
    "enrich_join",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice, c_name, n_name, r_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    """,
)
def q_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    out = enrich_join(o, c, ["o_custkey"], "inner")
    out = enrich_join(out, n, ["c_nationkey"], "inner")
    out = enrich_join(out, r, ["n_regionkey"], "inner")
    return out.select("o_orderkey", "o_orderdate", "o_totalprice", "c_name", "n_name", "r_name")


# ---------------------------------------------------------------------------
# J3 `dim_lookup_join` + A2 — label join then rollup (≅ completions_by_cip,
# reference architecture.md:54).
# ---------------------------------------------------------------------------
@_register(
    "dim_lookup_agg",
    """
    SELECT r_name, n_name,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_dim_lookup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    enriched = dim_lookup(dim_lookup(c, n, "c_nationkey", ["n_name", "n_regionkey"]), r, "n_regionkey", ["r_name"])
    return enriched.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        exact_sum("c_acctbal").alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# A1 `count_star`
# ---------------------------------------------------------------------------
@_register("count_star", "SELECT count(*) AS n FROM lineitem")
def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# P10/P11/P12 filters + O1/O2/O3 sorts & limits.
# `top_orders_window`: BETWEEN range + total-order sort + LIMIT (top-k →
# Spark TakeOrderedAndProject, no full sort at scale).
# ---------------------------------------------------------------------------
@_register(
    "filter_between_topk",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q_filter_between_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    return (
        o.filter(F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@_register(
    "filter_in_agg",
    """
    SELECT year(o_orderdate) AS order_year, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1998, 2000)
    GROUP BY year(o_orderdate), o_orderpriority
    """,
)
def q_filter_in_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate").isin(1995, 1998, 2000))
        .groupBy(F.year("o_orderdate").alias("order_year"), "o_orderpriority")
        .agg(F.count("*").alias("n"), exact_sum("o_totalprice").alias("revenue"))
    )


@_register(
    "filter_eq_sort",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 45
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q_filter_eq_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# P5-P8 sentinel cleaning & safe casts — the reference's signature scalar
# semantics (reference etl/mappers/directory.py:30-119), exercised over
# deterministically synthesized dirty columns.
# ---------------------------------------------------------------------------
_SENTINEL_ORACLE = """
    WITH dirty AS (
        SELECT c_custkey,
               CASE c_custkey % 8
                    WHEN 0 THEN '-1' WHEN 1 THEN ' -2 ' WHEN 2 THEN '-3'
                    WHEN 3 THEN '' WHEN 4 THEN '   ' WHEN 5 THEN NULL
                    WHEN 6 THEN '12.5' ELSE CAST(c_custkey AS VARCHAR) END AS v_int_str,
               CASE c_custkey % 5
                    WHEN 0 THEN -1 WHEN 1 THEN -2 WHEN 2 THEN -3
                    WHEN 3 THEN -4 ELSE c_nationkey END AS v_int,
               CASE c_custkey % 6
                    WHEN 0 THEN ' -122.4 ' WHEN 1 THEN '-1' WHEN 2 THEN '12.3.4'
                    WHEN 3 THEN '1e3' WHEN 4 THEN '' ELSE CAST(c_acctbal AS VARCHAR) END AS v_dbl_str,
               CASE c_custkey % 4
                    WHEN 0 THEN '  padded  ' WHEN 1 THEN '-2' WHEN 2 THEN '' ELSE c_mktsegment END AS v_str
        FROM customer
    )
    SELECT c_custkey,
           CAST(CASE WHEN v_int_str IS NULL OR trim(v_int_str) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0')
                     THEN NULL
                     WHEN regexp_matches(trim(v_int_str), '^[+-]?\\d+$') THEN trim(v_int_str)
                     ELSE NULL END AS INT) AS clean_int_str,
           CASE WHEN v_int IN (-1, -2, -3) THEN NULL ELSE v_int END AS clean_int,
           CAST(CASE WHEN v_dbl_str IS NULL OR trim(v_dbl_str) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0')
                     THEN NULL
                     ELSE try_cast(trim(v_dbl_str) AS DOUBLE) END AS DOUBLE) AS clean_dbl,
           CASE WHEN v_str IS NULL OR trim(v_str) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0')
                THEN NULL ELSE trim(v_str) END AS clean_str
    FROM dirty
"""


@_register("sentinel_clean", _SENTINEL_ORACLE)
def q_sentinel_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # dirty-fixture synthesis as ONE parsed selectExpr (the chained
    # .when() form cost ~40 Py4J round trips ≈ 0.3s of build time per
    # invocation; the fixture is not the operator under test)
    dirty = c.selectExpr(
        "c_custkey",
        "CASE c_custkey % 8 WHEN 0 THEN '-1' WHEN 1 THEN ' -2 ' WHEN 2 THEN '-3'"
        " WHEN 3 THEN '' WHEN 4 THEN '   ' WHEN 5 THEN NULL WHEN 6 THEN '12.5'"
        " ELSE CAST(c_custkey AS STRING) END AS v_int_str",
        "CASE c_custkey % 5 WHEN 0 THEN -1 WHEN 1 THEN -2 WHEN 2 THEN -3"
        " WHEN 3 THEN -4 ELSE c_nationkey END AS v_int",
        "CASE c_custkey % 6 WHEN 0 THEN ' -122.4 ' WHEN 1 THEN '-1'"
        " WHEN 2 THEN '12.3.4' WHEN 3 THEN '1e3' WHEN 4 THEN ''"
        " ELSE CAST(c_acctbal AS STRING) END AS v_dbl_str",
        "CASE c_custkey % 4 WHEN 0 THEN '  padded  ' WHEN 1 THEN '-2'"
        " WHEN 2 THEN '' ELSE c_mktsegment END AS v_str",
    )
    return dirty.select(
        "c_custkey",
        safe_int(F.col("v_int_str")).alias("clean_int_str"),
        safe_int(F.col("v_int")).alias("clean_int"),
        safe_double(F.col("v_dbl_str")).alias("clean_dbl"),
        safe_str(F.col("v_str")).alias("clean_str"),
    )


# ---------------------------------------------------------------------------
# P4 `coalesce_pick` — first non-missing candidate with per-branch
# sentinel cleaning (sentinel in preferred key falls through to fallback).
# ---------------------------------------------------------------------------
@_register(
    "coalesce_pick",
    """
    WITH src AS (
        SELECT c_custkey,
               CASE c_custkey % 3 WHEN 0 THEN '-2' WHEN 1 THEN '' ELSE c_name END AS preferred,
               c_mktsegment AS fallback
        FROM customer
    )
    SELECT c_custkey,
           COALESCE(
               CASE WHEN preferred IS NULL OR trim(preferred) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0') THEN NULL ELSE preferred END,
               CASE WHEN fallback IS NULL OR trim(fallback) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0') THEN NULL ELSE fallback END
           ) AS picked
    FROM src
    """,
)
def q_coalesce_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    src = c.select(
        "c_custkey",
        F.when(k % 3 == 0, "-2").when(k % 3 == 1, "").otherwise(F.col("c_name")).alias("preferred"),
        F.col("c_mktsegment").alias("fallback"),
    )
    return src.select(
        "c_custkey", coalesce_pick(F.col("preferred"), F.col("fallback")).alias("picked")
    )


# ---------------------------------------------------------------------------
# P13 `stable_hash` — canonical content hash (key-sorted JSON → sha256).
# Fields chosen non-null: Spark's to_json omits null fields while
# DuckDB's emits them, so null handling is pinned by coalescing first.
# ---------------------------------------------------------------------------
@_register(
    "stable_hash",
    """
    SELECT c_custkey,
           sha256(to_json(struct_pack(
               c_custkey := c_custkey,
               c_mktsegment := c_mktsegment,
               c_name := c_name))) AS content_hash
    FROM customer
    """,
)
def q_stable_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        stable_hash(
            F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment"),
            names=["c_custkey", "c_name", "c_mktsegment"],
        ).alias("content_hash"),
    )


# ---------------------------------------------------------------------------
# P2/P3 `json_get_cast` — JSON field extraction + cast over events.props.
# ---------------------------------------------------------------------------
@_register(
    "json_extract_agg",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# P1/P3/J1/S4/S6 `json_page_roundtrip` — the raw-layer shape: records
# packed into JSON-array pages (≅ raw payload, reference
# etl/raw_io.py:102-113), then lateral-exploded back to records
# (≅ jsonb_array_elements, reference notebooks/20_load_core_directory
# .ipynb:226-230) with fields extracted and the page's record_count
# attached. Oracle computes the identity directly — proving the
# pack→explode→extract round trip is lossless.
# ---------------------------------------------------------------------------
@_register(
    "json_page_roundtrip",
    """
    SELECT CAST(o_orderkey % 20 AS INT) AS page_id,
           o_orderkey, o_custkey, o_totalprice,
           CAST(count(*) OVER (PARTITION BY o_orderkey % 20) AS INT) AS record_count
    FROM orders
    """,
)
def q_json_page_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    pages = o.groupBy((F.col("o_orderkey") % 20).cast("int").alias("page_id")).agg(
        F.to_json(
            F.sort_array(F.collect_list(F.struct("o_orderkey", "o_custkey", "o_totalprice")))
        ).alias("payload")
    )
    rec_schema = "array<struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>>"
    parsed = pages.select(
        "page_id",
        F.from_json("payload", rec_schema).alias("recs"),
    )
    return parsed.select(
        "page_id",
        F.explode("recs").alias("r"),
        F.size("recs").alias("record_count"),
    ).select("page_id", "r.o_orderkey", "r.o_custkey", "r.o_totalprice", "record_count")


# ---------------------------------------------------------------------------
# U1 `upsert_on_pk` — idempotent keyed merge (≅ INSERT..ON CONFLICT DO
# UPDATE, reference etl/core_io.py:93-113). Source = revised rows for
# 1/3 of keys; merged result must show source versions for those keys.
# ---------------------------------------------------------------------------
@_register(
    "upsert_on_pk",
    """
    WITH source AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
               'revised' AS version
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 'orig' AS version FROM orders
    )
    SELECT * FROM source
    UNION ALL
    SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    """,
)
def q_upsert_on_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    target = o.withColumn("version", F.lit("orig"))
    source = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("version", F.lit("revised"))
    )
    return upsert_on_pk(target, source, ["o_orderkey"])


# ---------------------------------------------------------------------------
# P9 `row_mapper` — the registry-driven record normalizer (≅ reference
# etl/mappers/directory.py:126-238) through its production stages:
# records as map<string,string> (built in memory, as
# core_pipeline.map_records takes them), every output column generated
# as safe_cast(coalesce_pick(candidates)) by
# registry.mapper_select_stages. Exercises alias fallback
# (instnm/stabbr), sentinel skip, and typed casts in one pass.
# ---------------------------------------------------------------------------
@_register(
    "registry_mapper",
    """
    WITH rec AS (
        SELECT c_custkey,
               CAST(c_custkey AS VARCHAR) AS unitid,
               CASE c_custkey % 3 WHEN 0 THEN '-2' WHEN 1 THEN '' ELSE c_name END AS inst_name,
               c_name AS instnm,
               c_mktsegment AS stabbr,
               CASE c_custkey % 4 WHEN 0 THEN '-1' WHEN 1 THEN 'abc' ELSE CAST(c_nationkey AS VARCHAR) END AS sector,
               CAST(c_acctbal AS VARCHAR) AS latitude
        FROM customer
    )
    SELECT CAST(trim(unitid) AS INT) AS unitid,
           CAST(2020 AS INT) AS year,
           COALESCE(
             CASE WHEN inst_name IS NULL OR trim(inst_name) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0') THEN NULL ELSE trim(inst_name) END,
             CASE WHEN instnm IS NULL OR trim(instnm) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0') THEN NULL ELSE trim(instnm) END
           ) AS inst_name,
           trim(stabbr) AS state_abbr,
           CAST(CASE WHEN sector IS NULL OR trim(sector) IN ('', '-1', '-2', '-3', '-1.0', '-2.0', '-3.0') THEN NULL
                     WHEN regexp_matches(trim(sector), '^[+-]?\\d+$') THEN trim(sector)
                     ELSE NULL END AS INT) AS sector,
           try_cast(trim(latitude) AS DOUBLE) AS latitude
    FROM rec
    """,
)
def q_registry_mapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ipeds_etl_spark.plans.core_pipeline import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    rec = F.create_map(
        F.lit("unitid"), k.cast("string"),
        F.lit("year"), F.lit("2020"),
        F.lit("inst_name"),
        F.when(k % 3 == 0, "-2").when(k % 3 == 1, "").otherwise(F.col("c_name")),
        F.lit("instnm"), F.col("c_name"),
        F.lit("stabbr"), F.col("c_mktsegment"),
        F.lit("sector"),
        F.when(k % 4 == 0, "-1").when(k % 4 == 1, "abc").otherwise(F.col("c_nationkey").cast("string")),
        F.lit("latitude"), F.col("c_acctbal").cast("string"),
    )
    out = map_records("directory", c.select(rec.alias("rec"), F.lit(2020).alias("page_year")))
    return out.select("unitid", "year", "inst_name", "state_abbr", "sector", "latitude")


# ---------------------------------------------------------------------------
# U2 `upsert_on_hash` — hash-guarded merge (≅ DO UPDATE ... WHERE
# target.source_hash IS DISTINCT FROM EXCLUDED.source_hash, reference
# etl/raw_io.py:181-197). Source revises 1/3 of its keys; rows whose
# content hash is unchanged must keep the TARGET version (provenance-
# preserving — the ``origin`` marker proves which side survived).
# ---------------------------------------------------------------------------
@_register(
    "upsert_on_hash",
    """
    WITH target AS (
        SELECT o_orderkey, o_orderstatus,
               sha256(o_orderstatus) AS source_hash, 'tgt' AS origin
        FROM orders
    ),
    source AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               sha256(CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END) AS source_hash,
               'src' AS origin
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    changed AS (
        SELECT s.* FROM source s
        WHERE NOT EXISTS (SELECT 1 FROM target t
                          WHERE t.o_orderkey = s.o_orderkey
                            AND t.source_hash IS NOT DISTINCT FROM s.source_hash)
    )
    SELECT * FROM changed
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM changed c WHERE c.o_orderkey = t.o_orderkey)
    """,
)
def q_upsert_on_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ipeds_etl_spark.operators.merge import upsert_on_hash

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    target = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.sha2("o_orderstatus", 256).alias("source_hash"),
        F.lit("tgt").alias("origin"),
    )
    revised = F.when(F.col("o_orderkey") % 3 == 0, "X").otherwise(F.col("o_orderstatus"))
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        revised.alias("o_orderstatus"),
        F.sha2(revised, 256).alias("source_hash"),
        F.lit("src").alias("origin"),
    )
    return upsert_on_hash(target, source, ["o_orderkey"], "source_hash")
