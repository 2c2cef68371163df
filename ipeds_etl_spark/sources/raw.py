"""Raw page layer — landing zone for paginated JSON ingest.

Capability parity with the reference raw layer (reference
``etl/raw_io.py``): one row per *page* of API results with provenance —

    (year, page_number, source_url, source_hash, ingested_at,
     record_count, payload)

where ``payload`` is a JSON **array** of records (reference DDL at
``etl/raw_io.py:102-113``; CHECK payload-is-array at ``:112``), the
hash is a canonical content hash (``:57-70``), and writes are
hash-guarded upserts keyed on ``(year, page_number)`` (``:181-197``) —
an unchanged page is never rewritten, preserving its original
``ingested_at``.

Spark-first differences:
* Pages live in a parquet table partitioned by ``year`` (reference
  used a (year) index + year-partitioning guidance,
  ``architecture.md:81-83``): partition pruning replaces the index.
* Page assembly is distributed: records are numbered per-year with a
  window and grouped into pages of ``page_size``. The per-year window
  sort mirrors the inherently sequential per-year API pagination the
  reference does driver-side (``etl/raw_io.py:160-161``); ingest of one
  year is bounded by the API, not this sort.
* The explode path back out (``scan_records``, and the mapper's typed
  parse in ``plans.core_pipeline.map_pages``) is the lateral-unnest
  join the reference pushes to Postgres
  (``notebooks/20_load_core_directory.ipynb:226-230``).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import fsutil
from ipeds_etl_spark.operators.merge import (
    overwrite_partitions_staged,
    recover_swaps,
    upsert_on_hash,
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("source_url", T.StringType(), False),
        T.StructField("source_hash", T.StringType(), False),
        T.StructField("ingested_at", T.TimestampType(), False),
        T.StructField("record_count", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
)

PAGE_SIZE_DEFAULT = 500  # records per landed page (reference etl/raw_io.py:160)


def build_pages(
    records: DataFrame,
    year_col: str = "year",
    order_cols: Sequence[str] | None = None,
    page_size: int = PAGE_SIZE_DEFAULT,
    endpoint_path: str = "ipeds/directory/{year}/",
    api_base: str = "https://educationdata.example/api/v1",
    n_buckets: int = 32,
) -> DataFrame:
    """Chunk a record DataFrame into raw pages with provenance columns.

    ``order_cols`` fixes the record order inside a year (deterministic
    pagination ⇒ deterministic hashes ⇒ idempotent re-ingest). Records
    are serialized to a JSON array payload; the content hash covers the
    payload text.

    Scale: global numbering per year via a single window would sort
    each year in one reducer. Instead, numbering is two-level: records
    hash into ``n_buckets`` deterministic content buckets, a window
    numbers within (year, bucket) — parallelism = years × buckets —
    and per-bucket offsets (a years × buckets tiny frame) are
    broadcast back to form the contiguous per-year index. The page
    order within a year is (bucket, order_cols): content-deterministic,
    independent of input partitioning, stable across re-ingests.
    """
    order_cols = list(order_cols or [c for c in records.columns if c != year_col])
    rec_struct = F.struct(*[F.col(c) for c in records.columns])
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_buckets))
    w_in = Window.partitionBy(year_col, "bucket").orderBy(
        *[F.col(c) for c in order_cols]
    )
    recs = records.withColumn("bucket", bucket).withColumn(
        "rn", F.row_number().over(w_in) - 1
    )
    counts = recs.groupBy(year_col, "bucket").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.partitionBy(year_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn("off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
    paged = recs.join(
        F.broadcast(offsets.select(year_col, "bucket", "off")), [year_col, "bucket"]
    ).withColumn(
        "page_number",
        (F.floor((F.col("rn") + F.col("off")) / page_size) + 1).cast("int"),
    )
    pages = (
        paged.groupBy(F.col(year_col).cast("int").alias("year"), "page_number")
        .agg(F.to_json(F.sort_array(F.collect_list(rec_struct))).alias("payload"),
             F.count("*").cast("int").alias("record_count"))
    )
    url = F.concat(
        F.lit(api_base + "/"),
        F.regexp_replace(F.lit(endpoint_path), r"\{year\}", F.lit("")),
        F.col("year").cast("string"),
        F.lit("/?page="),
        F.col("page_number").cast("string"),
    )
    return pages.select(
        "year",
        "page_number",
        url.alias("source_url"),
        F.sha2(F.col("payload"), 256).alias("source_hash"),
        F.current_timestamp().alias("ingested_at"),
        "record_count",
        "payload",
    )


def pages_from_fetched(
    spark: SparkSession,
    year: int,
    page_lists: list[list[dict]],
    endpoint_path: str = "ipeds/directory/{year}/",
    api_base: str = "https://educationdata.example/api/v1",
) -> DataFrame:
    """Land pre-paginated records (e.g. from ``http_ingest``) as raw
    page rows, preserving the API's own page structure — the shape the
    reference's ``insert_raw_payloads`` produces (reference
    ``etl/raw_io.py:127-200``). Payload JSON is canonicalized (sorted
    keys, compact separators) so the content hash is stable, matching
    ``_stable_json_hash`` (reference ``etl/raw_io.py:57-70``)."""
    import json as _json

    path = endpoint_path.replace("{year}", str(year)).lstrip("/")
    # one stamp for the whole landing: ``current_timestamp()`` is
    # evaluated per query, so the raw write and the source_trace append
    # would store different times for the same pages
    ingested_at = datetime.now(timezone.utc)
    rows = []
    for i, recs in enumerate(page_lists, start=1):
        payload = _json.dumps(recs, sort_keys=True, separators=(",", ":"), default=str)
        rows.append(
            (
                year,
                i,
                f"{api_base.rstrip('/')}/{path}?page={i}",
                None,  # hash filled below (engine-side, same function everywhere)
                ingested_at,
                len(recs),
                payload,
            )
        )
    df = spark.createDataFrame(
        rows,
        "year int, page_number int, source_url string, source_hash string, "
        "ingested_at timestamp, record_count int, payload string",
    )
    return df.withColumn("source_hash", F.sha2(F.col("payload"), 256))


def write_pages(spark: SparkSession, pages: DataFrame, raw_path: str) -> None:
    """Hash-guarded landing: merge pages into the raw table, rewriting a
    (year, page_number) row only when its content hash changed. Only the
    touched year partitions are rewritten (dynamic partition overwrite).
    Existence is probed via the FS (not a bare except): a transient read
    failure on a real table must propagate, not silently rewrite the
    touched partitions with only the incoming rows.
    """
    recover_swaps(spark, raw_path)
    if fsutil.table_exists(spark, raw_path):
        target = spark.read.schema(RAW_SCHEMA).parquet(raw_path)
        years = [r[0] for r in pages.select("year").distinct().collect()]
        touched = target.filter(F.col("year").isin(years))
        merged = upsert_on_hash(touched, pages, ["year", "page_number"], "source_hash")
    else:
        merged = pages
    overwrite_partitions_staged(
        spark, merged.select(*[f.name for f in RAW_SCHEMA.fields]), raw_path, "year"
    )


def scan_pages(
    spark: SparkSession, raw_path: str, years: Sequence[int] | None = None
) -> DataFrame:
    """Read raw pages back, optionally pruned to specific years
    (partition pruning — no data read outside the requested years).
    Rolls forward any crashed-but-committed swap first so a
    half-published generation is never scanned; uncommitted staging is
    left alone (it may belong to a LIVE writer — a reader must never
    dismantle an in-flight write)."""
    recover_swaps(spark, raw_path, rollback_uncommitted=False)
    df = spark.read.schema(RAW_SCHEMA).parquet(raw_path)
    if years is not None:
        df = df.filter(F.col("year").isin(list(years)))
    return df


def scan_records(pages: DataFrame) -> DataFrame:
    """Re-expand payload arrays into one row per record as
    ``rec: map<string,string>``, every key kept — the schemaless view
    drift checks read (``pipeline.drift_check``); the mapper parses
    pages itself (``plans.core_pipeline.map_pages``). The page's
    ``year`` is kept alongside as ``page_year``."""
    recs = pages.select(
        F.col("year").alias("page_year"),
        "page_number",
        F.explode(F.from_json("payload", "array<map<string,string>>")).alias("rec"),
    )
    return recs
