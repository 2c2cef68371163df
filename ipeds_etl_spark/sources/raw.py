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

Landing runs on the driver. ``pages_from_fetched`` serializes and
hashes the fetched pages in Python (``hashlib.sha256`` over the
canonical JSON, the same digest as Spark's ``sha2(payload, 256)``)
and hands them to Spark as one Arrow table, a local relation.
``write_pages`` then decides the hash guard from the incoming and
stored ``(page_number, source_hash)`` pairs, and rewrites a year
partition only when one of its pages changed.

Spark-first differences:
* Pages live in a parquet table partitioned by ``year`` (reference
  used a (year) index + year-partitioning guidance,
  ``architecture.md:81-83``): partition pruning replaces the index.
* Page assembly from a record frame (``build_pages``) is distributed:
  records are numbered per-year with a window and grouped into pages
  of ``page_size``. The per-year window sort mirrors the inherently
  sequential per-year API pagination the reference does driver-side
  (``etl/raw_io.py:160-161``); ingest of one year is bounded by the
  API, not this sort.
* The explode path back out (``scan_records``, and the mapper's typed
  parse in ``plans.core_pipeline.map_pages``) is the lateral-unnest
  join the reference pushes to Postgres
  (``notebooks/20_load_core_directory.ipynb:226-230``).
"""

from __future__ import annotations

import functools
import hashlib
import operator
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import fsutil
from ipeds_etl_spark.config import get_settings
from ipeds_etl_spark.localframe import local_frame
from ipeds_etl_spark.operators.merge import overwrite_partitions_staged, recover_swaps
from ipeds_etl_spark.sources.http_ingest import canonical_payload, endpoint_url

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
    api_base: str | None = None,
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
    ``api_base`` defaults to ``Settings.api_base_url``.
    """
    if api_base is None:
        api_base = get_settings().api_base_url
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
    api_base: str | None = None,
) -> DataFrame:
    """Land pre-paginated records (e.g. from ``http_ingest``) as raw
    page rows, preserving the API's own page structure — the shape the
    reference's ``insert_raw_payloads`` produces (reference
    ``etl/raw_io.py:127-200``). The payload is
    ``http_ingest.canonical_payload``, the form the ``paginated_json``
    source emits, so the content hash is stable and agrees with it.
    ``api_base`` defaults to ``Settings.api_base_url``.

    Serialization and hashing run here, on the driver: the hash is the
    hex SHA-256 of the payload's UTF-8 bytes, which is what Spark's
    ``sha2(payload, 256)`` computes, so hashes stored by either agree.
    The result is a local relation (``localframe``)."""
    if api_base is None:
        api_base = get_settings().api_base_url
    url = endpoint_url(api_base, endpoint_path, year)
    # one stamp for the whole landing, shared by the raw rows and their
    # source_trace rows
    ingested_at = datetime.now(timezone.utc)
    payloads = [canonical_payload(recs) for recs in page_lists]
    numbers = range(1, len(payloads) + 1)
    return local_frame(
        spark,
        RAW_SCHEMA,
        {
            "year": [year] * len(payloads),
            "page_number": numbers,
            "source_url": [f"{url}?page={i}" for i in numbers],
            "source_hash": [hashlib.sha256(p.encode("utf-8")).hexdigest() for p in payloads],
            "ingested_at": [ingested_at] * len(payloads),
            "record_count": [len(recs) for recs in page_lists],
            "payload": payloads,
        },
    )


def _page_keys(df: DataFrame) -> dict[tuple[int, int], str | None]:
    """``(year, page_number) → source_hash`` of ``df``, on the driver."""
    rows = df.select("year", "page_number", "source_hash").collect()
    out = {(r[0], r[1]): r[2] for r in rows}
    if len(out) != len(rows):
        raise ValueError("pages repeat a (year, page_number) key")
    return out


def _is_page(keys: Sequence[tuple[int, int]]) -> Column:
    """Predicate: the row's ``(year, page_number)`` is one of ``keys``."""
    by_year: dict[int, list[int]] = {}
    for year, page in keys:
        by_year.setdefault(year, []).append(page)
    return functools.reduce(
        operator.or_,
        [
            (F.col("year") == year) & F.col("page_number").isin(sorted(pages))
            for year, pages in sorted(by_year.items())
        ],
    )


def write_pages(spark: SparkSession, pages: DataFrame, raw_path: str) -> DataFrame | None:
    """Hash-guarded landing: merge pages into the raw table, rewriting a
    (year, page_number) row only when its content hash changed
    (null-safe, like the reference's ``IS DISTINCT FROM``). Returns the
    pages that landed, or None when every page was already stored.

    The guard is decided on the driver. The incoming keys and hashes
    are read from ``pages`` (no Spark job when ``pages`` is a local
    relation, as ``pages_from_fetched`` builds), and the stored ones
    from the incoming years' partitions only; a year whose partition
    does not exist is not read. A year with a changed page is rewritten
    whole, as its stored unchanged pages (original ``ingested_at``
    kept) plus its changed ones, through the staged partition swap;
    when nothing changed nothing is written. Existence is probed via
    the FS (not a bare except): a transient read failure on a real
    table must propagate, not silently rewrite the touched partitions
    with only the incoming rows.
    """
    recover_swaps(spark, raw_path)
    incoming = _page_keys(pages)
    years = sorted({year for year, _ in incoming})
    stored_parts = [
        f"{raw_path}/year={year}"
        for year in years
        if fsutil.table_exists(spark, f"{raw_path}/year={year}")
    ]
    stored_frame, stored = None, {}
    if stored_parts:
        stored_frame = (
            spark.read.schema(RAW_SCHEMA).option("basePath", raw_path).parquet(*stored_parts)
        )
        stored = _page_keys(stored_frame)
    changed = sorted(
        key for key, digest in incoming.items() if key not in stored or stored[key] != digest
    )
    if not changed:
        return None
    columns = [f.name for f in RAW_SCHEMA.fields]
    landed = pages.filter(_is_page(changed)).select(*columns)
    merged = landed
    if stored_frame is not None:
        changed_years = sorted({year for year, _ in changed})
        kept = stored_frame.filter(F.col("year").isin(changed_years) & ~_is_page(changed))
        merged = landed.unionByName(kept.select(*columns))
    overwrite_partitions_staged(spark, merged, raw_path, "year")
    return landed


def scan_pages(
    spark: SparkSession, raw_path: str, years: Sequence[int] | None = None
) -> DataFrame:
    """Read raw pages back, optionally pruned to specific years
    (partition pruning — no data read outside the requested years).
    Rolls forward any crashed-but-committed swap first so a
    half-published generation is never scanned; uncommitted staging is
    left alone (it may belong to a LIVE writer — a reader must never
    dismantle an in-flight write). A table with no page yet reads as
    no rows."""
    recover_swaps(spark, raw_path, rollback_uncommitted=False)
    if not fsutil.table_exists(spark, raw_path):  # nothing landed yet
        return local_frame(spark, RAW_SCHEMA)
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
