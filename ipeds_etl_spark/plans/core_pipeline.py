"""Raw → core pipeline: the reference's E2 lifecycle as one Spark job.

Capability parity with ``load_core_from_raw`` (reference
``etl/core_io.py:119-164``): stream raw pages in (year, page) order,
expand payload arrays, backfill missing ``year`` from the page row,
normalize every record through the endpoint's registry contract, and
merge idempotently into the typed core table keyed on the registry PK.

Where the reference maps dict-at-a-time in Python and batches 1000-row
upserts, this pipeline is a single declarative plan: typed parse of
each page into one string field per registry candidate key → explode
→ generated strip / pick / guarded-cast projections (from
``registry.mapper_select_stages``) → anti-join merge → per-year dynamic
partition overwrite. No Python executes per record; parse, explode and
mapper compile into one whole-stage-codegen stage (pinned by
``tests/test_pipeline_e2e.py`` with codegen fallback off).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import fsutil, registry
from ipeds_etl_spark.operators.merge import (
    overwrite_partitions_staged,
    recover_swaps,
    upsert_on_pk,
)
from ipeds_etl_spark.sources import raw as raw_io


def _apply_mapper(endpoint: str, records: DataFrame, getter_sql) -> DataFrame:
    """Run the registry's mapper stages over ``records`` (which carry
    ``page_year``), backfilling ``year`` from the page for records that
    lack it (reference ``etl/core_io.py:87-89``)."""
    out = records
    for stage in registry.mapper_select_stages(endpoint, getter_sql=getter_sql):
        out = out.selectExpr(*stage, "page_year")
    return out.withColumn("year", F.coalesce(F.col("year"), F.col("page_year"))).drop(
        "page_year"
    )


def map_records(endpoint: str, records: DataFrame, rec_col: str = "rec") -> DataFrame:
    """Apply the endpoint's registry contract to records held as
    ``rec: map<string,string>`` plus ``page_year`` (frames built in
    memory; raw pages go through :func:`map_pages`). Every registry
    field becomes safe_cast(coalesce_pick(candidates)), with ``year``
    backfilled from the page when the record lacks it."""
    from ipeds_etl_spark.functions.cleaning import sql_lit

    return _apply_mapper(endpoint, records, lambda name: f"{rec_col}[{sql_lit(name)}]")


def map_pages(endpoint: str, pages: DataFrame) -> DataFrame:
    """Raw page rows → typed, normalized records (pre-merge): parse each
    payload, explode (the lateral unnest the reference pushes to
    Postgres, ``notebooks/20_load_core_directory.ipynb:226-230``), apply
    the registry contract, drop rows violating PK completeness. The one
    pages → mapped path of the batch and streaming loads.

    The parse goes straight into ``array<struct<_0 string, _1 string,
    …>>``, where field ``_i`` holds record key ``candidate_keys[i]``.
    Only candidate keys are materialized; any other key is skipped by
    the parser, and an absent key is NULL, so schema drift in the
    payload never breaks the scan. Every value arrives as a string: a
    JSON number or boolean as its text (``1.50`` → ``"1.5"``), a nested
    value as its JSON, JSON ``null`` as NULL — the mapper applies types.
    A key repeated within one record keeps its LAST value, as Python's
    ``json.loads`` and Postgres JSONB (the reference's store) do. Fields
    are renamed by position after the parse, because keys that differ
    only in case (``a``/``A``) are distinct JSON keys but ambiguous
    names to the case-insensitive resolver."""
    ep = registry.get_endpoint(endpoint)
    keys = registry.candidate_keys(endpoint)
    position = {k: i for i, k in enumerate(keys)}

    def record(names: Sequence[str]) -> T.ArrayType:
        return T.ArrayType(T.StructType([T.StructField(n, T.StringType()) for n in names]))

    parsed = F.from_json("payload", record(keys)).cast(
        record([f"_{i}" for i in range(len(keys))])
    )
    records = pages.select(F.col("year").alias("page_year"), F.explode(parsed).alias("rec"))
    mapped = _apply_mapper(endpoint, records, lambda name: f"rec.`_{position[name]}`")
    return mapped.filter(F.col(ep.pk[0]).isNotNull())  # PK completeness contract


def map_from_raw(
    spark: SparkSession,
    endpoint: str,
    raw_path: str,
    years: Sequence[int] | None = None,
) -> DataFrame:
    """Raw table → typed, normalized records (pre-merge): scan the raw
    pages (year-pruned) and :func:`map_pages` them."""
    return map_pages(endpoint, raw_io.scan_pages(spark, raw_path, years))


def write_core(
    spark: SparkSession,
    endpoint: str,
    mapped: DataFrame,
    core_path: str,
    years: Sequence[int] | None = None,
) -> None:
    """Merge mapped records into the core table keyed on the registry
    PK, rewriting only the touched year partitions through the
    crash-recoverable marker swap (``merge.overwrite_partitions_staged``)
    — readable by any direct ``spark.read.parquet``. ``years`` are the
    ``year`` values of ``mapped`` when the caller knows them
    (``pipeline.run_load`` takes them from its counting action);
    otherwise a job collects them. The manifest-committed layout has
    its own entry point, ``txn.upsert_into_txn_table``."""
    ep = registry.get_endpoint(endpoint)
    recover_swaps(spark, core_path)
    if fsutil.table_exists(spark, core_path):
        target = spark.read.schema(registry.struct_type(endpoint)).parquet(core_path)
        if years is None:
            years = [r[0] for r in mapped.select("year").distinct().collect()]
        touched = target.filter(F.col("year").isin(list(years)))
        merged = upsert_on_pk(touched, mapped, ep.pk)
    else:
        merged = upsert_on_pk(mapped.limit(0), mapped, ep.pk)
    overwrite_partitions_staged(spark, merged, core_path, "year")
