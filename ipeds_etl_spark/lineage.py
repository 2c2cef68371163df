"""Lineage layer — run log and row provenance, append-only parquet.

Capability parity with the reference meta schema (reference
``sql/15_meta.sql:27-36`` ``load_log``, ``:43-50`` ``source_trace``;
policy at ``architecture.md:91-99``):

* ``load_log``    — one row per pipeline run: endpoint, year span,
  rows inserted/updated, started/finished timestamps.
* ``source_trace``— one row per landed page: endpoint, year,
  source_url, source_hash, ingested_at.

Counters are computed relationally by ``load_counts``: the loaded
rows and the target's keys grouped per key, then summed in one
aggregate. That action also fills the load's cached mapped frame.
``merge_counts`` is the plain definition of the two merge counters.
The lineage rows are local relations (``localframe``), and each append
is one small single-partition write.

``load_id`` comes from a counter file kept beside the ``load_log`` rows
(``_last_load_id``, hidden from readers), so no run scans the log to
number itself. A run reserves its id before appending its row; a crash
between the two leaves a gap, never a repeat.
"""

from __future__ import annotations

import functools
import json
import operator
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import fsutil
from ipeds_etl_spark.localframe import local_frame

LOAD_LOG_SCHEMA = T.StructType(
    [
        T.StructField("load_id", T.LongType(), False),
        T.StructField("endpoint", T.StringType(), False),
        T.StructField("year_start", T.IntegerType(), True),
        T.StructField("year_end", T.IntegerType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("finished_at", T.TimestampType(), False),
    ]
)


def merge_counts(target: DataFrame, source: DataFrame, pk: list[str]) -> tuple[int, int]:
    """(rows_inserted, rows_updated) for an upsert of source into target
    — inserted = distinct source PKs absent from target; updated =
    present. One action: the distinct source keys left-join the
    distinct target keys tagged with a literal, so ``count(*)`` is the
    source key count and ``count(tag)`` the keys found (a NULL PK
    component never matches, so such a key counts as inserted)."""
    src_keys = source.select(*pk).distinct()
    tgt_keys = target.select(*pk).distinct().withColumn("_hit", F.lit(True))
    n, hits = (
        src_keys.join(tgt_keys, pk, "left")
        .agg(F.count(F.lit(1)), F.count("_hit"))
        .first()
    )
    return n - hits, hits


class LoadCounts(NamedTuple):
    """What one load merges: its rows, the keys it inserts and updates,
    and the ``year`` values its rows carry."""

    rows: int
    inserted: int
    updated: int
    years: tuple[int, ...]


def load_counts(target: DataFrame, source: DataFrame, pk: list[str]) -> LoadCounts:
    """``merge_counts`` of an upsert of ``source`` into ``target``, plus
    the source's row count and ``year`` values, in one action and
    without a join: the source and target keys are grouped together,
    and a key the source holds is updated when its group also holds a
    target row and no key part is NULL (a NULL never matches, as in
    ``merge_counts``). ``target`` only needs the partitions the
    source's keys can fall in."""
    tagged = source.select(*pk, F.col("year").alias("_year"), F.lit(1).alias("_src")).unionByName(
        target.select(*pk, F.lit(None).alias("_year"), F.lit(0).alias("_src"))
    )
    per_key = (
        tagged.groupBy(*pk)
        .agg(
            F.sum("_src").alias("_rows"),
            (F.min("_src") == 0).alias("_in_target"),
            F.collect_set("_year").alias("_years"),
        )
        .filter(F.col("_rows") > 0)
    )
    matched = functools.reduce(operator.and_, [F.col(k).isNotNull() for k in pk], F.col("_in_target"))
    rows, n, hits, years = per_key.agg(
        F.sum("_rows"),
        F.count(F.lit(1)),
        F.count_if(matched),
        F.array_distinct(F.flatten(F.collect_set("_years"))),
    ).first()
    return LoadCounts(rows or 0, n - hits, hits, tuple(sorted(years)))


def _utc(t: datetime) -> datetime:
    """``t`` as an aware UTC datetime; a naive ``t`` is local time, as
    PySpark reads a naive datetime."""
    return t.astimezone(timezone.utc)


def reserve_load_id(spark: SparkSession, meta_path: str) -> int:
    """The next ``load_id``, recorded in the counter file before any row
    carries it. A log written before the counter existed is numbered on
    from its ``max(load_id)`` (the one read of the log rows)."""
    counter = f"{meta_path}/load_log/_last_load_id"
    log = f"{meta_path}/load_log"
    if fsutil.path_exists(spark, counter):
        last = int(fsutil.read_text(spark, counter))
    elif fsutil.table_exists(spark, log):
        last = spark.read.schema(LOAD_LOG_SCHEMA).parquet(log).agg(F.max("load_id")).first()[0] or 0
    else:
        last = 0
    fsutil.replace_text(spark, counter, str(last + 1))
    return last + 1


def _load_logged(spark: SparkSession, meta_path: str, load_id: int) -> bool:
    """Whether ``load_log`` holds a row with ``load_id``."""
    log = f"{meta_path}/load_log"
    if not fsutil.table_exists(spark, log):
        return False
    rows = spark.read.schema(LOAD_LOG_SCHEMA).parquet(log).filter(F.col("load_id") == load_id)
    return bool(rows.limit(1).count())


def load_log_row(
    spark: SparkSession,
    load_id: int,
    endpoint: str,
    year_start: int | None,
    year_end: int | None,
    rows_inserted: int,
    rows_updated: int,
    started_at: datetime,
    finished_at: datetime,
) -> DataFrame:
    """One ``load_log`` row as a local relation."""
    values = (
        load_id, endpoint, year_start, year_end, rows_inserted, rows_updated,
        _utc(started_at), _utc(finished_at),
    )
    return local_frame(
        spark, LOAD_LOG_SCHEMA, {f.name: [v] for f, v in zip(LOAD_LOG_SCHEMA.fields, values)}
    )


def append_load_log(
    spark: SparkSession,
    meta_path: str,
    endpoint: str,
    year_start: int | None,
    year_end: int | None,
    rows_inserted: int,
    rows_updated: int,
    started_at: datetime,
    load_id: int,
) -> None:
    """Append one run's row, numbered by an id from ``reserve_load_id``."""
    row = load_log_row(
        spark, load_id, endpoint, year_start, year_end, rows_inserted, rows_updated,
        started_at, datetime.now(timezone.utc),
    )
    row.write.mode("append").parquet(f"{meta_path}/load_log")


def source_trace_rows(endpoint: str, pages: DataFrame) -> DataFrame:
    """The ``source_trace`` rows of landed ``pages`` (a local relation
    when ``pages`` is one)."""
    return pages.select(
        F.lit(endpoint).alias("endpoint"),
        F.col("year").cast("int").alias("year"),
        "source_url",
        "source_hash",
        "ingested_at",
    )


def append_source_trace(spark: SparkSession, meta_path: str, endpoint: str, pages: DataFrame) -> None:
    source_trace_rows(endpoint, pages).write.mode("append").parquet(f"{meta_path}/source_trace")


def append_untraced(spark: SparkSession, meta_path: str, endpoint: str, pages: DataFrame) -> None:
    """Append the ``source_trace`` rows of ``pages`` that it does not
    hold yet: the catch-up of a landing whose trace a crash may have
    cut off."""
    path = f"{meta_path}/source_trace"
    rows = source_trace_rows(endpoint, pages)
    if fsutil.table_exists(spark, path):
        rows = rows.join(spark.read.parquet(path), rows.columns, "left_anti")
    rows = rows.localCheckpoint()  # read before the append below
    if not rows.isEmpty():
        rows.write.mode("append").parquet(path)


def _pending_path(meta_path: str, endpoint: str) -> str:
    return f"{meta_path}/_pending/{endpoint}.json"


def begin_landing(spark: SparkSession, meta_path: str, endpoint: str, landing: list) -> None:
    """Record the ``(year, page_number, source_hash)`` of the pages a
    load is about to land, before the raw swap publishes any, so that
    the next load traces them if a crash cuts off their ``source_trace``
    append (``pending_load``). ``begin_load`` replaces the record once
    the trace is written."""
    fsutil.replace_text(spark, _pending_path(meta_path, endpoint), json.dumps({"landing": landing}))


def begin_load(
    spark: SparkSession, meta_path: str, endpoint: str, run: dict, counts: LoadCounts
) -> dict:
    """Record a load's counts and reserve its ``load_id`` before the
    load changes core, so a re-run after a crash logs what the crashed
    run merged (``pending_load``). Returns the record."""
    record = {"run": run, "load_id": reserve_load_id(spark, meta_path), **counts._asdict()}
    fsutil.replace_text(spark, _pending_path(meta_path, endpoint), json.dumps(record))
    return record


def pending_load(spark: SparkSession, meta_path: str, endpoint: str, run: dict) -> dict | None:
    """The record a stopped load left: a ``begin_landing`` record, of
    any run, whose pages may still lack their ``source_trace`` rows; or
    the counts ``begin_load`` recorded for ``run`` when that run stopped
    before its ``load_log`` row landed. None otherwise. Any other record
    left behind is stale and dropped."""
    path = _pending_path(meta_path, endpoint)
    if not fsutil.path_exists(spark, path):
        return None
    record = json.loads(fsutil.read_text(spark, path))
    if "landing" in record or (
        record["run"] == run and not _load_logged(spark, meta_path, record["load_id"])
    ):
        return record
    end_load(spark, meta_path, endpoint)
    return None


def end_load(spark: SparkSession, meta_path: str, endpoint: str) -> None:
    """Drop the record of a load whose ``load_log`` row has landed."""
    fsutil.delete(spark, _pending_path(meta_path, endpoint))
