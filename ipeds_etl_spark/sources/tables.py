"""Parquet table loader for the benchmark star schema.

Handles one physical quirk of the driver-generated data: ``events.ts``
has been written as parquet TIMESTAMP(NANOS) in some generations, which
Spark's vectorized reader rejects by default (``PARQUET_TYPE_ILLEGAL``).
We flip the public ``spark.sql.legacy.parquet.nanosAsLong`` conf and —
only when the column actually reads back as a long — rebuild a proper
microsecond timestamp with exact integer arithmetic (``ts div 1000`` —
float division would lose sub-microsecond precision at 2024-epoch
nanosecond magnitudes). Generations written as TIMESTAMP(MICROS) read
as a timestamp type directly and are normalized to session-TZ
``timestamp`` so downstream ``unix_timestamp``/window arithmetic sees
one type regardless of the file's physical encoding (the session TZ is
pinned to UTC in ``session.py``, so NTZ→LTZ is value-identity).

Scan hygiene: callers ``select`` the columns they need *after* this
loader; Catalyst prunes the parquet scan to exactly those columns
(verify with ``.explain``: ``ReadSchema`` should list only used fields).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ipeds_etl_spark.memostore import corpus_fingerprint, memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: tables that have carried nanos timestamps in some data generations
#: (column -> it holds); conversion is applied only if the column
#: actually reads back as a long.
_NANOS_TS_COLS = {"events": ("ts",)}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, min_partitions: int | None = None
) -> DataFrame:
    """Read one benchmark table; normalizes timestamp columns.

    ``events.ts`` lands as session-TZ ``timestamp`` whether the file
    stored TIMESTAMP(NANOS) (read as long under ``nanosAsLong``, then
    integer-div'd to micros) or TIMESTAMP(MICROS) (read as
    timestamp/timestamp_ntz directly).

    ``min_partitions``: floor on scan parallelism for compute-heavy
    map stages (per-row sha256/tokenize pipelines). A small table in
    one parquet row group scans as ONE task no matter how many cores
    exist — at sf0.1 the whole gram-hash stage of ``doc_fingerprint``
    serialized on a single core (2.5s → 0.33s at 32). The repartition
    is CONDITIONAL on the scan actually having fewer partitions, so on
    a real cluster where a 100 TB table scans as tens of thousands of
    splits it is a no-op — it only widens degenerate scans, never
    inserts an exchange into an already-parallel plan. Pass
    ``spark.sparkContext.defaultParallelism``; only worth it when the
    downstream per-row work dwarfs one tiny round-robin shuffle.

    A warm ``spark.read.parquet`` still costs ~0.1s of schema inference
    and Dataset construction, and the ``min_partitions`` probe converts
    to an RDD — paid on every query build (2-3 tables each). A
    DataFrame is an immutable plan handle, so the loaded frame is kept
    in the memo store (``ipeds_etl_spark.memostore``: keyed by the
    file's fingerprint, not stored for non-local paths)."""

    def read() -> DataFrame:
        if name in _NANOS_TS_COLS:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in _NANOS_TS_COLS.get(name, ()):
            if isinstance(df.schema[c].dataType, LongType):
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
            else:
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        if min_partitions is not None and df.rdd.getNumPartitions() < min_partitions:
            df = df.repartition(min_partitions)
        return df

    return memo(spark, (corpus_fingerprint(sf_dir, name), "table", min_partitions), read)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view for the SQL API."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
