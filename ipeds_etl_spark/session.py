"""SparkSession factory.

The engine standardizes on one session shape so every operator sees the
same semantics:

* ``spark.sql.ansi.enabled = false`` — malformed casts yield NULL, never
  raise. This is the engine-wide safe-cast policy matching the
  reference's mapper behavior (reference ``etl/mappers/directory.py:70-105``:
  casts return None on failure). Individual expressions additionally use
  ``try_cast`` so behavior survives an externally-supplied ANSI session.
* AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong in one direction;
  AQE re-plans from runtime statistics. This is the engine's whole
  answer to key skew: AQE splits a hot sort-merge-join partition, and
  map-side partial aggregation folds a hot groupBy key before the
  shuffle. No query plans a salted alternative.
* UTC session timezone — deterministic timestamp semantics across the
  oracle boundary.
* Arrow enabled — fast toPandas()/pandas_udf paths.

Designed for cluster submission: nothing here assumes local mode; the
``local[*]`` master is only a fallback default for tests/bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ipeds_etl_spark.config import get_settings


def get_spark(app_name: str = "ipeds_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors an externally-created active session (e.g. the driver's) —
    in that case the session is returned as-is and engine code relies
    on per-expression ``try_cast`` rather than session conf.

    Session knobs come from the frozen ``config.Settings`` object
    (env-overridable: SHUFFLE_PARTITIONS / SPARK_GRAFT_CPUS,
    SPARK_MASTER). On a real cluster set shuffle partitions to ~2-3x
    total executor cores, or leave AQE coalescing to shrink from a
    high initial value; for local[32] test runs 32 is right-sized.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    settings = get_settings()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", settings.driver_memory)
        .config("spark.driver.maxResultSize", settings.driver_max_result_size)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(settings.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # Console progress bars interleave with (and in bounded-tail
        # captures, truncate) machine-read stdout like bench.py's JSON
        # summary line; the UI/event log is the right progress surface.
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif settings.spark_master:
        builder = builder.master(settings.spark_master)
    else:
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    return builder.getOrCreate()
