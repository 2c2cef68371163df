"""Incremental medallion: stream raw pages into the typed core table.

The batch pipeline (``plans/core_pipeline.py``) reloads whole years;
this job consumes newly-landed raw page files as a stream and merges
each micro-batch into core with the same PK-keyed upsert — so the core
table converges to exactly the batch result, incrementally.

Why ``foreachBatch``: the merge is not an append (it rewrites rows on
PK conflict), which no streaming sink expresses natively — per
micro-batch we drop to the batch merge operator, the standard Spark
pattern for streaming MERGE. Each micro-batch costs one merge bounded
to the years it touches (staged partition swap), so steady-state work
is proportional to the arriving data, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ipeds_etl_spark.plans.core_pipeline import map_pages, write_core
from ipeds_etl_spark.sources import raw as raw_io


def stream_raw_pages(spark: SparkSession, raw_path: str) -> DataFrame:
    """Raw page dir as an append stream (new files = new pages)."""
    return spark.readStream.schema(raw_io.RAW_SCHEMA).parquet(raw_path)


def incremental_core_load(
    spark: SparkSession,
    endpoint: str,
    raw_path: str,
    core_path: str,
    checkpoint: str,
):
    """Start the raw→core incremental job; returns the StreamingQuery.
    Use ``trigger(availableNow=True)`` semantics: the caller awaits
    termination for catch-up runs, or leaves it running for tail."""
    pages = stream_raw_pages(spark, raw_path)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_core(spark, endpoint, map_pages(endpoint, batch_df), core_path)

    return (
        pages.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def txn_stream_upsert(
    spark: SparkSession,
    stream_df: DataFrame,
    table_path: str,
    pk: list[str],
    checkpoint: str,
    partition_col: str = "year",
    sink_id: str = "stream",
):
    """EXACTLY-ONCE streaming upsert into a transactional table.

    ``foreachBatch`` alone is at-least-once: after a crash between the
    merge and the checkpoint commit, Spark REPLAYS the last micro-batch
    into the handler. A plain-table merge re-applies it (harmlessly for
    pure upserts, wrongly for anything else — and it burns a table
    version either way). This sink fences with the batch id THROUGH
    the table's own commit protocol: every commit carries
    ``fence={sink_id: batch_id}``, VALIDATED INSIDE the optimistic
    commit loop against the same manifest listing the version rename
    serializes on — a commit whose fence has already advanced raises
    ``FencedOut`` and is dropped. The handler's early fence read is
    only a fast path; correctness never rests on it, so a zombie
    instance that read a stale fence before a newer instance committed
    cannot overwrite the newer data (check-then-act is closed at the
    commit point). Data commit and fence commit are ONE atomic
    operation — the idempotent-sink recipe Delta's
    ``txnAppId``/``txnVersion`` options implement, including the
    in-transaction ``txnVersion`` re-check.

    The fence survives unrelated writers (manifest meta is merged, not
    replaced) and vacuum (it lives in the manifest, not a side file).

    Sharp edge (inherent to batch-id fencing, same as Delta's
    ``txnAppId``): batch ids restart at 0 with a FRESH checkpoint, so
    reusing an old ``sink_id`` with a new checkpoint silently drops
    the restarted batches — a new checkpoint must pair with a new
    ``sink_id`` (or a cleared fence). The test pins this behavior.
    Returns the StreamingQuery (availableNow trigger)."""
    from ipeds_etl_spark.operators import txn as _txn

    fence_key = f"stream_batch:{sink_id}"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied = _txn.read_meta(spark, table_path).get(fence_key)
        if applied is not None and batch_id <= applied:
            return  # fast path: replay of an already-committed batch
        try:
            _txn.upsert_into_txn_table(
                spark,
                table_path,
                batch_df,
                pk,
                partition_col=partition_col,
                fence={fence_key: batch_id},
            )
        except _txn.FencedOut:
            # a newer instance committed this (or a later) batch while
            # we were merging — the commit-point fence caught it; the
            # batch is already durably applied, so skipping is the
            # exactly-once behavior
            return

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
