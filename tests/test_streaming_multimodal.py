"""Streaming jobs (file-stream, availableNow) cross-checked against
their batch twins, plus the multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.operators.multimodal import (
    attach_payload,
    decode_media,
    extract_features,
    resize_images,
    sample_frames,
)
from ipeds_etl_spark.sources.tables import load_table
from ipeds_etl_spark.streaming import jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Stage events as a 3-file parquet dir (simulating stream arrivals)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_windowed_counts_matches_batch(spark, stream_dir):
    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(jobs.windowed_counts(stream), "win_stream")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_stream").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in jobs.windowed_counts(spark.read.parquet(stream_dir)).collect()
    }
    # Append mode emits a window only once the watermark passes its end,
    # so the stream result is the batch result minus the unfinalized
    # tail — every emitted window must match batch exactly, and every
    # window that closed before the final watermark must be emitted.
    assert len(got) > 0
    assert set(got).issubset(set(batch))
    assert all(batch[k] == v for k, v in got.items())
    from datetime import timedelta

    max_ts = spark.read.parquet(stream_dir).agg(F.max("ts")).first()[0]
    horizon = max_ts - timedelta(hours=2)
    finalized = {
        k for k in batch if k[0] + timedelta(hours=1) < horizon
    }
    assert finalized.issubset(set(got))


def test_session_counts_runs_stateful(spark, stream_dir):
    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(jobs.session_counts(stream), "sess_stream")
    rows = spark.sql("SELECT * FROM sess_stream").collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    # append mode emits only watermark-finalized sessions: emitted event
    # totals are bounded by (and with a late watermark, below) the input
    total = sum(r["n_events"] for r in rows)
    assert 0 < total <= spark.read.parquet(stream_dir).count()


def test_dedup_stream_drops_redelivery(spark, stream_dir, tmp_path):
    # stage the stream twice (simulated at-least-once redelivery)
    src = spark.read.parquet(stream_dir)
    d = str(tmp_path / "dup_stream")
    src.write.mode("overwrite").parquet(d)
    src.write.mode("append").parquet(d)
    assert spark.read.parquet(d).count() == 2 * src.count()

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(d)
    jobs.run_to_memory(jobs.dedup_stream(stream), "dedup_stream")
    out = spark.sql("SELECT * FROM dedup_stream")
    assert out.count() == src.count()
    assert out.select("event_id").distinct().count() == src.count()


def test_stateful_running_totals_matches_batch(spark, stream_dir):
    from ipeds_etl_spark.streaming.stateful import running_user_stats

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # update mode may emit a row per key per batch: last emit wins
    out = spark.sql(
        "SELECT user_id, n_events, total_value FROM "
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn "
        " FROM user_stats) WHERE rn = 1"
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in out.collect()}
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in spark.read.parquet(stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_decode_media_is_gated():
    """Without a real codec installed, non-stub decode raises; the stub
    path returns bytes unchanged. Synthetic payloads never route to a
    real codec even where one exists."""
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(NotImplementedError):
            decode_media(b"\x89PNG", "image/png")
        assert decode_media(b"abc", "image/png", allow_stub=True) == b"abc"
    assert decode_media(b"abc", "synthetic/utf8", allow_stub=True) == b"abc"
    with pytest.raises(NotImplementedError):
        decode_media(b"abc", "synthetic/utf8")


def test_decode_media_real_codec_when_available():
    """Runs wherever Pillow exists (skips in this codec-less container):
    a real 2x1 PNG decodes to its raw RGB bytes through the same
    decode_media entry point the stub gates."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    im = PIL_Image.new("RGB", (2, 1))
    im.putpixel((0, 0), (255, 0, 0))
    im.putpixel((1, 0), (0, 255, 0))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    raw = decode_media(buf.getvalue(), "image/png")
    assert raw == bytes([255, 0, 0, 0, 255, 0])


def test_multimodal_feature_extraction(spark):
    d = load_table(spark, SF, "documents").limit(20)
    media = attach_payload(d, "text", "doc_id", modality="audio")
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["modality"] == "audio"
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-9  # normalized histogram
        assert len(r["byte_sha"]) == 64
    # metadata hash agrees with extractor-recomputed hash (plumbing honest)
    meta = {r["doc_id"]: r["media_meta"]["byte_sha"] for r in media.collect()}
    assert all(meta[r["doc_id"]] == r["byte_sha"] for r in feats)


def test_resize_and_frame_sample_shapes(spark):
    d = load_table(spark, SF, "documents").limit(10)
    media = attach_payload(d, "text", "doc_id", modality="video")
    resized = resize_images(media, width=8, height=8).collect()
    assert len(resized) == 10
    assert all(r["n_bytes"] == 64 and r["width"] == 8 for r in resized)

    frames = sample_frames(media, n_frames=4).collect()
    assert len(frames) == 40  # row expansion: 4 frames per payload
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_index"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())


def test_windowed_counts_drops_late_data_past_watermark(spark, tmp_path):
    """Out-of-order replay across microbatches: an event later than the
    watermark horizon must be DROPPED (its window was finalized and
    emitted exactly once); an out-of-order event still inside the
    horizon must be counted. Sequencing is forced with
    maxFilesPerTrigger=1 over mtime-ordered files."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "late_stream")
    os.makedirs(d)

    def ts(h, m):
        return pd.Timestamp(2024, 1, 1, h, m)

    batches = [
        # batch 0: two events in [10:00,11:00) + one at 13:30 that
        # advances the watermark to 11:30 (> window end) -> the 10:00
        # window finalizes
        [(1, ts(10, 5)), (2, ts(10, 20)), (3, ts(13, 30))],
        # batch 1: on-time event; the 11:30 watermark takes effect
        # (state eviction applies from the trigger after passage)
        [(5, ts(14, 0))],
        # batch 2: 10:40 is BEHIND the watermark and its window's
        # state is gone -> dropped; 17:30 advances the watermark to
        # 15:30 so the 13:00/14:00 windows finalize
        [(4, ts(10, 40)), (6, ts(17, 30))],
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "event_type": "click",
                # micros, not pandas-default nanos (Spark reads
                # TIMESTAMP(NANOS) parquet as long, not timestamp)
                "ts": pd.Series([r[1] for r in rows]).astype("datetime64[us]"),
                "value": 1.0,
            }
        )
        f = f"{d}/batch-{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), f)
        os.utime(f, (now + 10 * i, now + 10 * i))

    schema = "event_id bigint, event_type string, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    jobs.run_to_memory(jobs.windowed_counts(stream), "late_win")
    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.sql("SELECT * FROM late_win").collect()
    }
    # 10:00 window: the two on-time events ONLY (10:40 replay dropped),
    # emitted exactly once; 13:00 and 14:00 windows emitted on
    # watermark passage; 17:00 window still open at stream end.
    assert got == {10: 2, 13: 1, 14: 1}
    n_rows = spark.sql("SELECT count(*) AS n FROM late_win").first()["n"]
    assert n_rows == 3


def test_stream_stream_attribution_matches_batch(spark, stream_dir):
    """Stream-stream time-range join (watermarked both sides) produces
    exactly the batch inner-join pairs."""
    schema = load_table(spark, SF, "events").schema
    clicks = spark.readStream.schema(schema).parquet(stream_dir)
    purchases = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(
        jobs.click_attribution_stream(clicks, purchases), "attrib_stream"
    )
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM attrib_stream").collect()
    }
    e = spark.read.parquet(stream_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"))
    batch = p.join(
        c,
        on=[F.col("p_user") == F.col("c_user"),
            F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"),
            F.col("c_ts") <= F.col("p_ts")],
    )
    want = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_funnel_stream_matches_batch(spark, stream_dir):
    """Per-user funnel stages from the stateful streaming operator must
    equal the batch twin's min-ts chained (tv, tc, tp) per user."""
    from pyspark.sql import Window

    from ipeds_etl_spark.streaming.stateful import funnel_stages_stream

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(funnel_stages_stream(stream), "funnel_stream", "update")
    # update mode: tv/tc/tp only ever decrease, so min per user = final
    out = spark.sql(
        "SELECT user_id, min(tv_ms) tv, min(tc_ms) tc, min(tp_ms) tp "
        "FROM funnel_stream GROUP BY user_id"
    )
    got = {r["user_id"]: (r["tv"], r["tc"], r["tp"]) for r in out.collect()}

    e = spark.read.parquet(stream_dir)
    w = Window.partitionBy("user_id")
    ts_ms = (F.col("ts").cast("double") * 1000).cast("long")
    staged = (
        e.select("user_id", ts_ms.alias("ms"), "event_type")
        .withColumn("tv", F.min(F.when(F.col("event_type") == "view", F.col("ms"))).over(w))
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ms") >= F.col("tv")),
                    F.col("ms"),
                )
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ms") >= F.col("tc")),
                    F.col("ms"),
                )
            ).over(w),
        )
        .groupBy("user_id")
        .agg(F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp"))
    )
    batch = {r["user_id"]: (r["tv"], r["tc"], r["tp"]) for r in staged.collect()}
    assert len(got) > 0
    assert got == batch


def test_funnel_stream_out_of_order_chaining(spark, tmp_path):
    """A click that arrives BEFORE its user's view (in stream order, but
    event-time after it) must be promoted to tc once the view shows up —
    the buffered-candidate re-derivation path. A second user's click
    event-time-before-the-view must never convert."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ipeds_etl_spark.streaming.stateful import funnel_stages_stream

    d = str(tmp_path / "funnel_stream")
    os.makedirs(d)

    def ts(h, m):
        return pd.Timestamp(2024, 1, 1, h, m)

    # user 1: click@10:30 arrives first, view@10:00 arrives later
    #   -> tc must become 10:30 after batch 1 (re-derived from buffer)
    # user 2: view@11:00 first, then click@10:45 (event-time BEFORE the
    #   view) -> never eligible, tc stays NULL
    batches = [
        [(1, "click", ts(10, 30)), (2, "view", ts(11, 0))],
        [(1, "view", ts(10, 0)), (2, "click", ts(10, 45))],
        [(1, "purchase", ts(10, 45))],
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "ts": pd.Series([r[2] for r in rows]).astype("datetime64[us]"),
            }
        )
        f = f"{d}/batch-{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), f)
        os.utime(f, (now + 10 * i, now + 10 * i))

    schema = "user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    jobs.run_to_memory(
        funnel_stages_stream(stream, watermark="2 hours"), "funnel_ooo", "update"
    )
    out = spark.sql(
        "SELECT user_id, min(tv_ms) tv, min(tc_ms) tc, min(tp_ms) tp "
        "FROM funnel_ooo GROUP BY user_id"
    )
    got = {r["user_id"]: (r["tv"], r["tc"], r["tp"]) for r in out.collect()}

    def ms(h, m):
        return int(ts(h, m).timestamp() * 1000)

    assert got[1] == (ms(10, 0), ms(10, 30), ms(10, 45))
    assert got[2] == (ms(11, 0), None, None)


def test_value_histogram_stream_matches_batch(spark, stream_dir):
    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(jobs.value_histogram_stream(stream), "hist_stream")
    got = {
        (r["window_start"], r["bin"]): (r["bin_lo"], r["n_events"])
        for r in spark.sql("SELECT * FROM hist_stream").collect()
    }
    batch = {
        (r["window_start"], r["bin"]): (r["bin_lo"], r["n_events"])
        for r in jobs.value_histogram_stream(
            spark.read.parquet(stream_dir)
        ).collect()
    }
    # append-mode emission: every emitted (window, bin) matches batch
    # exactly; all windows finalized before the last watermark emitted
    assert len(got) > 0
    assert set(got).issubset(set(batch))
    assert all(batch[k] == v for k, v in got.items())
    from datetime import timedelta

    max_ts = spark.read.parquet(stream_dir).agg(F.max("ts")).first()[0]
    horizon = max_ts - timedelta(hours=2)
    finalized = {k for k in batch if k[0] + timedelta(hours=1) < horizon}
    assert finalized.issubset(set(got))


def test_kmv_stream_matches_batch_estimate(spark, stream_dir):
    """The k-bounded streaming KMV must converge to the BATCH estimate
    after draining: batch-by-batch sketch merge == one-shot sketch (the
    associativity contract, now across micro-batches). Update mode
    emits per batch; the LAST row per key is the final state."""
    from ipeds_etl_spark.operators.sketches import kmv_estimate
    from ipeds_etl_spark.streaming.stateful import kmv_distinct_stream

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        kmv_distinct_stream(stream)
        .writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = spark.sql("SELECT * FROM kmv_stream").collect()
    assert emitted, "stream emitted nothing"
    # last emit per key = final sketch state (memory sink appends each
    # update; rows arrive in batch order)
    final = {}
    for r in emitted:
        final[r["event_type"]] = r["kmv_users"]
    batch = {
        r["event_type"]: r["est"]
        for r in spark.read.parquet(stream_dir)
        .groupBy("event_type")
        .agg(kmv_estimate(F.col("user_id").cast("string")).alias("est"))
        .collect()
    }
    assert set(final) == set(batch)
    for et, est in final.items():
        assert est == batch[et], (et, est, batch[et])


def test_hll_stream_matches_batch_estimate(spark, stream_dir):
    """Streaming HLL register max-merge must equal the batch raw
    estimator over all rows seen — the max-merge associativity across
    micro-batch boundaries, bit-for-bit (exact-dyadic harmonic sums on
    both paths). State is EXACTLY 64 ints per key."""
    from ipeds_etl_spark.queries.events import q_events_hll_users
    from ipeds_etl_spark.streaming.stateful import hll_distinct_stream

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        hll_distinct_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = spark.sql("SELECT * FROM hll_stream").collect()
    assert emitted, "stream emitted nothing"
    final = {}
    for r in emitted:  # last emit per key = final registers
        final[r["event_type"]] = (r["hll_users"], r["filled_registers"])
    batch = {
        r.event_type: (r.hll_users, 64 - r.empty_registers)
        for r in q_events_hll_users(spark, SF).collect()
        if r.event_type != "__all__"
    }
    assert set(final) == set(batch)
    for et, (est, filled) in final.items():
        assert est == batch[et][0], (et, est, batch[et][0])
        assert filled == batch[et][1]


def test_heavy_hitters_stream_mg_guarantees(spark, stream_dir):
    """Misra-Gries invariants vs exact batch counts, per shard:
    (a) est <= true, (b) true - est <= max_err, (c) every item with
    true count > max_err is tracked."""
    from ipeds_etl_spark.functions.hashing import parity_hash
    from ipeds_etl_spark.streaming.stateful import heavy_hitters_stream

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        heavy_hitters_stream(stream, item_col="user_id", m=8, n_shards=4)
        .writeStream.format("memory")
        .queryName("hh_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = spark.sql("SELECT * FROM hh_stream").collect()
    assert emitted, "stream emitted nothing"
    # final state per shard = rows from the emission with max n_shard
    final_n = {}
    for r in emitted:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_shard"])
    sketch = {
        (r["shard"], r["item"]): (r["est_count"], r["max_err"])
        for r in emitted
        if r["n_shard"] == final_n[r["shard"]]
    }
    shard = (
        parity_hash(F.concat(F.lit("hh:"), F.col("user_id").cast("string")))
        % 4
    ).cast("int")
    exact = {
        (r["shard"], r["item"]): r["true_count"]
        for r in spark.read.parquet(stream_dir)
        .select(shard.alias("shard"), F.col("user_id").cast("string").alias("item"))
        .groupBy("shard", "item")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .collect()
    }
    err_by_shard = {}
    for (sh, it), (est, err) in sketch.items():
        true = exact[(sh, it)]
        assert est <= true, (sh, it, est, true)
        assert true - est <= err, (sh, it, est, true, err)
        err_by_shard[sh] = err
    tracked = {k for k in sketch}
    for (sh, it), true in exact.items():
        if sh in err_by_shard and true > err_by_shard[sh]:
            assert (sh, it) in tracked, (sh, it, true, err_by_shard[sh])


def test_path_trigrams_stream_exact_under_out_of_order(spark, tmp_path):
    """Trigram paths finalize exactly at watermark passage, in correct
    (ts, event_id) order even when an event arrives out of order, and
    never bleed across users."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ipeds_etl_spark.streaming.stateful import path_trigrams_stream

    d = str(tmp_path / "paths_stream")
    os.makedirs(d)

    def ts(h, m):
        return pd.Timestamp(2024, 1, 1, h, m)

    batches = [
        # u1 starts a session; u2 interleaves; 12:30 row will push the
        # watermark to 10:30 for the NEXT trigger
        [
            (1, 1, ts(10, 0), "view"),
            (2, 1, ts(10, 20), "click"),
            (50, 2, ts(10, 1), "view"),
            (51, 2, ts(10, 2), "cart"),
            (9, 1, ts(12, 30), "buy"),
        ],
        # out-of-order but inside the horizon: 10:45 ≥ wm(10:30) must
        # be inserted between u1's 10:20 and 12:30; 14:00 advances the
        # watermark to 12:00 for the final trigger
        [(3, 1, ts(10, 45), "cart"), (52, 2, ts(10, 3), "buy"), (10, 1, ts(14, 0), "end")],
        # one more trigger so 12:00-watermark finalization runs
        [(11, 1, ts(16, 30), "late")],
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "user_id": [r[1] for r in rows],
                "ts": pd.Series([r[2] for r in rows]).astype("datetime64[us]"),
                "event_type": [r[3] for r in rows],
            }
        )
        f = f"{d}/batch-{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), f)
        os.utime(f, (now + 10 * i, now + 10 * i))

    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    jobs.run_to_memory(path_trigrams_stream(stream), "paths_out", "append")
    got = [
        (r["user_id"], r["path"])
        for r in spark.sql("SELECT * FROM paths_out ORDER BY user_id, path").collect()
    ]
    # u1: events below the final 12:00 watermark are view(10:00),
    # click(10:20), cart(10:45 — the out-of-order insert) → exactly
    # one finalized trigram, in true time order. u2's whole session is
    # below 12:00 → view > cart > buy. Nothing crosses users; the
    # 12:30/14:00/16:30 tail is not yet finalized.
    assert got == [(1, "view > click > cart"), (2, "view > cart > buy")]


def test_stream_stream_outer_attribution_nulls_on_expiry(spark, stream_dir):
    """LEFT OUTER stream-stream join: matched rows equal the batch
    inner join EXACTLY; purchases with no qualifying click emit with a
    NULL click — but only once the watermark proves no match can still
    arrive, so (a) every null row is a true batch-side non-match, and
    (b) every non-match safely older than watermark+condition-bound is
    guaranteed emitted. Purchases inside the final watermark horizon
    may legitimately still sit in state at availableNow termination —
    the test does NOT demand them."""
    import datetime

    schema = load_table(spark, SF, "events").schema
    clicks = spark.readStream.schema(schema).parquet(stream_dir)
    purchases = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(
        jobs.click_attribution_stream(clicks, purchases, how="leftOuter"),
        "outer_attrib_stream",
    )
    out = spark.sql("SELECT * FROM outer_attrib_stream").collect()
    matched = {(r["purchase_id"], r["click_id"]) for r in out if r["click_id"] is not None}
    nulls = {r["purchase_id"] for r in out if r["click_id"] is None}

    e = spark.read.parquet(stream_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"))
    inner = p.join(
        c,
        on=[F.col("pu") == F.col("cu"),
            F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"),
            F.col("cts") <= F.col("pts")],
    )
    want_inner = {(r["pid"], r["cid"]) for r in inner.collect()}
    assert matched == want_inner and len(want_inner) > 0

    unmatched = {
        r["pid"]
        for r in p.join(inner.select("pid").distinct(), "pid", "left_anti").collect()
    }
    assert nulls <= unmatched  # no false nulls, ever
    # a purchase is emitted at most once: either matched or null-padded
    assert not (nulls & {pid for pid, _ in matched})
    # expiry coverage: the WHICH-rows boundary is engine-internal (it
    # depends on which microbatch a row arrived in relative to the
    # watermark), but the BULK of safely-old non-matches must have
    # expired and emitted by availableNow termination
    max_ts = e.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(hours=3, minutes=1)
    pts = {r["pid"]: r["pts"] for r in p.collect()}
    must_emit = {k for k in unmatched if pts[k] < horizon}
    assert len(nulls & must_emit) >= 0.9 * len(must_emit)
    assert len(nulls) > 0


def test_transform_with_state_matches_v1_api_and_batch(spark, stream_dir):
    """The transformWithStateInPandas form (typed-state API v2) must
    produce exactly the applyInPandasWithState form's final per-user
    totals, which must both equal the batch aggregate — one semantics,
    two stateful APIs. Runs wherever protobuf exists (the v2 state
    protocol needs it; skips in this container, like the PIL-gated
    decode test)."""
    pytest.importorskip("google.protobuf.descriptor")
    from ipeds_etl_spark.streaming.stateful import running_user_stats_tws

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    (
        running_user_stats_tws(stream)
        .writeStream.format("memory")
        .queryName("user_stats_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.sql(
        "SELECT user_id, n_events, total_value FROM "
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn "
        " FROM user_stats_tws) WHERE rn = 1"
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in out.collect()}
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in spark.read.parquet(stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_hll_stream_global_expand_twin_matches_batch(spark, stream_dir):
    """VERDICT r5 stretch: the GROUPING-SETS form's streaming twin.
    With include_global=True every row feeds its own type key AND the
    reserved __all__ key (the map-side explode standing in for the
    batch Expand), so the stream's __all__ registers are the max-merge
    of the per-type ones and the final estimate must equal the batch
    query's merged-global row bit-for-bit — per-type rows included."""
    from ipeds_etl_spark.queries.events import q_events_hll_users
    from ipeds_etl_spark.streaming.stateful import hll_distinct_stream

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        hll_distinct_stream(stream, include_global=True)
        .writeStream.format("memory")
        .queryName("hll_stream_global")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = spark.sql("SELECT * FROM hll_stream_global").collect()
    assert emitted, "stream emitted nothing"
    final = {}
    for r in emitted:  # last emit per key = final registers
        final[r["event_type"]] = (r["hll_users"], r["filled_registers"])
    batch = {
        r.event_type: (r.hll_users, 64 - r.empty_registers)
        for r in q_events_hll_users(spark, SF).collect()
    }
    assert "__all__" in final and set(final) == set(batch)
    for et, (est, filled) in final.items():
        assert est == batch[et][0], (et, est, batch[et][0])
        assert filled == batch[et][1]


def test_window_audio_framing_shapes(spark):
    """Audio framing: window count matches 1 + ceil((n - win)/hop),
    energies equal Python byte sums, fingerprints match sha256 of the
    exact slices — the mapInPandas plumbing is byte-honest."""
    import hashlib

    from ipeds_etl_spark.operators.multimodal import attach_payload, window_audio

    d = load_table(spark, SF, "documents").limit(8)
    media = attach_payload(d, "text", "doc_id", modality="audio")
    rows = window_audio(media, win=64, hop=48).collect()
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(texts)
    for doc_id, rs in per_doc.items():
        p = texts[doc_id].encode()
        n = len(p)
        k = 1 if n <= 64 else (n - 64 + 47) // 48 + 1
        assert sorted(r["window_index"] for r in rs) == list(range(k))
        for r in rs:
            w = p[r["window_index"] * 48 : r["window_index"] * 48 + 64]
            assert r["n_bytes"] == len(w)
            assert r["energy"] == sum(w)
            assert r["window_sha"] == hashlib.sha256(w).hexdigest()


def test_window_dedup_stream_counts_match_batch(spark, stream_dir):
    """Streaming tumbling-window dedup keeps exactly one event per
    (user, type, window) — per-type kept counts must equal the batch
    events_window_dedup readout (key-set equivalence; which instance
    survives differs by arrival order, the count cannot)."""
    from ipeds_etl_spark.queries.events import q_events_window_dedup
    from ipeds_etl_spark.streaming import jobs

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    (
        jobs.window_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("win_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        r.event_type: r.n
        for r in spark.sql(
            "SELECT event_type, count(*) AS n FROM win_dedup_stream GROUP BY 1"
        ).collect()
    }
    expect = {
        r.event_type: r.n_kept for r in q_events_window_dedup(spark, SF).collect()
    }
    assert got == expect


def test_window_dedup_stream_rejects_window_beyond_watermark(spark, stream_dir):
    """window > watermark delay would evict a key's state before its
    tumbling window closes, silently re-emitting duplicates — the
    combination must be rejected at construction (ADVICE r7), not
    documented away."""
    import pytest as _pytest

    from ipeds_etl_spark.streaming import jobs

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    with _pytest.raises(ValueError, match="watermark"):
        jobs.window_dedup_stream(stream, window="1 hour", watermark="10 minutes")
    # boundary: window == watermark delay is allowed
    jobs.window_dedup_stream(stream, window="10 minutes", watermark="10 minutes")


def test_streaming_dedup_ingest_matches_sequential_batches(spark, tmp_path):
    """Online LSH-dedup ingestion: stream the corpus in file-sized
    micro-batches into a kept-corpus sink; the final corpus must equal
    applying intra_batch_dedup + incremental_dedup_verdict sequentially
    batch-by-batch (duplicate-free by induction — intra-batch pairs
    are resolved too, ADVICE r6), and a near-duplicate planted in a
    LATER batch must be rejected against a doc kept in an EARLIER one."""
    import os
    import time as _time

    from ipeds_etl_spark.operators.dedup import (
        incremental_dedup_verdict,
        intra_batch_dedup,
    )
    from ipeds_etl_spark.streaming import jobs

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = load_table(spark, SF, "documents").limit(60).collect()
    src_dir = str(tmp_path / "doc_stream")
    os.makedirs(src_dir)
    schema = load_table(spark, SF, "documents").schema

    def write_flat(rows, name):
        # the file stream source reads FILES in the dir, not subdirs —
        # write each micro-batch as one flat parquet file
        cols = {f.name: [r[f.name] for r in rows] for f in schema.fields}
        pq.write_table(pa.table(cols), f"{src_dir}/{name}")

    # batch 1: first 30 docs; batch 2: next 30 + a near-clone of doc 0
    clone = docs[0].asDict()
    clone["doc_id"] = 99_999_999
    clone["text"] = clone["text"] + " tail"
    b2_rows = docs[30:] + [type(docs[0])(**clone)]
    b2 = spark.createDataFrame(b2_rows, schema)
    write_flat(docs[:30], "b1.parquet")
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    write_flat(b2_rows, "b2.parquet")

    corpus_path = str(tmp_path / "kept_corpus")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    jobs.streaming_dedup_ingest(
        stream, corpus_path, str(tmp_path / "ckpt")
    ).awaitTermination()

    kept = spark.read.parquet(corpus_path)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # the planted near-clone of doc 0 must have been REJECTED against
    # the batch-1 corpus (it is the largest id, so intra-batch dedup
    # cannot be the thing that saved us)
    assert 99_999_999 not in kept_ids
    # sequential replay equivalence: intra-dedup each batch, then
    # cross-check batch 2's survivors against batch 1's kept corpus
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = spark.createDataFrame(docs[:30], schema).select(cols)
    corpus1 = intra_batch_dedup(b1, "text", "doc_id")
    expect_b1 = {r.doc_id for r in corpus1.select("doc_id").collect()}
    assert expect_b1 <= set(d.doc_id for d in docs[:30])
    b2_intra = intra_batch_dedup(b2.select(cols), "text", "doc_id")
    both = corpus1.withColumn("__ex", F.lit(True)).unionByName(
        b2_intra.withColumn("__ex", F.lit(False))
    )
    verdict = incremental_dedup_verdict(both, "text", "doc_id", F.col("__ex"))
    expect_b2 = {r.doc_id for r in verdict.filter(F.col("keep")).collect()}
    assert kept_ids == expect_b1 | expect_b2


def test_streaming_dedup_ingest_keeps_corpus_when_its_read_fails(
    spark, tmp_path, monkeypatch
):
    """A failed read of the kept corpus fails the micro-batch. Counted
    as "no corpus yet", it would overwrite every kept document with
    the batch."""
    from pyspark.sql.readwriter import DataFrameReader

    docs = load_table(spark, SF, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(20).collect()]
    corpus_path = str(tmp_path / "kept_corpus")
    docs.filter(F.col("doc_id").isin(ids[:10])).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.parquet(corpus_path)
    src_dir = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id").isin(ids[10:])).coalesce(1).write.parquet(src_dir)

    parquet = DataFrameReader.parquet
    failures = []

    def read_fails_once(self, *paths, **options):
        if corpus_path in paths and not failures:
            failures.append(paths)
            raise OSError("transient read failure")
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", read_fails_once)
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    query = jobs.streaming_dedup_ingest(stream, corpus_path, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="transient read failure"):
        query.awaitTermination()
    assert failures
    kept = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert kept == set(ids[:10])


def test_srm_stream_matches_batch(spark, stream_dir):
    """The streaming SRM monitor's final complete-mode table must equal
    the batch wave-12 query bit-for-bit (same hash arms, same integer
    chi-square), and replaying the same files must not change it
    (distinct-user state absorbs re-delivery)."""
    from ipeds_etl_spark.queries.events import q_events_srm_check

    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    jobs.run_to_memory(jobs.srm_stream(stream), "srm_stream", "complete")
    got = {
        r["event_type"]: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM srm_stream").collect()
    }
    # batch twin over the SAME staged files (srm_stream is a plain
    # DataFrame transform, so it runs on a batch frame directly)
    batch_df = spark.read.parquet(stream_dir)
    want = {
        r["event_type"]: tuple(r)[1:]
        for r in jobs.srm_stream(batch_df).collect()
    }
    assert got == want and len(got) > 0
    # and the batch REGISTERED query on the original table agrees on
    # every shared experiment (same arms, same counts)
    reg = {
        r["event_type"]: (r["users_a"], r["users_b"], r["srm_flag"])
        for r in q_events_srm_check(spark, SF).collect()
    }
    staged = {k: (v[0], v[1], v[5]) for k, v in got.items()}
    assert staged == reg


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Stream ≡ batch for the stateless online decontamination gate:
    the same frozen eval matrix scored over a 3-file embeddings stream
    (availableNow) produces exactly the batch verdicts — and the
    streaming plan needs no state store (stateless append: no
    watermark, no aggregation)."""
    from ipeds_etl_spark.queries.vectors import _DECON_TAU, _decon_eval_vecs

    d = str(tmp_path / "embeddings_stream")
    emb = load_table(spark, SF, "embeddings")
    emb.repartition(3).write.mode("overwrite").parquet(d)
    evals = _decon_eval_vecs(spark, SF)

    stream = spark.readStream.schema(emb.schema).parquet(d)
    jobs.run_to_memory(
        jobs.semantic_decontaminate_stream(stream, evals, tau=_DECON_TAU),
        "decon_stream",
    )
    got = {
        r["vec_id"]: (r["max_eval_sim"], r["keep"])
        for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    batch = {
        r["vec_id"]: (r["max_eval_sim"], r["keep"])
        for r in jobs.semantic_decontaminate_stream(
            spark.read.parquet(d), evals, tau=_DECON_TAU
        ).collect()
    }
    assert got == batch
    assert len(got) == emb.count()
