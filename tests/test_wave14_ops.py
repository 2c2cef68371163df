"""Round-11 invariants: the CDC global dedup rewrite's shift
robustness + global-uniqueness accounting (VERDICT r10 gap 1), and the
mergeable quantile sketch's Python replay, exact mergeability, rank
error vs exact quantiles, and streaming replay equality (gap 2)."""

from __future__ import annotations

import hashlib
import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.operators import qsketch as QS
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _phash(s: str) -> int:
    """Python replay of functions.hashing.parity_hash (40-bit)."""
    return int(hashlib.sha256(s.encode()).hexdigest()[:10], 16)


def _ctz(h: int) -> int:
    return QS.HASH_BITS if h == 0 else (h & -h).bit_length() - 1


def _level(h: int) -> int:
    return _ctz(h)


# ---------------------------------------------------------------------------
# CDC global dedup rewrite
# ---------------------------------------------------------------------------
def _write_docs(spark, tmp_path, rows, name):
    path = str(tmp_path / name)
    (
        spark.createDataFrame(rows, "doc_id long, source string, text string")
        .withColumn("lang", F.lit("en"))
        .withColumn("n_chars", F.length("text"))
        .write.parquet(f"{path}/documents.parquet")
    )
    return path


def test_cdc_rewrite_shift_robust(spark, tmp_path):
    """The Lee-et-al. gap closure: a clone with a ONE-TOKEN prefix
    added must still lose (almost) all of its tokens to the rewrite,
    because content-defined boundaries re-synchronize — while the
    fixed-10-word passage rewrite keeps nearly everything (every
    chunk boundary shifted). An unrelated doc is untouched."""
    from ipeds_etl_spark.queries.dedup import q_docs_passage_dedup_rewrite
    from ipeds_etl_spark.queries.dedup import q_docs_cdc_dedup_rewrite

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(500)]
    body = " ".join(rng.choice(vocab) for _ in range(300))
    other = " ".join(rng.choice(vocab) for _ in range(120))
    rows = [
        (0, "web", body),
        (1, "web", "zzshift " + body),  # shifted clone
        (2, "web", other),  # unrelated control
    ]
    path = _write_docs(spark, tmp_path, rows, "shiftcorpus")

    got = {r.doc_id: r for r in q_docs_cdc_dedup_rewrite(spark, path).collect()}
    # first occurrence keeps everything (random body: chunks unique)
    assert got[0].kept_tokens == got[0].n_tokens
    assert got[2].kept_tokens == got[2].n_tokens
    # the shifted clone keeps only its first chunk (prefix + the span
    # up to the first re-synchronized boundary) — a small fraction
    assert got[1].n_tokens == 301
    assert got[1].kept_tokens < 0.2 * got[1].n_tokens, got[1]
    # cleaned text really is the surviving prefix chunk
    assert got[1].cleaned_text.startswith("zzshift")
    # contrast: fixed 10-word chunking is defeated by the same shift
    fixed = {
        r.doc_id: r for r in q_docs_passage_dedup_rewrite(spark, path).collect()
    }
    assert fixed[1].n_kept_chunks >= 0.9 * fixed[1].n_chunks


def test_cdc_rewrite_global_first_occurrence(spark):
    """Accounting invariants on the real corpus: kept ≤ total per doc;
    corpus-wide, the number of kept chunks equals the number of
    DISTINCT chunk strings (exactly one survivor per chunk), and every
    empty doc still appears with zeroed counters."""
    from ipeds_etl_spark.queries.dedup import cdc_chunks
    from ipeds_etl_spark.queries.dedup import q_docs_cdc_dedup_rewrite

    out = q_docs_cdc_dedup_rewrite(spark, SF).collect()
    d = load_table(spark, SF, "documents")
    assert len(out) == d.count()
    for r in out:
        assert 0 <= r.n_kept_chunks <= r.n_chunks
        assert 0 <= r.kept_tokens <= r.n_tokens
        if r.n_chunks == 0:
            assert r.cleaned_text == "" and r.kept_tokens == 0
    n_distinct = cdc_chunks(d).select("chunk").distinct().count()
    assert sum(r.n_kept_chunks for r in out) == n_distinct


def test_first_occurrence_keep_envelope(spark):
    """VERDICT r11 What's-wrong 1: the r11 positional encoding
    ``min(doc_id*10^6 + chunk_no)`` aliased once a document exceeded
    10^6 chunks. The struct-min rewrite must (a) keep exactly ONE
    survivor when two occurrences COLLIDE under the old encoding
    (doc 1 chunk 1_000_001 and doc 2 chunk 1 both encoded 2_000_001),
    and (b) pick the lexicographically-first occurrence where the old
    encoding MISORDERED (doc 0 chunk 2_500_000 encodes 2_500_000 >
    doc 1 chunk 0's 1_000_000, so the old min wrongly chose doc 1)."""
    from ipeds_etl_spark.queries.dedup import first_occurrence_keep

    ch = spark.createDataFrame(
        [
            (1, 1_000_001, "x"),  # collides with the next row at *10^6
            (2, 1, "x"),
            (0, 2_500_000, "y"),  # misordered vs the next row at *10^6
            (1, 0, "y"),
            (3, 7, "z"),  # singleton control
        ],
        "doc_id long, chunk_no long, chunk string",
    )
    kept = {
        (r.doc_id, r.chunk_no, r.chunk)
        for r in first_occurrence_keep(ch).collect()
    }
    assert kept == {
        (1, 1_000_001, "x"),
        (0, 2_500_000, "y"),
        (3, 7, "z"),
    }


# ---------------------------------------------------------------------------
# Mergeable quantile sketch
# ---------------------------------------------------------------------------
def _events_rows(spark):
    return [
        (r.event_type, int(r.event_id), float(r.value))
        for r in load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
        .collect()
    ]


def _py_sketch(rows, k):
    """Pure-Python replay: rows = [(id, value)] → (lev, retained ids,
    est_p500, est_p900)."""
    lv = [(i, v, _ctz(_phash(QS.SALT + str(i)))) for i, v in rows]
    n = len(lv)
    lev = 0
    while sum(1 for _, _, c in lv if c >= lev) > k:
        lev += 1
    ret = sorted(
        ((v, i) for i, v, c in lv if c >= lev),
    )
    ests = {}
    for q in (500, 900):
        target = (n * q + 999) // 1000
        est = ret[-1][0] if ret else None
        for rn, (v, _) in enumerate(ret, start=1):
            if rn * (1 << lev) >= target:
                est = v
                break
        ests[q] = est
    return lev, {i for _, i in ret}, n, ests


def test_qsketch_python_replay(spark):
    """Level, retained count, and both quantile estimates of the
    registered query must equal the pure-Python replay of the
    hash-level sampling rule, per event type."""
    from ipeds_etl_spark.queries.events import _QSK_K, q_events_value_qsketch

    by_type = defaultdict(list)
    for et, eid, v in _events_rows(spark):
        by_type[et].append((eid, v))
    got = {r.event_type: r for r in q_events_value_qsketch(spark, SF).collect()}
    assert set(got) == set(by_type)
    for et, rows in by_type.items():
        lev, ret_ids, n, ests = _py_sketch(rows, _QSK_K)
        g = got[et]
        assert g.n_events == n
        assert g.level == lev, et
        assert g.n_retained == len(ret_ids), et
        assert g.est_p500 == ests[500], et
        assert g.est_p900 == ests[900], et
        # audit columns: true rank of the estimate, replayed exactly
        r500 = sum(1 for _, v in rows if v <= ests[500])
        assert g.p500_rank_permille == (1000 * r500) // n


def test_qsketch_rank_error_vs_exact(spark):
    """The self-audit columns must sit near their targets: with
    k = 256 the sampling rank error is O(n/√k) ≈ 6% of n, so the
    measured rank permille must land within ±150 of 500 / 900 (loose
    3σ-ish envelope; deterministic, so this can't flake)."""
    from ipeds_etl_spark.queries.events import q_events_value_qsketch

    for r in q_events_value_qsketch(spark, SF).collect():
        assert abs(r.p500_rank_permille - 500) <= 150, r
        assert abs(r.p900_rank_permille - 900) <= 150, r


def test_qsketch_mergeable_exact(spark):
    """Union-merge of per-part sketches must be BIT-identical to the
    one-shot sketch: same level, same retained row set, same n —
    the nested-retention-set property, not a statistical claim."""
    e = (
        load_table(spark, SF, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    k = 64  # small enough that parts genuinely over-retain vs whole
    parts = [
        QS.quantile_sketch(
            e.filter(F.col("event_id") % 3 == i),
            ["event_type"],
            "value",
            "event_id",
            k=k,
        )
        for i in range(3)
    ]
    m_ret, m_lvl = QS.merge_sketches(parts, ["event_type"], k=k)
    d_ret, d_lvl = QS.quantile_sketch(
        e, ["event_type"], "value", "event_id", k=k
    )
    merged_lv = {(r.event_type): (r.lev, r.n) for r in m_lvl.collect()}
    direct_lv = {(r.event_type): (r.lev, r.n) for r in d_lvl.collect()}
    assert merged_lv == direct_lv
    merged_ids = {(r.event_type, r.id) for r in m_ret.collect()}
    direct_ids = {(r.event_type, r.id) for r in d_ret.collect()}
    assert merged_ids == direct_ids
    # sanity: at least one part had a lower level than the merge
    # (i.e. the merge actually had to re-compact, not a no-op)
    part_levs = [
        r.lev for _, lvl in parts for r in lvl.collect()
    ]
    assert min(part_levs) < max(v[0] for v in merged_lv.values())


def test_qsketch_stream_equals_batch(spark, tmp_path):
    """Streaming twin replay equality: final state per key (n, level,
    n_retained, est_p500) must equal the batch sketch over all rows —
    the same bar as the KMV/HLL stream twins."""
    from ipeds_etl_spark.queries.events import q_events_value_qsketch
    from ipeds_etl_spark.streaming.stateful import quantile_sketch_stream

    d = str(tmp_path / "qsk_stream")
    load_table(spark, SF, "events").repartition(3).write.parquet(d)
    schema = load_table(spark, SF, "events").schema
    stream = spark.readStream.schema(schema).parquet(d)
    (
        quantile_sketch_stream(stream, k=QS.DEFAULT_K)
        .writeStream.format("memory")
        .queryName("qsk_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = spark.sql("SELECT * FROM qsk_stream").collect()
    assert emitted, "stream emitted nothing"
    final = {}
    for r in emitted:  # last emit per key (n is monotone)
        if r.event_type not in final or r.n >= final[r.event_type].n:
            final[r.event_type] = r
    batch = {r.event_type: r for r in q_events_value_qsketch(spark, SF).collect()}
    assert set(final) == set(batch)
    for et, fr in final.items():
        br = batch[et]
        assert fr.n == br.n_events, et
        assert fr.level == br.level, et
        assert fr.n_retained == br.n_retained, et
        assert fr.est_p500 == br.est_p500, et


def test_qsketch_stream_checkpoint_resume(spark, tmp_path):
    """State survives a restart: run the stream over half the corpus
    with a checkpoint + file sink (memory sinks cannot resume — the
    house gotcha — so the twin goes through foreachBatch), land the
    second half, restart the SAME query: only the new file is
    processed (checkpointed offsets), the restored state continues,
    and the final per-key emission equals the batch sketch over
    everything."""
    from ipeds_etl_spark.streaming.stateful import quantile_sketch_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    schema = ev.schema
    k = 64

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        (
            quantile_sketch_stream(stream, k=k)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    final = {}
    for r in spark.read.parquet(out).collect():
        if r.event_type not in final or r.n >= final[r.event_type].n:
            final[r.event_type] = r
    e = (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    ret, lvl = QS.quantile_sketch(e, ["event_type"], "value", "event_id", k=k)
    est = QS.sketch_quantiles(ret, lvl, ["event_type"], [500])
    batch = {r.event_type: r for r in lvl.join(est, "event_type").collect()}
    nr = {
        r.event_type: r.cnt
        for r in ret.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(final) == set(batch)
    for et, fr in final.items():
        assert fr.n == batch[et].n, et
        assert fr.level == batch[et].lev, et
        assert fr.n_retained == nr[et], et
        assert fr.est_p500 == batch[et].est_p500, et
