"""Round-12 invariants: the IVF-PQ composition (VERDICT r11 item 4)
and the vocab-scale longest-match tokenizer apply (item 5)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ipeds_etl_spark.operators import bpe as BPE
from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Longest-match segmentation
# ---------------------------------------------------------------------------
def _seg(spark, words, vocab, max_len=6):
    df = spark.createDataFrame([(w, 1) for w in words], "w string, n long")
    return {
        r.w: (list(r.pieces), r.word_tokens)
        for r in BPE.segment_longest_match(df, vocab, max_len=max_len).collect()
    }


def test_longest_match_is_greedy_not_minimal(spark):
    """Maximal munch pins WordPiece semantics: 'abcd' against
    {ab, abc, bcd} segments as abc+d (greedy takes the longest match
    at position 1), NOT the 2-piece ab+cd or the minimal abc|bcd
    overlap resolution — and a fresh position never re-opens a
    consumed prefix."""
    got = _seg(spark, ["abcd"], ["ab", "abc", "bcd"])
    assert got["abcd"] == (["abc", "d"], 2)


def test_longest_match_covers_and_counts(spark):
    """Concatenated pieces must reconstruct each word exactly and
    word_tokens must equal the piece count — on real corpus words
    against the corpus-derived vocabulary."""
    d = load_table(spark, SF, "documents")
    vocab = [r.g for r in BPE.top_ngram_vocab(d, "text", n_grams=1000).collect()]
    words = BPE.word_frequencies(d, "text")
    out = BPE.segment_longest_match(words, vocab).collect()
    assert out
    for r in out:
        assert "".join(r.pieces) == r.w, r
        assert r.word_tokens == len(r.pieces), r


def _py_greedy(w: str, vocab: set[str], max_len: int = 6) -> list[str]:
    pieces, i = [], 0
    while i < len(w):
        ln = max(
            l
            for l in range(1, max_len + 1)
            if i + l <= len(w) and w[i : i + l] in vocab
        )
        pieces.append(w[i : i + ln])
        i += ln
    return pieces


def test_longest_match_at_vocab_scale(spark):
    """The item-5 bar: apply against a ≥1k-unit vocabulary stays one
    linear pass and agrees with a pure-Python greedy replay. The
    benchmark corpus's word diversity caps its derived vocab below 1k,
    so the scale case uses a synthetic corpus wide enough to saturate
    the top-1000 cut."""
    rng = random.Random(12)
    words = [
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(4, 12)))
        for _ in range(3000)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 30 : (i + 1) * 30])) for i in range(100)],
        "doc_id long, text string",
    )
    vocab_rows = BPE.top_ngram_vocab(docs, "text", n_grams=1000).collect()
    vocab = [r.g for r in vocab_rows]
    assert len(vocab) == 1000  # the cap binds: genuinely vocab-scale
    wtab = BPE.word_frequencies(docs, "text")
    got = {
        r.w: list(r.pieces)
        for r in BPE.segment_longest_match(wtab, vocab).collect()
    }
    vset = set(vocab) | set(BPE.ALPHABET)
    for w, pieces in got.items():
        assert pieces == _py_greedy(w, vset), w
    # a realistic vocab compresses: mean fertility well below chars/word
    toks = sum(len(p) for p in got.values())
    chars = sum(len(w) for w in got)
    assert toks * 2 < chars


def test_top_ngram_vocab_deterministic_order(spark):
    """Tie-break (cnt DESC, g ASC) is a total order: two derivations
    return identical lists."""
    d = load_table(spark, SF, "documents")
    a = [r.g for r in BPE.top_ngram_vocab(d, "text", n_grams=50).collect()]
    b = [r.g for r in BPE.top_ngram_vocab(d, "text", n_grams=50).collect()]
    assert a == b and len(a) == len(set(a))


# ---------------------------------------------------------------------------
# IVF-PQ composition
# ---------------------------------------------------------------------------
def test_ivfpq_full_probe_equals_flat_pq_rerank(spark):
    """With n_probe = n_centroids the coarse stage prunes NOTHING, so
    IVF-PQ must return EXACTLY flat PQ + re-rank at the same shortlist
    depth — the composition is the product of its parts, not a third
    algorithm."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    cents = SIM.build_ivf_centroids(e, "vec_id", "embedding", n_centroids=8)
    books = SIM.build_pq_codebooks(
        e, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_centroids=16
    )
    ivfpq = SIM.ivfpq_topk(
        e, q, "vec_id", "embedding", cents, books,
        k=5, n_probe=8, n_short=40, sub_dim=16,
    )
    flat = SIM.pq_topk_rerank(
        e, q, "vec_id", "embedding", books, k=5, n_short=40, sub_dim=16
    )
    a = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in ivfpq.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in flat.collect()}
    assert a == b and len(a) == 15


def test_filtered_search_is_filter_then_rank(spark):
    """Filtered ANN semantics: every returned neighbor satisfies the
    predicate, and with all cells probed + a corpus-deep shortlist the
    result EQUALS brute force over the filtered corpus — i.e. the
    filter restricts candidates before ranking (post-filtering a
    global top-k would return different/fewer rows)."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    filt = e.filter(F.col("label").isin(2, 5, 7))
    n = filt.count()
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    cents = SIM.build_ivf_centroids(e, "vec_id", "embedding", n_centroids=8)
    books = SIM.build_pq_codebooks(
        e, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_centroids=16
    )
    out = SIM.ivfpq_topk(
        filt, q, "vec_id", "embedding", cents, books,
        k=5, n_probe=8, n_short=n, sub_dim=16,
    ).collect()
    assert all(labels[r.neighbor_id] in (2, 5, 7) for r in out)
    brute = SIM.brute_force_topk(filt, q, "vec_id", "embedding", k=5)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in out}
    b = {(r.query_id, r.neighbor_id, r.rank) for r in brute.collect()}
    assert a == b and len(a) == 15


def test_sq8_encode_python_replay_and_ranges(spark):
    """SQ8 codes: exact Python replay of the pinned quantization chain
    (((x−mn)/(mx−mn))·256, floor, clamp) on real vectors; all codes in
    [0, 255]; a flat dimension (mx = mn) encodes 0 and dequantizes back
    to mn exactly."""
    import math

    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    bounds = SIM.sq8_train(e, "embedding")
    assert len(bounds) == 64 and all(mn <= mx for mn, mx in bounds)
    raw = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    enc = {
        r["vec_id"]: list(r["codes"])
        for r in SIM.sq8_encode(e, "vec_id", "embedding", bounds).collect()
    }
    for vid, codes in enc.items():
        assert all(0 <= c <= 255 for c in codes)
        for x, c, (mn, mx) in zip(raw[vid], codes, bounds):
            want = 0 if mx == mn else min(
                255, max(0, math.floor((float(x) - mn) / (mx - mn) * 256.0))
            )
            assert c == want, (vid, x, mn, mx)
    # flat-dim behavior on synthetic data
    flat = spark.createDataFrame(
        [(0, [1.5, 2.0]), (1, [1.5, 3.0])], "vec_id long, embedding array<float>"
    )
    b2 = SIM.sq8_train(flat, "embedding")
    assert b2[0][0] == b2[0][1] == 1.5
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in SIM.sq8_encode(flat, "vec_id", "embedding", b2).collect()
    }
    assert codes[0][0] == 0 and codes[1][0] == 0
    dq = flat.select(
        "vec_id",
        SIM.sq8_dequant(
            F.lit([0, 0]).cast("array<int>"), b2
        )[0].alias("d0"),
    ).collect()
    assert all(abs(r.d0 - 1.5) == 0.0 for r in dq)


def test_residual_frame_exact_python_replay(spark):
    """Residuals are one exact-IEEE subtraction per component: a pure
    Python replay (same doubles, same op) must match bit-for-bit, and
    every row's centroid_id must agree with assign_centroids."""
    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 50)
    cents = SIM.build_ivf_centroids(e, "vec_id", "embedding", n_centroids=4)
    cmap = dict(cents)
    assigned = {
        r["vec_id"]: r.centroid_id
        for r in SIM.assign_centroids(
            e, "vec_id", "embedding", None, cent_rows=cents
        ).collect()
    }
    raw = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    for r in SIM.residual_frame(e, "vec_id", "embedding", cents).collect():
        assert r.centroid_id == assigned[r["vec_id"]]
        want = [
            float(x) - y
            for x, y in zip(raw[r["vec_id"]], cmap[r.centroid_id])
        ]
        assert list(r["embedding"]) == want, r["vec_id"]


def test_ivfpq_residual_full_probe_deep_shortlist_is_exact(spark):
    """With every cell probed and the shortlist deeper than the
    corpus, the exact re-rank sees ALL candidates — residual IVF-PQ
    must then return exactly brute force, whatever the ADC ordering
    did: the approximation is confined to candidate selection."""
    e = load_table(spark, SF, "embeddings")
    n = e.count()
    q = e.filter(F.col("vec_id") < 3)
    cents = SIM.build_ivf_centroids(e, "vec_id", "embedding", n_centroids=8)
    res = SIM.residual_frame(e, "vec_id", "embedding", cents)
    books = SIM.build_pq_codebooks(
        res, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_centroids=16
    )
    out = SIM.ivfpq_residual_topk(
        e, q, "vec_id", "embedding", cents, books,
        k=5, n_probe=8, n_short=n, sub_dim=16,
    )
    brute = SIM.brute_force_topk(e, q, "vec_id", "embedding", k=5)
    a = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in out.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in brute.collect()}
    assert a == b and len(a) == 15


def test_ivfpq_neighbors_come_from_probed_cells(spark):
    """Cell pruning is real: every returned neighbor belongs to one of
    its query's n_probe nearest cells."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    cents = SIM.build_ivf_centroids(e, "vec_id", "embedding", n_centroids=8)
    books = SIM.build_pq_codebooks(
        e, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_centroids=16
    )
    out = SIM.ivfpq_topk(
        e, q, "vec_id", "embedding", cents, books,
        k=5, n_probe=2, n_short=30, sub_dim=16,
    ).collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    cell = {
        r["vec_id"]: r.centroid_id
        for r in SIM.assign_centroids(
            e, "vec_id", "embedding", None, cent_rows=cents
        ).collect()
    }
    from ipeds_etl_spark.operators.similarity import _scored_centroids

    probed = q.select(
        F.col("vec_id").alias("query_id"),
        F.slice(
            F.reverse(F.array_sort(_scored_centroids(F.col("embedding"), cents))),
            1,
            2,
        ).alias("p"),
    ).collect()
    probe_cells = {
        r.query_id: {s["cid"] for s in r.p} for r in probed
    }
    for r in out:
        assert cell[r.neighbor_id] in probe_cells[r.query_id], r
    # ranking invariants: per query ranks are 1..5, cos_sim descending
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# Semantic decontamination (registered post-gate in r12 — VERDICT r12
# What's-wrong 1 prescribed exactly this test: a planted eval clone
# must land in n_contaminated, plus a tau-boundary case)
# ---------------------------------------------------------------------------
def test_semantic_decontaminate_flags_planted_clone(spark, tmp_path):
    """End-to-end through the registered query against a synthetic
    embeddings table: (a) an exact clone of an eval vector in the
    training set is counted contaminated (max cosine 1.0); (b) a
    vector at cosine EXACTLY tau is contaminated (>= is inclusive) —
    the vectors are integer-exact so 2/5 == double(0.4) bitwise;
    (c) a vector orthogonal to every eval vector stays clean."""
    from ipeds_etl_spark.queries.vectors import (
        _DECON_EVAL_N,
        _DECON_TAU,
        q_emb_semantic_decontaminate,
    )

    # tau-boundary vector (2,0,0,4,2,1) is constructed for tau == 0.4:
    # dot with eval_0 = 2, |t| = sqrt(4+16+4+1) = 5 -> cos = 2/5 exact.
    assert _DECON_TAU == 0.4
    evals = [[1, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0]] + [
        [0, 0, 1, 0, 0, 0]
    ] * (_DECON_EVAL_N - 2)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(evals)]
    rows += [
        (_DECON_EVAL_N, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0], 1),  # eval clone
        (_DECON_EVAL_N + 1, [2.0, 0.0, 0.0, 4.0, 2.0, 1.0], 2),  # cos == tau
        (_DECON_EVAL_N + 2, [0.0, 0.0, 0.0, 3.0, 4.0, 0.0], 3),  # orthogonal
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.label: r
        for r in q_emb_semantic_decontaminate(spark, str(tmp_path)).collect()
    }
    assert (got[1].n_vecs, got[1].n_contaminated, got[1].max_sim) == (1, 1, 1.0)
    assert (got[2].n_vecs, got[2].n_contaminated, got[2].max_sim) == (1, 1, 0.4)
    assert (got[3].n_vecs, got[3].n_contaminated, got[3].max_sim) == (1, 0, 0.0)


def test_incremental_decontaminate_cross_side_only(spark, tmp_path):
    """The incremental twin's contract (VERDICT r12 item 7): verdicts
    are incoming-batch x eval-matrix ONLY. (a) existing-corpus rows
    never appear in the output — an eval clone already in the
    reference corpus is invisible to the batch pass; (b) an incoming
    eval clone is dropped (keep=False); (c) an incoming clone of an
    existing NON-eval vector keeps — the decontamination gate is
    against the eval set, not a dedup pass; (d) the plan is map-only:
    zero exchanges on the batch scan."""
    from ipeds_etl_spark.queries.vectors import (
        _DECON_BATCH_SPLIT,
        _DECON_EVAL_N,
        q_emb_incremental_decontaminate,
    )

    evals = [[1, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0]] + [
        [0, 0, 1, 0, 0, 0]
    ] * (_DECON_EVAL_N - 2)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(evals)]
    rows += [
        (_DECON_EVAL_N, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),  # existing eval clone
        (_DECON_EVAL_N + 1, [0.0, 0.0, 0.0, 5.0, 0.0, 0.0], 0),  # existing non-eval
        (_DECON_BATCH_SPLIT, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0),  # incoming eval clone
        (_DECON_BATCH_SPLIT + 1, [0.0, 0.0, 0.0, 5.0, 0.0, 0.0], 0),  # incoming clone of existing
        (_DECON_BATCH_SPLIT + 2, [0.0, 0.0, 0.0, 0.0, 3.0, 4.0], 0),  # incoming fresh
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = q_emb_incremental_decontaminate(spark, str(tmp_path))
    got = {r.vec_id: r for r in out.collect()}
    # (a) only incoming rows
    assert set(got) == {
        _DECON_BATCH_SPLIT, _DECON_BATCH_SPLIT + 1, _DECON_BATCH_SPLIT + 2
    }
    # (b) incoming eval clone dropped
    assert got[_DECON_BATCH_SPLIT].max_eval_sim == 1.0
    assert got[_DECON_BATCH_SPLIT].keep is False
    # (c) clone of an EXISTING non-eval vector keeps (orthogonal to evals)
    assert got[_DECON_BATCH_SPLIT + 1].max_eval_sim == 0.0
    assert got[_DECON_BATCH_SPLIT + 1].keep is True
    assert got[_DECON_BATCH_SPLIT + 2].keep is True
    # (d) map-only plan: no exchange, no join
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "exchange" not in plan
    assert "join" not in plan


def test_vocab8k_is_production_scale_and_python_exact(spark):
    """VERDICT r12 item 5's bar: the composite vocabulary is genuinely
    >=8k units, segmentation against it agrees with the pure-Python
    greedy replay on every benchmark word."""
    from ipeds_etl_spark.operators.indexes import VOCAB_MAX_LEN
    from ipeds_etl_spark.queries.text import _vocab_8k

    vocab = _vocab_8k(spark, SF)
    assert len(vocab) >= 8000
    d = load_table(spark, SF, "documents")
    words = BPE.word_frequencies(d, "text")
    lit = {
        r.w: (list(r.pieces), r.word_tokens)
        for r in BPE.segment_longest_match(
            words, vocab, max_len=VOCAB_MAX_LEN
        ).collect()
    }
    assert lit
    vset = set(vocab) | set(BPE.ALPHABET)
    for w, (pieces, ntok) in lit.items():
        assert pieces == _py_greedy(w, vset, VOCAB_MAX_LEN), w
        assert ntok == len(pieces)
