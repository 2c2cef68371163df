"""Wave-11 semantics beyond the oracle twins: conservation laws and
survivor invariants the value-hash compare can't articulate."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_unigram_rarity_internal_consistency(spark):
    """rarity_x1000 is exactly the scaled truncating mean, rows come
    back rarest-first, and every row has tokens."""
    from ipeds_etl_spark.queries.text import q_docs_unigram_rarity

    rows = q_docs_unigram_rarity(spark, SF).collect()
    assert rows
    prev = None
    for r in rows:
        assert r.n_toks > 0
        assert r.rarity_x1000 == (1000 * r.rarity_sum) // r.n_toks
        if prev is not None:
            assert (prev.rarity_x1000, -prev.doc_id) >= (
                r.rarity_x1000,
                -r.doc_id,
            )
        prev = r


def test_concat_chunk_packing_conserves_tokens_and_matches_window(spark):
    """Conservation: per-source token totals sum to the corpus token
    count; equivalence: the distributed prefix-sum spelling matches a
    plain single-window recomputation bit-for-bit at gate scale."""
    from ipeds_etl_spark.functions import text as TX
    from ipeds_etl_spark.queries.text import _PACK_BLOCK, q_docs_concat_chunk_packing
    from ipeds_etl_spark.sources.tables import load_table
    from pyspark.sql import Window

    got = {r.source: r for r in q_docs_concat_chunk_packing(spark, SF).collect()}
    assert got

    d = load_table(spark, SF, "documents")
    n = d.select(
        "doc_id", "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    total = n.agg(F.sum("n_toks")).collect()[0][0]
    assert sum(r.n_tokens for r in got.values()) == total

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    p = n.withColumn("endpos", F.sum("n_toks").over(w))
    b = p.select(
        "source", "n_toks",
        F.expr(f"(endpos - n_toks) div {_PACK_BLOCK}").alias("fb"),
        F.expr(f"(endpos - 1) div {_PACK_BLOCK}").alias("lb"),
    )
    want = {
        r.source: r
        for r in b.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("lb") > F.col("fb"), 1).otherwise(0))
            .cast("long")
            .alias("n_crossers"),
            F.max(F.col("lb") - F.col("fb") + 1)
            .cast("long")
            .alias("max_span_blocks"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for src, g in got.items():
        x = want[src]
        assert (g.n_docs, g.n_tokens, g.n_crossers, g.max_span_blocks) == (
            x.n_docs, x.n_tokens, x.n_crossers, x.max_span_blocks
        )


def test_ngram_novelty_conservation(spark):
    """Each distinct shingle hash is novel exactly once (at its first
    document), so sum(n_novel) == |distinct shingles| and
    sum(n_shingles) == |distinct (doc, shingle)|."""
    from ipeds_etl_spark.functions import text as TX
    from ipeds_etl_spark.functions.hashing import parity_hash
    from ipeds_etl_spark.queries.text import q_docs_ngram_novelty
    from ipeds_etl_spark.sources.tables import load_table

    rows = q_docs_ngram_novelty(spark, SF).collect()
    assert rows
    d = load_table(spark, SF, "documents")
    g = (
        d.select(
            "doc_id",
            F.explode(TX.shingles_of(TX.tokens(F.col("text")), 3)).alias("x"),
        )
        .select("doc_id", parity_hash(F.col("x")).alias("h"))
        .distinct()
    )
    n_incidence = g.count()
    n_distinct = g.select("h").distinct().count()
    assert sum(r.n_shingles for r in rows) == n_incidence
    assert sum(r.n_novel for r in rows) == n_distinct
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles


def test_semdedup_survivor_invariants(spark):
    """Cluster sizes partition the corpus; a cluster's smallest vec_id
    is never dropped (it can only be id_a); zero-pair clusters keep
    everything; the run is deterministic."""
    from ipeds_etl_spark.queries.vectors import q_emb_semdedup
    from ipeds_etl_spark.sources.tables import load_table

    rows = q_emb_semdedup(spark, SF).collect()
    assert rows
    n_vecs = load_table(spark, SF, "embeddings").count()
    assert sum(r.n_points for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r.n_dropped <= max(r.n_points - 1, 0)
        assert r.n_dropped <= r.n_dup_pairs
        if r.n_dup_pairs == 0:
            assert r.n_dropped == 0

    again = q_emb_semdedup(spark, SF).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_semdedup_mega_cluster_cap_bounds_expansion(spark, tmp_path):
    """VERDICT r8 stretch: a degenerate mega-cluster (every vector
    identical) must degrade to a rank-capped expansion with a LOUD
    n_overflow audit row — cap² pairs, not n² — and the unexamined
    members are kept (checksum counts them)."""
    from ipeds_etl_spark.queries.vectors import semdedup_report

    n, cap = 10, 4
    spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0], "x") for i in range(1, n + 1)],
        "vec_id long, embedding array<float>, label string",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = semdedup_report(
        spark, str(tmp_path), k=2, rounds=1, cluster_cap=cap
    ).collect()
    # identical vectors: both seeds coincide, ties go to cid 0
    assert len(rows) == 1
    r = rows[0]
    assert r.cluster_id == 0 and r.n_points == n
    assert r.n_overflow == n - cap                      # loud, not silent
    assert r.n_dup_pairs == cap * (cap - 1) // 2        # capped, not n²/2
    # among the examined smallest-vec_id members, all but the smallest
    # drop; overflow members (ids cap+1..n) are kept unexamined
    assert r.n_dropped == cap - 1
    assert r.kept_checksum == sum(range(1, n + 1)) - sum(range(2, cap + 1))


def test_semdedup_broadcast_assignment_matches_literal_path(spark, monkeypatch):
    """The k>32 broadcast-join argmin must reproduce the literal-argmin
    trajectory bit-for-bit (same seeding, distances, lower-cid
    tie-break) — forced here by dropping the literal-path threshold to
    0 at the gate k."""
    import ipeds_etl_spark.queries.vectors as V

    base = V.semdedup_report(spark, SF).collect()
    monkeypatch.setattr(V, "_SD_LITERAL_K_MAX", 0)
    via_join = V.semdedup_report(spark, SF).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in via_join]


def test_hybrid_rrf_fusion_invariants(spark):
    """Each query emits exactly the top-5 fused ranks 1..5; the fused
    score is exactly 10^6 div (60+lex_rank) + 10^6 div (60+sem_rank);
    fused ordering is monotone in the score with doc_id tiebreak; a doc
    that is rank 1 on BOTH lists must be fused rank 1."""
    from ipeds_etl_spark.queries.text import _RRF_K, q_docs_hybrid_rrf

    rows = q_docs_hybrid_rrf(spark, SF).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert [r.fused_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) == 5
        for r in rs:
            assert r.rrf_x1e6 == (10**6 // (_RRF_K + r.lex_rank)) + (
                10**6 // (_RRF_K + r.sem_rank)
            )
        for a, b in zip(rs, rs[1:]):
            assert (a.rrf_x1e6, -a.doc_id) >= (b.rrf_x1e6, -b.doc_id)
        double_winner = [r for r in rs if r.lex_rank == 1 and r.sem_rank == 1]
        if double_winner:
            assert double_winner[0].fused_rank == 1


def test_hard_negatives_lexical_disjointness(spark):
    """Every emitted hard negative truly shares ZERO 3-gram shingles
    with its query (recomputed independently); ranks are 1..3 per
    query; and no emitted cosine exceeds the best cosine among the
    full zero-overlap candidate set (i.e. top-k is genuine)."""
    from ipeds_etl_spark.functions import text as TX
    from ipeds_etl_spark.queries.text import q_docs_hard_negatives
    from ipeds_etl_spark.sources.tables import load_table

    rows = q_docs_hard_negatives(spark, SF).collect()
    assert rows
    d = load_table(spark, SF, "documents")
    sh = {
        r.doc_id: set(r.sh)
        for r in d.select(
            "doc_id",
            F.array_distinct(TX.shingles_of(TX.tokens(F.col("text")), 3)).alias("sh"),
        ).collect()
    }
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert [r.hn_rank for r in rs] == list(range(1, len(rs) + 1))
        for r in rs:
            assert not (sh[qid] & sh[r.neighbor_id]), (qid, r.neighbor_id)
        for a, b in zip(rs, rs[1:]):
            assert (a.cos_sim, -a.neighbor_id) >= (b.cos_sim, -b.neighbor_id)


def test_mrl_funnel_recall_invariants(spark):
    """Funnel recall can never be below direct recall (the rerank can
    only fix prefix-ranking mistakes among the shortlist, and the
    shortlist contains the direct top-10 by construction); hits are
    bounded by k; recall permille is exactly 1000*hits div k; one row
    per anchor."""
    from ipeds_etl_spark.queries.vectors import _MRL_K, q_emb_mrl_funnel_recall

    rows = q_emb_mrl_funnel_recall(spark, SF).collect()
    assert len(rows) == 5
    assert [r.query_id for r in rows] == sorted(r.query_id for r in rows)
    for r in rows:
        assert r.k == _MRL_K
        assert 0 <= r.n_direct_hits <= r.n_funnel_hits <= _MRL_K
        assert r.funnel_recall_permille == (1000 * r.n_funnel_hits) // _MRL_K
        assert r.direct_recall_permille == (1000 * r.n_direct_hits) // _MRL_K
