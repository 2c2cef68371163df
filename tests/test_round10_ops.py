"""Round-10 invariants: the PPJoin hot-bucket bound (VERDICT r9 item
1), block-equality NULL semantics (ADVICE r9), the decimal gini
envelope (ADVICE r9 medium) and the BFS 3-hop twin (VERDICT r9 item
3)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ipeds_etl_spark.operators.dedup import (
    jaccard_prefix_pairs,
    ngram_jaccard_pairs,
)

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# PPJoin prefix filter: blocked form, NULL semantics, hot-bucket bound
# ---------------------------------------------------------------------------
def _blocked_docs(spark, with_nulls: bool = False):
    """Synthetic two-source corpus: per-source planted near-dups plus
    unrelated filler; every doc ends with the same boilerplate
    shingle-bearing suffix ('all rights reserved today') — the
    ubiquitous-shingle stress from VERDICT r9 item 1."""
    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(60):
        src = "web" if i % 2 == 0 else "books"
        body = " ".join(rng.choice(vocab) for _ in range(12))
        rows.append((i, src, body + " all rights reserved today"))
    # planted same-source near-dups (share the whole body)
    rows.append((100, "web", rows[0][2] + " extra"))
    rows.append((101, "books", rows[1][2] + " extra"))
    # planted CROSS-source clone: must NOT pair (blocked)
    rows.append((102, "books", rows[0][2]))
    if with_nulls:
        # NULL-source clones: the oracle's a.source = b.source never
        # pairs them, with anything or with each other
        rows.append((200, None, rows[0][2]))
        rows.append((201, None, rows[0][2]))
    return spark.createDataFrame(rows, "doc_id int, source string, text string")


def _bruteforce_blocked(docs, threshold: float):
    """Reference result: exact Jaccard over the same-source self-join
    (the oracle's spelling), via the O(n²) verifier per source."""
    out = []
    for src_row in docs.select("source").distinct().collect():
        src = src_row.source
        if src is None:
            continue
        block = docs.filter(F.col("source") == src)
        out.extend(
            tuple(r)
            for r in ngram_jaccard_pairs(
                block, "text", "doc_id", k=3, threshold=threshold
            ).collect()
        )
    return sorted(out)


def test_blocked_prefix_join_equals_blocked_bruteforce(spark):
    docs = _blocked_docs(spark)
    got = jaccard_prefix_pairs(
        docs, "text", "doc_id", k=3, threshold=0.2, block_cols=["source"]
    )
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == _bruteforce_blocked(docs, 0.2)
    ids = {r[0] for r in got_rows} | {r[1] for r in got_rows}
    # the cross-source clone never pairs despite jaccard 1.0 content
    assert not any(
        {a, b} == {0, 102} for a, b, _ in got_rows
    ), "cross-source pair leaked through the block"
    assert 100 in ids and 101 in ids  # planted same-source dups found


def test_blocked_prefix_join_null_block_pairs_nothing(spark):
    """ADVICE r9: SQL inner-equality semantics — NULL-source docs are
    identical clones of doc 0 but must pair with NOTHING, not even
    each other."""
    docs = _blocked_docs(spark, with_nulls=True)
    got = jaccard_prefix_pairs(
        docs, "text", "doc_id", k=3, threshold=0.2, block_cols=["source"]
    )
    ids = {r.id_a for r in got.collect()} | {r.id_b for r in got.collect()}
    assert 200 not in ids and 201 not in ids
    # and the non-NULL rows are unaffected
    assert sorted(
        map(tuple, got.collect())
    ) == _bruteforce_blocked(docs, 0.2)


def test_hot_shingle_bucket_never_forms(spark):
    """The bounded-intermediate guarantee: every doc shares the
    boilerplate shingle, so a shingle-bucket expansion would form a
    C(30,2)-per-source bucket for it; the prefix filter must rank it
    last (max document frequency) and keep the CANDIDATE set at the
    planted-pair scale, not the block² scale."""
    docs = _blocked_docs(spark)
    n = docs.count()
    cand = jaccard_prefix_pairs(
        docs,
        "text",
        "doc_id",
        k=3,
        threshold=0.2,
        block_cols=["source"],
        candidates_only=True,
    ).count()
    # block² would be 2 * C(31,2) = 930; unique 12-token bodies keep
    # real candidates to the planted dups plus rare-shingle accidents
    assert cand < n, f"candidate set {cand} is block²-scale (n={n})"
    # sanity: the ubiquitous suffix produces 3+ shared shingles per
    # doc pair, so an unfiltered shingle join would exceed C(n/2, 2)
    assert cand <= 10


def test_prefix_join_unblocked_unchanged(spark):
    """block_cols=() must stay byte-identical to the r9 behavior (the
    docs_jaccard_prefix_join oracle row depends on it)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 10))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = jaccard_prefix_pairs(df, "text", "doc_id", k=3, threshold=0.3)
    want = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.3)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------------------------
# Gini: decimal arithmetic beyond the old int64 envelope
# ---------------------------------------------------------------------------
def test_gini_decimal_exact_beyond_int64(spark):
    """ADVICE r9 medium: 1000·(2T−(n+1)S) wrapped signed-64 at ~sf10.
    Feed ranked magnitudes where that product reaches ~10²¹ and check
    the decimal pipeline against Python big-int truth exactly."""
    from ipeds_etl_spark.operators.layout import global_row_number
    from ipeds_etl_spark.queries.tpch import gini_from_ranked

    rng = random.Random(3)
    # pareto-ish skew at 1e12 scale: S ~ 5e17 (fits int64, as the
    # BIGINT output column requires), n*S ~ 3e22, numer ~ 1e25 ≫ 2^63
    rows = [(i, int(10**12 * (1.0 + 50.0 * rng.random() ** 4))) for i in range(50_000)]
    df = spark.createDataFrame(rows, "c long, x long")
    r = global_row_number(df, ["x", "c"], "rnk")
    got = gini_from_ranked(r).collect()[0]

    xs = sorted((x, c) for c, x in rows)
    n = len(xs)
    s = sum(x for x, _ in xs)
    t = sum((i + 1) * x for i, (x, _) in enumerate(xs))
    numer = 1000 * (2 * t - (n + 1) * s)
    assert numer > 2**63, "test data no longer exercises the envelope"
    want = numer // (n * s)
    assert (got.n_customers, got.total_revenue, got.gini_x1000) == (n, s, want)


# ---------------------------------------------------------------------------
# BFS 3-hop twin ≡ recursive CTE
# ---------------------------------------------------------------------------
def test_bfs_twin_matches_recursive_cte(spark):
    from ipeds_etl_spark.queries.tpch import (
        q_parts_copurchase_3hop,
        q_parts_copurchase_3hop_bfs,
    )

    cte = sorted(
        map(tuple, q_parts_copurchase_3hop(spark, SF_SMALL).collect())
    )
    bfs = sorted(
        map(tuple, q_parts_copurchase_3hop_bfs(spark, SF_SMALL).collect())
    )
    assert bfs == cte and len(bfs) > 0


def test_bfs_bitmap_matches_bruteforce_across_word_boundaries(spark):
    """r14: the seed-bitmap BFS spelling (one BIGINT word carries 64
    seeds; bit_or per (node, word); 64 conditional-sum readout) must
    reproduce a Python brute-force 3-hop closure exactly — on a graph
    whose seed indices span word 0 AND word 1+ (seed div 100 >= 64),
    with unreachable islands, cycles, and a seed that reaches only
    itself... which cannot happen here (seeds are edge sources), so a
    degree-1 seed instead."""
    import random

    from ipeds_etl_spark.queries.tpch import _bfs3_seed_counts

    rng = random.Random(11)
    # ~90 nodes; keys up to 13000 so seed indices reach div-100 = 130
    # (word 2); seeds = multiples of 100 that appear as sources
    nodes = sorted(rng.sample(range(1, 13001), 80) + [100, 6400, 6500, 12900])
    edges = set()
    for _ in range(300):
        a, b = rng.sample(nodes, 2)
        edges.add((a, b))
        edges.add((b, a))  # symmetric, like the co-purchase graph
    # a degree-1 seed: 12900 connects out to one node only
    edges = {(a, b) for (a, b) in edges if 12900 not in (a, b)}
    edges.add((12900, nodes[0]))
    edges.add((nodes[0], 12900))
    df = spark.createDataFrame(sorted(edges), ["s", "d"])

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = []
    for seed in sorted({a for a, _ in edges if a % 100 == 0}):
        reach = {seed}
        frontier = {seed}
        for _ in range(3):
            frontier = {d for v in frontier for d in adj.get(v, ())} - reach
            reach |= frontier
        want.append((seed, len(reach) - 1))

    got = sorted(map(tuple, _bfs3_seed_counts(df).collect()))
    assert got == sorted(want) and len(got) >= 3
    # the word-boundary seeds really exercised words 1 and 2
    assert any(s >= 6400 for s, _ in got)
