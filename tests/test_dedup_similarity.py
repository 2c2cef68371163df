"""Operator-level invariants for the dedup / similarity / text track.

The DuckDB oracle gate (tools/check_correctness.py) proves engine
parity; these tests prove *semantic* properties on crafted inputs:
planted duplicates are found, near-misses are not, rankings are exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.text import lang_id, token_count, word_shingles
from ipeds_etl_spark.operators import arrowverify as AV
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.operators import similarity as SIM

DOCS = [
    # (id, text) — 1/2 exact dups; 3 near-dup of 1; 4 unrelated
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again today"),
    (3, "the quick brown fox jumps over the lazy dog again and again now"),
    (4, "completely different content about spark shuffles and partitions here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup_groups(spark, docs):
    rows = {r["doc_id"]: r for r in DD.exact_dedup(docs, "text", "doc_id").collect()}
    assert rows[1]["group_size"] == 2 and rows[2]["group_size"] == 2
    assert rows[1]["keep"] is True and rows[2]["keep"] is False
    assert rows[3]["keep"] is True and rows[4]["keep"] is True


def test_minhash_identical_docs_share_all_bands(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.lsh_candidate_pairs(docs, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs  # identical ⇒ identical signature ⇒ all bands
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup likely shares a band
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_distance_semantics(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs, "text", "doc_id").collect()}
    assert fps[1] == fps[2]  # identical text ⇒ identical fingerprint
    ham13 = bin(fps[1] ^ fps[3]).count("1")
    ham14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.simhash_near_pairs(docs, "text", "doc_id").collect()
    }
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard_exact_values(spark, docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.0 < out[(1, 3)] < 1.0
    assert (1, 4) not in out or out[(1, 4)] == 0.0


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    [row] = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert row["s"] == ["a b"]  # shorter than k ⇒ single full-text shingle


def test_token_count_and_lang(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is on a mat",), ("el perro y el gato en la casa",)],
        "text string",
    )
    out = df.select(
        token_count(F.col("text")).alias("n"), lang_id(F.col("text")).alias("lang")
    ).collect()
    assert out[0]["n"] == 9 and out[0]["lang"] == "en"
    assert out[1]["lang"] == "es"


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [-1.0, 0.0, 0.0]),  # opposite of 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id int, embedding array<float>")


def test_brute_force_topk_exact_order(spark, vecs):
    out = SIM.brute_force_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=4
    ).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order[0] == 1  # most similar first
    assert order[-1] == 4  # anti-parallel last
    assert all(abs(r["cos_sim"]) <= 1.0 + 1e-12 for r in out)


def test_ivf_recall_on_clustered_input(spark, vecs):
    # 2 centroids (ids 0,1 — both near the x-axis): each is its own
    # bucket's representative, so the query must probe both buckets to
    # see its nearest neighbor; with both probed, recall is exact.
    out = SIM.ivf_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        k=2, n_centroids=2, n_probe=2,
    ).collect()
    best = min(out, key=lambda r: r["rank"])
    assert best["neighbor_id"] == 1


def test_embedding_near_dups_threshold(spark, vecs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dups(
            vecs, "vec_id", "embedding", threshold=0.95, n_centroids=1
        ).collect()
    }
    assert (0, 1) in pairs
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_hot_bucket_cap_bounds_expansion(spark):
    """A planted 10k-member bucket stays bounded: with a 50-member cap
    the expansion is C(50,2) pairs (not ~5*10^7) and the dropped count
    is surfaced; normal buckets are untouched with overflow 0."""
    from ipeds_etl_spark.operators.dedup import pairs_within_buckets

    hot = spark.range(10_000).select(
        F.lit("hot").alias("bucket"), F.col("id").cast("long").alias("id")
    )
    cold = spark.range(5).select(
        F.lit("cold").alias("bucket"), (F.col("id") + 100_000).alias("id")
    )
    bucketed = hot.unionByName(cold)
    payload = F.struct(F.col("id"))
    pairs = pairs_within_buckets(
        bucketed, ["bucket"], payload, max_bucket_size=50, overflow_col="n_dropped"
    ).cache()
    hot_pairs = pairs.filter(F.col("n_dropped") > 0)
    assert hot_pairs.count() == 50 * 49 // 2
    assert hot_pairs.agg(F.max("n_dropped")).first()[0] == 10_000 - 50
    # kept members are the deterministic smallest-by-payload 50
    assert hot_pairs.agg(F.max("b.id")).first()[0] == 49
    cold_pairs = pairs.filter(F.col("n_dropped") == 0)
    assert cold_pairs.count() == 5 * 4 // 2
    # uncapped mode still exact for normal buckets
    plain = pairs_within_buckets(cold, ["bucket"], payload, max_bucket_size=None)
    assert plain.count() == 10


def test_rp_lsh_family_is_capped_and_identical_off_the_hot_path(spark, vecs):
    """The RP-LSH/near-dup family routes through the rank-capped
    in-bucket expansion: on ordinary data results match the uncapped
    form exactly, and a planted hot bucket (many near-identical
    vectors hashing together) expands at most C(cap, 2) pairs instead
    of quadratically."""
    def pairset(df):
        return {(r["id_a"], r["id_b"], round(r["cos_sim"], 12)) for r in df.collect()}

    for fn in (
        lambda mbs: SIM.rp_lsh_near_dups(
            vecs, "vec_id", "embedding", n_planes=4, dim=4,
            threshold=0.3, max_bucket_size=mbs,
        ),
        lambda mbs: SIM.rp_lsh_banded_pairs(
            vecs, "vec_id", "embedding", n_bands=2, planes_per_band=2,
            dim=4, threshold=0.3, max_bucket_size=mbs,
        ),
        lambda mbs: SIM.embedding_near_dups(
            vecs, "vec_id", "embedding", threshold=0.95, n_centroids=1,
            max_bucket_size=mbs,
        ),
    ):
        assert pairset(fn(10_000)) == pairset(fn(None))

    # planted hot bucket: 300 copies of the same vector all collide
    hot = spark.range(300).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(0.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    capped = SIM.rp_lsh_near_dups(
        hot, "vec_id", "embedding", n_planes=4, dim=4,
        threshold=0.9, max_bucket_size=20,
    )
    assert capped.count() == 20 * 19 // 2


def test_adaptive_lsh_geometry_grows_with_corpus(spark):
    """Geometry derived from corpus stats: plane/centroid counts (and
    with them the bucket space) grow with the corpus instead of
    freezing sf-sized constants; the n_planes=None path wires it in."""
    p1k = SIM.suggest_rp_planes(1_000)
    p1m = SIM.suggest_rp_planes(1_000_000)
    p1b = SIM.suggest_rp_planes(1_000_000_000)
    assert p1k <= p1m <= p1b
    assert p1m >= 8 and p1b >= 18  # 2^p buckets keep E[bucket] ~ target
    c = [SIM.suggest_n_centroids(n) for n in (10_000, 10_000_000, 1_000_000_000)]
    assert c == sorted(c) and c[-1] > c[0]
    # expected bucket population stays ~target as the corpus scales
    for n in (10**5, 10**7, 10**9):
        assert n / (2 ** SIM.suggest_rp_planes(n)) <= 2048
    for n in (10**5, 10**7):
        assert n / SIM.suggest_n_centroids(n) <= 8192
    # beyond the centroid cap the list-literal bound wins by design
    assert SIM.suggest_n_centroids(10**9) == 1 << 16

    small = spark.range(50).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    out = SIM.rp_lsh_near_dups(
        small, "vec_id", "embedding", n_planes=None, dim=4, threshold=0.99
    )
    assert out.columns == ["id_a", "id_b", "cos_sim"]
    out.collect()  # adaptive path executes end-to-end


def test_pairs_within_buckets_equals_naive_self_join(spark):
    """Property: on arbitrary (bucket, id) assignments the in-bucket
    expansion (uncapped) emits exactly the pairs a < b self-join would
    — the rewrite that removed the join must be observationally
    identical. Deterministic multi-bucket fixture with singleton,
    even, odd and colliding bucket sizes."""
    rows = [
        ("b0", 1), ("b0", 2), ("b0", 3), ("b0", 4), ("b0", 5),
        ("b1", 10), ("b1", 11),
        ("b2", 20),
        ("b3", 30), ("b3", 31), ("b3", 32),
    ]
    df = spark.createDataFrame(rows, "bucket string, id long")
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in DD.pairs_within_buckets(
            df, ["bucket"], F.struct(F.col("id")), max_bucket_size=None
        ).collect()
    }
    L, R = df.alias("l"), df.alias("r")
    want = {
        (r["ida"], r["idb"])
        for r in L.join(
            R, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id"))
        )
        .select(F.col("l.id").alias("ida"), F.col("r.id").alias("idb"))
        .collect()
    }
    assert got == want
    # capped form is a subset, restricted to the smallest ids per bucket
    capped = {
        (r["a"]["id"], r["b"]["id"])
        for r in DD.pairs_within_buckets(
            df, ["bucket"], F.struct(F.col("id")), max_bucket_size=3
        ).collect()
    }
    assert capped <= want
    assert capped == {p for p in want if p[0] in (1,2,3,10,11,20,30,31,32) and p[1] in (1,2,3,10,11,20,30,31,32)}


def test_jaccard_prefix_join_equals_bruteforce(spark):
    """The prefix filter must be lossless at any threshold: compare
    against the O(n^2) verifier on synthetic docs with heavy overlap."""
    import random

    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(40):
        n = rng.randint(4, 10)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dup: same text, one word changed
    rows.append((100, rows[0][1] + " tail"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.3, 0.6):
        got = jaccard_prefix_pairs(df, "text", "doc_id", k=3, threshold=t)
        want = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=t)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"threshold {t}"


def test_lsh_pair_memo_invalidates_on_corpus_change(spark, tmp_path):
    """The memoized candidate-pair index is keyed by the corpus file
    fingerprint: same corpus version → the SAME checkpointed frame
    (no rebuild); regenerated corpus file → a fresh build whose pairs
    reflect the new data."""
    import shutil

    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.indexes import lsh_doc_pairs

    sf = str(tmp_path)
    shutil.copytree("/root/testdata/sf0.001", sf, dirs_exist_ok=True)

    p1 = lsh_doc_pairs(spark, sf)
    p1_again = lsh_doc_pairs(spark, sf)
    assert p1 is p1_again  # memo hit: identical frame object
    n1 = p1.count()

    # regenerate the corpus: drop half the documents (mtime+size change)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half.write.mode("overwrite").parquet(f"{sf}/documents2.parquet")
    import os
    from pathlib import Path

    target = Path(f"{sf}/documents.parquet")
    if target.is_dir():
        shutil.rmtree(target)
    else:
        os.remove(target)  # sf0.001 ships single-file tables
    shutil.move(f"{sf}/documents2.parquet", str(target))

    p2 = lsh_doc_pairs(spark, sf)
    assert p2 is not p1  # fingerprint changed -> rebuilt
    # rebuilt index never pairs a dropped (odd) doc
    odd = p2.filter((F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)).count()
    assert odd == 0
    assert p2.count() <= n1


def test_intra_batch_dedup_greedy_min_id(spark):
    """intra_batch_dedup (ADVICE r6): within one batch, the smaller id
    of every LSH candidate pair survives; transitive chains collapse;
    docs with no candidates pass through untouched."""
    from ipeds_etl_spark.operators.dedup import (
        intra_batch_dedup,
        lsh_candidate_pairs,
    )

    base = " ".join(f"token{i} word{i * 7 % 53}" for i in range(60))
    rows = [
        (1, base),
        (2, base + " tiny tail"),          # near-dup of 1
        (3, base + " tiny tail twist"),    # near-dup of 2 (chain)
        (4, "completely different content about spark shuffle planning " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(df, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs  # sanity: the clones do collide
    kept = {r.doc_id for r in intra_batch_dedup(df, "text", "doc_id").collect()}
    # every id that is the larger side of some pair is dropped
    losers = {b for (_a, b) in pairs}
    assert kept == {1, 2, 3, 4} - losers
    assert 1 in kept and 4 in kept
    # no surviving candidate pair
    assert not any(a in kept and b in kept for (a, b) in pairs)


# ---------------------------------------------------------------------------
# JVM reference verify kernels: the fused higher-order-function spellings
# the Arrow kernels (``operators/arrowverify.py``) must match bit for bit.
# Production runs the Arrow kernels only; these stay as the reference.
# ---------------------------------------------------------------------------
def fused_pair_hits_within_buckets(
    bucketed,
    bucket_cols,
    payload,
    pair_hit,
    keep,
    max_bucket_size=DD.MAX_BUCKET_SIZE_DEFAULT,
    cap_mode="window",
    chunk=DD.FUSED_PAIR_CHUNK,
):
    """``pair_hit(a, b)`` for every unordered payload pair sharing a
    bucket, keeping rows that pass ``keep(hit)`` — computed inside one
    nested higher-order expression per (bucket, chunk) row, so only
    hits become rows. Same cap semantics (``capped_bucket_arrays``) and
    chunked expansion frame as the Arrow kernels; each ``a < b`` pair
    visits once (sorted array, partners strictly after the
    a-position). Returns ``*bucket_cols, h`` (the ``pair_hit``
    struct)."""
    chunked = AV._chunked_buckets(
        bucketed, bucket_cols, payload, max_bucket_size, cap_mode, chunk
    )

    def hits_for_chunk(xs, c):
        lo = (c * chunk).cast("int")
        hi = F.least(lo + F.lit(chunk) - 1, F.size(xs) - 2).cast("int")

        def hits_for_i(i):
            a = F.element_at(xs, (i + 1).cast("int"))
            return F.filter(
                F.transform(
                    F.sequence(i + 1, F.size(xs) - 1),
                    lambda j: pair_hit(a, F.element_at(xs, (j + 1).cast("int"))),
                ),
                keep,
            )

        return F.flatten(F.transform(F.sequence(lo, hi), hits_for_i))

    return chunked.select(
        *bucket_cols,
        F.explode(hits_for_chunk(F.col("xs"), F.col("__c"))).alias("h"),
    )


def fused_member_folds_within_buckets(
    bucketed,
    bucket_cols,
    payload,
    zero,
    merge,
    max_bucket_size=DD.MAX_BUCKET_SIZE_DEFAULT,
    cap_mode="window",
    chunk=DD.FUSED_PAIR_CHUNK,
):
    """Per-MEMBER left-fold over each member's EARLIER in-bucket
    partners: for every payload at sorted position ``j >= 1``,
    ``fold(merge, zero, [(xs[i], xs[j]) for i < j])`` — the pair
    stream's groupBy on the b-side id without materializing the pairs.
    Position-0 members emit nothing. Returns ``*bucket_cols, m, acc``."""
    chunked = AV._chunked_buckets(
        bucketed, bucket_cols, payload, max_bucket_size, cap_mode, chunk
    )

    def folds_for_chunk(xs, c):
        # b-positions j = jm1 + 1 for jm1 in [lo, hi] (0-based)
        lo = (c * chunk).cast("int")
        hi = F.least(lo + F.lit(chunk) - 1, F.size(xs) - 2).cast("int")

        def fold_for_j(jm1):
            b = F.element_at(xs, (jm1 + 2).cast("int"))
            acc = F.aggregate(
                F.sequence(F.lit(0), jm1),
                zero,
                lambda a_, i: merge(a_, F.element_at(xs, (i + 1).cast("int")), b),
            )
            return F.struct(b.alias("m"), acc.alias("acc"))

        return F.transform(F.sequence(lo, hi), fold_for_j)

    return chunked.select(
        *bucket_cols,
        F.explode(folds_for_chunk(F.col("xs"), F.col("__c"))).alias("f"),
    ).select(*bucket_cols, F.col("f.m").alias("m"), F.col("f.acc").alias("acc"))


def test_member_fold_matches_pair_stream_groupby(spark):
    """``fused_member_folds_within_buckets`` (per-b-side fold
    inside the bucket expression) must reproduce exactly what the pair
    stream + groupBy(id_b) computed — per-member qualifying-pair counts
    and max cosine — on a fixture with multiple buckets, a bucket
    bigger than the chunk size (chunking exercised), a capped bucket,
    and members with NO qualifying pair (sentinel rows)."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(300):
        bucket = i % 3
        vec = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, bucket, vec))
    df = spark.createDataFrame(rows, "id long, bucket int, vec array<double>")
    payload = F.struct(
        F.col("id"), F.col("vec"), SIM.norm(F.col("vec")).alias("nrm")
    )
    floor = 0.30
    ts = [0.30, 0.50, 0.70]

    def want_via_pairs(cap):
        hits = fused_pair_hits_within_buckets(
            df.select("bucket", "id", "vec"),
            ["bucket"],
            payload,
            pair_hit=lambda a, b: F.struct(
                a["id"].alias("id_a"),
                b["id"].alias("id_b"),
                (SIM.dot(a["vec"], b["vec"]) / (a["nrm"] * b["nrm"])).alias(
                    "cos"
                ),
            ),
            keep=lambda h: h["cos"] >= floor,
            max_bucket_size=cap,
        ).select("h.id_b", "h.cos")
        out = {}
        for r in hits.groupBy("id_b").agg(
            F.max("cos").alias("mc"),
            *[
                F.sum(F.when(F.col("cos") >= t, 1).otherwise(0)).alias(f"c{i}")
                for i, t in enumerate(ts)
            ],
        ).collect():
            out[r["id_b"]] = (r["mc"], tuple(r[f"c{i}"] for i in range(len(ts))))
        return out

    def got_via_fold(cap, chunk):
        zero = F.struct(
            *[F.lit(0).cast("long").alias(f"c{i}") for i in range(len(ts))],
            F.lit(-1.0).alias("mc"),
        )

        def merge(acc, a, b):
            cos = SIM.dot(a["vec"], b["vec"]) / (a["nrm"] * b["nrm"])

            def upd(cs):
                fields = [
                    (acc[f"c{i}"] + F.when(cs >= t, 1).otherwise(0)).alias(
                        f"c{i}"
                    )
                    for i, t in enumerate(ts)
                ]
                fields.append(
                    F.greatest(
                        acc["mc"],
                        F.when(cs >= floor, cs).otherwise(F.lit(-1.0)),
                    ).alias("mc")
                )
                return F.struct(*fields)

            return F.element_at(F.transform(F.array(cos), upd), 1)

        out = {}
        for r in fused_member_folds_within_buckets(
            df.select("bucket", "id", "vec"),
            ["bucket"],
            payload,
            zero,
            merge,
            max_bucket_size=cap,
            chunk=chunk,
        ).collect():
            acc = r["acc"]
            if acc["mc"] >= floor:  # members w/o qualifying pair absent above
                out[r["m"]["id"]] = (
                    acc["mc"],
                    tuple(acc[f"c{i}"] for i in range(len(ts))),
                )
            else:
                assert tuple(acc[f"c{i}"] for i in range(len(ts))) == (0,) * len(
                    ts
                )
        return out

    for cap, chunk in ((None, 16), (None, 128), (40, 16)):
        want = want_via_pairs(cap)
        got = got_via_fold(cap, chunk)
        assert got == want, (cap, chunk, len(got), len(want))
    assert want_via_pairs(None)  # non-trivial fixture


def _arrow_fixture(spark, dim=8, n=300, buckets=3, seed=13):
    import random

    rng = random.Random(seed)
    rows = [
        (i, i % buckets, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, bucket int, vec array<double>")


def test_arrow_pair_cos_matches_fused(spark):
    """r14: the Arrow/numpy in-bucket pair verify must emit the exact
    pair set AND bit-identical cos_sim doubles as the fused JVM HOF —
    uncapped, capped, and with a chunk smaller than the bucket."""
    df = _arrow_fixture(spark)
    payload = F.struct(
        F.col("id"), F.col("vec"), SIM.norm(F.col("vec")).alias("nrm")
    )
    for cap, chunk in ((None, 16), (40, 16), (None, 128)):
        jvm = {
            (r["h"]["id_a"], r["h"]["id_b"]): r["h"]["cos_sim"]
            for r in fused_pair_hits_within_buckets(
                df.select("bucket", "id", "vec"),
                ["bucket"],
                payload,
                pair_hit=lambda a, b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    (SIM.dot(a["vec"], b["vec"]) / (a["nrm"] * b["nrm"])).alias(
                        "cos_sim"
                    ),
                ),
                keep=lambda h: h["cos_sim"] >= 0.30,
                max_bucket_size=cap,
            ).collect()
        }
        arw = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in AV.pair_cos_hits_within_buckets(
                df.select("bucket", "id", "vec"),
                ["bucket"],
                "id",
                "vec",
                0.30,
                max_bucket_size=cap,
                chunk=chunk,
            ).collect()
        }
        assert jvm.keys() == arw.keys(), (cap, chunk, len(jvm), len(arw))
        assert all(jvm[k] == arw[k] for k in jvm), (cap, chunk)
        assert jvm  # non-trivial


def test_arrow_member_stats_match_member_fold(spark):
    """r14: the Arrow member-stats kernel must reproduce the JVM
    member-fold exactly (counts and max cosine, sentinel included)."""
    df = _arrow_fixture(spark, seed=7)
    payload = F.struct(
        F.col("id"), F.col("vec"), SIM.norm(F.col("vec")).alias("nrm")
    )
    ts = [0.30, 0.50, 0.70]
    zero = F.struct(
        *[F.lit(0).cast("long").alias(f"c{i}") for i in range(len(ts))],
        F.lit(-1.0).alias("mc"),
    )

    def merge(acc, a, b):
        cos = SIM.dot(a["vec"], b["vec"]) / (a["nrm"] * b["nrm"])

        def upd(cs):
            fields = [
                (acc[f"c{i}"] + F.when(cs >= t, 1).otherwise(0)).alias(f"c{i}")
                for i, t in enumerate(ts)
            ]
            fields.append(
                F.greatest(
                    acc["mc"], F.when(cs >= 0.30, cs).otherwise(F.lit(-1.0))
                ).alias("mc")
            )
            return F.struct(*fields)

        return F.element_at(F.transform(F.array(cos), upd), 1)

    for cap, chunk in ((None, 16), (40, 32)):
        jvm = {
            r["m"]["id"]: (
                r["acc"]["mc"],
                *[r["acc"][f"c{i}"] for i in range(len(ts))],
            )
            for r in fused_member_folds_within_buckets(
                df.select("bucket", "id", "vec"),
                ["bucket"],
                payload,
                zero,
                merge,
                max_bucket_size=cap,
                chunk=chunk,
            ).collect()
        }
        arw = {
            r["id"]: (r["mc"], *[r[f"c{i}"] for i in range(len(ts))])
            for r in AV.member_cos_stats_within_buckets(
                df.select("bucket", "id", "vec"),
                ["bucket"],
                "id",
                "vec",
                floor=0.30,
                thresholds=ts,
                max_bucket_size=cap,
                chunk=chunk,
            ).collect()
        }
        assert jvm == arw, (cap, chunk, len(jvm), len(arw))
        assert jvm


def test_arrow_int_pairs_match_fused(spark):
    """r14: the Arrow integer cross-multiplied verify (semdedup test)
    must emit the exact (bucket, id_a, id_b) set as the fused JVM
    form — quantized vectors with negative coordinates included."""
    import random

    rng = random.Random(5)
    rows = [
        (i, i % 3, [rng.randint(-1000, 1000) for _ in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, bucket int, v array<long>")
    num, den = 1, 16  # tau^2 = 0.0625 (tau = 0.25): plenty of hits
    n2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    idot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    for cap in (None, 50):
        jvm = {
            (r["bucket"], r["h"]["id_a"], r["h"]["id_b"])
            for r in fused_pair_hits_within_buckets(
                df.select("bucket", "id", "v"),
                ["bucket"],
                F.struct(F.col("id"), F.col("v"), n2.alias("n2")),
                pair_hit=lambda a, b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    idot(a["v"], b["v"]).cast("long").alias("dp"),
                    a["n2"].alias("na2"),
                    b["n2"].alias("nb2"),
                ),
                keep=lambda h: (h["dp"] > 0)
                & (
                    F.lit(den) * h["dp"] * h["dp"]
                    >= F.lit(num) * h["na2"] * h["nb2"]
                ),
                max_bucket_size=cap,
            ).collect()
        }
        arw = {
            (r["bucket"], r["id_a"], r["id_b"])
            for r in AV.pair_int_crossmul_hits_within_buckets(
                df.select("bucket", "id", "v"),
                ["bucket"],
                "id",
                "v",
                num=num,
                den=den,
                max_bucket_size=cap,
                chunk=16,
            ).collect()
        }
        assert jvm == arw, (cap, len(jvm), len(arw))
        assert jvm


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from ipeds_etl_spark.operators import arrowverify as AV

fv = spark.createDataFrame(
    [(i, i % 2, [float(i % 3 + 1), 1.0]) for i in range(8)],
    "id long, bucket int, vec array<double>",
)
iv = spark.createDataFrame(
    [(i, i % 2, [i % 3 + 1, 1]) for i in range(8)],
    "id long, bucket int, v array<long>",
)
print(json.dumps([
    AV.pair_cos_hits_within_buckets(fv, ["bucket"], "id", "vec", 0.5).count(),
    AV.member_cos_stats_within_buckets(
        fv, ["bucket"], "id", "vec", floor=0.5, thresholds=[0.5]
    ).count(),
    AV.pair_int_crossmul_hits_within_buckets(
        iv, ["bucket"], "id", "v", num=1, den=4
    ).count(),
]))
"""


def test_arrow_kernels_run_from_foreign_working_directory(tmp_path):
    """The Arrow verify kernels must run in a session whose Python
    workers cannot import the package: started from another working
    directory, with the package only on the Spark driver's
    ``sys.path`` (how an application that embeds the engine loads it).
    The kernels' module ships to workers by value, so they need only
    numpy and pyarrow."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT.format(repo=repo)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(counts) == 3 and all(n > 0 for n in counts), counts
