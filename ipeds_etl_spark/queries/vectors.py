"""Vector search over the embeddings table: brute-force, IVF, random-
projection LSH, PQ, IVF-PQ, residual IVF-PQ and SQ8 search, their recall
audits, embedding dedup and decontamination, clustering, and the
multimodal feature queries. The trained codebooks are build-once
artifacts in ``operators/indexes.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.operators.indexes import (
    PQ_ITERS,
    PQ_K,
    PQ_M,
    PQ_SUB_DIM,
    ivf_codebook,
    pq_codebook,
    residual_pq_books,
    sq8_bounds,
)
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.sources.tables import load_table


_DOT = (
    "list_reduce(list_transform(range(len({a})), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================
_COS_AB = _cos_sql("q.embedding", "c.embedding")


@_register(
    "emb_topk_bruteforce",
    f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_AB} AS cos_sim,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS INTEGER) AS "rank"
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
    WHERE "rank" <= 5
    """,
)
def q_emb_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 5):
    the broadcast-queries × corpus-scan baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(
        e, e.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=5
    )


def _ivf_sql(n_iters: int = 2, dim: int = 64) -> str:
    """Shared CTEs: seed centroids (first 8 by vec_id), ``n_iters``
    unrolled quantized-mean Lloyd iterations (bit-identical to
    ``similarity.kmeans_refine``: scale 2^20 exact, floor(x+0.5) to
    BIGINT, exact sums, one IEEE division back), then corpus
    assignment against the refined centroids."""
    from ipeds_etl_spark.operators.similarity import KMEANS_SCALE

    cos_vc = _cos_sql("v.embedding", "c.embedding")
    parts = [
        "cent0 AS (SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT 8)"
    ]
    for k in range(n_iters):
        parts.append(
            f"""a{k} AS (
      SELECT v.vec_id, v.embedding, c.cid,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.cid DESC) AS rn
      FROM embeddings v CROSS JOIN cent{k} c)"""
        )
        parts.append(
            f"""m{k} AS (
      SELECT cid, i AS pos,
             CAST(SUM(CAST(floor(CAST(embedding[i+1] AS DOUBLE) * {KMEANS_SCALE}.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) / {KMEANS_SCALE}.0 AS mu
      FROM a{k}, range({dim}) t(i) WHERE rn = 1 GROUP BY cid, i)"""
        )
        parts.append(
            f"cent{k + 1} AS (SELECT cid, list(mu ORDER BY pos) AS embedding FROM m{k} GROUP BY cid)"
        )
    parts.append(
        f"""scored AS (
      SELECT v.vec_id, v.embedding, c.cid, {cos_vc} AS sim,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.cid DESC) AS rn
      FROM embeddings v CROSS JOIN cent{n_iters} c)"""
    )
    parts.append(
        "assigned AS (SELECT vec_id, embedding, cid AS centroid_id FROM scored WHERE rn = 1)"
    )
    return ",\n    ".join(parts)


@_register(
    "emb_ivf_topk",
    f"""
    WITH {_ivf_sql()},
    probes AS (SELECT vec_id, embedding, cid AS centroid_id FROM scored
               WHERE rn <= 2 AND vec_id < 5)
    SELECT * FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_cos_sql("q.embedding", "n.embedding")} AS cos_sim,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql("q.embedding", "n.embedding")} DESC, n.vec_id ASC)
               AS INTEGER) AS "rank"
      FROM probes q JOIN assigned n
        ON q.centroid_id = n.centroid_id AND q.vec_id <> n.vec_id)
    WHERE "rank" <= 5
    """,
)
def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (8 deterministic centroids, 2 probes):
    the scale path — each query touches ~1/4 of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(
        e, e.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        k=5, n_centroids=8, n_probe=2,
        cent_rows=ivf_codebook(spark, sf_dir),
    )


@_register(
    "emb_near_dups",
    f"""
    WITH {_ivf_sql()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql("a.embedding", "b.embedding")} AS cos_sim
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.4
    """,
)
def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within shared IVF buckets
    (cosine ≥ 0.4 — the corpus has no planted identicals; threshold
    chosen to exercise the operator on real pairs)."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dups(
        e, "vec_id", "embedding", threshold=0.4, n_centroids=8,
        cent_rows=ivf_codebook(spark, sf_dir),
    )


_IVF_PAIR_COS = _cos_sql("q.embedding", "n.embedding")


def _recall_at_5(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """``(query_id, k, n_hit, recall_at_5)``: per query, how many of
    the exact top-5 neighbors (``brute``) an approximate index's top-5
    (``approx``) also returns — the recall gate of every ANN index."""
    hits = brute.alias("b").join(
        approx.alias("a"),
        on=[
            F.col("b.query_id") == F.col("a.query_id"),
            F.col("b.neighbor_id") == F.col("a.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("a.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


@_register(
    "emb_ivf_recall",
    f"""
    WITH {_ivf_sql()},
    probes AS (SELECT vec_id, embedding, cid AS centroid_id FROM scored
               WHERE rn <= 2 AND vec_id < 5),
    ivf AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_IVF_PAIR_COS} DESC, n.vec_id ASC) AS rnk
      FROM probes q JOIN assigned n
        ON q.centroid_id = n.centroid_id AND q.vec_id <> n.vec_id)
      WHERE rnk <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(i.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the refined-centroid IVF against exact brute force,
    per query — the quality gate for the approximate index. Exactly
    reproducible (and therefore value-hash-checked) because the k-means
    refinement is deterministic on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    ivf = SIM.ivf_topk(
        e, queries, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2,
        cent_rows=ivf_codebook(spark, sf_dir),
    )
    return _recall_at_5(brute, ivf)


def _rp_oracle_sql() -> str:
    """Random-hyperplane LSH oracle with the same literal ±1 planes."""
    from ipeds_etl_spark.operators.similarity import rp_planes

    bits = []
    for p, plane in enumerate(rp_planes(8, 64)):
        arr = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        proj = _DOT.format(a="embedding", b=arr)
        bits.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    bucket = "(" + " + ".join(bits) + ")"
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql("a.embedding", "b.embedding")} AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.3
    """


@_register("emb_rp_lsh_near_dups", _rp_oracle_sql())
def q_emb_rp_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs (8 Rademacher planes,
    cosine-verified ≥ 0.3) — the bucketing alternative to IVF."""
    from ipeds_etl_spark.operators.similarity import rp_lsh_near_dups

    e = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_near_dups(
        e, "vec_id", "embedding", n_planes=8, dim=64, threshold=0.3,
    )


def _rp_bucket_sql() -> str:
    """DuckDB expression for the 8-plane Rademacher bucket id."""
    from ipeds_etl_spark.operators.similarity import rp_planes

    bits = []
    for pl, plane in enumerate(rp_planes(8, 64)):
        arr = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        proj = _DOT.format(a="embedding", b=arr)
        bits.append(f"CASE WHEN {proj} > 0 THEN {1 << pl} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _rp_recall_oracle() -> str:
    """LSH pairs vs exact all-pairs at the same threshold → recall."""
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_rp_bucket_sql()} AS bucket FROM embeddings),
    lsh AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= 0.3),
    exact AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {cos_ab} >= 0.3)
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(l.id_a) AS BIGINT) AS n_found,
           CAST(count(l.id_a) AS DOUBLE) / count(*) AS recall
    FROM exact e LEFT JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b
    """


@_register("emb_rp_lsh_recall", _rp_recall_oracle())
def q_emb_rp_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the RP-LSH near-dup pairs against the exact
    all-pairs-at-threshold ground truth — the quality gate for the
    hyperplane bucketing (collision probability (1-θ/π)^n_planes).
    The exact side is O(n²) by definition: it runs at oracle scale to
    *measure* the approximation; production uses the LSH side alone."""
    from ipeds_etl_spark.operators.similarity import cosine, rp_lsh_near_dups

    e = load_table(spark, sf_dir, "embeddings")
    lsh = rp_lsh_near_dups(
        e, "vec_id", "embedding", n_planes=8, dim=64, threshold=0.3,
    )
    L, R = e.alias("a"), e.alias("b")
    exact = (
        L.join(R, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cosine(F.col("a.embedding"), F.col("b.embedding")) >= 0.3)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    )
    hit = exact.join(
        lsh.select("id_a", "id_b").withColumn("found", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return hit.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("found").alias("n_found"),
        (F.count("found").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


def _rp_banded_bucketed_sql(n_bands: int = 6, planes_per_band: int = 4) -> str:
    from ipeds_etl_spark.operators.similarity import rp_planes_banded

    fams = rp_planes_banded(n_bands, planes_per_band, 64)
    selects = []
    for b, planes in enumerate(fams):
        bits = []
        for pl, plane in enumerate(planes):
            arr = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
            proj = _DOT.format(a="embedding", b=arr)
            bits.append(f"CASE WHEN {proj} > 0 THEN {1 << pl} ELSE 0 END")
        selects.append(
            f"SELECT vec_id, embedding, {b} AS band, "
            f"({' + '.join(bits)}) AS bucket FROM embeddings"
        )
    return " UNION ALL ".join(selects)


def _rp_banded_recall_oracle() -> str:
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    return f"""
    WITH bucketed AS ({_rp_banded_bucketed_sql()}),
    lsh AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= 0.3),
    exact AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {cos_ab} >= 0.3)
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(l.id_a) AS BIGINT) AS n_found,
           CAST(count(l.id_a) AS DOUBLE) / count(*) AS recall
    FROM exact e LEFT JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b
    """


@_register("emb_rp_lsh_banded_recall", _rp_banded_recall_oracle())
def q_emb_rp_lsh_banded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of BANDED RP-LSH (6 bands × 4 planes, OR-amplified:
    1-(1-p⁴)⁶) against the exact threshold pairs — demonstrating the
    amplification the single-band measurement (``emb_rp_lsh_recall``,
    0.018) motivates. Same exact-side caveat: ground truth is O(n²),
    run at oracle scale to measure."""
    from ipeds_etl_spark.operators.similarity import cosine, rp_lsh_banded_pairs

    e = load_table(spark, sf_dir, "embeddings")
    lsh = rp_lsh_banded_pairs(
        e, "vec_id", "embedding", n_bands=6, planes_per_band=4, dim=64, threshold=0.3
    )
    L, R = e.alias("a"), e.alias("b")
    exact = (
        L.join(R, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cosine(F.col("a.embedding"), F.col("b.embedding")) >= 0.3)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    )
    hit = exact.join(
        lsh.select("id_a", "id_b").withColumn("found", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return hit.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("found").alias("n_found"),
        (F.count("found").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


# ===========================================================================
# Multimodal — value-checked: the stub extractor is a deterministic byte
# histogram over the UTF-8 payload, so DuckDB can replicate it exactly by
# reading byte values out of hex(encode(text)). The float features are a
# single IEEE division of exact integers on both engines — bit-identical.
# ===========================================================================
def _byte_bucket_sql(h: str, n: str, bucket: int) -> str:
    """Count of payload bytes with ``byte % 8 == bucket`` (byte i read
    from the hex dump at chars 2i+1..2i+2)."""
    return (
        f"len(list_filter(range({n}), i -> "
        f"(CAST(concat('0x', substr({h}, CAST(2*i+1 AS INT), 2)) AS INT) % 8) = {bucket}))"
    )


def _multimodal_oracle() -> str:
    from ipeds_etl_spark.operators.multimodal import FEATURE_DIM

    feats = ",\n           ".join(
        f"CAST({_byte_bucket_sql('h', 'n', j)} AS DOUBLE) / greatest(n, 1) AS f{j}"
        for j in range(FEATURE_DIM)
    )
    return f"""
    WITH b AS (
      SELECT doc_id, text, hex(encode(text)) AS h, strlen(text) AS n
      FROM documents)
    SELECT doc_id,
           'image' AS modality,
           CAST(n AS BIGINT) AS n_bytes,
           sha256(text) AS byte_sha,
           {feats}
    FROM b
    """


@_register("multimodal_features", _multimodal_oracle())
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction: documents → binary column +
    metadata struct → Arrow-batched ``mapInPandas`` extractor. Decode
    itself is stubbed (no media libs in this container); the schema,
    batching, and partition plumbing are the real thing — and the stub
    is deterministic, so this row IS value-hash-checked against DuckDB
    (full 8-bucket feature vector, exact IEEE parity)."""
    from ipeds_etl_spark.operators.multimodal import (
        FEATURE_DIM,
        attach_payload,
        extract_features,
    )

    d = load_table(spark, sf_dir, "documents")
    media = attach_payload(d, "text", "doc_id", modality="image")
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        "modality",
        "n_bytes",
        "byte_sha",
        *[F.element_at("feature", j + 1).alias(f"f{j}") for j in range(FEATURE_DIM)],
    )


# ===========================================================================
# Product quantization (PQ/ADC): compressed-domain ANN
# ===========================================================================
#: Shortlist depth for the two-stage (ADC shortlist → exact re-rank)
#: pipeline — measured recall@5 at sf0.01: ADC alone 0.32, re-ranked
#: 0.88; depth is the quality/cost dial.
_PQ_SHORTLIST = 100


def _pq_sub_sql(s: int, src: str = "embeddings", prefix: str | None = None) -> list[str]:
    """CTEs replaying subspace ``s``'s codebook training + encoding:
    the seed/Lloyd pipeline of ``_ivf_sql`` applied to the 16-dim
    slice. ``{p}_codes`` ends with (vec_id, cid, embedding) — the
    assigned codeword vector rides along so ADC needs no extra join.
    ``src`` selects the training frame (r12: the residual IVF-PQ chain
    trains on a ``res`` CTE of coarse residuals); ``prefix`` namespaces
    the CTEs so residual and plain chains can coexist in one query."""
    from ipeds_etl_spark.operators.similarity import KMEANS_SCALE

    p = prefix if prefix is not None else f"s{s}"
    lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
    sub = f"(SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM {src})"
    cos_vc = _cos_sql("v.embedding", "c.embedding")
    parts = [
        f"{p}_cent0 AS (SELECT vec_id AS cid, embedding FROM {sub} t ORDER BY vec_id LIMIT {PQ_K})"
    ]
    for it in range(PQ_ITERS):
        parts.append(
            f"""{p}_a{it} AS (
      SELECT v.vec_id, v.embedding, c.cid,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.cid DESC) AS rn
      FROM {sub} v CROSS JOIN {p}_cent{it} c)"""
        )
        parts.append(
            f"""{p}_m{it} AS (
      SELECT cid, i AS pos,
             CAST(SUM(CAST(floor(CAST(embedding[i+1] AS DOUBLE) * {KMEANS_SCALE}.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / count(*) / {KMEANS_SCALE}.0 AS mu
      FROM {p}_a{it}, range({PQ_SUB_DIM}) t(i) WHERE rn = 1 GROUP BY cid, i)"""
        )
        parts.append(
            f"{p}_cent{it + 1} AS (SELECT cid, list(mu ORDER BY pos) AS embedding FROM {p}_m{it} GROUP BY cid)"
        )
    parts.append(
        f"""{p}_codes AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT v.vec_id, c.cid, c.embedding,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.cid DESC) AS rn
        FROM {sub} v CROSS JOIN {p}_cent{PQ_ITERS} c) WHERE rn = 1)"""
    )
    return parts


def _pq_pairs_sql() -> str:
    """The ADC scoring CTE: queries (vec_id < 5, exact vectors) ×
    encoded corpus; approx dot and reconstruction norm² are LEFT-FOLD
    sums over subspaces in fixed order — parenthesized exactly as the
    Spark side chains them, so the floats agree bitwise."""
    parts = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
        parts.append(
            (
                _DOT.format(a=f"q.embedding[{lo}:{hi}]", b=f"n{s}.embedding"),
                _DOT.format(a=f"n{s}.embedding", b=f"n{s}.embedding"),
            )
        )
    adot = parts[0][0]
    recon2 = parts[0][1]
    for pd_, pn_ in parts[1:]:
        adot = f"({adot} + {pd_})"
        recon2 = f"({recon2} + {pn_})"
    q2 = _DOT.format(a="q.embedding", b="q.embedding")
    joins = "\n      ".join(
        f"JOIN s{s}_codes n{s} ON n{s}.vec_id = n0.vec_id" for s in range(1, PQ_M)
    )
    return f"""pq_scored AS (
      SELECT q.vec_id AS query_id, n0.vec_id AS neighbor_id,
             ({adot} / (sqrt({q2}) * sqrt({recon2}))) AS approx_cos
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
      JOIN s0_codes n0 ON n0.vec_id <> q.vec_id
      {joins}),
    pq_ranked AS (
      SELECT query_id, neighbor_id, approx_cos,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY approx_cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
      FROM pq_scored)"""


def _pq_sql() -> str:
    ctes: list[str] = []
    for s in range(PQ_M):
        ctes.extend(_pq_sub_sql(s))
    ctes.append(_pq_pairs_sql())
    return ",\n    ".join(ctes)


@_register(
    "emb_pq_topk",
    f"""
    WITH {_pq_sql()}
    SELECT query_id, neighbor_id, approx_cos, "rank"
    FROM pq_ranked WHERE "rank" <= 5
    """,
)
def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (4 subspaces × 16 dims, 16
    codewords each): ranking reads only the 4-int codes per corpus
    vector — the compressed-domain scan that makes ANN affordable when
    the raw vectors are 100 TB. Codebook training is the same
    deterministic seed+quantized-Lloyd as IVF, per subspace, so the
    DuckDB oracle replays training, encoding, and scoring end-to-end
    and value-hashes the ranking."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return SIM.pq_topk(
        e, queries, "vec_id", "embedding",
        pq_codebook(spark, sf_dir), k=5, sub_dim=PQ_SUB_DIM,
    )


@_register(
    "emb_pq_recall",
    f"""
    WITH {_pq_sql()},
    pq AS (SELECT query_id, neighbor_id FROM pq_ranked WHERE "rank" <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN pq p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC ranking against exact brute force, per
    query — the quality gate for the compressed index (mirrors
    ``emb_ivf_recall``). Expect recall below IVF's: PQ quantizes the
    VECTORS, not just the partitioning, so it trades accuracy for a
    64× smaller scan; the measured number is the honest price."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    pq = SIM.pq_topk(
        e, queries, "vec_id", "embedding",
        pq_codebook(spark, sf_dir), k=5, sub_dim=PQ_SUB_DIM,
    )
    return _recall_at_5(brute, pq)


@_register(
    "emb_pq_rerank_recall",
    f"""
    WITH {_pq_sql()},
    pq_short AS (SELECT query_id, neighbor_id FROM pq_ranked
                 WHERE "rank" <= {_PQ_SHORTLIST}),
    rerank AS (
      SELECT s.query_id, s.neighbor_id,
             {_cos_sql("q.embedding", "n.embedding")} AS cos_sim
      FROM pq_short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings n ON n.vec_id = s.neighbor_id),
    rr AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM rerank) WHERE rnk <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(r.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(r.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN rr r
      ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the two-stage pipeline (ADC shortlist of 100 →
    exact re-rank) against brute force — the shape a production system
    runs: compressed scan for candidates, exact math only on the
    shortlist. Measured mean 0.88 at sf0.01 vs 0.32 for raw ADC —
    the shortlist depth buys back what vector quantization costs."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    rr = SIM.pq_topk_rerank(
        e, queries, "vec_id", "embedding",
        pq_codebook(spark, sf_dir),
        k=5, n_short=_PQ_SHORTLIST, sub_dim=PQ_SUB_DIM,
    )
    return _recall_at_5(brute, rr)


@_register(
    "multimodal_frame_dedup",
    """
    WITH fr AS (
      SELECT doc_id, i AS frame_index,
             sha256(substr(text, CAST(i * greatest(1, len(text) // 4) + 1 AS INT),
                           20)) AS fsha
      FROM documents, range(4) t(i))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fr a JOIN fr b
      ON a.fsha = b.fsha AND a.frame_index = b.frame_index
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level VIDEO dedup: sample 4 frames per payload (the
    row-expanding ``mapInPandas`` sampler — real plumbing, stubbed
    decode), hash a fixed
    20-byte window at each frame position (the keyframe-fingerprint
    stub), and pair up payloads sharing a window at the same temporal
    position — the near-dup-video candidate shape (same content
    re-encoded/trimmed shares keyframe windows; the stub's byte
    windows share exactly when the bytes do). Scale: frames
    are 4×docs rows shuffled on (frame_sha, index) — bucket sizes are
    duplicate-group sizes, the same boundedness argument as
    ``dedup_exact``; no O(n²). The oracle replays the sampler's
    byte-range arithmetic with ASCII substr (payload = UTF-8 of
    text, single-byte here, so char slicing ≡ the sampler's byte
    slicing)."""
    from ipeds_etl_spark.operators.multimodal import attach_payload, sample_frames

    d = load_table(spark, sf_dir, "documents")
    fr = sample_frames(
        attach_payload(d, "text", "doc_id", modality="video"),
        n_frames=4,
        frame_len=20,
    ).select(
        "doc_id", "frame_index", F.sha2(F.col("frame_payload"), 256).alias("fsha")
    )
    a, b = fr.alias("a"), fr.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.fsha") == F.col("b.fsha"),
                F.col("a.frame_index") == F.col("b.frame_index"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ===========================================================================
# SemDeDup: semantic keep/drop verdict per vector
# ===========================================================================
@_register(
    "emb_semantic_dedup",
    f"""
    WITH {_ivf_sql()},
    pairs AS (
      SELECT b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.4),
    dropped AS (SELECT DISTINCT id_b FROM pairs)
    SELECT e.vec_id, (d.id_b IS NULL) AS keep
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id_b
    """,
)
def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup policy: within each IVF centroid
    cluster, a vector is DROPPED when it is cosine-≥θ similar to any
    lower-id vector (the lower id is the canonical survivor). Composes
    the capped in-bucket pair expansion with an anti-join verdict —
    cluster-local work, so the 100 TB cost is one centroid shuffle
    plus bucket-bounded pair checks, never a corpus self-join.
    Ref policy: Abbas et al., "SemDeDup" (arXiv:2303.09540) — keep one
    representative per semantic near-dup group."""
    e = load_table(spark, sf_dir, "embeddings")
    from ipeds_etl_spark.operators import arrowverify as AV

    # drop verdict via per-member max cosine (opt r14, guide §2.3 +
    # §4.2): a vector is dropped iff it is the b-side of ANY qualifying
    # pair, i.e. iff the max cosine over its earlier in-bucket partners
    # reaches θ — so the Arrow member-stats kernel (same capped arrays,
    # same pair enumeration, same IEEE cosine as the pair verify;
    # bit-parity pinned by kernel tests + this oracle) yields the
    # dropped set directly, with no qualifying-hit stream and no
    # distinct exchange. Members with no qualifying pair carry the
    # -1.0 sentinel and fail mc >= θ, exactly like their absence from
    # a pair stream's id_b side.
    assigned = SIM.assign_centroids(
        e, "vec_id", "embedding", None, cent_rows=ivf_codebook(spark, sf_dir)
    )
    stats = AV.member_cos_stats_within_buckets(
        assigned.select("centroid_id", "vec_id", "embedding"),
        ["centroid_id"],
        "vec_id",
        "embedding",
        floor=0.4,
        thresholds=[],
    )
    dropped = stats.filter(F.col("mc") >= 0.4).select(F.col("id").alias("drop_id"))
    return e.select("vec_id").join(
        dropped, e.vec_id == dropped.drop_id, "left"
    ).select("vec_id", F.col("drop_id").isNull().alias("keep"))


# ===========================================================================
# Clustering evaluation: IVF cluster purity against the label column
# ===========================================================================
def _cluster_purity_oracle() -> str:
    return f"""
    WITH {_ivf_sql()},
    pl AS (SELECT a.centroid_id, e.label, CAST(count(*) AS BIGINT) AS n
           FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
           GROUP BY 1, 2),
    top AS (SELECT centroid_id, label, n,
                   row_number() OVER (PARTITION BY centroid_id
                                      ORDER BY n DESC, label) AS rn
            FROM pl),
    sz AS (SELECT centroid_id, CAST(SUM(n) AS BIGINT) AS cluster_size
           FROM pl GROUP BY 1)
    SELECT t.centroid_id, s.cluster_size, t.label AS majority_label,
           t.n AS n_majority,
           CAST(t.n AS DOUBLE) / s.cluster_size AS purity
    FROM top t JOIN sz s ON t.centroid_id = s.centroid_id
    WHERE t.rn = 1 ORDER BY t.centroid_id
    """


@_register("emb_cluster_purity", _cluster_purity_oracle())
def q_emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering evaluation: per-IVF-cluster PURITY against the
    ground-truth ``label`` column — majority label share per cluster,
    every tie broken (count desc, label asc). Purity is the
    transcendental-free clustering metric (NMI needs logs — engine-
    specific; purity is one exact count ratio), which is why it's the
    one that can be oracle-checked. Reuses the memoized deterministic
    k-means codebook, so assignment is a map-only argmax projection
    (no join); the evaluation is one (cluster, label) count aggregate
    plus a cluster-keyed window. At 100 TB: codebook is a driver
    artifact, evaluation state is O(clusters × labels)."""
    from ipeds_etl_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    assigned = SIM.assign_centroids(
        e, "vec_id", "embedding", None, cent_rows=ivf_codebook(spark, sf_dir)
    )
    pl = (
        assigned.select("vec_id", "centroid_id")
        .join(e.select("vec_id", "label"), "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("centroid_id").orderBy(F.desc("n"), F.asc("label"))
    top = pl.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sz = pl.groupBy("centroid_id").agg(F.sum("n").alias("cluster_size"))
    return (
        top.join(sz, "centroid_id")
        .select(
            "centroid_id",
            "cluster_size",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
            (F.col("n").cast("double") / F.col("cluster_size")).alias("purity"),
        )
        .orderBy("centroid_id")
    )


# ===========================================================================
# Label-centroid distance matrix on quantized-exact embedding sums
# ===========================================================================
_CENT_Q = 1000  # milli-unit quantization of embedding components


@_register(
    "emb_label_centroid_distances",
    f"""
    WITH q AS (
      SELECT label, i AS dim,
             CAST(floor(embedding[i] * {_CENT_Q}) AS BIGINT) AS qv
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
    s AS (SELECT label, dim,
                 CAST((CAST(SUM(qv) AS BIGINT) * 1000) // count(*) AS BIGINT) AS c
          FROM q GROUP BY label, dim),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS num
      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2)
    SELECT label_a, label_b,
           sqrt(CAST(num AS DOUBLE)) / {_CENT_Q * 1000} AS centroid_dist
    FROM p ORDER BY label_a, label_b
    """,
)
def q_emb_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Euclidean distances between per-label embedding
    centroids — the cluster-separation / embedding-drift readout an
    ANN pipeline tracks across model versions. Components are
    floor-quantized to milli-units FIRST (one correctly-rounded
    multiply + floor per value, exact BIGINT sums), then each centroid
    coordinate is itself fixed-pointed to the micro grid by one
    truncating division (S·1000 div n) — so the squared-difference
    numerator is bounded by |c| ≤ 10⁶ ⇒ Σ64·(2·10⁶)² ≈ 2.6e14 < 2^53
    REGARDLESS of corpus size (the first spelling cross-multiplied raw
    sums, whose square passed 2^53 just beyond sf0.1 — this form's
    bound is n-free by construction). Final step: one correctly-
    rounded sqrt + one division on identical inputs in both engines.

    Scale: one (label × 64) sum agg over the exploded components —
    map-combinable, output O(labels × dims); the pair join runs on
    that tiny frame. The corpus is touched once. Verified at 100×
    sf0.1 (500k vectors) by the quad smoke."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _CENT_Q).cast("bigint").alias("qv"),
    )
    s = q.groupBy("label", "dim").agg(
        F.expr("CAST((CAST(SUM(qv) AS BIGINT) * 1000) div count(*) AS BIGINT)").alias(
            "c"
        )
    )
    a, b = s.alias("a"), s.alias("b")
    diff = F.col("a.c") - F.col("b.c")
    p = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(diff * diff).alias("num"))
    )
    return p.select(
        "label_a",
        "label_b",
        (F.sqrt(F.col("num").cast("double")) / (_CENT_Q * 1000)).alias(
            "centroid_dist"
        ),
    ).orderBy("label_a", "label_b")


# ===========================================================================
# Audio-window chunk profile through the mapInPandas framing operator
# ===========================================================================
_AW_WIN, _AW_HOP = 64, 48


@_register(
    "multimodal_audio_windows",
    f"""
    WITH d AS (
      SELECT doc_id, source, text, length(text) AS n,
             CASE WHEN length(text) <= {_AW_WIN} THEN 1
                  ELSE (length(text) - {_AW_WIN} + {_AW_HOP} - 1) // {_AW_HOP} + 1 END
               AS k
      FROM documents),
    w AS (
      SELECT doc_id, source,
             unnest(list_transform(range(k),
                    i -> substr(text, CAST(i * {_AW_HOP} + 1 AS INT), {_AW_WIN})))
               AS win
      FROM d),
    f AS (
      SELECT doc_id, source, sha256(win) AS wsha,
             list_sum(list_transform(range(len(win)),
                      j -> ascii(substr(win, CAST(j + 1 AS INT), 1)))) AS energy
      FROM w)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(DISTINCT wsha) AS BIGINT) AS n_distinct_windows,
           CAST(1.0 - CAST(count(DISTINCT wsha) AS DOUBLE) / count(*) AS DOUBLE)
             AS dup_frac,
           CAST(SUM(energy) AS BIGINT) AS sum_energy
    FROM f GROUP BY source ORDER BY source
    """,
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-modality plumbing end-to-end: payloads frame into
    overlapping 64-byte windows with a 48-byte hop (the STFT frame
    shape) through the Arrow-batched `window_audio` mapInPandas
    operator — real schema, real batch expansion, stubbed decode per
    the container's no-codec policy — then a per-source chunk profile:
    window count, distinct fingerprints, duplicate-window fraction
    (the audio-chunk dedup signal), and total byte-energy. The oracle
    replays the framing arithmetic with ASCII substr (payload = UTF-8
    of single-byte text, so char slicing ≡ byte slicing) and the
    energy as an ascii-code list sum — the whole Python stage is
    byte-for-byte verifiable.

    Scale: framing is map-only (~n/hop rows per payload); the profile
    is one source-keyed agg with an Expand for the distinct. The only
    Python stage is the documented Arrow mapInPandas — everything
    before and after is JVM."""
    from ipeds_etl_spark.operators.multimodal import attach_payload, window_audio

    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    w = window_audio(
        attach_payload(d, "text", "doc_id", modality="audio"),
        win=_AW_WIN,
        hop=_AW_HOP,
    )
    return (
        w.join(F.broadcast(src), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.countDistinct("window_sha").alias("n_distinct_windows"),
            (
                F.lit(1.0)
                - F.countDistinct("window_sha").cast("double") / F.count(F.lit(1))
            ).alias("dup_frac"),
            F.sum("energy").alias("sum_energy"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Distributed PCA: top principal component by integer power iteration
# ===========================================================================
_PCA_ITERS = 3


def _pca_oracle() -> str:
    q = (
        "SELECT vec_id, i, CAST(floor(embedding[i] * 1000) AS BIGINT) AS qv "
        "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)"
    )
    # unrolled integer power iteration over the 64x64 scaled matrix
    iters = []
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        iters.append(
            f"w{k} AS (SELECT c.i AS i, CAST(SUM(c.cn * {prev}.v) AS BIGINT) AS w "
            f"FROM c JOIN {prev} ON c.j = {prev}.i GROUP BY c.i), "
            f"m{k} AS (SELECT max(abs(w)) AS m FROM w{k}), "
            f"v{k} AS (SELECT i, CAST(w // greatest(1, m // 1000) AS BIGINT) AS v "
            f"FROM w{k} CROSS JOIN m{k})"
        )
        prev = f"v{k}"
    return f"""
    WITH q AS ({q}),
    s AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS si, CAST(count(*) AS BIGINT) AS n
          FROM q GROUP BY i),
    c AS (
      SELECT a.i AS i, b.i AS j,
             CAST((min(sa.n) * CAST(SUM(a.qv * b.qv) AS BIGINT)
                   - min(sa.si) * min(sb.si)) // min(sa.n) AS BIGINT) AS cn
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      JOIN s sa ON sa.i = a.i JOIN s sb ON sb.i = b.i
      GROUP BY a.i, b.i),
    v0 AS (SELECT i, CAST(1000 AS BIGINT) AS v FROM s),
    {", ".join(iters)}
    SELECT i AS dim, v AS loading_milli FROM {prev} ORDER BY dim
    """


@_register("emb_pca_power_iteration", _pca_oracle())
def q_emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER
    ITERATION in exact integer arithmetic — the PageRank/Markov
    scaled-BIGINT recipe applied to PCA, the eigen-analysis an
    embedding pipeline runs to detect collapsed dimensions / dominant
    nuisance directions before ANN indexing. Components quantize to
    milli-units; the scaled covariance C·n = n·Σqᵢqⱼ − ΣqᵢΣqⱼ is an
    exact BIGINT re-normalized by one truncating div n; each of the 3
    iterations is a 64-row matrix-vector product with max-|component|
    renormalization to the 1000 grid (truncating div both engines).
    The emitted 64-vector is a total function of the data — no
    eigensolver, no floats, no libm.

    Magnitude audit: |qv| ≤ 1000 so Σqᵢqⱼ ≤ n·10⁶, cn ≤ n·10⁶ after
    the div-n renormalization, and w = Σⱼ cn·v ≤ 64·n·10⁹ — BIGINT-
    safe through n ≈ 10⁵ vectors per this geometry; beyond that,
    promote cn to DECIMAL(38,0) (the oracle's HUGEINT already is).

    Scale: the (i,j) cross-moment agg rides a single vec_id-keyed
    self-join whose fan-out is the fixed 64×64 dim grid, partial-
    aggregated map-side (a per-row map-side outer-product fold was
    measured 2× SLOWER at sf0.1 — the 4096-struct array allocation per
    row costs more than the join machinery — and reverted, opt r13).
    The dim-marginal frame (64 rows) and each iteration's w (64 rows)
    are lazily checkpointed (opt r13, guide §2.4/§5): w feeds both the
    renorm max and the next v, and v0 fed every iteration's chain —
    unmaterialized, the corpus-sized marginal agg re-ran 2^ITERS = 8
    times (measured: 8 embeddings scans in the plan). Everything after
    the corpus passes is O(dims²) = 4096 rows.

    Build jobs: each power step checkpoints its vector."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * 1000).cast("bigint").alias("qv"),
    )
    s = (
        q.groupBy("i")
        .agg(F.sum("qv").alias("si"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a, b = q.alias("a"), q.alias("b")
    sij = (
        a.join(b, "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).alias("sij"))
    )
    sa = s.select(F.col("i").alias("i"), F.col("si").alias("sa_si"), "n")
    sb = s.select(F.col("i").alias("j"), F.col("si").alias("sb_si"))
    c = (
        sij.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            F.expr("CAST((n * sij - sa_si * sb_si) div n AS BIGINT)").alias("cn"),
        )
        .localCheckpoint(eager=False)
    )
    v = s.select("i", F.lit(1000).cast("bigint").alias("v"))
    for _ in range(_PCA_ITERS):
        w = (
            c.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("cn") * F.col("v")).alias("w"))
            .localCheckpoint(eager=False)
        )
        m = w.agg(F.max(F.abs("w")).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.expr("CAST(w div greatest(1, m div 1000) AS BIGINT)").alias("v"),
            )
        )
    return v.select(F.col("i").alias("dim"), F.col("v").alias("loading_milli")).orderBy(
        "dim"
    )


# ===========================================================================
# Greedy k-center coreset over embeddings
# ===========================================================================
_KCENTER_K = 8

_SQDIST = (
    "list_sum(list_transform(range(len({a})), "
    "i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])))"
)


def _kcenter_oracle(k: int = _KCENTER_K) -> str:
    """The greedy traversal unrolled: k ORDER BY ... LIMIT 1 CTE
    rounds — the oracle pays O(k·n) like the engine, but serially."""
    dist_c = _SQDIST.format(a="p.v", b="c.v")
    ctes = [
        "q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
        "FROM embeddings)",
        "c0 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT p.vec_id, p.v, {dist_c} AS mind "
        "FROM q p CROSS JOIN c0 c)",
        "c1 AS (SELECT vec_id, v, mind FROM d1 ORDER BY mind DESC, vec_id LIMIT 1)",
    ]
    for r in range(2, k):
        ctes.append(
            f"d{r} AS (SELECT p.vec_id, p.v, least(p.mind, {dist_c}) AS mind "
            f"FROM d{r - 1} p CROSS JOIN c{r - 1} c)"
        )
        ctes.append(
            f"c{r} AS (SELECT vec_id, v, mind FROM d{r} "
            "ORDER BY mind DESC, vec_id LIMIT 1)"
        )
    union = " UNION ALL ".join(
        ["SELECT 0 AS round, vec_id, CAST(0 AS BIGINT) AS sel_dist_sq FROM c0"]
        + [
            f"SELECT {r}, vec_id, CAST(mind AS BIGINT) FROM c{r}"
            for r in range(1, k)
        ]
    )
    return f"WITH {', '.join(ctes)} {union} ORDER BY round"


@_register("emb_kcenter_coreset", _kcenter_oracle())
def q_emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embeddings table — the diversity-maximizing exemplar sampler for
    training-data curation (Gonzalez's 2-approximation; the Coreset
    active-learning selector of Sener & Savarese 2018). Deterministic
    end to end: TRUNC(x·1000) integer quantization, BIGINT squared
    euclidean distances, min-id seed, ties toward the smaller id —
    proven by exact numpy replay in ``tests/test_wave7_ops.py`` AND
    value-hash-checked against a DuckDB oracle that unrolls the k
    selection rounds as ORDER BY … LIMIT 1 CTEs (determinism means
    even an iterative data-dependent argmax can be oracle-twinned).

    Scale: see ``operators/coreset.py`` — k map-side distance passes
    against broadcast center literals + k struct-max aggregations,
    localCheckpoint per round; no point-set shuffle, no driver
    collect beyond one argmax row per round.

    Build jobs: greedy k-center collects each next center to the driver."""
    from ipeds_etl_spark.operators.coreset import kcenter_coreset_df, quantize_vec

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qvec")
    )
    return kcenter_coreset_df(spark, emb, "qvec", "vec_id", k=_KCENTER_K)


# ===========================================================================
# Distributed Lloyd's k-means (fixed rounds, integer-exact, oracle-unrolled)
# ===========================================================================
_KM_K = 8
_KM_ROUNDS = 3
_KM_DIM = 64


def _kmeans_oracle(k: int = _KM_K, rounds: int = _KM_ROUNDS) -> str:
    dist = _SQDIST.format(a="p.v", b="c.v")
    ctes = [
        "q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
        "FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v "
        f"FROM q ORDER BY vec_id LIMIT {k})",
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS (
      SELECT p.vec_id, p.v, c.cid, {dist} AS dist
      FROM q p CROSS JOIN {prev} c
      QUALIFY row_number() OVER (PARTITION BY p.vec_id
                                 ORDER BY {dist}, c.cid) = 1)"""
        )
        if r < rounds:
            ctes.append(
                f"""c{r} AS (
      SELECT cid, list(sv // cnt ORDER BY pos) AS v
      FROM (
        SELECT a.cid, t.i AS pos,
               CAST(SUM(a.v[t.i + 1]) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS cnt
        FROM a{r} a, range({_KM_DIM}) t(i)
        GROUP BY a.cid, t.i)
      GROUP BY cid)"""
            )
            prev = f"c{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(dist) AS BIGINT) AS inertia_sq
    FROM a{rounds} GROUP BY cid ORDER BY cid
    """
    )


@_register("emb_kmeans_lloyd", _kmeans_oracle())
def q_emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings, made
    engine-exact: TRUNC(x·1000) integer coordinates, squared-euclidean
    BIGINT distances, k=8 centroids seeded from the 8 smallest
    vec_ids, ties on assignment toward the lower cluster id, centroid
    update = per-component integer mean (truncating div), 3 fixed
    rounds. Every quantity is an integer, so the full trajectory —
    assignments, centroids, final inertia — replays bit-for-bit in
    the DuckDB oracle, which unrolls the rounds (QUALIFY argmin +
    per-dimension regroup). Readout: per-cluster size and inertia
    after round 3 — the centroid-quality curve a curation pipeline
    monitors when clustering a corpus for mixture balancing.

    Scale: the canonical shape — per round, assignment is a map-side
    argmin against k BROADCAST centroid literals (an O(k·dim) codegen
    expression, no join, no shuffle of the point set) and the update
    is one map-combinable (cid, dim) partial-sum agg whose result is
    k×dim = 512 rows collected to the driver (metadata-sized, the
    sanctioned centroid collect, same as `operators/similarity.py`'s
    IVF build). Corpus crosses the wire zero times; total cost is
    `rounds` scans of the cached integer projection.

    Build jobs: Lloyd seeds and centroids are collected to the driver."""
    from ipeds_etl_spark.operators.coreset import quantize_vec
    from ipeds_etl_spark.operators.similarity import argmin_sqdist_int

    pts = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            quantize_vec(F.col("embedding")).alias("v"),
        )
        .localCheckpoint()
    )
    seed_rows = pts.orderBy("vec_id").limit(_KM_K).collect()
    centroids = [(cid, list(r["v"])) for cid, r in enumerate(seed_rows)]

    assigned = None
    for rnd in range(1, _KM_ROUNDS + 1):
        # argmin against the k centroids as ONE matrix-literal loop
        # expression (opt r13, argmin_sqdist_int): the k-unrolled
        # zip_with chains cost ~1.6 s of Catalyst analysis + codegen
        # per round on the driver — 5.2 s build / 0.3 s exec at sf0.1
        # — with bit-identical distances and tie-break.
        best = argmin_sqdist_int(F.col("v"), centroids)
        assigned = pts.select(
            "vec_id",
            "v",
            best["cid"].alias("cid"),
            best["dist"].alias("dist"),
        )
        if rnd < _KM_ROUNDS:
            # centroid update: (cid, dim) partial sums -> k*dim rows
            # (metadata-sized collect, the sanctioned centroid pull)
            sums = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(
                    F.sum("x").cast("long").alias("sv"),
                    F.count(F.lit(1)).cast("long").alias("cnt"),
                )
                .collect()
            )
            by_cid: dict[int, dict[int, int]] = {}
            for row in sums:
                by_cid.setdefault(row.cid, {})[row.pos] = int(row.sv) // int(
                    row.cnt
                ) if row.sv >= 0 else -((-int(row.sv)) // int(row.cnt))
            # NB: python // floors while SQL // truncates toward zero —
            # handled above by negating twice for negative sums
            centroids = [
                (cid, [comps[p] for p in range(_KM_DIM)])
                for cid, comps in sorted(by_cid.items())
            ]
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("dist").cast("long").alias("inertia_sq"),
        )
        .orderBy("cluster_id")
    )


# ===========================================================================
# Embedding cluster-margin audit (exact integer separation per label)
# ===========================================================================
_EMB_DIM = 64


@_register(
    "emb_cluster_margin",
    f"""
    WITH u AS (
      SELECT vec_id, label,
             unnest(list_transform(range({_EMB_DIM}), i -> struct_pack(
               dim := i + 1,
               qv := CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                          AS BIGINT)))) AS s
      FROM embeddings),
    q AS (SELECT vec_id, label, s.dim AS dim, s.qv AS qv FROM u),
    cent AS (SELECT label AS clab, dim,
                    CAST((1000 * SUM(qv)) // count(*) AS BIGINT) AS c
             FROM q GROUP BY label, dim),
    dist AS (SELECT q.vec_id, q.label, cent.clab,
                    CAST(SUM((1000 * qv - c) * (1000 * qv - c)) AS BIGINT) AS d2
             FROM q JOIN cent USING (dim)
             GROUP BY q.vec_id, q.label, cent.clab),
    m AS (SELECT vec_id, label,
                 MIN(CASE WHEN clab = label THEN d2 END) AS down,
                 MIN(CASE WHEN clab <> label THEN d2 END) AS dother
          FROM dist GROUP BY vec_id, label)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN dother > down THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(dother - down) // count(*) AS BIGINT) AS mean_margin,
           CAST(MIN(dother - down) AS BIGINT) AS min_margin
    FROM m GROUP BY label ORDER BY label
    """,
)
def q_emb_cluster_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation margin audit: per vector, squared distance
    to its OWN label centroid vs the nearest OTHER label centroid, all
    on the exact integer micro grid (`emb_label_centroid_distances`'
    quantization: components floor-quantized to milli-units, centroid
    coordinates fixed-pointed by one truncating div, so |c| ≤ 10⁶ and
    Σ64·(2·10⁶)² < 2^53 regardless of corpus size). Per label:
    fraction of vectors on the right side (margin > 0) and the
    mean/min margin — the readout that says whether labels are
    SEPARABLE in embedding space before anyone trains a probe on them.

    Scale: corpus is touched once (one (label, dim) centroid agg +
    one per-vector distance pass against the broadcast O(labels × 64)
    centroid table); the distance exchange carries n × labels partial
    rows, map-side combined."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000).cast("long").alias("qv"),
    ).localCheckpoint(eager=False)
    cent = q.groupBy(F.col("label").alias("clab"), "dim").agg(
        F.expr("CAST((1000 * SUM(qv)) div count(*) AS BIGINT)").alias("c")
    )
    diff = 1000 * F.col("qv") - F.col("c")
    dist = (
        q.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clab")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
    )
    m = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clab") == F.col("label"), F.col("d2"))).alias("down"),
        F.min(F.when(F.col("clab") != F.col("label"), F.col("d2"))).alias(
            "dother"
        ),
    )
    return (
        m.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("dother") > F.col("down"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr("CAST(SUM(dother - down) div count(*) AS BIGINT)").alias(
                "mean_margin"
            ),
            F.min(F.col("dother") - F.col("down")).cast("long").alias(
                "min_margin"
            ),
        )
        .orderBy("label")
    )


# ===========================================================================
# Audio landmark fingerprint matching (Shazam-shape, deterministic stand-in)
# ===========================================================================
_AF_WIN, _AF_HOP = 64, 48
_AF_MOD = 997  # energy-band bucketing modulus for the landmark key
_AF_MAX_DF = 50
_AF_MIN_SHARED = 2


def _audio_fp_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             CASE WHEN length(text) <= {_AF_WIN} THEN 1
                  ELSE (length(text) - {_AF_WIN} + {_AF_HOP} - 1) // {_AF_HOP} + 1
             END AS k
      FROM documents),
    w AS (
      SELECT doc_id,
             unnest(list_transform(range(k), i -> struct_pack(
               idx := i,
               win := substr(text, CAST(i * {_AF_HOP} + 1 AS INT), {_AF_WIN}))))
               AS s
      FROM d),
    e AS (
      SELECT doc_id, CAST(s.idx AS BIGINT) AS idx,
             CAST(list_sum(list_transform(range(len(s.win)),
                  j -> ascii(substr(s.win, CAST(j + 1 AS INT), 1)))) AS BIGINT)
               AS e
      FROM w),
    nb AS (
      SELECT doc_id, idx, e,
             lag(e) OVER (PARTITION BY doc_id ORDER BY idx) AS pe,
             lead(e) OVER (PARTITION BY doc_id ORDER BY idx) AS ne
      FROM e),
    pk AS (SELECT doc_id, idx, e FROM nb
           WHERE pe IS NOT NULL AND ne IS NOT NULL AND e > pe AND e >= ne),
    lm AS (
      SELECT doc_id,
             CAST(e % {_AF_MOD} AS VARCHAR) || ':'
               || CAST(lead(e) OVER w2 % {_AF_MOD} AS VARCHAR) || ':'
               || CAST(lead(idx) OVER w2 - idx AS VARCHAR) AS k
      FROM pk WINDOW w2 AS (PARTITION BY doc_id ORDER BY idx)),
    fps AS (SELECT DISTINCT doc_id, k FROM lm WHERE k IS NOT NULL),
    rare AS (SELECT k FROM fps GROUP BY k HAVING count(*) <= {_AF_MAX_DF}),
    fx AS (SELECT doc_id, k FROM fps JOIN rare USING (k))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fx a JOIN fx b ON a.k = b.k AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_AF_MIN_SHARED}
    ORDER BY n_shared DESC, id_a, id_b
    """


@_register("multimodal_audio_fingerprint", _audio_fp_oracle())
def q_multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint matching in the Shazam shape (Wang 2003):
    frame each payload (the `window_audio` Arrow operator — the one
    sanctioned Python stage), find energy PEAKS (strictly above the
    previous window, at-or-above the next — the deterministic plateau
    rule), hash CONSECUTIVE PEAK PAIRS into landmark keys
    (energy-band : energy-band : time-delta), and report document
    pairs sharing >= 2 landmarks after a stop-landmark DF cap. With a
    real codec the energy is per-band spectral magnitude; the synthetic
    byte-energy stand-in keeps every downstream stage — peak picking,
    landmark pairing, inverted-index match — real and byte-for-byte
    oracle-verifiable (the container's no-codec policy, same contract
    as `multimodal_audio_windows`).

    Scale: framing is map-only (~n/hop rows per payload); peak/landmark
    windows partition per DOCUMENT (entity-bounded frames); the match
    is an inverted-index bucket join with the DF cap bounding any
    landmark's expansion — O(landmarks), never O(docs²).

    Framing/energy run as PURE Column expressions (opt r13, guide §4):
    this query consumes only the per-window byte-energy, so routing it
    through ``window_audio``'s Arrow ``mapInPandas`` stage paid the
    Python-worker spin-up (~4 s session-cold) plus a per-window sha256
    the query never reads. The byte array is computed once per doc,
    window energies fold over array slices (identical values: ascii
    codepoints == payload bytes for this corpus, the SAME equivalence
    the char-based DuckDB oracle has always relied on), and the
    ArrowEvalPython node is gone from the plan. ``window_audio``
    itself (the sanctioned Arrow stage) stays exercised by the
    ``multimodal_audio_windows`` family, which reads its fingerprints.

    Build jobs: a lazy ``localCheckpoint`` runs its shuffle stage under AQE."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    k = F.when(n <= _AF_WIN, F.lit(1)).otherwise(
        F.floor((n - _AF_WIN + _AF_HOP - 1) / _AF_HOP).cast("int") + 1
    )
    byte_vals = F.when(n > 0, F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.ascii(F.col("text").substr(j, F.lit(1))),
    )).otherwise(F.array().cast("array<int>"))
    # let-bind the per-doc byte array once (singleton-transform), then
    # each window energy is one slice+fold — no per-window substring
    energies = F.element_at(
        F.transform(
            F.array(byte_vals),
            lambda bs: F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.aggregate(
                    F.slice(bs, i * _AF_HOP + 1, _AF_WIN),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            ),
        ),
        1,
    )
    w = d.select(
        "doc_id", F.posexplode(energies).alias("pos", "energy")
    ).select("doc_id", F.col("pos").cast("long").alias("idx"), "energy")
    ww = Window.partitionBy("doc_id").orderBy("idx")
    nb = w.select(
        "doc_id",
        "idx",
        "energy",
        F.lag("energy").over(ww).alias("pe"),
        F.lead("energy").over(ww).alias("ne"),
    )
    pk = nb.filter(
        F.col("pe").isNotNull()
        & F.col("ne").isNotNull()
        & (F.col("energy") > F.col("pe"))
        & (F.col("energy") >= F.col("ne"))
    ).select("doc_id", "idx", F.col("energy").alias("e"))
    w2 = Window.partitionBy("doc_id").orderBy("idx")
    lm = pk.select(
        "doc_id",
        F.concat(
            (F.col("e") % _AF_MOD).cast("string"),
            F.lit(":"),
            (F.lead("e").over(w2) % _AF_MOD).cast("string"),
            F.lit(":"),
            (F.lead("idx").over(w2) - F.col("idx")).cast("string"),
        ).alias("k"),
    ).filter(F.col("k").isNotNull())
    fps = lm.distinct().localCheckpoint(eager=False)
    rare = (
        fps.groupBy("k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _AF_MAX_DF)
        .select("k")
    )
    fx = fps.join(rare, "k")
    a, b = fx.alias("a"), fx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _AF_MIN_SHARED)
        .orderBy(F.desc("n_shared"), "id_a", "id_b")
    )


# ===========================================================================
# PQ reconstruction distortion audit
# ===========================================================================
_DIFF2 = (
    "list_reduce(list_transform(range(len({a})), "
    "i -> (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))"
    " * (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))), "
    "(x, y) -> x + y)"
)


def _pq_distortion_oracle() -> str:
    ctes: list[str] = []
    for s in range(PQ_M):
        ctes.extend(_pq_sub_sql(s))
    errs = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
        errs.append(
            _DIFF2.format(a=f"e.embedding[{lo}:{hi}]", b=f"n{s}.embedding")
        )
    total = errs[0]
    for x in errs[1:]:
        total = f"({total} + {x})"
    joins = "\n      ".join(
        f"JOIN s{s}_codes n{s} ON n{s}.vec_id = e.vec_id"
        for s in range(PQ_M)
    )
    codes = ", ".join(f"n{s}.cid AS code_{s}" for s in range(PQ_M))
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    SELECT e.vec_id, {codes}, {total} AS recon_err2
    FROM embeddings e
      {joins}
    ORDER BY e.vec_id
    """


@_register("emb_pq_distortion", _pq_distortion_oracle())
def q_emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression-quality audit: per vector, the squared L2 error
    between the original and its codeword reconstruction — the
    distortion the recall gates (`emb_pq_recall`) can only show
    indirectly. Every float op is order-pinned (left-fold per-dim
    (x−y)² sums, left-fold subspace chain — the `pq_topk` bitwise
    discipline), so the oracle replays codebook training, encoding,
    AND the distortion bit-identically. Rising distortion on a new
    corpus version = retrain the codebooks before trusting ADC ranks.

    Scale: map-only over the corpus scan — the codebooks ride as plan
    literals (no join, no shuffle); output one row per vector."""
    e = load_table(spark, sf_dir, "embeddings")
    books = pq_codebook(spark, sf_dir)
    coded = e.select(
        "vec_id", "embedding", *SIM.pq_codes(F.col("embedding"), books, PQ_SUB_DIM)
    )
    codes = [f"code_{s}" for s in range(len(books))]
    errs = [
        F.aggregate(
            F.zip_with(
                F.slice(F.col("embedding"), s * PQ_SUB_DIM + 1, PQ_SUB_DIM),
                SIM.codeword(book, F.col(code)),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for s, (book, code) in enumerate(zip(books, codes))
    ]
    total = errs[0]
    for x in errs[1:]:
        total = total + x
    return coded.select("vec_id", *codes, total.alias("recon_err2")).orderBy("vec_id")


# ===========================================================================
# int8 scalar-quantization distortion audit
# ===========================================================================
_SQ_DIM = 64
_SQ_ERR_SCALE = "1000000000000.0"  # 1e12: err^2 quantized to integer picounits


def _sq8_term_sql(i: int, elem: str = "v[{idx1}]") -> str:
    """One dimension's scaled integer squared reconstruction error.
    Every float op is written ONCE and mirrored verbatim on both
    engines (left-assoc, explicit casts) so the doubles are
    bit-identical and the floor is deterministic. ``elem`` abstracts
    the ONE syntax difference: DuckDB indexes arrays 1-based
    (``v[{idx1}]``, the default), Spark 0-based (``v[{idx0}]``)."""
    x = f"CAST({elem.format(idx1=i + 1, idx0=i)} AS DOUBLE)"
    mn, mx = f"mn{i}", f"mx{i}"
    code = f"CAST(floor((({x} - {mn}) * 255.0) / ({mx} - {mn}) + 0.5) AS BIGINT)"
    recon = f"({mn} + (CAST({code} AS DOUBLE) * ({mx} - {mn})) / 255.0)"
    err = f"({x} - {recon})"
    return (
        f"CASE WHEN {mx} = {mn} THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(floor({err} * {err} * {_SQ_ERR_SCALE} + 0.5) AS BIGINT) END"
    )


def _sq8_oracle() -> str:
    mins = ", ".join(
        f"min(CAST(embedding[{i + 1}] AS DOUBLE)) AS mn{i}, "
        f"max(CAST(embedding[{i + 1}] AS DOUBLE)) AS mx{i}"
        for i in range(_SQ_DIM)
    )
    terms = " + ".join(_sq8_term_sql(i) for i in range(_SQ_DIM))
    return f"""
    WITH stats AS (SELECT {mins} FROM embeddings),
    pv AS (
      SELECT label, ({terms}) AS dist_q
      FROM (SELECT label, embedding AS v FROM embeddings) CROSS JOIN stats)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(dist_q) AS BIGINT) AS total_err_q,
           CAST(max(dist_q) AS BIGINT) AS max_vec_err_q,
           CAST(sum(dist_q) // count(*) AS BIGINT) AS mean_err_q
    FROM pv
    GROUP BY label
    """


@_register("emb_sq8_distortion", _sq8_oracle())
def q_emb_sq8_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension affine) int8 quantization distortion audit
    — the SQ counterpart of ``emb_pq_distortion``: per dimension the
    corpus min/max define a 256-level grid, every component is
    round-tripped through its code, and the squared reconstruction
    error (quantized to integer picounits so sums are order-free and
    engine-identical) is aggregated per label. SQ8 is the cheap 4x
    compression every vector store offers; this readout is how you
    decide whether it is safe for a corpus before re-encoding 100 TB
    of embeddings.

    Scale: the dim stats are ONE map-combinable agg (2·64 columns, one
    row — broadcast back as a literal row, never collected); the
    round-trip is map-only codegen; the readout one small agg. Float
    determinism: identical IEEE op order on both engines (see
    ``_sq8_term_sql``), integer sums thereafter."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("label", F.col("embedding").alias("v"))
    # dim stats via posexplode + a 64-group agg instead of 128
    # per-index min/max aggregates over getItem extractions — the
    # wide-agg form measured ~2.7 s vs ~0.4 s at sf0.1 (opt r13); the
    # 64 rows pivot back into the same one-row broadcast frame, and
    # min/max are pure selections so the values are identical
    stat64 = (
        v.select(F.posexplode("v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("col").cast("double")).alias("mn"),
            F.max(F.col("col").cast("double")).alias("mx"),
        )
    )
    stats = (
        stat64.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s"))
        .select(
            *[
                c
                for i in range(_SQ_DIM)
                for c in (
                    F.col("s")[i]["mn"].alias(f"mn{i}"),
                    F.col("s")[i]["mx"].alias(f"mx{i}"),
                )
            ]
        )
    )
    terms = " + ".join(_sq8_term_sql(i, elem="v[{idx0}]") for i in range(_SQ_DIM))
    pv = v.crossJoin(F.broadcast(stats)).select(
        "label", F.expr(terms).alias("dist_q")
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("dist_q").cast("long").alias("total_err_q"),
        F.max("dist_q").cast("long").alias("max_vec_err_q"),
        F.expr("CAST(sum(dist_q) div count(*) AS BIGINT)").alias("mean_err_q"),
    )


# ===========================================================================
# SemDeDup: within-cluster embedding near-dedup (Abbas et al. 2023)
# ===========================================================================
_SD_K = 8
_SD_ROUNDS = 2
_SD_DIM = 64
#: per-cluster examination cap (VERDICT r8 stretch): the within-cluster
#: pair search examines only the ``cap`` smallest vec_ids of a cluster;
#: members beyond it are KEPT unexamined and counted in ``n_overflow``
#: (non-zero ⇒ that cluster's dedup is partial ⇒ raise k). Turns a
#: degenerate mega-cluster from a silent n² job into a loud audit row.
#: 10k (the shared ``pairs_within_buckets`` default) never binds at any
#: gate/smoke scale — clusters are ~n/k ≤ ~350 even at sf10 k=√n.
_SD_CLUSTER_CAP = 10_000
#: cosine threshold τ as an exact rational τ² = _SD_T2_NUM / _SD_T2_DEN
#: (0.64 = 0.8²) — the pair test is the cross-multiplied integer form,
#: no sqrt, no float.
_SD_T2_NUM = 64
_SD_T2_DEN = 100

_DOTI = (
    "list_reduce(list_transform(range(len({a})), "
    "i -> {a}[i+1] * {b}[i+1]), (x, y) -> x + y)"
)
_SQDIST_I = (
    "list_sum(list_transform(range(len({a})), "
    "i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])))"
)


def _semdedup_oracle(
    k: int = _SD_K, rounds: int = _SD_ROUNDS, cap: int = _SD_CLUSTER_CAP
) -> str:
    dist = _SQDIST_I.format(a="p.v", b="c.v")
    ctes = [
        "q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
        "FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v "
        f"FROM q ORDER BY vec_id LIMIT {k})",
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS (
      SELECT p.vec_id, p.v, c.cid, {dist} AS dist
      FROM q p CROSS JOIN {prev} c
      QUALIFY row_number() OVER (PARTITION BY p.vec_id
                                 ORDER BY {dist}, c.cid) = 1)"""
        )
        if r < rounds:
            ctes.append(
                f"""c{r} AS (
      SELECT cid, list(sv // cnt ORDER BY pos) AS v
      FROM (
        SELECT a.cid, t.i AS pos,
               CAST(SUM(a.v[t.i + 1]) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS cnt
        FROM a{r} a, range({_SD_DIM}) t(i)
        GROUP BY a.cid, t.i)
      GROUP BY cid)"""
            )
            prev = f"c{r}"
    dot = _DOTI.format(a="x.v", b="y.v")
    selfdot = _DOTI.format(a="v", b="v")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    nn AS (SELECT vec_id, CAST({selfdot} AS BIGINT) AS n2 FROM q),
    am AS (SELECT vec_id, v, cid,
                  row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
           FROM a{rounds}),
    pr AS (
      SELECT x.cid, x.vec_id AS id_a, y.vec_id AS id_b,
             CAST({dot} AS BIGINT) AS dp, na.n2 AS na2, nb.n2 AS nb2
      FROM am x JOIN am y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
       AND x.rn <= {cap} AND y.rn <= {cap}
      JOIN nn na ON na.vec_id = x.vec_id
      JOIN nn nb ON nb.vec_id = y.vec_id),
    dup AS (SELECT cid, id_a, id_b FROM pr
            WHERE dp > 0
              AND {_SD_T2_DEN} * dp * dp >= {_SD_T2_NUM} * na2 * nb2),
    drops AS (SELECT cid, id_b FROM dup GROUP BY cid, id_b),
    per AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(vec_id) AS BIGINT) AS id_sum
            FROM a{rounds} GROUP BY cid),
    dp2 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dup_pairs FROM dup GROUP BY cid),
    dr AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped,
                  CAST(sum(id_b) AS BIGINT) AS drop_sum
           FROM drops GROUP BY cid)
    SELECT per.cid AS cluster_id, per.n_points,
           COALESCE(dp2.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(dr.n_dropped, 0) AS n_dropped,
           GREATEST(per.n_points - {cap}, CAST(0 AS BIGINT)) AS n_overflow,
           per.id_sum - COALESCE(dr.drop_sum, 0) AS kept_checksum
    FROM per LEFT JOIN dp2 ON dp2.cid = per.cid
             LEFT JOIN dr ON dr.cid = per.cid
    ORDER BY cluster_id
    """
    )


@_register("emb_semdedup", _semdedup_oracle())
def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space and dropping, WITHIN each cluster, the larger id
    of every pair whose cosine similarity reaches τ = 0.8 — the
    pairwise search never leaves a cluster, which is the whole trick
    (k scales with the corpus so clusters stay bounded; cross-cluster
    pairs are by construction not near-dups). Engine-exact end to end:
    the same TRUNC(x·1000) integer quantization, seeding, tie-breaks,
    and truncating-div centroid updates as ``emb_kmeans_lloyd`` (2
    rounds), and the cosine test is the cross-multiplied integer form
    ``den·dot² ≥ num·|a|²·|b|² AND dot > 0`` — no sqrt, no float, so
    the DuckDB oracle replays the full trajectory bit-for-bit.
    Readout per cluster: size, qualifying pairs, dropped members, the
    examination-cap overflow, and the kept-id checksum that pins the
    exact survivor set.

    Gate-scale instance of :func:`semdedup_report` (k=8; at 100 TB k
    grows ~√n per the paper — the sf10 screen in SCALE.md runs
    k=√n=350 through the same code's broadcast-join assignment path).

    Build jobs: k-means seeds and centroids are collected to the driver.
    """
    return semdedup_report(spark, sf_dir)


#: above this k the argmin expression tree (k·dim literals) stops being
#: a sane codegen unit; assignment switches to the broadcast-join form
_SD_LITERAL_K_MAX = 32


def semdedup_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = _SD_K,
    rounds: int = _SD_ROUNDS,
    cluster_cap: int = _SD_CLUSTER_CAP,
) -> DataFrame:
    """Parameterized SemDeDup core (see ``q_emb_semdedup`` for
    semantics). Two scale guards beyond the registered gate instance:

    * **Assignment strategy by k**: k ≤ 32 uses the map-side argmin
      over k centroid LITERALS (pure codegen, corpus never shuffles);
      larger k switches to a broadcast of the k-row centroid frame,
      per-(point, centroid) distances, and a map-combinable
      ``min(struct(dist, cid))`` — same tie-break (lower cid), same
      integers, but the expression tree stays O(dim) instead of
      O(k·dim). The point set crosses the wire once per round (partial
      aggregation collapses it to one row per point pre-shuffle).
    * **Per-cluster examination cap** (VERDICT r8 stretch): the pair
      stage goes through the rank-capped in-bucket expansion
      (``arrowverify.pair_int_crossmul_hits_within_buckets``, window
      cap mode) — so ONE degenerate mega-cluster costs at most cap²
      pairs and surfaces as a non-zero ``n_overflow`` audit column
      (members beyond the cap are KEPT unexamined), instead of
      silently burning an n² job. The cap keeps the agg buffer itself
      bounded, not just the expansion.

    Norms are computed once per point, not per pair (they ride the
    bucket payload); the integer cosine test runs FUSED inside the
    expansion (opt r13), so only qualifying pairs materialize and no
    re-attach join exists on this path. BIGINT envelope:
    |coord| ≤ ~10³, dim 64 ⇒ den·dot² ≤ ~4·10¹⁷ < 2⁶³."""
    from ipeds_etl_spark.operators.coreset import quantize_vec

    pts = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            quantize_vec(F.col("embedding")).alias("v"),
        )
        .localCheckpoint()
    )
    seed_rows = pts.orderBy("vec_id").limit(k).collect()
    centroids = [(cid, list(r["v"])) for cid, r in enumerate(seed_rows)]

    def assign(cents) -> DataFrame:
        if len(cents) <= _SD_LITERAL_K_MAX:
            # matrix-literal loop argmin (opt r13, argmin_sqdist_int):
            # the k-unrolled spelling re-paid O(k·dim) Catalyst
            # analysis + codegen per round — 4.4 s build / 0.4 s exec
            # at sf0.1; bit-identical distances and tie-break.
            from ipeds_etl_spark.operators.similarity import argmin_sqdist_int

            best = argmin_sqdist_int(F.col("v"), cents)
            return pts.select("vec_id", "v", best["cid"].alias("cid"))
        cdf = spark.createDataFrame(
            [(cid, [int(x) for x in c]) for cid, c in cents],
            "cid long, cv array<long>",
        )
        d = F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        best = (
            pts.join(F.broadcast(cdf))
            .select("vec_id", d.alias("dist"), "cid")
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("dist"), F.col("cid"))).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )
        # both sides corpus-scaled: pin the strategy (AQE's
        # compressed-bytes estimate elects OOMing broadcasts at scale)
        return pts.join(best.hint("shuffle_hash"), "vec_id").select(
            "vec_id", "v", "cid"
        )

    assigned = None
    for rnd in range(1, rounds + 1):
        assigned = assign(centroids)
        if rnd < rounds:
            sums = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(
                    F.sum("x").cast("long").alias("sv"),
                    F.count(F.lit(1)).cast("long").alias("cnt"),
                )
                .collect()
            )
            by_cid: dict[int, dict[int, int]] = {}
            for row in sums:
                sv, cnt = int(row.sv), int(row.cnt)
                # python // floors, SQL // truncates toward zero
                by_cid.setdefault(row.cid, {})[row.pos] = (
                    sv // cnt if sv >= 0 else -((-sv) // cnt)
                )
            centroids = [
                (cid, [comps[p] for p in range(_SD_DIM)])
                for cid, comps in sorted(by_cid.items())
            ]

    # materialize the final assignment ONCE: the pair stage consumes it
    # from four branches (two join sides, sizes, norms) and each would
    # otherwise re-evaluate the k×dim argmin expression per branch
    # (sweep_r14 caught this at sf1: 479 s before, dominated by the
    # recomputed assignment + an 8-key join doing ALL the work)
    assigned = assigned.localCheckpoint()
    # Arrow-batched pair expand+verify (opt r14, guide §4.2; supersedes
    # the r13 fused JVM HOF): same rank-capped member selection (the
    # payload struct (id, v, |v|²) sorts by the unique vec_id first),
    # same a < b enumeration, and the integer cross-multiplied cosine
    # test ``dp > 0 AND den·dp² >= num·|a|²·|b|²`` runs vectorized in
    # numpy int64 — exact integer arithmetic on both sides, so the
    # qualifying set is bit-identical (pinned against the JVM fused
    # kernel by test_arrow_int_pairs_match_fused and by the DuckDB
    # oracle, which replays the whole trajectory). Only qualifying
    # pairs ever materialize as rows; overflow members beyond the cap
    # stay kept-unexamined exactly as before (n_overflow audits it).
    from ipeds_etl_spark.operators.arrowverify import (
        pair_int_crossmul_hits_within_buckets,
    )

    dup = pair_int_crossmul_hits_within_buckets(
        assigned.select("cid", "vec_id", "v"),
        ["cid"],
        "vec_id",
        "v",
        num=_SD_T2_NUM,
        den=_SD_T2_DEN,
        max_bucket_size=cluster_cap,
    )
    # dup feeds TWO downstream branches (dp2 pair counts + drops →
    # dr); without a barrier each branch re-executes the whole pair
    # expansion + dot-product verify subtree — the r13 sf1 plan showed
    # the Window→collect→Generate×2→2-join tree TWICE (the round-11
    # repeated-subtree class). dup itself is the post-threshold sliver
    # (qualifying pairs only), so materializing it is cheap and halves
    # the dominant stage.
    dup = dup.localCheckpoint(eager=False)
    drops = dup.select("cid", "id_b").distinct()
    per = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("vec_id").cast("long").alias("id_sum"),
    )
    dp2 = dup.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs")
    )
    dr = drops.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped"),
        F.sum("id_b").cast("long").alias("drop_sum"),
    )
    return (
        per.join(dp2, "cid", "left")
        .join(dr, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_points",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.greatest(
                F.col("n_points") - F.lit(cluster_cap), F.lit(0)
            ).cast("long").alias("n_overflow"),
            (
                F.col("id_sum") - F.coalesce("drop_sum", F.lit(0))
            ).cast("long").alias("kept_checksum"),
        )
        .orderBy("cluster_id")
    )


# ===========================================================================
# Matryoshka funnel retrieval: prefix-dim shortlist -> full-dim rerank
# ===========================================================================
_MRL_DIM = 16
_MRL_SHORTLIST = 50
_MRL_K = 10


def _cos16(a: str, b: str) -> str:
    return _cos_sql(a, b)


@_register(
    "emb_mrl_funnel_recall",
    f"""
    WITH e AS (SELECT vec_id, embedding, embedding[1:{_MRL_DIM}] AS emb16
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, emb16 AS q16
          FROM e WHERE vec_id < 5),
    p AS (SELECT query_id, c.vec_id AS cand_id,
                 {_cos16('q.qv', 'c.embedding')} AS cos64,
                 {_cos16('q.q16', 'c.emb16')} AS cos16
          FROM q, e c WHERE c.vec_id <> q.query_id),
    r AS (SELECT query_id, cand_id, cos64, cos16,
                 row_number() OVER (PARTITION BY query_id
                      ORDER BY cos64 DESC, cand_id) AS exact_rank,
                 row_number() OVER (PARTITION BY query_id
                      ORDER BY cos16 DESC, cand_id) AS coarse_rank
          FROM p),
    f AS (SELECT query_id, cand_id, exact_rank,
                 row_number() OVER (PARTITION BY query_id
                      ORDER BY cos64 DESC, cand_id) AS funnel_rank
          FROM r WHERE coarse_rank <= {_MRL_SHORTLIST})
    SELECT r.query_id,
           CAST({_MRL_K} AS BIGINT) AS k,
           CAST(sum(CASE WHEN f.funnel_rank <= {_MRL_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_funnel_hits,
           CAST(sum(CASE WHEN r.coarse_rank <= {_MRL_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_direct_hits,
           CAST((1000 * sum(CASE WHEN f.funnel_rank <= {_MRL_K} THEN 1 ELSE 0 END))
                // {_MRL_K} AS BIGINT) AS funnel_recall_permille,
           CAST((1000 * sum(CASE WHEN r.coarse_rank <= {_MRL_K} THEN 1 ELSE 0 END))
                // {_MRL_K} AS BIGINT) AS direct_recall_permille
    FROM r LEFT JOIN f ON f.query_id = r.query_id AND f.cand_id = r.cand_id
    WHERE r.exact_rank <= {_MRL_K}
    GROUP BY r.query_id
    ORDER BY r.query_id
    """,
)
def q_emb_mrl_funnel_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) funnel retrieval audit:
    stage 1 ranks candidates by cosine over the FIRST 16 dimensions of
    the same embedding (the truncation trick MRL-trained encoders are
    shipped for), keeps a 50-deep shortlist; stage 2 reranks the
    shortlist with the full 64-dim cosine. Per anchor: recall@10 of
    the funnel vs the exact full-dim top-10, alongside the recall of
    using the 16-dim ranking DIRECTLY — the gap between the two
    columns is the measured value of the rerank stage, the number that
    decides the shortlist depth in production.

    Scale: ONE broadcast-anchor corpus scan computes both cosines per
    pair (the prefix dot product is not even a separate pass); ranks
    are per-anchor windows. At 100 TB stage 1 is served by an ANN
    index over the 16-dim prefixes (4× smaller index than full-dim —
    the entire point of MRL) and stage 2 touches O(shortlist) rows per
    anchor; this full-scan form is the gold standard that CALIBRATES
    that index (same contract as ``emb_pq_rerank_recall``). Float
    discipline: both cosines are the op-order-pinned fold; only RANKS
    and integer hit counts cross into the result."""
    from ipeds_etl_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.slice("embedding", 1, _MRL_DIM).alias("emb16")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("emb16").alias("q16"),
    )
    p = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("cos64"),
            cosine(F.col("q16"), F.col("emb16")).alias("cos16"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(F.col("cos64").desc(), "cand_id")
    wc = Window.partitionBy("query_id").orderBy(F.col("cos16").desc(), "cand_id")
    r = p.withColumn("exact_rank", F.row_number().over(we)).withColumn(
        "coarse_rank", F.row_number().over(wc)
    )
    # Conditional-sort trick: ranking shortlist members FIRST, then by
    # cos64, makes row_number equal the within-shortlist rerank rank —
    # no self-join, so the corpus pipeline (scan + both cosines + both
    # rank windows) runs exactly ONCE. All three windows share one
    # query_id exchange; only the sort key differs.
    wf = Window.partitionBy("query_id").orderBy(
        (F.col("coarse_rank") > _MRL_SHORTLIST).asc(),
        F.col("cos64").desc(),
        "cand_id",
    )
    r = r.withColumn(
        "funnel_rank",
        F.when(
            F.col("coarse_rank") <= _MRL_SHORTLIST, F.row_number().over(wf)
        ),
    )
    hits = (
        r.filter(F.col("exact_rank") <= _MRL_K)
        .groupBy("query_id")
        .agg(
            F.lit(_MRL_K).cast("long").alias("k"),
            F.sum(
                F.when(F.col("funnel_rank") <= _MRL_K, 1).otherwise(0)
            ).cast("long").alias("n_funnel_hits"),
            F.sum(
                F.when(F.col("coarse_rank") <= _MRL_K, 1).otherwise(0)
            ).cast("long").alias("n_direct_hits"),
            F.expr(
                f"CAST((1000 * sum(CASE WHEN funnel_rank <= {_MRL_K} THEN 1 ELSE 0 END)) "
                f"div {_MRL_K} AS BIGINT)"
            ).alias("funnel_recall_permille"),
            F.expr(
                f"CAST((1000 * sum(CASE WHEN coarse_rank <= {_MRL_K} THEN 1 ELSE 0 END)) "
                f"div {_MRL_K} AS BIGINT)"
            ).alias("direct_recall_permille"),
        )
        .orderBy("query_id")
    )
    return hits


# ===========================================================================
# IVF probe sweep: the ANN quality-cost tuning curve
# ===========================================================================
_SWEEP_PROBES = (1, 2, 4)


def _ivf_probe_sweep_oracle() -> str:
    per_probe_ctes = ",\n    ".join(
        f"""probes{p} AS (SELECT vec_id, embedding, cid AS centroid_id
               FROM scored WHERE rn <= {p} AND vec_id < 5),
    ivf{p} AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_IVF_PAIR_COS} DESC, n.vec_id ASC) AS rnk
      FROM probes{p} q JOIN assigned n
        ON q.centroid_id = n.centroid_id AND q.vec_id <> n.vec_id)
      WHERE rnk <= 5)"""
        for p in _SWEEP_PROBES
    )
    arms = "\n      UNION ALL\n      ".join(
        f"""SELECT CAST({p} AS BIGINT) AS n_probe,
             CAST(count(*) AS BIGINT) AS k_total,
             CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
             CAST(count(i.neighbor_id) AS DOUBLE) / count(*) AS recall
      FROM brute b LEFT JOIN ivf{p} i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id"""
        for p in _SWEEP_PROBES
    )
    return f"""
    WITH {_ivf_sql()},
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5),
    {per_probe_ctes}
    SELECT * FROM ({arms})
    ORDER BY n_probe
    """


@_register("emb_ivf_probe_sweep", _ivf_probe_sweep_oracle())
def q_emb_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tuning curve: recall@5 of the refined-centroid IVF at
    nprobe ∈ {1, 2, 4} against the exact brute-force top-5, aggregated
    over the 5-query anchor batch — the measurement that decides the
    probe budget before a production rollout (recall climbs toward 1
    as nprobe approaches the centroid count; the cost climbs
    linearly). Extends the single-point ``emb_ivf_recall`` gate to the
    curve FAISS's own tuning loop sweeps.

    Scale: the brute-force ground truth is O(anchors × corpus) map
    work — the same sanctioned broadcast-anchor shape as every recall
    gate here (bench-excluded with them; at production scale the truth
    set comes from an offline exact pass, not a per-run recompute).
    Each probe arm scans only its probed partitions; the deterministic
    k-means codebook is memoized once per corpus
    (``operators/indexes.py``), so the sweep reuses ONE assignment
    pass across all three arms."""
    from ipeds_etl_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    out = None
    for p in _SWEEP_PROBES:
        ivf = SIM.ivf_topk(
            e, queries, "vec_id", "embedding",
            k=5, n_centroids=8, n_probe=p,
            cent_rows=ivf_codebook(spark, sf_dir),
        )
        arm = (
            brute.alias("b")
            .join(
                ivf.alias("i"),
                on=[
                    F.col("b.query_id") == F.col("i.query_id"),
                    F.col("b.neighbor_id") == F.col("i.neighbor_id"),
                ],
                how="left",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("k_total"),
                F.count(F.col("i.neighbor_id")).cast("long").alias("n_hit"),
            )
            .select(
                F.lit(p).cast("long").alias("n_probe"),
                "k_total",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("k_total")).alias(
                    "recall"
                ),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("n_probe")


# ===========================================================================
# PQ codebook utilization audit
# ===========================================================================
def _pq_balance_oracle() -> str:
    ctes: list[str] = []
    for s in range(PQ_M):
        ctes.extend(_pq_sub_sql(s))
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({s} AS BIGINT) AS subspace, cid FROM s{s}_codes"
        for s in range(PQ_M)
    )
    joined_ctes = ",\n    ".join(ctes)
    return f"""
    WITH {joined_ctes},
    codes AS ({unions}),
    per AS (SELECT subspace, cid, CAST(count(*) AS BIGINT) AS n
            FROM codes GROUP BY subspace, cid),
    tot AS (SELECT subspace,
                   CAST(sum(n) AS BIGINT) AS nt,
                   CAST(count(*) AS BIGINT) AS n_codes_used,
                   CAST(max(n) AS BIGINT) AS nmax,
                   CAST(sum(n * n) AS BIGINT) AS s2
            FROM per GROUP BY subspace)
    SELECT subspace, n_codes_used,
           (1000 * nmax) // nt AS max_code_share_permille,
           (1000000 * s2) // (nt * nt) AS simpson_x1e6
    FROM tot ORDER BY subspace
    """


@_register("emb_pq_codebook_balance", _pq_balance_oracle())
def q_emb_pq_codebook_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook utilization audit: per subspace, how evenly the
    corpus distributes over the 16 codewords — codes used, the hottest
    code's permille share, and the Simpson concentration ×10⁶ (uniform
    over k codes → 10⁶/k = 62,500; one dead-centroid subspace reads
    instantly as a higher Simpson and a lower used count). Unbalanced
    codebooks waste code bits and flatten ADC score resolution — this
    is the health check FAISS users run as `codebook imbalance factor`
    (Jégou et al. 2011), here integer-exact and oracle-replayed through
    the same deterministic train+encode CTEs as the PQ search queries.

    Scale: encoding is the map-only codebook-literal argmax (corpus
    never shuffles); the audit aggregates (subspace, code) — at most
    M×k = 64 groups — so everything after the map is metadata-sized.
    BIGINT envelope: Σn² ≤ n² = (2·10⁵)² = 4·10¹⁰, ×10⁶ < 2⁶³."""
    from ipeds_etl_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    codes = SIM.pq_encode(
        e, "vec_id", "embedding", pq_codebook(spark, sf_dir),
        sub_dim=PQ_SUB_DIM,
    )
    stack = F.expr(
        "stack({m}, {args})".format(
            m=PQ_M,
            args=", ".join(
                f"CAST({s} AS BIGINT), code_{s}" for s in range(PQ_M)
            ),
        )
    ).alias("subspace", "cid")
    per = (
        codes.select(stack)
        .groupBy("subspace", "cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.groupBy("subspace").agg(
        F.sum("n").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("n_codes_used"),
        F.max("n").cast("long").alias("nmax"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    return (
        tot.select(
            "subspace",
            "n_codes_used",
            F.expr("(1000 * nmax) div nt").alias("max_code_share_permille"),
            F.expr("(1000000 * s2) div (nt * nt)").alias("simpson_x1e6"),
        )
        .orderBy("subspace")
    )


# ===========================================================================
# Embedding near-dup threshold sweep (dedup tuning curve)
# ===========================================================================
_SWEEP_T100 = [30, 35, 40, 45, 50]
_SWEEP_FLOOR = 0.30


def _dup_sweep_oracle() -> str:
    cos = _cos_sql("a.embedding", "b.embedding")
    ts = ", ".join(str(t) for t in _SWEEP_T100)
    return f"""
    WITH {_ivf_sql()},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {cos} >= {_SWEEP_FLOOR}),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
    th AS (SELECT unnest([{ts}]) AS threshold_x100),
    sw AS (
      SELECT th.threshold_x100,
             CAST(COALESCE(SUM(CASE WHEN p.cos_sim >=
               CAST(th.threshold_x100 AS DOUBLE) / 100.0 THEN 1 ELSE 0 END),
               0) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT CASE WHEN p.cos_sim >=
               CAST(th.threshold_x100 AS DOUBLE) / 100.0 THEN p.id_b END)
               AS BIGINT) AS n_removed
      FROM th LEFT JOIN pairs p ON TRUE
      GROUP BY th.threshold_x100)
    SELECT threshold_x100, n_pairs, n_removed,
           (1000 * n_removed) // n_vecs AS removal_permille
    FROM sw CROSS JOIN nv ORDER BY threshold_x100
    """


@_register("emb_dup_threshold_sweep", _dup_sweep_oracle())
def q_emb_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate threshold TUNING CURVE: pair count, docs that
    would be removed (keep-lowest-id survivorship: a vector is removed
    iff it is the b-side of any qualifying pair), and removal permille
    at each candidate cosine threshold — computed from ONE pass over
    the in-bucket verified pairs at the sweep floor, then bucketed per
    threshold. This is the readout an operator studies before
    committing a corpus-wide dedup threshold (SemDeDup's ε, the
    near-dup 0.95, …): the knee of removal-vs-threshold, measured on
    the production candidate generator (same IVF bucketing as
    ``emb_near_dups``), not a synthetic sample. Same operational
    surface class as ``emb_ivf_probe_sweep`` — parameter sweeps AS
    queries, so retuning is a table read, not a notebook.

    Scale: pairs are generated once at the FLOOR threshold by the
    rank-capped in-bucket expansion (``pairs_within_buckets`` — one
    hot bucket cannot go quadratic) and verified by one dot product
    each; the sweep itself is ONE aggregation over the pair stream —
    per-threshold conditional counts unpivoted via ``stack`` (the
    oracle spells the same bucketing as a 5-row dimension LEFT JOIN,
    single-node-only: on Spark that shape would force the PAIR side
    into a nested-loop broadcast, so the plan deliberately differs
    while the rows do not), plus one broadcast 1-row corpus count.
    Raising the floor never changes rows at or above it."""
    from ipeds_etl_spark.operators import arrowverify as AV
    from ipeds_etl_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    # PER-MEMBER stats inside the bucket expansion (opt r14, guide §2.3
    # taken to its limit + §4.2; supersedes the r13 one-pass
    # groupBy(id_b)): the readout depends on each pair only through its
    # b-side member — per-threshold qualifying-pair counts and
    # max(cos_sim) — so the expansion emits ONE row per member instead
    # of one row per qualifying hit (at the 0.30 floor the hit stream
    # was millions of rows exploded, shuffled, and re-aggregated), and
    # the ~B²/2 per-bucket cosines run vectorized in an Arrow stage
    # with the same IEEE op order as the JVM fold (bit-identical;
    # pinned against the JVM member-fold kernel by
    # test_arrow_member_stats_match_member_fold and by the DuckDB
    # oracle). Pair enumeration, capped sorted arrays, the dot/divide
    # cosine, and every >= comparison are unchanged; the b-side of
    # each a < b pair is the later sorted position, exactly the former
    # groupBy("id_b") key. Members with no qualifying pair carry zero
    # counts and a -1.0 max sentinel — they contribute nothing to any
    # conditional aggregate, exactly like their absence from the
    # former pair stream.
    assigned = SIM.assign_centroids(
        e, "vec_id", "embedding", None, cent_rows=ivf_codebook(spark, sf_dir)
    )
    per_b = AV.member_cos_stats_within_buckets(
        assigned.select("centroid_id", "vec_id", "embedding"),
        ["centroid_id"],
        "vec_id",
        "embedding",
        floor=_SWEEP_FLOOR,
        thresholds=[float(t) / 100.0 for t in _SWEEP_T100],
    ).select(
        F.col("mc"),
        *[F.col(f"c{i}").alias(f"pnp_{t}") for i, t in enumerate(_SWEEP_T100)],
    )
    aggs = []
    for t in _SWEEP_T100:
        aggs.append(
            F.coalesce(F.sum(f"pnp_{t}"), F.lit(0)).cast("long").alias(f"np_{t}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mc") >= F.lit(float(t)) / 100.0, 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"nr_{t}")
        )
    wide = per_b.agg(*aggs)
    stack_args = ", ".join(
        f"{t}, np_{t}, nr_{t}" for t in _SWEEP_T100
    )
    sw = wide.selectExpr(
        f"stack({len(_SWEEP_T100)}, {stack_args})"
        " AS (threshold_x100, n_pairs, n_removed)"
    )
    nv = e.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return (
        sw.crossJoin(F.broadcast(nv))
        .select(
            "threshold_x100",
            "n_pairs",
            "n_removed",
            F.expr("(1000 * n_removed) div n_vecs").alias("removal_permille"),
        )
        .orderBy("threshold_x100")
    )


# ===========================================================================
# IVF-PQ: coarse-cell shortlist -> ADC within cells -> exact re-rank
# ===========================================================================
#: Search geometry: 2 of 8 coarse cells probed, ADC shortlist depth 50,
#: exact re-rank to top-5. Shallower than the flat-PQ pipeline's 100
#: because the cell pruning already discards ~3/4 of the corpus.
_IVFPQ_NPROBE, _IVFPQ_SHORT = 2, 50


def _ivfpq_base_sql() -> list[str]:
    """Shared leading CTEs: ``_ivf_sql`` (coarse codebook + corpus
    assignment) + one ``_pq_sub_sql`` per subspace (sub-codebooks +
    codes). Emitted ONCE per oracle even when several probe/filter
    chains hang off it (the sweep)."""
    ctes: list[str] = [_ivf_sql()]
    for s in range(PQ_M):
        ctes.extend(_pq_sub_sql(s))
    return ctes


def _ivfpq_chain_sql(
    sfx: str = "", n_probe: int | None = None, adc_pred: str = ""
) -> list[str]:
    """One probe -> cell-pruned ADC -> shortlist -> exact re-rank
    chain over the base CTEs, with every CTE name suffixed by ``sfx``
    so multiple parameterizations (the selectivity x n_probe sweep)
    coexist in one WITH. The ADC fold order is parenthesized exactly
    as ``similarity.adc_cosine`` chains it, so the floats agree
    bitwise. ``adc_pred`` appends a candidate-side predicate to the
    ADC join (filter-then-rank, never rank-then-filter)."""
    if n_probe is None:
        n_probe = _IVFPQ_NPROBE
    parts = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
        parts.append(
            (
                _DOT.format(a=f"q.embedding[{lo}:{hi}]", b=f"n{s}.embedding"),
                _DOT.format(a=f"n{s}.embedding", b=f"n{s}.embedding"),
            )
        )
    adot, recon2 = parts[0]
    for pd_, pn_ in parts[1:]:
        adot = f"({adot} + {pd_})"
        recon2 = f"({recon2} + {pn_})"
    q2 = _DOT.format(a="q.embedding", b="q.embedding")
    joins = "\n      ".join(
        f"JOIN s{s}_codes n{s} ON n{s}.vec_id = a.vec_id" for s in range(PQ_M)
    )
    return [
        f"""probes{sfx} AS (SELECT vec_id, embedding, cid AS centroid_id FROM scored
               WHERE rn <= {n_probe} AND vec_id < 5)""",
        f"""ivfpq_adc{sfx} AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             ({adot} / (sqrt({q2}) * sqrt({recon2}))) AS approx_cos
      FROM probes{sfx} q
      JOIN assigned a
        ON a.centroid_id = q.centroid_id AND a.vec_id <> q.vec_id
        {adc_pred}
      {joins})""",
        f"""ivfpq_short{sfx} AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_cos DESC, neighbor_id ASC) AS rn
      FROM ivfpq_adc{sfx}) WHERE rn <= {_IVFPQ_SHORT})""",
        f"""ivfpq_ranked{sfx} AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS "rank"
      FROM (SELECT s.query_id, s.neighbor_id,
                   {_cos_sql("q.embedding", "n.embedding")} AS cos_sim
            FROM ivfpq_short{sfx} s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings n ON n.vec_id = s.neighbor_id))""",
    ]


def _ivfpq_sql(adc_pred: str = "") -> str:
    """The single-chain form every pre-sweep oracle uses (CTE names
    unsuffixed: ``probes`` .. ``ivfpq_ranked``)."""
    return ",\n    ".join(_ivfpq_base_sql() + _ivfpq_chain_sql("", adc_pred=adc_pred))


@_register(
    "emb_ivfpq_topk",
    f"""
    WITH {_ivfpq_sql()}
    SELECT query_id, neighbor_id, cos_sim, "rank"
    FROM ivfpq_ranked WHERE "rank" <= 5
    """,
)
def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 — the composed index production ANN runs at 100 TB
    (VERDICT r11 item 4): IVF prunes WHICH rows are scored (each query
    probes its 2 nearest of 8 cells, ~1/4 of the corpus), PQ
    compresses WHAT is read to score them (ADC over the 4-int codes —
    raw vectors never enter the candidate stage), and the exact cosine
    touches full vectors only for the 50 shortlisted ids per query.
    Both codebooks are the existing deterministic seed+quantized-Lloyd
    artifacts (memoized per corpus version — build-once-query-many),
    so the oracle replays the whole pipeline and value-hashes the
    ranking. See ``similarity.ivfpq_topk`` for the plan shape."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return SIM.ivfpq_topk(
        e, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )


@_register(
    "emb_ivfpq_recall",
    f"""
    WITH {_ivfpq_sql()},
    ivfpq AS (SELECT query_id, neighbor_id FROM ivfpq_ranked
              WHERE "rank" <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN ivfpq p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF-PQ pipeline against exact brute
    force, per query — the quality gate that prices BOTH
    approximations at once (cell pruning can drop a true neighbor the
    re-rank can never recover; ADC can mis-order the shortlist
    boundary). Sits alongside ``emb_ivf_recall`` (pruning only),
    ``emb_pq_recall`` (compression only) and ``emb_pq_rerank_recall``
    (compression + re-rank) — the four points that chart where the
    recall actually goes."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    pq = SIM.ivfpq_topk(
        e, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )
    return _recall_at_5(brute, pq)


# ===========================================================================
# Filtered vector search: predicate + ANN index, filter-then-rank
# ===========================================================================
#: Search-time metadata predicate (~30% selectivity on the uniform
#: 0..9 labels). The INDEX stays globally trained — production filtered
#: search never retrains per predicate.
_FILTER_LABELS = (2, 5, 7)
_FILTER_PRED_SQL = (
    "AND a.vec_id IN (SELECT vec_id FROM embeddings "
    f"WHERE label IN {_FILTER_LABELS})"
)


@_register(
    "emb_ivfpq_filtered_topk",
    f"""
    WITH {_ivfpq_sql(adc_pred=_FILTER_PRED_SQL)}
    SELECT query_id, neighbor_id, cos_sim, "rank"
    FROM ivfpq_ranked WHERE "rank" <= 5
    """,
)
def q_emb_ivfpq_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production shape vector stores call
    pre-filtering: top-5 under a metadata predicate (label ∈ {2,5,7},
    ~30% of the corpus), evaluated with the GLOBALLY-trained IVF-PQ
    index. Two semantics this pins: (1) filter-then-rank — the
    predicate restricts the CANDIDATE set before any ranking, so the
    result is the true top-k of the filtered corpus (post-filtering a
    global top-k silently returns < k or wrong rows — the classic
    filtered-ANN bug); (2) the index is NOT retrained per predicate —
    encode is a pure per-row function of the frozen codebooks, so
    filtering the corpus input composes with the same index artifacts
    at zero build cost. Plan: the predicate lands on the codes-side
    scan (pushed filter), everything else is the ``emb_ivfpq_topk``
    plan unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    filtered = e.filter(F.col("label").isin(*_FILTER_LABELS))
    return SIM.ivfpq_topk(
        filtered, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )


@_register(
    "emb_ivfpq_filtered_recall",
    f"""
    WITH {_ivfpq_sql(adc_pred=_FILTER_PRED_SQL)},
    filt AS (SELECT query_id, neighbor_id FROM ivfpq_ranked
             WHERE "rank" <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c
        ON q.vec_id <> c.vec_id AND c.label IN {_FILTER_LABELS}
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN filt p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_ivfpq_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of filtered IVF-PQ against the FILTERED brute force —
    the gold standard is the true top-5 of the predicate-restricted
    corpus (rank-then-filter would be the wrong oracle as well as the
    wrong operator). Filtered recall is structurally LOWER than
    unfiltered at the same n_probe: the true filtered neighbors spread
    over more cells because in-cell competitors are thinned — the
    measured number is the honest price, and n_probe is the documented
    knob."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    filtered = e.filter(F.col("label").isin(*_FILTER_LABELS))
    brute = SIM.brute_force_topk(filtered, queries, "vec_id", "embedding", k=5)
    pq = SIM.ivfpq_topk(
        filtered, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )
    return _recall_at_5(brute, pq)


# ===========================================================================
# Filtered-search sweep: recall vs selectivity x n_probe (VERDICT r12 item 4)
# ===========================================================================
#: Selectivity arms as (percent, predicate-on-embeddings) — ONE source
#: of truth: the same SQL string filters the Spark corpus (F.expr) and
#: parameterizes the oracle. Labels are uniform 0..9, so label sets
#: give 30%/10%; the 3% arm sharpens with a deterministic id residue.
_SWEEP_SELS: tuple[tuple[int, str], ...] = (
    (30, "label IN (2, 5, 7)"),
    (10, "label = 5"),
    (3, "label = 5 AND vec_id % 3 = 0"),
)
#: Probe depths: 2 (the production default here), 4, and 8 = FULL probe
#: of the 8-cell codebook (the ceiling where only ADC + shortlist cost
#: recall).
_SWEEP_NPROBES = (2, 4, 8)


def _ivfpq_filtered_sweep_oracle() -> str:
    ctes = _ivfpq_base_sql()
    arms = []
    for pct, pred in _SWEEP_SELS:
        ctes.append(
            f"""brute_s{pct} AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c
        ON q.vec_id <> c.vec_id
       AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE {pred})
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)"""
        )
        for p in _SWEEP_NPROBES:
            sfx = f"_s{pct}p{p}"
            ctes.extend(
                _ivfpq_chain_sql(
                    sfx,
                    n_probe=p,
                    adc_pred=(
                        "AND a.vec_id IN (SELECT vec_id FROM embeddings "
                        f"WHERE {pred})"
                    ),
                )
            )
            arms.append(
                f"""SELECT CAST({pct} AS BIGINT) AS sel_pct,
             CAST({p} AS BIGINT) AS n_probe,
             CAST(count(*) AS BIGINT) AS k_total,
             CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
             CAST(count(i.neighbor_id) AS DOUBLE) / count(*) AS recall
      FROM brute_s{pct} b
      LEFT JOIN (SELECT query_id, neighbor_id FROM ivfpq_ranked{sfx}
                 WHERE "rank" <= 5) i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id"""
            )
    joined = ",\n    ".join(ctes)
    unioned = "\n      UNION ALL\n      ".join(arms)
    return f"""
    WITH {joined}
    SELECT * FROM ({unioned})
    ORDER BY sel_pct DESC, n_probe
    """


@_register("emb_ivfpq_filtered_sweep", _ivfpq_filtered_sweep_oracle())
def q_emb_ivfpq_filtered_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-ANN degradation surface (VERDICT r12 item 4): recall@5
    of filtered IVF-PQ against FILTERED brute force over selectivity
    {30%, 10%, 3%} x n_probe {2, 4, 8}. The single-point
    ``emb_ivfpq_filtered_recall`` measures the easy ~30% predicate;
    production filtered ANN degrades as the predicate sharpens — the
    true filtered neighbors spread over more cells because in-cell
    competitors are thinned, so a fixed probe budget misses more of
    them and n_probe is the knob that buys recall back (full probe,
    the 8/8 arm, is the ceiling where only ADC + shortlist cost
    recall). This query IS the measured surface.

    Scale: one shared assignment/encode pass (memoized codebooks)
    feeds all nine arms; each arm's ADC join touches only its probed
    cells' FILTERED candidates; the brute-force gold standard is the
    sanctioned O(anchors x filtered-corpus) recall-gate shape
    (bench-excluded with the other recall gates at production scale).

    Build: the codebook expressions (encode, cell ranking, ADC) are
    built once for the nine arms, and each selectivity's filtered,
    brute-force and encoded frames once for its three probe depths;
    an arm adds only its probe slice, joins and ranking."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    index = SIM.ivfpq_index(
        "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), pq_codebook(spark, sf_dir),
        sub_dim=PQ_SUB_DIM,
    )
    out = None
    for pct, pred in _SWEEP_SELS:
        filtered = e.filter(F.expr(pred))
        brute = SIM.brute_force_topk(
            filtered, queries, "vec_id", "embedding", k=5
        )
        enc = filtered.select(*index.encode)
        for p in _SWEEP_NPROBES:
            pq = SIM.ivfpq_search(
                index, enc, filtered, queries, "vec_id", "embedding",
                k=5, n_probe=p, n_short=_IVFPQ_SHORT,
            )
            arm = (
                brute.alias("b")
                .join(
                    pq.alias("i"),
                    on=[
                        F.col("b.query_id") == F.col("i.query_id"),
                        F.col("b.neighbor_id") == F.col("i.neighbor_id"),
                    ],
                    how="left",
                )
                .agg(
                    F.count(F.lit(1)).cast("long").alias("k_total"),
                    F.count(F.col("i.neighbor_id")).cast("long").alias("n_hit"),
                )
                .select(
                    F.lit(pct).cast("long").alias("sel_pct"),
                    F.lit(p).cast("long").alias("n_probe"),
                    "k_total",
                    "n_hit",
                    (F.col("n_hit").cast("double") / F.col("k_total")).alias(
                        "recall"
                    ),
                )
            )
            out = arm if out is None else out.unionByName(arm)
    return out.orderBy(F.desc("sel_pct"), "n_probe")


# ===========================================================================
# Scalar quantization (SQ8): the 4x compression point
# ===========================================================================
def _sq8_sql() -> str:
    """Train (per-dim min/max — pure selections, engine-exact), encode
    (floor-then-clamp in integer domain: DuckDB CAST rounds where Spark
    truncates, so the unfloored double never touches INT), dequant
    (bin-center, op order pinned), score. All lambdas single-level.

    The dimension is DERIVED FROM THE DATA on both sides (ADVICE r12):
    the train CTE unnests positions via ``generate_subscripts`` and the
    encode/dequant lambdas run over ``range(length(embedding))`` — no
    hardcoded dim to desynchronize from ``sq8_train``'s data-derived
    bounds when the embedding width changes."""
    enc = (
        "CASE WHEN mxs[i+1] = mns[i+1] THEN 0 "
        "ELSE LEAST(255, GREATEST(0, CAST(floor("
        "(CAST(embedding[i+1] AS DOUBLE) - mns[i+1]) / (mxs[i+1] - mns[i+1])"
        " * 256.0) AS INT))) END"
    )
    deq = (
        "mns[i+1] + ((CAST(codes[i+1] AS DOUBLE) + 0.5)"
        " * (mxs[i+1] - mns[i+1])) / 256.0"
    )
    qd = _DOT.format(a="q.embedding", b="d.embedding")
    dd = _DOT.format(a="d.embedding", b="d.embedding")
    q2 = _DOT.format(a="q.embedding", b="q.embedding")
    return f"""
    mm AS (
      SELECT pos, min(v) AS mn, max(v) AS mx
      FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings)
      GROUP BY pos),
    mml AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
            FROM mm),
    sq_codes AS (
      SELECT vec_id,
             list_transform(range(length(embedding)), i -> {enc}) AS codes
      FROM embeddings, mml),
    sq_dq AS (
      SELECT vec_id,
             list_transform(range(length(codes)), i -> {deq}) AS embedding
      FROM sq_codes, mml),
    sq_ranked AS (
      SELECT query_id, neighbor_id, approx_cos,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY approx_cos DESC, neighbor_id ASC) AS INTEGER) AS "rank"
      FROM (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   ({qd} / (sqrt({q2}) * sqrt({dd}))) AS approx_cos
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
            JOIN sq_dq d ON d.vec_id <> q.vec_id))"""


@_register(
    "emb_sq8_topk",
    f"""
    WITH {_sq8_sql()}
    SELECT query_id, neighbor_id, approx_cos, "rank"
    FROM sq_ranked WHERE "rank" <= 5
    """,
)
def q_emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-5 — the FAISS
    ``IndexScalarQuantizer``/QT_8bit shape and the 4× compression
    point between raw float32 (1×, ``emb_topk_bruteforce``) and PQ
    (64×, ``emb_pq_topk``): each dimension linearly quantized to one
    byte within trained per-dim [min, max] bounds; ranking reads only
    the codes column and scores the exact query against the bin-center
    dequantization. Train is one posexplode min/max aggregate (pure
    selections — the artifact is engine-exact and the oracle
    re-derives it); encode/score are map-only over the scan."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.sq8_topk(
        e, e.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        sq8_bounds(spark, sf_dir), k=5,
    )


@_register(
    "emb_sq8_recall",
    f"""
    WITH {_sq8_sql()},
    sq AS (SELECT query_id, neighbor_id FROM sq_ranked WHERE "rank" <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN sq p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of SQ8 against brute force — completes the measured
    compression/recall curve: raw 1.0 (by definition), SQ8 at 4×,
    PQ/ADC at 64× (0.32 raw, 0.88 re-ranked), IVF-PQ 0.88, residual
    IVF-PQ 0.92. SQ8's per-dim byte keeps most of the cosine ordering,
    so expect it near the top — the measured number is the honest
    price of the 4× scan reduction."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    sq = SIM.sq8_topk(
        e, queries, "vec_id", "embedding", sq8_bounds(spark, sf_dir), k=5
    )
    return _recall_at_5(brute, sq)


# ===========================================================================
# Residual IVF-PQ: the FAISS default (by_residual=true)
# ===========================================================================
def _ivfpq_residual_sql() -> str:
    """Oracle chain for residual IVF-PQ: coarse train/assign
    (``_ivf_sql`` → cent2/assigned), residuals (one exact-IEEE
    subtraction per component against the refined centroid), one
    ``_pq_sub_sql`` per subspace TRAINED ON the ``res`` CTE
    (namespaced ``r{s}_``), per-subspace reconstruction CTEs
    (centroid slice + codeword — materialized as their own CTEs so no
    lambda nests inside another lambda's body, the DuckDB 1.0
    misbinding documented on ``_vocab_apply_oracle``), then the same
    probe → ADC → shortlist → exact re-rank tail as the plain chain."""
    ctes: list[str] = [_ivf_sql()]  # ends at cent2 / scored / assigned
    ctes.append(
        """res AS (
      SELECT a.vec_id, a.centroid_id,
             list_transform(range(64),
               i -> CAST(a.embedding[i+1] AS DOUBLE)
                    - CAST(c.embedding[i+1] AS DOUBLE)) AS embedding
      FROM assigned a JOIN cent2 c ON c.cid = a.centroid_id)"""
    )
    for s in range(PQ_M):
        ctes.extend(_pq_sub_sql(s, src="res", prefix=f"r{s}"))
    for s in range(PQ_M):
        lo = s * PQ_SUB_DIM  # 0-based slice start; +i+1 gives 1-based
        ctes.append(
            f"""rrec{s} AS (
      SELECT a.vec_id,
             list_transform(range({PQ_SUB_DIM}),
               i -> CAST(c.embedding[{lo} + i + 1] AS DOUBLE)
                    + CAST(n.embedding[i+1] AS DOUBLE)) AS embedding
      FROM assigned a
      JOIN cent2 c ON c.cid = a.centroid_id
      JOIN r{s}_codes n ON n.vec_id = a.vec_id)"""
        )
    parts = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
        parts.append(
            (
                _DOT.format(a=f"q.embedding[{lo}:{hi}]", b=f"rc{s}.embedding"),
                _DOT.format(a=f"rc{s}.embedding", b=f"rc{s}.embedding"),
            )
        )
    adot, recon2 = parts[0]
    for pd_, pn_ in parts[1:]:
        adot = f"({adot} + {pd_})"
        recon2 = f"({recon2} + {pn_})"
    q2 = _DOT.format(a="q.embedding", b="q.embedding")
    joins = "\n      ".join(
        f"JOIN rrec{s} rc{s} ON rc{s}.vec_id = a.vec_id"
        for s in range(PQ_M)
    )
    ctes.append(
        f"""probes AS (SELECT vec_id, embedding, cid AS centroid_id FROM scored
               WHERE rn <= {_IVFPQ_NPROBE} AND vec_id < 5)"""
    )
    ctes.append(
        f"""r_adc AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             ({adot} / (sqrt({q2}) * sqrt({recon2}))) AS approx_cos
      FROM probes q
      JOIN assigned a
        ON a.centroid_id = q.centroid_id AND a.vec_id <> q.vec_id
      {joins})"""
    )
    ctes.append(
        f"""r_short AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_cos DESC, neighbor_id ASC) AS rn
      FROM r_adc) WHERE rn <= {_IVFPQ_SHORT})"""
    )
    ctes.append(
        f"""r_ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS "rank"
      FROM (SELECT s.query_id, s.neighbor_id,
                   {_cos_sql("q.embedding", "n.embedding")} AS cos_sim
            FROM r_short s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings n ON n.vec_id = s.neighbor_id))"""
    )
    return ",\n    ".join(ctes)


@_register(
    "emb_ivfpq_residual_topk",
    f"""
    WITH {_ivfpq_residual_sql()}
    SELECT query_id, neighbor_id, cos_sim, "rank"
    FROM r_ranked WHERE "rank" <= 5
    """,
)
def q_emb_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-5 — FAISS's DEFAULT IVF-PQ configuration
    (``by_residual=true``): the sub-codebooks quantize
    ``v − coarse_centroid(v)`` instead of ``v``, spending the same
    4-int code budget on what the coarse quantizer didn't explain
    (Jégou et al. 2011 §V.B); ADC reconstructs ``centroid + codeword``
    per subspace before scoring. Same plan shape and geometry as
    ``emb_ivfpq_topk`` — the measured recall delta between the two IS
    the value of residual encoding at this code size."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return SIM.ivfpq_residual_topk(
        e, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), residual_pq_books(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )


@_register(
    "emb_ivfpq_residual_recall",
    f"""
    WITH {_ivfpq_residual_sql()},
    ivfpqr AS (SELECT query_id, neighbor_id FROM r_ranked
               WHERE "rank" <= 5),
    brute AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_AB} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5)
      WHERE rnk <= 5)
    SELECT b.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
           CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM brute b LEFT JOIN ivfpqr p
      ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_emb_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of residual IVF-PQ against brute force — read next to
    ``emb_ivfpq_recall`` (non-residual, same cells/probes/shortlist):
    the difference is purely what residual encoding buys at a fixed
    code budget."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(e, queries, "vec_id", "embedding", k=5)
    pq = SIM.ivfpq_residual_topk(
        e, queries, "vec_id", "embedding",
        ivf_codebook(spark, sf_dir), residual_pq_books(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=PQ_SUB_DIM,
    )
    return _recall_at_5(brute, pq)


# ===========================================================================
# Semantic decontamination: eval-set leakage by embedding cosine
# ===========================================================================
#: The held-out "eval set" (first 20 vectors by id) and the
#: contamination threshold (the corpus has no planted eval clones;
#: 0.4 exercises the operator on real near-neighbors, the same level
#: emb_near_dups verifies at).
_DECON_EVAL_N = 20
_DECON_TAU = 0.4


@_register(
    "emb_semantic_decontaminate",
    f"""
    WITH ev AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < {_DECON_EVAL_N}),
    mx AS (
      SELECT c.vec_id, c.label,
             max({_cos_sql("c.embedding", "e.embedding")}) AS max_eval_sim
      FROM embeddings c JOIN ev e ON c.vec_id >= {_DECON_EVAL_N}
      GROUP BY c.vec_id, c.label)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN max_eval_sim >= {_DECON_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           max(max_eval_sim) AS max_sim
    FROM mx
    GROUP BY label
    ORDER BY label
    """,
)
def q_emb_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of
    the n-gram `docs_decontaminate`: for every training vector, the
    max cosine to any held-out eval vector; vectors at ≥ τ are leakage
    (an eval example paraphrased/re-encoded in the training set, which
    n-gram overlap misses). Reported per label: corpus size,
    contaminated count, max similarity.

    Scale (the reason this spelling exists): the eval set embeds as ONE
    plan-literal matrix and the per-vector max-cosine is a map-side
    fold — the 100 TB corpus is scanned once with NO join and NO
    shuffle before the label-sized final aggregate, while the naive
    corpus × eval broadcast join would materialize |corpus| × |eval|
    intermediate rows. max() is a pure selection over identically
    computed cosines, so the map-fold and the oracle's join-then-max
    agree bitwise.

    Build jobs: the eval vectors are collected into a plan literal."""
    e = load_table(spark, sf_dir, "embeddings")
    max_sim = SIM.eval_max_cosine(
        F.col("embedding"), _decon_eval_vecs(spark, sf_dir)
    )
    return (
        e.filter(F.col("vec_id") >= _DECON_EVAL_N)
        .select("label", max_sim.alias("max_eval_sim"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(
                F.when(F.col("max_eval_sim") >= _DECON_TAU, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_contaminated"),
            F.max("max_eval_sim").alias("max_sim"),
        )
        .orderBy("label")
    )


#: Incoming-batch split for the incremental twin (the
#: ``docs_incremental_dedup`` convention: the second half of the
#: sf0.01 corpus stands in for a new crawl batch).
_DECON_BATCH_SPLIT = 250


def _decon_eval_vecs(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The frozen eval matrix, id-sorted — collected once per call
    (bounded tiny artifact, `_DECON_EVAL_N` rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    return [
        v
        for _, v in sorted(
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.filter(F.col("vec_id") < _DECON_EVAL_N)
            .select("vec_id", "embedding")
            .collect()
        )
    ]


@_register(
    "emb_incremental_decontaminate",
    f"""
    WITH ev AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < {_DECON_EVAL_N})
    SELECT c.vec_id,
           max({_cos_sql("c.embedding", "e.embedding")}) AS max_eval_sim,
           max({_cos_sql("c.embedding", "e.embedding")}) < {_DECON_TAU} AS keep
    FROM embeddings c JOIN ev e ON c.vec_id >= {_DECON_BATCH_SPLIT}
    GROUP BY c.vec_id
    """,
)
def q_emb_incremental_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL semantic decontamination — the crawl-over-crawl
    twin of `emb_semantic_decontaminate` (VERDICT r12 item 7): the
    batch form re-scans the full corpus per eval-set freeze, but the
    production cadence is an INCOMING batch (vec_id ≥ the split,
    standing in for a new crawl) checked against the FROZEN eval
    matrix. Per incoming vector: max cosine to any eval vector and the
    keep verdict (max < τ).

    Scale: strictly map-only ON THE BATCH — the eval matrix is one
    plan-literal, the fold is per-row (`similarity.eval_max_cosine`),
    and there is no aggregate at all, so the plan has ZERO exchanges
    and never touches the existing corpus (cross-side-only: an eval
    clone already in the reference corpus is the batch's problem only
    if the batch re-crawls it — pinned by test). Each batch costs one
    scan of the batch.

    Build jobs: the eval vectors are collected into a plan literal."""
    e = load_table(spark, sf_dir, "embeddings")
    max_sim = SIM.eval_max_cosine(
        F.col("embedding"), _decon_eval_vecs(spark, sf_dir)
    )
    return e.filter(F.col("vec_id") >= _DECON_BATCH_SPLIT).select(
        "vec_id",
        max_sim.alias("max_eval_sim"),
        (max_sim < F.lit(_DECON_TAU)).alias("keep"),
    )
