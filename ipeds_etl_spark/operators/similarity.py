"""Similarity search over embedding columns (``array<float>``).

Kernels are pure Column expressions (``zip_with`` + ``aggregate`` —
JVM-side, no Python): the dot product folds left in index order with
double precision, so DuckDB's oracle (``list_transform`` + index-order
``list_reduce``-style sum) produces bit-identical IEEE results.

Every top-k search is one pipeline: **score → rank → optional
shortlist re-rank**. A variant is only its candidate scorer, a frame
of ``(query_id, neighbor_id, score)``:

* ``brute_force_topk`` — exact cosine over broadcast queries × corpus;
* ``ivf_topk`` — exact cosine over the rows of each query's
  ``n_probe`` nearest IVF cells (FAISS IVF-Flat, relationally);
* ``pq_topk`` — ADC cosine over broadcast queries × PQ codes;
* ``sq8_topk`` — cosine against SQ8-dequantized codes;
* ``ivfpq_search`` — ADC over the probed cells of an IVF-PQ index
  table: ``ivfpq_topk`` over plain codes, ``ivfpq_residual_topk`` over
  residual codes (ADC rebuilds centroid + codeword).

``pq_topk_rerank`` and ``ivfpq_search`` send their scores through
``_shortlist_exact_rerank``; the others rank them directly. The
shared pieces are each written once: ``_query_pairs`` (broadcast
queries × candidates, self-matches dropped, optionally probed by cell),
``_cells`` (the probe: centroid ids nearest first), ``pq_codes`` (the
per-subspace encode), ``codeword`` (the codebook lookup), ``_adc_fold``
(the ADC score) and ``_top_k`` (the ranking rule: per query, score
descending, ties to the lower ``neighbor_id``).

``embedding_near_dups`` and the RP-LSH pair finders bucket the corpus
(IVF centroid, sign pattern, or band × sign pattern) and verify pairs
inside each bucket with the one Arrow kernel,
``arrowverify.pair_cos_hits_within_buckets`` (numpy inside a
``mapInArrow`` stage, with the same IEEE op order as the Column fold).

Determinism: centroids are seeded as the first ``n_centroids``
vectors by id, then refined with ``kmeans_refine`` — deterministic
Lloyd iterations whose means run in quantized integer space (scale by
2^20, floor, exact BIGINT sums, one IEEE division back), so the final
centroids are bit-identical regardless of engine or partitioning and
the DuckDB oracle replays the refinement exactly. ``emb_ivf_recall``
value-checks recall@k of the refined IVF against brute force.
"""

from __future__ import annotations

import math
import operator
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit
from ipeds_etl_spark.operators.arrowverify import pair_cos_hits_within_buckets
from ipeds_etl_spark.operators.dedup import MAX_BUCKET_SIZE_DEFAULT


def suggest_rp_planes(
    corpus_count: int,
    target_bucket_size: int = 1024,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Hyperplane count sized from corpus stats: ``2^p`` buckets, so
    ``p = ceil(log2(n / target_bucket_size))`` keeps the EXPECTED
    bucket population ≈ ``target_bucket_size`` as the corpus grows —
    the per-bucket pair expansion stays bounded at any scale instead
    of exploding quadratically with fixed sf-sized constants. The
    plane family itself stays the derandomized sha256 construction."""
    if corpus_count <= target_bucket_size:
        return min_planes
    return max(
        min_planes, min(max_planes, math.ceil(math.log2(corpus_count / target_bucket_size)))
    )


def suggest_n_centroids(
    corpus_count: int,
    target_bucket_size: int = 4096,
    min_centroids: int = 8,
    max_centroids: int = 1 << 16,
) -> int:
    """IVF centroid count sized from corpus stats: ``n / target`` keeps
    the expected inverted-list length ≈ ``target_bucket_size``.
    Centroid seeding/refinement stays deterministic; the cap bounds the
    plan-literal centroid list the assignment broadcasts."""
    if corpus_count <= target_bucket_size * min_centroids:
        return min_centroids
    return min(max_centroids, math.ceil(corpus_count / target_bucket_size))


def argmin_sqdist_int(v: Column, cents: list[tuple[int, list[int]]]) -> Column:
    """``struct(dist, cid)`` of the nearest INTEGER centroid by squared
    euclidean distance, ties to the LOWER cid — the Lloyd assignment
    argmin, spelled as ONE matrix-literal loop instead of k unrolled
    ``zip_with``+``aggregate`` chains (opt r13: the unrolled spelling
    re-ran Catalyst analysis + codegen over an O(k·dim)-node tree for
    every Lloyd round — 5.2 s of the 5.5 s sf0.1 emb_kmeans_lloyd run
    was driver-side plan work, 0.3 s execution). The matrix rides as
    one constant-folded literal (``array_lit``); distances, fold
    order, and the (dist, cid) struct-min tie-break are bit-identical
    to the unrolled form (integer adds are associative; cid stays
    INT)."""
    m = array_lit([[int(x) for x in c] for _, c in cents]).cast("array<array<bigint>>")
    cids = array_lit([int(cid) for cid, _ in cents])
    def one(i: Column) -> Column:
        cw = F.element_at(m, i.cast("int"))
        d = F.aggregate(
            F.zip_with(v, cw, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(
            d.alias("dist"), F.element_at(cids, i.cast("int")).alias("cid")
        )
    return F.array_min(
        F.transform(F.sequence(F.lit(1), F.lit(len(cents))), one)
    )


def dot(a: Column, b: Column) -> Column:
    """Index-order fold-left double dot product (DuckDB-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def eval_max_cosine(vec: Column, eval_vecs: list[list[float]]) -> Column:
    """Max cosine of ``vec`` against a FROZEN eval matrix embedded as
    one plan-literal (``array_lit``) — the semantic-decontamination
    primitive shared by the batch gate (`emb_semantic_decontaminate`)
    and its incremental crawl-over-crawl twin.

    Scale contract: the eval set is a bounded artifact (tens to low
    thousands of vectors), so it constant-folds into the plan and the
    per-row max is a MAP-SIDE fold — a 100 TB corpus (or an unbounded
    incoming stream) is scanned once with no join and no shuffle. The
    naive corpus × eval join would materialize |corpus| × |eval| rows.

    Same norm hoist as ``_scored_centroids`` (opt r13): eval-row norms
    precomputed driver-side, ``norm(vec)`` bound once per row — the
    per-eval-row body is one dot fold; values bit-identical."""
    m = array_lit([[float(v) for v in row] for row in eval_vecs])
    nrs = array_lit([_pynorm([float(v) for v in row]) for row in eval_vecs])
    return F.array_max(
        F.element_at(
            F.transform(
                F.array(norm(vec)),
                lambda nv: F.transform(
                    F.sequence(F.lit(1), F.lit(len(eval_vecs))),
                    lambda i: dot(vec, F.element_at(m, i.cast("int")))
                    / (nv * F.element_at(nrs, i.cast("int"))),
                ),
            ),
            1,
        )
    )


def _collect_centroids(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """One driver collect of the (tiny) centroid list."""
    return [
        (r["cid"], list(r["cvec"]))
        for r in centroids.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        ).collect()
    ]


def _pynorm(vec_: list[float]) -> float:
    """Driver-side replica of ``norm`` with the same IEEE op order
    (left-fold sum of x·x in double, then one correctly-rounded sqrt)
    — bit-identical to evaluating ``norm`` on the same literal."""
    acc = 0.0
    for x in vec_:
        fx = float(x)
        acc = acc + fx * fx
    return math.sqrt(acc)


def _scored_centroids(
    vec: Column, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """``array<struct<sim,cid>>`` of cosine scores of ``vec`` against
    every centroid. The centroid table embeds as TWO flat literals
    (ids, vectors) — single Literal plan nodes — instead of an
    array-of-struct tree of n_centroids × dim individual ``lit`` calls:
    the values and IEEE op order are identical, but Catalyst analyzes
    ~2 nodes instead of ~500, which measurably cuts per-query driver
    time for every assignment/probe expression (this projection is
    built 3× per IVF query: two Lloyd refinements + final).

    The two norms in ``cosine`` are hoisted out of the per-centroid
    loop (opt r13): centroid norms are precomputed driver-side into a
    literal (``_pynorm`` replicates the fold order, so the doubles are
    bit-identical), and ``norm(vec)`` is bound ONCE per row via a
    1-element transform so the per-centroid body is a single dot fold
    instead of three. The score stays ``dot / (nv * ncw)`` — the same
    operands and op order as ``cosine``."""
    cids = array_lit([int(cid) for cid, _ in cent_rows])
    cvecs = array_lit([[float(v) for v in vec_] for _, vec_ in cent_rows])
    ncws = array_lit([_pynorm(vec_) for _, vec_ in cent_rows])
    idx = F.sequence(F.lit(1), F.lit(len(cent_rows)))
    return F.element_at(
        F.transform(
            F.array(norm(vec)),
            lambda nv: F.transform(
                idx,
                lambda i: F.struct(
                    (
                        dot(vec, F.element_at(cvecs, i.cast("int")))
                        / (nv * F.element_at(ncws, i.cast("int")))
                    ).alias("sim"),
                    F.element_at(cids, i.cast("int")).cast("int").alias("cid"),
                ),
            ),
        ),
        1,
    )


def _nearest(scores: Column) -> Column:
    """The cid of the best entry of ``_scored_centroids``: highest
    cosine, ties to the higher cid (``array_max`` of ``(sim, cid)``)."""
    return F.array_max(scores)["cid"]


def _cells(scores: Column) -> Column:
    """The probe: every cid of ``_scored_centroids``, nearest first, in
    ``_nearest``'s order (so the first cell is the one ``_nearest``
    assigns)."""
    return F.transform(F.reverse(F.array_sort(scores)), lambda c: c["cid"])


def _subspace(vec: Column, s: int, sub_dim: int) -> Column:
    """Subspace ``s`` of ``vec``: its ``sub_dim`` contiguous dims."""
    return F.slice(vec, s * sub_dim + 1, sub_dim)


def pq_codes(
    vec: Column, books: list[list[tuple[int, list[float]]]], sub_dim: int = 16
) -> list[Column]:
    """The PQ encode: one ``code_{s}`` column per subspace, the cid of
    the nearest sub-codeword by cosine (``_nearest``'s tie rule)."""
    return [
        _nearest(_scored_centroids(_subspace(vec, s, sub_dim), book)).alias(f"code_{s}")
        for s, book in enumerate(books)
    ]


def codeword(book: list[tuple[int, list[float]]], cid: Column) -> Column:
    """The vector of codeword ``cid`` in ``book``: the cid's position in
    one literal id list, then that row of one literal matrix."""
    cids = array_lit([int(c) for c, _ in book])
    cvecs = array_lit([[float(v) for v in vec_] for _, vec_ in book])
    return F.element_at(cvecs, F.array_position(cids, cid).cast("int"))


def assign_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    cent_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Nearest-centroid assignment: embed the centroid list as a plan
    literal, argmax cosine inside a single projection (no join, no
    shuffle — the corpus scan stays embarrassingly parallel). Callers
    holding an already-collected centroid list pass ``cent_rows`` to
    avoid a second driver job."""
    if cent_rows is None:
        cent_rows = _collect_centroids(centroids, id_col, vec_col)
    best = _nearest(_scored_centroids(F.col(vec_col), cent_rows))
    return corpus.select(F.col(id_col), F.col(vec_col), best.alias("centroid_id"))


#: Quantization scale for the deterministic k-means mean: a power of
#: two, so ``v * SCALE`` is EXACT in binary floating point (no
#: rounding), making the whole refinement bit-reproducible across
#: engines. 2^20 keeps |v|≤512 embeddings-sum well inside 2^53.
KMEANS_SCALE = 1 << 20


def kmeans_refine(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    n_iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd iterations over the seed centroids.

    Each iteration: assign every corpus vector to its nearest centroid
    (cosine argmax, a map over a plan-literal centroid list — no join),
    then recompute each centroid as the **quantized mean** of its
    members: components are scaled by 2^20 (exact), floor(x+0.5)
    rounded to BIGINT (exact), summed exactly, and divided back in one
    IEEE step — so the refined centroids are bit-identical on any
    engine/partitioning, which is what lets the DuckDB oracle replay
    the refinement and value-check IVF end-to-end.

    Scale: the mean aggregate is map-side combinable into
    n_centroids × dim groups (512 here), so the shuffle is a few
    hundred rows per input partition regardless of corpus size; the
    driver collects only the (n_centroids × dim) sums per iteration.
    Clusters that lose all members are dropped (mirroring the
    relational formulation, where an empty group simply vanishes).
    """
    for _ in range(n_iters):
        assigned = assign_centroids(corpus, id_col, vec_col, None, cent_rows=cent_rows)
        comp = assigned.select("centroid_id", F.posexplode(F.col(vec_col)))
        sums = comp.groupBy("centroid_id", "pos").agg(
            F.sum(
                F.floor(F.col("col").cast("double") * KMEANS_SCALE + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("s"),
            F.count("*").alias("n"),
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums.collect():  # ≤ n_centroids × dim rows (metadata-sized)
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = (r["s"], r["n"])
        cent_rows = [
            (
                cid,
                [float(s) / n / KMEANS_SCALE for _, (s, n) in sorted(d.items())],
            )
            for cid, d in sorted(by_cid.items())
        ]
    return cent_rows


def _top_k(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The ranking rule of every search over ``scored`` =
    ``(query_id, neighbor_id, <score>)``: per query, ``score``
    descending, ties to the lower ``neighbor_id`` (so the ranking is a
    function of the data), the first ``k`` kept with their 1-based
    ``rank`` as a fourth column."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _query_pairs(
    queries: DataFrame,
    cands: DataFrame,
    id_col: str,
    vec_col: str,
    probe: Column | None = None,
) -> DataFrame:
    """Broadcast ``(query_id, qvec)`` paired with ``cands`` (its
    ``id_col`` renamed ``neighbor_id``), self-matches dropped. Without
    ``probe`` every query meets every candidate; with ``probe`` (an
    array of cell ids per query) each query explodes to those cells and
    meets only their candidates, by equi-join on ``centroid_id`` — the
    shuffle moves queries to cells, never the corpus."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        *([] if probe is None else [F.explode(probe).alias("centroid_id")]),
    )
    c = cands.withColumnRenamed(id_col, "neighbor_id")
    pairs = (
        F.broadcast(q).crossJoin(c)
        if probe is None
        else F.broadcast(q).join(c, "centroid_id")
    )
    return pairs.filter(F.col("query_id") != F.col("neighbor_id"))


def _exact_scores(pairs: DataFrame) -> DataFrame:
    """``cos_sim``, the exact cosine of ``qvec`` and ``nvec``."""
    return pairs.select(
        "query_id", "neighbor_id", cosine(F.col("qvec"), F.col("nvec")).alias("cos_sim")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector: every corpus vector scored
    against the broadcast queries, self-matches excluded. At 100 TB the
    scan dominates and parallelizes perfectly; the shuffle is only the
    scored rows keyed by query, ranked by ``_top_k``'s window."""
    cands = corpus.select(F.col(id_col), F.col(vec_col).alias("nvec"))
    return _top_k(
        _exact_scores(_query_pairs(queries, cands, id_col, vec_col)), "cos_sim", k
    )


def build_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None = 8,
    n_iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Build the IVF codebook (the index-training step): seed the first
    ``n_centroids`` vectors by id, then refine with ``n_iters``
    deterministic Lloyd iterations. The result is a small driver-side
    artifact (≤ n_centroids × dim floats) that callers persist/reuse
    across every query against the same corpus version — index build is
    amortized, per-query cost is probe + bucket join only."""
    if n_centroids is None:
        n_centroids = suggest_n_centroids(corpus.count())
    centroids = corpus.orderBy(F.col(id_col)).limit(n_centroids)
    cent_rows = _collect_centroids(centroids, id_col, vec_col)
    if n_iters:
        cent_rows = kmeans_refine(corpus, id_col, vec_col, cent_rows, n_iters=n_iters)
    return cent_rows


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int | None = 8,
    n_probe: int = 2,
    n_iters: int = 2,
    cent_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``n_probe`` nearest centroid
    buckets per query. Join key is centroid_id, so the shuffle moves
    each query to ~n_probe buckets instead of the whole corpus.
    Centroids are seeded first-N-by-id then refined with ``n_iters``
    deterministic Lloyd iterations (``kmeans_refine``).
    ``n_centroids=None`` sizes the codebook from the corpus count
    (``suggest_n_centroids`` — inverted-list length stays ≈ constant
    as the corpus grows).

    ``cent_rows`` takes a prebuilt codebook (``build_ivf_centroids``)
    and skips seeding/refinement entirely — IVF is build-once-query-
    many: the index artifact is computed once per corpus version and
    amortized over every query against it, exactly as FAISS separates
    ``train``/``add`` from ``search``."""
    if cent_rows is None:
        cent_rows = build_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, n_iters=n_iters
        )
    assigned = assign_centroids(corpus, id_col, vec_col, None, cent_rows=cent_rows)
    probe = F.slice(_cells(_scored_centroids(F.col(vec_col), cent_rows)), 1, n_probe)
    cands = assigned.select(F.col(id_col), F.col(vec_col).alias("nvec"), "centroid_id")
    return _top_k(
        _exact_scores(_query_pairs(queries, cands, id_col, vec_col, probe)),
        "cos_sim",
        k,
    )


def rp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random-hyperplane family: ±1 (Rademacher) entries
    from sha256 of (plane, dim) — a published SimHash-for-vectors
    construction (Charikar 2002), derandomized so the DuckDB oracle
    can embed the identical planes as literals."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.sha256(f"rp:{p}:{d}".encode()).hexdigest(), 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def rp_lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit p = sign of the projection onto plane p.

    The plane family embeds as ONE flat nested-array literal (a single
    plan node) with bits folded via higher-order functions, instead of
    n_planes × dim individual ``lit`` calls — same projections, same
    bucket ids, a fraction of the Catalyst tree. ``pow(2, p)`` is exact
    in double for p ≤ 23 (``suggest_rp_planes`` caps at 24 planes)."""
    planes_lit = array_lit([[float(v) for v in p] for p in planes])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(len(planes) - 1)),
        lambda p: F.when(
            dot(vec_col, F.element_at(planes_lit, (p + 1).cast("int"))) > 0,
            F.pow(F.lit(2.0), p).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc + b).cast("int")


def rp_planes_banded(
    n_bands: int, planes_per_band: int, dim: int
) -> list[list[list[float]]]:
    """Independent Rademacher plane families per band (seeded
    ``rpb:{band}:{plane}:{dim}``, disjoint from the single-band
    family)."""
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.sha256(f"rpb:{b}:{p}:{d}".encode()).hexdigest(), 16) & 1
                else -1.0
                for d in range(dim)
            ]
            for p in range(planes_per_band)
        ]
        for b in range(n_bands)
    ]


def rp_lsh_banded_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int = 6,
    planes_per_band: int = 4,
    dim: int = 64,
    threshold: float = 0.3,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
) -> DataFrame:
    """Banded (amplified) RP-LSH near-dup pairs: vectors pair if they
    collide in ANY of ``n_bands`` independent ``planes_per_band``-bit
    sign buckets, then verify by exact cosine.

    Why: one k-plane band has collision probability p^k with
    p = 1 − θ/π — measured 0.018 recall at cos ≥ 0.3 with k = 8
    (``emb_rp_lsh_recall``). OR-ing L independent bands amplifies to
    1 − (1 − p^k)^L: smaller k per band + several bands trades a
    constant factor of candidate pairs for orders of magnitude of
    recall (``emb_rp_lsh_banded_recall`` measures it). Same knobs as
    MinHash band amplification — this is LSH theory's standard
    construction, relational form: explode each vector into its L
    (band, bucket) keys and verify pairs INSIDE each bucket with the
    Arrow kernel (``pair_cos_hits_within_buckets`` — no self-join,
    rank-capped at ``max_bucket_size`` so one boilerplate bucket cannot
    become a quadratic task). A pair colliding in several bands is
    verified once per band with bit-identical cosines, so ``distinct``
    on the hits keeps it once.
    """
    fams = rp_planes_banded(n_bands, planes_per_band, dim)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                rp_lsh_bucket(F.col(vec_col), fams[b]).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col), F.explode(bands).alias("bb")
    ).select(id_col, vec_col, "bb.band", "bb.bucket")
    return pair_cos_hits_within_buckets(
        bucketed, ["band", "bucket"], id_col, vec_col, threshold,
        max_bucket_size=max_bucket_size,
    ).distinct()


def rp_lsh_near_dups(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int | None = 8,
    dim: int = 64,
    threshold: float = 0.3,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs via random-hyperplane LSH: vectors sharing a
    sign-pattern bucket (cosine-similar vectors collide with
    probability (1 - θ/π)^n_planes) are paired and verified by exact
    cosine. The alternative bucketing to IVF: no centroids to pick,
    collision probability directly controlled by n_planes.

    ``n_planes=None`` sizes the family from the corpus count
    (``suggest_rp_planes`` — expected bucket population stays bounded
    as the corpus grows instead of freezing an sf-sized constant).
    Pairs are verified inside each bucket by the rank-capped Arrow
    kernel (``pair_cos_hits_within_buckets``) — no self-join, and a
    pathological hot bucket is bounded at ``max_bucket_size`` members
    per task."""
    if n_planes is None:
        n_planes = suggest_rp_planes(
            corpus.count() if corpus_rows is None else corpus_rows
        )
    planes = rp_planes(n_planes, dim)
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        rp_lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    return pair_cos_hits_within_buckets(
        bucketed, ["bucket"], id_col, vec_col, threshold,
        max_bucket_size=max_bucket_size,
    )


def embedding_near_dups(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_centroids: int | None = 8,
    n_iters: int = 2,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    cent_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) within shared
    centroid buckets — linear-ish at scale; recall bounded by bucketing
    (near-identical vectors land in the same bucket).
    ``n_centroids=None`` sizes the codebook from the corpus count
    (``suggest_n_centroids``); the in-bucket verify is rank-capped
    (``pair_cos_hits_within_buckets``), so one overfull centroid cannot become
    a quadratic task. ``cent_rows`` takes a prebuilt codebook
    (``build_ivf_centroids``) so the index build is amortized across
    the queries sharing it."""
    if cent_rows is None:
        cent_rows = build_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, n_iters=n_iters
        )
    assigned = assign_centroids(corpus, id_col, vec_col, None, cent_rows=cent_rows)
    return pair_cos_hits_within_buckets(
        assigned, ["centroid_id"], id_col, vec_col, threshold,
        max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN for 100 TB corpora
# ---------------------------------------------------------------------------
def build_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 4,
    sub_dim: int = 16,
    n_centroids: int = 8,
    n_iters: int = 2,
) -> list[list[tuple[int, list[float]]]]:
    """Train one codebook per vector SUBSPACE (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): slice every
    vector into ``n_subspaces`` contiguous blocks of ``sub_dim`` dims
    and run the SAME deterministic seed+Lloyd pipeline as IVF
    (``build_ivf_centroids``) on each block independently. The full
    codebook is n_subspaces × n_centroids × sub_dim floats — a
    driver-side artifact measured in KB, built once per corpus version
    and reused by every query (FAISS train/add vs search).

    Why this matters at 100 TB: a 64-dim float32 vector is 256 bytes;
    its PQ code is n_subspaces small ints (4 bytes here). The
    compressed corpus fits in a fraction of the memory/IO, and
    distance evaluation never touches the original vectors — the scan
    reads the codes column only (column pruning drops the embedding).

    All subspaces train in ONE pass per step instead of running the
    seed + Lloyd pipeline per subspace (which scanned the corpus
    n_subspaces × (1 + n_iters) times): one seed collect slices every
    subspace from the same first-n_centroids rows, and each Lloyd
    iteration computes every subspace's assignment argmax in a single
    projection, explodes (subspace, cid, component) and aggregates the
    quantized sums map-side into n_subspaces × n_centroids × sub_dim
    groups. Member sets, exact integer sums, and the final division
    order are identical per subspace, so the refined codebooks are
    bit-identical to the per-subspace pipeline's."""
    seed_rows = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    books: list[list[tuple[int, list[float]]]] = [
        [
            (r["cid"], list(r["cvec"])[s * sub_dim : (s + 1) * sub_dim])
            for r in seed_rows
        ]
        for s in range(n_subspaces)
    ]
    for _ in range(n_iters):
        entries = [
            F.struct(
                F.lit(s).alias("s"),
                code.alias("centroid_id"),
                _subspace(F.col(vec_col), s, sub_dim).alias("v"),
            )
            for s, code in enumerate(pq_codes(F.col(vec_col), books, sub_dim))
        ]
        exploded = (
            corpus.select(F.explode(F.array(*entries)).alias("e"))
            .select("e.s", "e.centroid_id", F.posexplode("e.v"))
        )
        sums = exploded.groupBy("s", "centroid_id", "pos").agg(
            F.sum(
                F.floor(F.col("col").cast("double") * KMEANS_SCALE + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("sm"),
            F.count("*").alias("n"),
        )
        by_sub: list[dict[int, dict[int, tuple[int, int]]]] = [
            {} for _ in range(n_subspaces)
        ]
        for r in sums.collect():  # ≤ n_subspaces × n_centroids × sub_dim rows
            by_sub[r["s"]].setdefault(r["centroid_id"], {})[r["pos"]] = (
                r["sm"],
                r["n"],
            )
        books = [
            [
                (
                    cid,
                    [float(sm) / n / KMEANS_SCALE for _, (sm, n) in sorted(d.items())],
                )
                for cid, d in sorted(by_cid.items())
            ]
            for by_cid in by_sub
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int = 16,
) -> DataFrame:
    """Encode every vector as one small int per subspace (its nearest
    sub-codeword by cosine, ties to the higher cid — the same argmax
    convention as ``assign_centroids``). Map-only over the corpus scan:
    the codebooks ride along as plan literals, no join, no shuffle."""
    return corpus.select(F.col(id_col), *pq_codes(F.col(vec_col), books, sub_dim))


def adc_cosine(
    qvec: Column,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int = 16,
    code_prefix: str = "code_",
) -> Column:
    """The ADC (asymmetric-distance) score of ``pq_topk`` and
    ``ivfpq_topk``: cosine of the exact query against the corpus vector
    RECONSTRUCTED from its per-subspace codewords (``_adc_fold``).
    Expects ``{code_prefix}{s}`` columns in scope (see ``pq_encode``)."""
    return _adc_fold(qvec, books, sub_dim, code_prefix)


def _adc_fold(
    qvec: Column,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    code_prefix: str = "code_",
    coarse: list[tuple[int, list[float]]] | None = None,
) -> Column:
    """The one ADC fold: ``Σ_s dot(q_s, r_s) / (‖q‖ · sqrt(Σ_s ‖r_s‖²))``
    with ``r_s`` subspace ``s`` of the reconstruction — the codeword,
    or for residual codes (``coarse`` = the IVF codebook) the slice of
    the row's ``centroid_id`` centroid plus the codeword, one exact-IEEE
    addition per component. Every float op is order-pinned (left-fold
    dot products, left-fold subspace sums, one division) so DuckDB
    replays it bit-identically."""
    cvec = None if coarse is None else codeword(coarse, F.col("centroid_id"))
    partial_dots, partial_n2 = [], []
    for s, book in enumerate(books):
        r = codeword(book, F.col(f"{code_prefix}{s}"))
        if cvec is not None:
            r = F.zip_with(_subspace(cvec, s, sub_dim), r, lambda x, y: x + y)
        partial_dots.append(dot(_subspace(qvec, s, sub_dim), r))
        partial_n2.append(dot(r, r))
    return reduce(operator.add, partial_dots) / (
        F.sqrt(dot(qvec, qvec)) * F.sqrt(reduce(operator.add, partial_n2))
    )


def _pq_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
) -> DataFrame:
    """``approx_cos``: ADC of every broadcast query against every
    encoded corpus row."""
    codes = pq_encode(corpus, id_col, vec_col, books, sub_dim=sub_dim)
    return _query_pairs(queries, codes, id_col, vec_col).select(
        "query_id",
        "neighbor_id",
        adc_cosine(F.col("qvec"), books, sub_dim=sub_dim).alias("approx_cos"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[tuple[int, list[float]]]],
    k: int = 5,
    sub_dim: int = 16,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays exact, every
    corpus vector is replaced by its per-subspace codewords, and the
    similarity is computed query-slice × codeword — so ranking touches
    only the (id, codes) table plus the literal codebooks.

    approx_cos = Σ_s dot(q_s, cw_s) / (‖q‖ · sqrt(Σ_s ‖cw_s‖²)) — the
    cosine of the query against the RECONSTRUCTED corpus vector. Every
    float op is order-pinned (left-fold dot products, left-fold
    subspace sums, one division), so a SQL engine replays it
    bit-identically and the DuckDB oracle can value-hash the result.

    Scale shape: queries broadcast; the corpus side is a map over the
    pruned (id, codes) columns; per-query top-k is one window. At real
    scale the per-(query, subspace) distance TABLE (n_centroids
    entries) would be precomputed once — with codebooks this small the
    fold against the literal matrix is the same arithmetic."""
    return _top_k(
        _pq_scores(corpus, queries, id_col, vec_col, books, sub_dim), "approx_cos", k
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[tuple[int, list[float]]]],
    k: int = 5,
    n_short: int = 100,
    sub_dim: int = 16,
) -> DataFrame:
    """The production two-stage ANN pipeline: ADC over the compressed
    codes produces an ``n_short`` shortlist per query (cheap — reads
    only the codes column), then the EXACT cosine re-ranks just the
    shortlisted vectors (the only rows whose full embedding is ever
    fetched). Recall is set by the shortlist depth, cost by the
    compression — the standard quality/price dial (FAISS
    ``IndexPQ`` + refine): ``pq_topk``'s scores through
    ``_shortlist_exact_rerank``."""
    return _shortlist_exact_rerank(
        _pq_scores(corpus, queries, id_col, vec_col, books, sub_dim),
        corpus, queries, id_col, vec_col, k=k, n_short=n_short,
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed production index (FAISS IndexIVFPQ shape)
# ---------------------------------------------------------------------------
class IvfpqIndex(NamedTuple):
    """The expressions of an IVF-PQ search that depend only on the
    codebooks (``ivfpq_index``). A Column is an unresolved expression,
    so one object can enter any number of plans: a query that searches
    several corpora or probe depths with one index builds these once."""

    #: the index-table projection ``(id, centroid_id, code_0..)``
    encode: list[Column]
    #: every coarse cell id of a query vector, nearest first
    cells: Column
    #: the ADC score of ``qvec`` against the ``code_*`` columns
    adc: Column


def ivfpq_index(
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int = 16,
) -> IvfpqIndex:
    """The codebook side of IVF-PQ search, built once per codebook pair.

    ``encode`` is the ``add`` step of FAISS's train/add/search split:
    coarse cell argmax plus per-subspace codeword argmax, both against
    plan-literal codebooks, in ONE map-only projection over the corpus
    scan (no join, no shuffle). At 100 TB the persisted index table is
    1+M small ints per vector (~8 bytes vs 256 for raw float32), and
    every search reads ONLY this table plus the probed queries. The
    query's cell ranking scores the same centroids, so ``cells`` and
    the encode's coarse argmax share one expression."""
    return _ivfpq_index(id_col, vec_col, cent_rows, books, sub_dim, residual=False)


def _ivfpq_index(
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    residual: bool,
) -> IvfpqIndex:
    """``ivfpq_index``, or with ``residual`` the index of residual
    codes: the encode then runs over ``residual_frame`` (which already
    carries each row's ``centroid_id``) and the ADC adds the cell's
    centroid back to each codeword."""
    scores = _scored_centroids(F.col(vec_col), cent_rows)
    coarse = F.col("centroid_id") if residual else _nearest(scores).alias("centroid_id")
    return IvfpqIndex(
        [F.col(id_col), coarse, *pq_codes(F.col(vec_col), books, sub_dim)],
        _cells(scores),
        _adc_fold(F.col("qvec"), books, sub_dim, coarse=cent_rows if residual else None),
    )


def ivfpq_search(
    index: IvfpqIndex,
    enc: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    n_short: int,
) -> DataFrame:
    """The per-search side of IVF-PQ: ``queries`` probe their
    ``n_probe`` nearest cells of ``enc`` (``corpus`` projected through
    ``index.encode``), ADC-score the probed rows, and the shortlist is
    re-ranked by exact cosine against ``corpus``."""
    pairs = _query_pairs(queries, enc, id_col, vec_col, F.slice(index.cells, 1, n_probe))
    return _shortlist_exact_rerank(
        pairs.select("query_id", "neighbor_id", index.adc.alias("approx_cos")),
        corpus, queries, id_col, vec_col, k=k, n_short=n_short,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    k: int = 5,
    n_probe: int = 2,
    n_short: int = 50,
    sub_dim: int = 16,
) -> DataFrame:
    """IVF-PQ search — the composition production ANN actually runs at
    100 TB (Jégou et al. 2011 §V; FAISS ``IndexIVFPQ`` with
    ``by_residual=false``): the IVF coarse quantizer prunes WHICH rows
    are scored (each query touches only its ``n_probe`` nearest cells,
    ~n_probe/n_cells of the corpus), PQ compresses WHAT is read to
    score them (ADC over the codes — the raw vectors never enter the
    candidate stage), and the exact re-rank touches full vectors for
    only ``n_short`` shortlisted ids per query. Both building blocks
    are this module's existing deterministic seed+quantized-Lloyd
    codebooks, so a SQL engine replays training, encoding, probing,
    ADC, and re-rank end-to-end and value-hashes the ranking.

    Plan shape: one corpus map (``ivfpq_index``'s encode), one
    equi-join on centroid_id (queries exploded to n_probe rows each —
    the shuffle moves queries to cells, never the corpus), a per-query
    window over the ADC scores, then an equi-join re-fetch of
    n_queries × n_short full vectors. Nothing is corpus × queries and
    no stage reads the embedding column for non-shortlisted rows. A
    query running several searches over one index builds
    ``ivfpq_index`` once and calls ``ivfpq_search`` per search."""
    index = ivfpq_index(id_col, vec_col, cent_rows, books, sub_dim=sub_dim)
    return ivfpq_search(
        index, corpus.select(*index.encode), corpus, queries, id_col, vec_col,
        k=k, n_probe=n_probe, n_short=n_short,
    )


def _shortlist_exact_rerank(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_short: int,
) -> DataFrame:
    """Shared tail of the two-stage pipelines: rank the approximate
    scores per query, keep the ``n_short`` shortlist, re-fetch ONLY
    those ids' full vectors by equi-join, exact-cosine re-rank to
    top-``k``. At scale the re-fetch shuffles n_queries × n_short rows,
    never a full-vector corpus scan."""
    shortlist = _top_k(scored, "approx_cos", n_short)
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    rer = shortlist.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id")
    return _top_k(_exact_scores(rer), "cos_sim", k)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): int8-per-dimension compressed ANN
# ---------------------------------------------------------------------------
def sq8_train(corpus: DataFrame, vec_col: str) -> list[tuple[float, float]]:
    """Train the SQ8 quantizer (FAISS ``IndexScalarQuantizer``/QT_8bit
    shape): per-DIMENSION [min, max] bounds — one map-combinable
    posexplode aggregate whose output is dim rows, collected as the
    driver-side artifact (dim × 2 doubles, build-once-query-many like
    the IVF/PQ codebooks). min/max are pure SELECTIONS of input floats
    (no arithmetic), so the artifact is bit-identical on any engine or
    partitioning and the oracle re-derives it exactly."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col)))
        .groupBy("pos")
        .agg(
            F.min(F.col("col").cast("double")).alias("mn"),
            F.max(F.col("col").cast("double")).alias("mx"),
        )
        .collect()  # dim rows — metadata-sized
    )
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in rows}
    return [by_pos[i] for i in range(len(by_pos))]


def sq8_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    bounds: list[tuple[float, float]],
) -> DataFrame:
    """``(id, codes array<int>)``: each component linearly quantized to
    0..255 within its dimension's trained bounds —
    ``clamp(floor(((x − mn) / (mx − mn)) · 256))``, a flat-dim (mx=mn)
    encoding to 0. Map-only over the scan; the persisted codes column
    is 1 byte/dim of information (64 B vs 256 B float32 — the 4×
    compression point between raw vectors and PQ's 64×). floor-then-
    clamp runs in integer domain after one pinned IEEE chain, so codes
    are engine-exact (house rule: never CAST an unfloored double to
    INT — DuckDB rounds where Spark truncates)."""
    mns = array_lit([float(mn) for mn, _ in bounds])
    mxs = array_lit([float(mx) for _, mx in bounds])
    idx = F.sequence(F.lit(1), F.lit(len(bounds)))
    codes = F.transform(
        idx,
        lambda i: F.when(
            F.element_at(mxs, i.cast("int")) == F.element_at(mns, i.cast("int")),
            F.lit(0),
        ).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (
                            F.element_at(F.col(vec_col), i.cast("int")).cast("double")
                            - F.element_at(mns, i.cast("int"))
                        )
                        / (
                            F.element_at(mxs, i.cast("int"))
                            - F.element_at(mns, i.cast("int"))
                        )
                        * F.lit(256.0)
                    ).cast("int"),
                ),
            )
        ),
    )
    return corpus.select(F.col(id_col), codes.alias("codes"))


def sq8_dequant(codes: Column, bounds: list[tuple[float, float]]) -> Column:
    """Reconstructed vector from SQ8 codes: ``mn + (((c + 0.5) ·
    (mx − mn)) / 256)`` per dimension — the bin-center dequantization,
    op order pinned to the oracle."""
    mns = array_lit([float(mn) for mn, _ in bounds])
    mxs = array_lit([float(mx) for _, mx in bounds])
    return F.transform(
        codes,
        lambda c, i: F.element_at(mns, (i + 1).cast("int"))
        + (
            (c.cast("double") + F.lit(0.5))
            * (
                F.element_at(mxs, (i + 1).cast("int"))
                - F.element_at(mns, (i + 1).cast("int"))
            )
        )
        / F.lit(256.0),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    bounds: list[tuple[float, float]],
    k: int = 5,
) -> DataFrame:
    """SQ8 asymmetric top-k: exact query against dequantized corpus
    codes — the ranking reads ONLY the codes column (column pruning
    drops the embedding from the scan, as with PQ/ADC). Same broadcast-
    queries × codes-scan shape as ``pq_topk``; every float op is
    order-pinned so DuckDB value-hashes the ranking."""
    enc = sq8_encode(corpus, id_col, vec_col, bounds)
    dq = sq8_dequant(F.col("codes"), bounds)
    scored = _query_pairs(queries, enc, id_col, vec_col).select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("qvec"), dq)
            / (F.sqrt(dot(F.col("qvec"), F.col("qvec"))) * F.sqrt(dot(dq, dq)))
        ).alias("approx_cos"),
    )
    return _top_k(scored, "approx_cos", k)


def residual_frame(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
) -> DataFrame:
    """``(id, centroid_id, vec_col = v − coarse_centroid(v))`` — the
    residual view PQ trains and encodes on in FAISS's default
    ``by_residual=true`` IVF-PQ (Jégou et al. 2011 §V.B: residuals
    concentrate near zero, so the same codeword budget spends its
    resolution on the part the coarse quantizer didn't explain).
    Map-only: assignment argmax + one exact-IEEE subtraction per
    component against the plan-literal centroid, no join."""
    assigned = assign_centroids(corpus, id_col, vec_col, None, cent_rows=cent_rows)
    res = F.zip_with(
        F.col(vec_col),
        codeword(cent_rows, F.col("centroid_id")),
        lambda x, y: x.cast("double") - y,
    )
    return assigned.select(
        F.col(id_col), F.col("centroid_id"), res.alias(vec_col)
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    k: int = 5,
    n_probe: int = 2,
    n_short: int = 50,
    sub_dim: int = 16,
) -> DataFrame:
    """Residual IVF-PQ search (FAISS ``IndexIVFPQ`` with its DEFAULT
    ``by_residual=true``): identical plan shape to ``ivfpq_topk`` —
    probe n_probe cells, ADC over codes, exact re-rank of the
    shortlist — but the codes quantize RESIDUALS (``books`` must come
    from ``build_pq_codebooks`` over ``residual_frame``), and ADC
    reconstructs ``centroid + codeword`` before scoring, so the
    codeword budget refines around each cell's centroid instead of
    re-describing the whole space. Every reconstruction component is
    one exact-IEEE addition and the fold order matches the oracle
    bit-for-bit. It is ``ivfpq_search`` over the residual index: the
    encode runs over ``residual_frame``."""
    index = _ivfpq_index(id_col, vec_col, cent_rows, books, sub_dim, residual=True)
    return ivfpq_search(
        index, residual_frame(corpus, id_col, vec_col, cent_rows).select(*index.encode),
        corpus, queries, id_col, vec_col, k=k, n_probe=n_probe, n_short=n_short,
    )
