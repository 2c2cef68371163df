"""Round-8 wave: training-pipeline depth — unigram-rarity quality
scoring, concat-and-chunk sequence packing audited over the
distributed prefix sum, crawl-order n-gram novelty, and SemDeDup-style
within-cluster embedding dedup. House rules as in ``queries_wave8``:
integer-exact or op-order-pinned arithmetic on both engines, every
aggregate aliased identically in Spark and DuckDB, transcendental-free
surrogates where a textbook formula would call ln()/exp().

The reference (kebe3476/ipeds_etl) ships none of these; they extend
its surface under the same oracle-twin discipline (COVERAGE.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.functions.hashing import parity_hash
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries_ext import _SHINGLES, _WS_TOKENS, _docs
from ipeds_etl_spark.sources.tables import load_table


# ===========================================================================
# Unigram-rarity quality proxy (transcendental-free perplexity stand-in)
# ===========================================================================
@_register(
    "docs_unigram_rarity",
    f"""
    WITH t AS (SELECT doc_id, source, unnest({_WS_TOKENS.format(x='text')}) AS tok
               FROM documents),
    v AS (SELECT tok, CAST(count(*) AS BIGINT) AS tn FROM t GROUP BY tok),
    s AS (SELECT CAST(sum(tn) AS BIGINT) AS n FROM v),
    p AS (SELECT t.doc_id, t.source,
                 CAST(count(*) AS BIGINT) AS n_toks,
                 CAST(sum(n // tn) AS BIGINT) AS rarity_sum
          FROM t JOIN v USING (tok) CROSS JOIN s
          GROUP BY t.doc_id, t.source)
    SELECT doc_id, source, n_toks, rarity_sum,
           (1000 * rarity_sum) // n_toks AS rarity_x1000
    FROM p ORDER BY rarity_x1000 DESC, doc_id LIMIT 15
    """,
)
def q_docs_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean inverse-unigram-frequency — the
    transcendental-free stand-in for unigram log-perplexity (the
    KenLM-style quality gate every pretraining pipeline runs):
    rarity(tok) = N div count(tok) (corpus tokens over token count,
    truncating integer division — identical on both engines), and a
    document's score is the scaled integer mean of its occurrences'
    rarities. Monotone in "how surprising is this document under the
    corpus unigram model" without ln() (libm-dependent, see the BM25
    idf note in ``queries_ext``). Readout: the 15 rarest documents —
    the review queue a quality pipeline samples for gibberish.

    Scale: one explode (map-only), one map-combinable vocabulary agg,
    a 1-row total broadcast, one token-keyed join (at 100 TB the
    vocabulary side is Zipf-bounded — broadcast it when it fits, else
    this shuffle_hash pin), one per-doc agg, TakeOrderedAndProject.
    BIGINT envelope: rarity_sum ≤ n_toks · N; past ~10^18 switch the
    sum to DECIMAL(38,0) (same escape as ``docs_token_pmi_top``)."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    v = t.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("tn"))
    s = v.agg(F.sum("tn").cast("long").alias("n"))
    p = (
        t.join(v.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(s))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum(F.expr("n div tn")).cast("long").alias("rarity_sum"),
        )
    )
    return (
        p.select(
            "doc_id",
            "source",
            "n_toks",
            "rarity_sum",
            F.expr("(1000 * rarity_sum) div n_toks").alias("rarity_x1000"),
        )
        .orderBy(F.col("rarity_x1000").desc(), "doc_id")
        .limit(15)
    )


# ===========================================================================
# Concat-and-chunk sequence packing (GPT-style loader audit)
# ===========================================================================
_PACK_BLOCK = 512


@_register(
    "docs_concat_chunk_packing",
    f"""
    WITH n AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_toks
               FROM (SELECT doc_id, source, {_WS_TOKENS.format(x='text')} AS w
                     FROM documents)
               WHERE len(w) > 0),
    p AS (SELECT doc_id, source, n_toks,
                 CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS endpos
          FROM n),
    b AS (SELECT source, n_toks,
                 (endpos - n_toks) // {_PACK_BLOCK} AS fb,
                 (endpos - 1) // {_PACK_BLOCK} AS lb
          FROM p)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN lb > fb THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers,
           CAST(max(lb - fb + 1) AS BIGINT) AS max_span_blocks,
           CAST((1000 * sum(CASE WHEN lb > fb THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS crosser_permille
    FROM b GROUP BY source
    """,
)
def q_docs_concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing audit: documents are
    concatenated in deterministic doc_id order and the token stream is
    cut into fixed 512-token context blocks — the GPT-style loader
    layout. Per source: how many documents cross a block boundary
    (their loss sees a mid-document truncation), the worst span in
    blocks, and the permille boundary rate — the packing-efficiency
    numbers a pretraining run reports when choosing block size.

    Scale: per-doc token counts are map-only; the global stream
    position is ``operators/layout.global_prefix_sum`` — range
    exchange, per-partition running sums, O(partitions) offsets — NOT
    the single-task ``SUM() OVER (ORDER BY)`` window the oracle can
    afford at gate scale. Everything after is a map-side block tag and
    one agg. This is exactly the 100 TB shape: no global sort, no
    permutation materialized."""
    from ipeds_etl_spark.operators.layout import global_prefix_sum

    d = _docs(spark, sf_dir)
    n = d.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    p = global_prefix_sum(n, ["doc_id"], "n_toks", "endpos")
    b = p.select(
        "source",
        "n_toks",
        F.expr(f"(endpos - n_toks) div {_PACK_BLOCK}").alias("fb"),
        F.expr(f"(endpos - 1) div {_PACK_BLOCK}").alias("lb"),
    )
    crosser = F.when(F.col("lb") > F.col("fb"), 1).otherwise(0)
    return b.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum(crosser).cast("long").alias("n_crossers"),
        F.max(F.col("lb") - F.col("fb") + 1).cast("long").alias("max_span_blocks"),
        F.expr(
            "CAST((1000 * sum(CASE WHEN lb > fb THEN 1 ELSE 0 END)) div count(*) "
            "AS BIGINT)"
        ).alias("crosser_permille"),
    )


# ===========================================================================
# Crawl-order n-gram novelty (how much NEW content each source adds)
# ===========================================================================
@_register(
    "docs_ngram_novelty",
    f"""
    WITH w AS (SELECT doc_id, source, {_WS_TOKENS.format(x='text')} AS w
               FROM documents),
    g AS (SELECT DISTINCT doc_id, source,
                 CAST(concat('0x', substr(sha256(x), 1, 10)) AS BIGINT) AS h
          FROM (SELECT doc_id, source, unnest({_SHINGLES.format(w='w')}) AS x
                FROM w)),
    f AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST((1000 * sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novelty_permille
    FROM g JOIN f USING (h)
    GROUP BY source
    """,
)
def q_docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-order content novelty: a document's 3-gram shingle is
    NOVEL if no earlier document (smaller doc_id = earlier in crawl
    order) contains it. Per source: distinct doc-shingle incidences,
    how many were first sightings, and the permille novelty rate — the
    "is this crawl still adding new content or re-fetching the same
    web" curve that decides when another dump is worth ingesting.

    Scale: NO corpus-sized join at all. Every shingle-hash contributes
    exactly ONE novel incidence — the one on its ``min(doc_id)`` — so
    per-source novel counts are just the per-hash ``min_by(source,
    doc_id)`` rolled up by that first-sighting source, and incidence
    counts roll up ``g`` directly (the two aggs share ``g``'s distinct
    exchange via ReusedExchange). Same-process 5-run medians at sf0.1:
    agg + shingle-keyed ``shuffle_hash`` join form 4.80 s, this form
    4.39 s — same answer, one fewer corpus shuffle (the gap widens
    with corpus size: the join moved ~2× the incidence list through
    the wire where this moves it once). The final combine is a
    broadcast join of two source-cardinality frames. Shingles travel
    as 40-bit parity hashes, never strings — 8 bytes/row on the wire.
    ``min_by`` is deterministic here because ``source`` is
    functionally dependent on ``doc_id``."""
    d = _docs(spark, sf_dir)
    # The (doc_id, source, h) distinct only ever dedupes WITHIN a doc
    # (doc_id is in the key), so it is computed map-side as an
    # array_distinct over the per-doc hashed-shingle array — the global
    # distinct's reduce-side dedup aggregate (which ran once per
    # consumer branch) disappears. The one remaining full exchange is
    # an explicit hash repartition on h: the n_novel agg consumes it
    # in place and the n_shingles agg shares the scan through
    # ReusedExchange (opt r13).
    g = (
        d.select("doc_id", "source", TX.shingles_of(TX.tokens(F.col("text")), 3).alias("gs"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(F.transform(F.col("gs"), lambda x: parity_hash(x)))
            ).alias("h"),
        )
        .repartition("h")
        # narrow (long, string, long) rows; the barrier guarantees the
        # scan + sha256 pass runs once for both aggs (measured ABAB:
        # the two branches did NOT share the repartition exchange)
        .localCheckpoint(eager=False)
    )
    n_sh = g.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_shingles"))
    n_nv = (
        g.groupBy("h")
        .agg(F.min_by("source", "doc_id").alias("first_source"))
        .groupBy(F.col("first_source").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return n_sh.join(F.broadcast(n_nv), "source", "left").select(
        "source",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.expr(
            "CAST((1000 * coalesce(n_novel, 0)) div n_shingles AS BIGINT)"
        ).alias("novelty_permille"),
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
    profile: dict | None = None,
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
    |coord| ≤ ~10³, dim 64 ⇒ den·dot² ≤ ~4·10¹⁷ < 2⁶³.

    ``profile`` (optional dict, VERDICT r10 item 2 — the funnel's
    stage-instrumentation pattern): records incremental wall seconds
    under ``quantize`` / ``kmeans_rounds`` / ``assignment`` /
    ``pair_expand``; the remainder of an end-to-end run is the
    verdict+report share. Profile mode adds one materialization
    boundary (the candidate frame) the production plan doesn't have —
    a measurement tool, not the benched path."""
    import time as _time

    from ipeds_etl_spark.operators.coreset import quantize_vec

    t0 = _time.perf_counter()
    pts = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            quantize_vec(F.col("embedding")).alias("v"),
        )
        .localCheckpoint()
    )
    if profile is not None:
        profile["quantize"] = round(_time.perf_counter() - t0, 2)
    t0 = _time.perf_counter()
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

    if profile is not None:
        profile["kmeans_rounds"] = round(_time.perf_counter() - t0, 2)
    t0 = _time.perf_counter()
    # materialize the final assignment ONCE: the pair stage consumes it
    # from four branches (two join sides, sizes, norms) and each would
    # otherwise re-evaluate the k×dim argmin expression per branch
    # (sweep_r14 caught this at sf1: 479 s before, dominated by the
    # recomputed assignment + an 8-key join doing ALL the work)
    assigned = assigned.localCheckpoint()
    if profile is not None:
        profile["assignment"] = round(_time.perf_counter() - t0, 2)
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
    t0 = _time.perf_counter()
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
    if profile is not None:
        # profile-only materialization boundary (see docstring): with
        # the fused spelling this stage IS expand+verify combined
        dup = dup.localCheckpoint()
        profile["pair_expand"] = round(_time.perf_counter() - t0, 2)
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
# Hybrid retrieval: reciprocal-rank fusion of lexical + semantic rankings
# ===========================================================================
_RRF_K = 60
_RRF_TOP = 5
_COS_QC = (
    "({d} / (sqrt({da}) * sqrt({db})))".format(
        d="list_reduce(list_transform(range(len(q.embedding)), "
          "i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)), (x, y) -> x + y)",
        da="list_reduce(list_transform(range(len(q.embedding)), "
           "i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)), (x, y) -> x + y)",
        db="list_reduce(list_transform(range(len(c.embedding)), "
           "i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)), (x, y) -> x + y)",
    )
)


@_register(
    "docs_hybrid_rrf",
    f"""
    WITH s AS (SELECT doc_id, list_distinct({_SHINGLES.format(w='w')}) AS sh
               FROM (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w
                     FROM documents)),
    qy AS (SELECT doc_id AS query_id, sh AS qsh FROM s WHERE doc_id < 5),
    lex AS (SELECT query_id, s.doc_id,
                   CAST(len(list_intersect(qsh, s.sh)) AS BIGINT) AS lex_n
            FROM qy, s WHERE s.doc_id <> query_id),
    lr AS (SELECT query_id, doc_id, lex_n,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY lex_n DESC, doc_id) AS BIGINT) AS lex_rank
           FROM lex),
    sem AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id, {_COS_QC} AS cos
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
    sr AS (SELECT query_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
           FROM sem),
    f AS (SELECT lr.query_id, lr.doc_id, lex_n, lex_rank, sem_rank,
                 CAST((1000000 // ({_RRF_K} + lex_rank))
                      + (1000000 // ({_RRF_K} + sem_rank)) AS BIGINT) AS rrf_x1e6
          FROM lr JOIN sr ON sr.query_id = lr.query_id AND sr.doc_id = lr.doc_id)
    SELECT * FROM (
      SELECT query_id, doc_id, lex_n, lex_rank, sem_rank, rrf_x1e6,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT) AS fused_rank
      FROM f)
    WHERE fused_rank <= {_RRF_TOP}
    ORDER BY query_id, fused_rank
    """,
)
def q_docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): for each query document, a LEXICAL ranking (distinct shared
    3-gram shingles, ties to the lower doc_id) and a SEMANTIC ranking
    (embedding cosine, the ``emb_topk_bruteforce`` ordering) fuse as
    rrf = Σ 1/(60 + rank) — here the exact scaled-integer form
    ``10⁶ div (60 + rank)`` summed over both lists, so the fused
    ordering is integer-exact cross-engine even though the cosine
    itself is a double (only its RANK enters the fusion — the
    float-robustness trick RRF is loved for in production RAG stacks).
    Readout: top-5 fused per query with both constituent ranks.

    Scale: gate-scale ranks are full (every candidate ranked per
    query, 5 broadcast queries × corpus). At 100 TB each list comes
    from its production shortlist — the ANN index (IVF/PQ, this repo)
    for semantic, an inverted shingle index for lexical — and RRF
    fuses shortlists of depth O(100); missing-from-one-list candidates
    then take rank = list_depth + 1. The fusion itself is a per-query
    window over O(shortlist) rows — metadata-sized however big the
    corpus. Both cross joins here carry a 5-row broadcast side."""
    from ipeds_etl_spark.operators.similarity import cosine

    d = _docs(spark, sf_dir)
    s = d.select(
        "doc_id",
        F.array_distinct(TX.shingles_of(TX.tokens(F.col("text")), 3)).alias("sh"),
    )
    qy = s.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("sh").alias("qsh")
    )
    lex = (
        F.broadcast(qy)
        .crossJoin(s)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.size(F.array_intersect("qsh", "sh")).cast("long").alias("lex_n"),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(F.col("lex_n").desc(), "doc_id")
    lr = lex.withColumn("lex_rank", F.row_number().over(wl).cast("long"))

    e = load_table(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    sem = (
        F.broadcast(qe)
        .crossJoin(e.select(F.col("vec_id").alias("doc_id"), "embedding"))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    sr = sem.withColumn("sem_rank", F.row_number().over(ws).cast("long")).select(
        "query_id", "doc_id", "sem_rank"
    )

    # Both ranked lists scale with the corpus (anchors × candidates):
    # pin shuffle_hash so AQE's compressed-bytes estimate can never
    # elect a driver-OOMing broadcast of either side (SCALE.md trap).
    f = lr.join(sr.hint("shuffle_hash"), ["query_id", "doc_id"]).select(
        "query_id",
        "doc_id",
        "lex_n",
        "lex_rank",
        "sem_rank",
        F.expr(
            f"CAST((1000000 div ({_RRF_K} + lex_rank)) "
            f"+ (1000000 div ({_RRF_K} + sem_rank)) AS BIGINT)"
        ).alias("rrf_x1e6"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf_x1e6").desc(), "doc_id")
    return (
        f.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .orderBy("query_id", "fused_rank")
    )


# ===========================================================================
# Hard-negative mining: semantically near, lexically disjoint
# ===========================================================================
_HN_TOP = 3


@_register(
    "docs_hard_negatives",
    f"""
    WITH s AS (SELECT doc_id, list_distinct({_SHINGLES.format(w='w')}) AS sh
               FROM (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w
                     FROM documents)),
    j AS (SELECT s.doc_id, sh, embedding
          FROM s JOIN embeddings e ON e.vec_id = s.doc_id),
    qy AS (SELECT doc_id AS query_id, sh AS qsh, embedding AS qv
           FROM j WHERE doc_id < 5),
    hn AS (SELECT query_id, c.doc_id AS neighbor_id,
                  ({_COS_QC.replace("q.embedding", "qv")}) AS cos_sim
           FROM qy q, j c
           WHERE c.doc_id <> q.query_id
             AND len(list_intersect(q.qsh, c.sh)) = 0)
    SELECT * FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS hn_rank
      FROM hn)
    WHERE hn_rank <= {_HN_TOP}
    ORDER BY query_id, hn_rank
    """,
)
def q_docs_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each query document, the top-3 candidates by embedding cosine
    among documents that share ZERO 3-gram shingles with it —
    semantically near but lexically disjoint, exactly the negatives
    that teach a bi-encoder something (an easy random negative is
    lexically unrelated AND semantically far; a false negative shares
    surface text). The lexical-disjointness gate runs FIRST so the
    cosine ranking never sees surface-overlapping candidates.

    Scale: the query side (here 5 rows, production O(10k) anchor
    batch) broadcasts with its shingle sets and vectors; candidates
    stream map-only through the disjointness test + cosine — one scan,
    no shuffle except the per-query top-k. At 100 TB the cosine leg
    comes from the ANN shortlist (IVF/PQ, this repo) and the shingle
    gate applies to the O(shortlist) survivors; the full-scan form
    here is the gate-scale gold standard of that funnel."""
    e = load_table(spark, sf_dir, "embeddings")
    d = _docs(spark, sf_dir)
    s = d.select(
        "doc_id",
        F.array_distinct(TX.shingles_of(TX.tokens(F.col("text")), 3)).alias("sh"),
    )
    # Shingle sets ⋈ vectors: both sides corpus-scaled → pinned.
    j = s.join(e.hint("shuffle_hash"), s.doc_id == e.vec_id).select(
        "doc_id", "sh", "embedding"
    )
    qy = j.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("sh").alias("qsh"),
        F.col("embedding").alias("qv"),
    )
    from ipeds_etl_spark.operators.similarity import cosine

    hn = (
        F.broadcast(qy)
        .crossJoin(j)
        .filter(
            (F.col("doc_id") != F.col("query_id"))
            & (F.size(F.array_intersect("qsh", "sh")) == 0)
        )
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        hn.withColumn("hn_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("hn_rank") <= _HN_TOP)
        .orderBy("query_id", "hn_rank")
    )


# ===========================================================================
# Matryoshka funnel retrieval: prefix-dim shortlist -> full-dim rerank
# ===========================================================================
_MRL_DIM = 16
_MRL_SHORTLIST = 50
_MRL_K = 10


def _cos16(a: str, b: str) -> str:
    from ipeds_etl_spark.queries_ext import _cos_sql

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
