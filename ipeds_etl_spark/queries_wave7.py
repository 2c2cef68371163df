"""Round-6 late wave: data-curation operators — DSIR-style importance
weighting, extrinsic clustering evaluation (B-cubed) of the dedup
pipeline, a data-layout pruning audit (z-order vs insertion order),
greedy k-center coreset selection, quality label propagation over the
near-dup graph, and the cross-source contamination matrix from
per-source KMV shingle sketches.

House rules as everywhere: integer/decimal-exact numerators with one
IEEE operation per output cell, bit-length (`conv`/`to_base`) in
place of log2 (the libm ban), `div` ↔ `//` scaled-BIGINT fixed
point, windows only over metadata-sized frames.

The reference (kebe3476/ipeds_etl) ships none of these; they extend
its surface under the same oracle-twin discipline (COVERAGE.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries_ext import (
    _band_key_sql,
    _docs,
    _lsh_doc_pairs,
    _minhash_sig_sql,
    _SHINGLES,
    _WS_TOKENS,
)
from ipeds_etl_spark.sources.tables import load_table


# ===========================================================================
# DSIR-style importance weights toward a seed set + Mann-Whitney AUC readout
# ===========================================================================


@_register(
    "docs_dsir_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WS_TOKENS.format(x='text')}) AS t
      FROM documents),
    dc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS n
           FROM tok GROUP BY doc_id, t),
    seed AS (SELECT doc_id, max(n) * 5 >= SUM(n) AS is_tgt
             FROM dc GROUP BY doc_id),
    call AS (SELECT t, CAST(count(*) AS BIGINT) AS ca FROM tok GROUP BY t),
    ctgt AS (SELECT t, CAST(count(*) AS BIGINT) AS ct
             FROM tok JOIN seed USING (doc_id) WHERE is_tgt GROUP BY t),
    tots AS (SELECT CAST(SUM(ca) AS BIGINT) AS total_all,
                    CAST(count(*) AS BIGINT) AS vocab FROM call),
    ttgt AS (SELECT CAST(count(*) AS BIGINT) AS total_tgt
             FROM tok JOIN seed USING (doc_id) WHERE is_tgt),
    sc AS (
      SELECT tok.doc_id,
             (CAST(length(to_base(total_all * total_all, 2)) AS BIGINT)
              - CAST(length(to_base(ca * ca, 2)) AS BIGINT))
             - (CAST(length(to_base((total_tgt + vocab) * (total_tgt + vocab), 2))
                     AS BIGINT)
                - CAST(length(to_base((coalesce(ct, 0) + 1) * (coalesce(ct, 0) + 1),
                                      2)) AS BIGINT)) AS w
      FROM tok JOIN call USING (t) LEFT JOIN ctgt USING (t)
      CROSS JOIN tots CROSS JOIN ttgt),
    dw AS (SELECT doc_id, (CAST(SUM(w) AS BIGINT) * 100) // count(*) AS score
           FROM sc GROUP BY doc_id),
    lab AS (SELECT score, is_tgt FROM dw JOIN seed USING (doc_id)),
    hist AS (SELECT score,
                    CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                    CAST(SUM(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS nn
             FROM lab GROUP BY score),
    cum AS (SELECT nt, nn,
                   coalesce(SUM(nn) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS nn_below
            FROM hist)
    SELECT (SELECT CAST(SUM(nt) AS BIGINT) FROM hist) AS n_target,
           (SELECT CAST(SUM(nn) AS BIGINT) FROM hist) AS n_rest,
           CAST(SUM(nt * (2 * nn_below + nn)) AS BIGINT) AS u2,
           CAST(SUM(nt * (2 * nn_below + nn)) AS DOUBLE)
             / (2.0 * (SELECT SUM(nt) FROM hist) * (SELECT SUM(nn) FROM hist))
             AS auc
    FROM cum
    """,
)
def q_docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") with a
    verifiable arithmetic core, plus the evaluation DSIR itself needs:
    does the weight actually rank seed-like documents first?

    The seed set is the planted repetition defect (a doc whose top
    token carries ≥ 1/5 of its tokens — the quality-filter direction:
    importance toward the LOW-quality distribution, used for negative
    selection). Per-token importance is log2 p_seed(t) − log2
    p_corpus(t) in HALF-bits — bit-length of the SQUARED count
    (`conv(x²,10,2)` ↔ `to_base(x²,2)`), the house floor-log2 at 2×
    resolution, pure integer so both engines agree exactly (BIGINT
    audit: (total_tokens)² must stay < 2⁶³ — safe through ~3·10⁹
    tokens; shard the LM beyond that). The seed LM is add-one
    smoothed over the corpus vocabulary. Per-doc score = 100·Σw / n
    (length-normalized, integer `div`).

    The readout is the exact Mann-Whitney U / AUC of the score
    against the seed labels, computed from the SCORE HISTOGRAM —
    U2 = Σ_s nt(s)·(2·(# rest below s) + nt-ties) — not a pairwise
    join, so the rank test is one small-frame window over O(distinct
    scores) rows, never O(n²). AUC ≈ 0.91 at sf0.01: the unigram LM
    separates the planted defect imperfectly (the corpus draws from a
    31-token shared vocabulary — exactly the regime where DSIR's
    hashed-feature LM is weak), and the query reports that honestly
    instead of hiding it.

    Scale: tokenized projection → two map-combinable count tables on
    the same token-key exchange (seed LM is count-bounded by the
    corpus LM), scoring join broadcasts the vocab-sized tables, per-doc
    rollup map-combines on doc_id, and the AUC window runs over the
    metadata-sized histogram."""
    d = load_table(spark, sf_dir, "documents")
    # the tokenized projection feeds SIX consumers (doc counts, seed
    # labels, both LMs, totals, scoring) — materialize it once so the
    # plan reads the corpus a single time (the temporal_split lesson)
    tok = d.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("t")
    ).localCheckpoint(eager=False)
    dc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    seed = dc.groupBy("doc_id").agg(
        (F.max("n") * 5 >= F.sum("n")).alias("is_tgt")
    )
    call = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ca"))
    tgt_tok = tok.join(seed.filter("is_tgt"), "doc_id").select("t")
    ctgt = tgt_tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    tots = call.agg(
        F.sum("ca").cast("long").alias("total_all"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    ttgt = tgt_tok.agg(F.count(F.lit(1)).cast("long").alias("total_tgt"))

    def bits_sq(col):
        return F.length(F.conv((col * col).cast("string"), 10, 2)).cast("long")

    w = (bits_sq(F.col("total_all")) - bits_sq(F.col("ca"))) - (
        bits_sq(F.col("total_tgt") + F.col("vocab"))
        - bits_sq(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
    )
    sc = (
        tok.join(call, "t")
        .join(ctgt, "t", "left")
        .crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(ttgt))
        .select("doc_id", w.alias("w"))
    )
    dw = sc.groupBy("doc_id").agg(
        F.expr("(CAST(SUM(w) AS BIGINT) * 100) div count(*)").alias("score")
    )
    lab = dw.join(seed, "doc_id")
    hist = lab.groupBy("score").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("is_tgt"), 0).otherwise(1)).cast("long").alias("nn"),
    )
    win = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "nt", "nn", F.coalesce(F.sum("nn").over(win), F.lit(0)).alias("nn_below")
    )
    totals = hist.agg(
        F.sum("nt").cast("long").alias("n_target"),
        F.sum("nn").cast("long").alias("n_rest"),
    )
    return (
        cum.agg(
            F.sum(F.col("nt") * (2 * F.col("nn_below") + F.col("nn")))
            .cast("long")
            .alias("u2")
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_target",
            "n_rest",
            "u2",
            (
                F.col("u2").cast("double")
                / (F.lit(2.0) * F.col("n_target") * F.col("n_rest"))
            ).alias("auc"),
        )
    )


# ===========================================================================
# B-cubed evaluation of the LSH dedup clustering vs the exact-Jaccard truth
# ===========================================================================
#: fixed-point scale for the per-cell precision/recall terms. Magnitude
#: audit: term = (n_cell * 1e9) // size * n_cell; n_cell <= N_docs, so at
#: sf1 (50k docs) worst case 5e4*1e9 = 5e13, * 5e4 = 2.5e18 < 2^63. The
#: 1e-9 truncation is applied identically by both engines (`div` ↔ `//`).
_B3_SCALE = 1_000_000_000


def _components_sql(edges_cte: str, name: str) -> str:
    """Min-label fixpoint as a recursive CTE over an edge CTE holding
    (s, d) both directions — the ``dedup_components`` oracle pattern."""
    return f"""
    {name}_reach(id, comp) AS (
      SELECT s, s FROM {edges_cte}
      UNION
      SELECT e.s, r.comp FROM {edges_cte} e JOIN {name}_reach r ON e.d = r.id),
    {name}_comp AS (SELECT id, min(comp) AS lbl FROM {name}_reach GROUP BY id)"""


def _bcubed_oracle() -> str:
    shingles = _SHINGLES.format(w="w")
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
    )
    return f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    bands AS ({bands}),
    lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    rtoks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    rsh AS (SELECT doc_id, list_distinct({shingles}) AS s FROM rtoks),
    gold AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.doc_id < b.doc_id
      WHERE 10 * len(list_intersect(a.s, b.s))
            >= 7 * len(list_distinct(list_concat(a.s, b.s)))),
    pedges AS (SELECT id_a AS s, id_b AS d FROM lsh
               UNION SELECT id_b, id_a FROM lsh),
    {_components_sql('pedges', 'p')},
    gedges AS (SELECT id_a AS s, id_b AS d FROM gold
               UNION SELECT id_b, id_a FROM gold),
    {_components_sql('gedges', 'g')},
    asg AS (
      SELECT d.doc_id,
             coalesce(p.lbl, d.doc_id) AS pred,
             coalesce(g.lbl, d.doc_id) AS truth
      FROM documents d
      LEFT JOIN p_comp p ON p.id = d.doc_id
      LEFT JOIN g_comp g ON g.id = d.doc_id),
    psize AS (SELECT pred, CAST(count(*) AS BIGINT) AS ps FROM asg GROUP BY pred),
    tsize AS (SELECT truth, CAST(count(*) AS BIGINT) AS ts FROM asg GROUP BY truth),
    cells AS (SELECT pred, truth, CAST(count(*) AS BIGINT) AS n
              FROM asg GROUP BY pred, truth),
    terms AS (
      SELECT ((c.n * {_B3_SCALE}) // p.ps) * c.n AS tp,
             ((c.n * {_B3_SCALE}) // t.ts) * c.n AS tr
      FROM cells c JOIN psize p USING (pred) JOIN tsize t USING (truth)),
    pr AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
             CAST(SUM(tp) AS DOUBLE)
               / ((SELECT count(*) FROM documents) * CAST({_B3_SCALE} AS DOUBLE))
               AS bcubed_precision,
             CAST(SUM(tr) AS DOUBLE)
               / ((SELECT count(*) FROM documents) * CAST({_B3_SCALE} AS DOUBLE))
               AS bcubed_recall
      FROM terms)
    SELECT n_docs, bcubed_precision, bcubed_recall,
           (2.0 * bcubed_precision * bcubed_recall)
             / (bcubed_precision + bcubed_recall) AS bcubed_f1
    FROM pr
    """


@_register("dedup_bcubed_eval", _bcubed_oracle())
def q_dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extrinsic clustering evaluation of the WHOLE dedup pipeline:
    B-cubed precision/recall/F1 (Bagga & Baldwin 1998 — the standard
    coreference/dedup clustering metric) of the LSH→connected-
    components clustering against the exact-Jaccard ≥ 0.7 truth
    clustering (the same O(n²) gold standard ``dedup_minhash_recall``
    calibrates against, promoted from pair level to cluster level).
    Singleton docs are their own cluster on both sides. B-cubed
    reduces to the (pred, truth) contingency table: BP = Σ n²/|pred| /
    N and BR = Σ n²/|truth| / N — computed in 1e-9 fixed point
    (`div` ↔ `//`, identical truncation both engines), one IEEE
    division per output cell, F1 from the two columns in a fixed
    expression shape.

    Scale: the scalable side (LSH bands → label-propagation
    components, then three map-combinable aggs over the assignment
    table) is exactly the production dedup path; the quadratic gold
    standard exists ONLY at oracle scale, so the query is
    bench-EXCLUDED like the other recall gates. Oracle replays both
    fixpoints with recursive CTEs (the ``dedup_components`` pattern,
    twice)."""
    from ipeds_etl_spark.operators.components import dedup_clusters

    d = _docs(spark, sf_dir)
    lsh = _lsh_doc_pairs(spark, sf_dir)

    sets = d.select("doc_id", TX.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.array_distinct(TX.shingles_of(F.col("toks"), 3)).alias("sh")
    )
    L, R = sets.alias("l"), sets.alias("r")
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    # |A∪B| = |A|+|B|−|A∩B| on distinct arrays — same exact integers,
    # no per-pair union array materialized (opt r13)
    union = F.size(F.col("l.sh")) + F.size(F.col("r.sh")) - inter
    gold = (
        L.join(R, F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(10 * inter >= 7 * union)
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
    )

    pred = dedup_clusters(lsh).select(
        F.col("id").alias("doc_id"), F.col("component_id").alias("pred")
    )
    truth = dedup_clusters(gold).select(
        F.col("id").alias("doc_id"), F.col("component_id").alias("truth")
    )
    asg = (
        d.select("doc_id")
        .join(pred, "doc_id", "left")
        .join(truth, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pred", "doc_id").alias("pred"),
            F.coalesce("truth", "doc_id").alias("truth"),
        )
        .localCheckpoint()
    )
    psize = asg.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("ps"))
    tsize = asg.groupBy("truth").agg(F.count(F.lit(1)).cast("long").alias("ts"))
    cells = asg.groupBy("pred", "truth").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    terms = (
        cells.join(psize, "pred")
        .join(tsize, "truth")
        .select(
            (
                F.expr(f"(n * {_B3_SCALE}) div ps") * F.col("n")
            ).alias("tp"),
            (
                F.expr(f"(n * {_B3_SCALE}) div ts") * F.col("n")
            ).alias("tr"),
        )
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    pr = (
        terms.agg(F.sum("tp").alias("sp"), F.sum("tr").alias("sr"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_docs",
            (
                F.col("sp").cast("double")
                / (F.col("n_docs") * F.lit(float(_B3_SCALE)))
            ).alias("bcubed_precision"),
            (
                F.col("sr").cast("double")
                / (F.col("n_docs") * F.lit(float(_B3_SCALE)))
            ).alias("bcubed_recall"),
        )
    )
    return pr.select(
        "n_docs",
        "bcubed_precision",
        "bcubed_recall",
        (
            (F.lit(2.0) * F.col("bcubed_precision") * F.col("bcubed_recall"))
            / (F.col("bcubed_precision") + F.col("bcubed_recall"))
        ).alias("bcubed_f1"),
    )


# ===========================================================================
# Data-layout audit: z-order vs insertion-order min/max pruning
# ===========================================================================
#: 4 bits per dimension -> 8-bit z-value -> 64 files of 4 z-cells each.
_Z_FILES = 64


def _z_interleave_sql(pk: str, sk: str) -> str:
    terms = []
    for j in range(4):
        terms.append(f"(({pk} >> {j}) & 1) * {1 << (2 * j + 1)}")
        terms.append(f"(({sk} >> {j}) & 1) * {1 << (2 * j)}")
    return " + ".join(terms)


@_register(
    "lineitem_zorder_stats",
    f"""
    WITH q AS (
      SELECT CAST(l_partkey % 16 AS BIGINT) AS pk,
             CAST(l_suppkey % 16 AS BIGINT) AS sk,
             CAST(l_orderkey % {_Z_FILES} AS BIGINT) AS fn
      FROM lineitem),
    z AS (SELECT pk, sk, fn,
                 ({_z_interleave_sql('pk', 'sk')}) // 4 AS fz
          FROM q),
    zstat AS (SELECT fz, min(pk) AS pmin, max(pk) AS pmax,
                     min(sk) AS smin, max(sk) AS smax
              FROM z GROUP BY fz),
    nstat AS (SELECT fn, min(pk) AS pmin, max(pk) AS pmax,
                     min(sk) AS smin, max(sk) AS smax
              FROM z GROUP BY fn),
    hits AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM zstat) AS n_files,
        (SELECT CAST(SUM(CASE WHEN pmin <= 7 AND pmax >= 4
                               AND smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM zstat) AS z_box_files,
        (SELECT CAST(SUM(CASE WHEN pmin <= 7 AND pmax >= 4
                               AND smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM nstat) AS nat_box_files,
        (SELECT CAST(SUM(CASE WHEN smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM zstat) AS z_dim_files,
        (SELECT CAST(SUM(CASE WHEN smin <= 11 AND smax >= 8
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM nstat) AS nat_dim_files,
        (SELECT CAST(SUM(CASE WHEN pk BETWEEN 4 AND 7
                               AND sk BETWEEN 8 AND 11
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM z) AS box_rows)
    SELECT * FROM hits
    """,
)
def q_lineitem_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: how many files does min/max (zone-map)
    pruning actually skip under a z-order clustering vs the natural
    insertion order? Rows are bucketed on two dims (partkey%16,
    suppkey%16), the 4+4 bits are interleaved into an 8-bit z-value,
    and files are 4-cell z-ranges (64 files) — vs 64 round-robin
    insertion-order files (`orderkey % 64`). For each layout the
    per-file (min,max) of both dims is the zone map, and a file is
    SCANNED when its ranges overlap the predicate box — exactly the
    parquet row-group pruning rule. Readout: a 4×4 box query and a
    one-dim band query touch ~4 and ~16 of 64 z-files but ALL 64
    insertion-order files (every round-robin file spans the full
    bucket range). Pure integer arithmetic end to end.

    Scale: this is THE mechanism that makes 100 TB scans affordable —
    writing fact tables z-ordered on the two most-filtered columns
    turns zone maps into a 4–16× scan reduction that insertion order
    never delivers. The audit itself is two map-combinable group-bys
    (64 groups each) + one filter count; the six scalar outputs are
    1-row broadcast-joined frames. The WRITE side of the same story is
    ``operators/layout.py::zorder_write`` (range-partition on the
    Morton code, parquet-footer-verified by
    ``tests/test_layout.py::test_zorder_localizes_both_dimensions``);
    this query is its oracle-checked analytical twin — same bit
    interleave, measured at the zone-map level."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 16).cast("long").alias("pk"),
        (F.col("l_suppkey") % 16).cast("long").alias("sk"),
        (F.col("l_orderkey") % _Z_FILES).cast("long").alias("fn"),
    )
    z = li.withColumn(
        "fz", F.expr(f"({_z_interleave_sql('pk', 'sk')}) div 4")
    ).localCheckpoint()

    def zone(df: DataFrame, fcol: str) -> DataFrame:
        return df.groupBy(fcol).agg(
            F.min("pk").alias("pmin"),
            F.max("pk").alias("pmax"),
            F.min("sk").alias("smin"),
            F.max("sk").alias("smax"),
        )

    zstat, nstat = zone(z, "fz"), zone(z, "fn")
    box = (
        (F.col("pmin") <= 7)
        & (F.col("pmax") >= 4)
        & (F.col("smin") <= 11)
        & (F.col("smax") >= 8)
    )
    dim = (F.col("smin") <= 11) & (F.col("smax") >= 8)

    def cnt(df: DataFrame, cond, name: str) -> DataFrame:
        return df.agg(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        )

    n_files = zstat.agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    rows = z.agg(
        F.sum(
            F.when(F.col("pk").between(4, 7) & F.col("sk").between(8, 11), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("box_rows")
    )
    out = (
        n_files.crossJoin(cnt(zstat, box, "z_box_files"))
        .crossJoin(cnt(nstat, box, "nat_box_files"))
        .crossJoin(cnt(zstat, dim, "z_dim_files"))
        .crossJoin(cnt(nstat, dim, "nat_dim_files"))
        .crossJoin(rows)
    )
    return out


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
    collect beyond one argmax row per round."""
    from ipeds_etl_spark.operators.coreset import kcenter_coreset_df, quantize_vec

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_vec(F.col("embedding")).alias("qvec")
    )
    return kcenter_coreset_df(spark, emb, "qvec", "vec_id", k=_KCENTER_K)


# ===========================================================================
# Semi-supervised quality smoothing: label propagation over the dedup graph
# ===========================================================================
_LP_ROUNDS = 2


def _lp_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
    )
    ctes = [
        f"WITH {_minhash_sig_sql()}",
        f"bands AS ({bands})",
        """lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""",
        "edges AS (SELECT id_a AS s, id_b AS d FROM lsh "
        "UNION ALL SELECT id_b, id_a FROM lsh)",
        f"""tok AS (SELECT doc_id, source,
               unnest({_WS_TOKENS.format(x='text')}) AS t FROM documents)""",
        """s0 AS (SELECT doc_id, any_value(source) AS source,
               (1000 * CAST(count(DISTINCT t) AS BIGINT))
                 // CAST(count(*) AS BIGINT) AS sc
        FROM tok GROUP BY doc_id)""",
    ]
    prev = "s0"
    for r in range(1, _LP_ROUNDS + 1):
        ctes.append(
            f"""s{r} AS (
      SELECT p.doc_id, p.source,
             CASE WHEN nb.deg IS NULL THEN p.sc
                  ELSE (p.sc + nb.tot) // (1 + nb.deg) END AS sc
      FROM {prev} p LEFT JOIN (
        SELECT e.s AS doc_id, CAST(SUM(q.sc) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS deg
        FROM edges e JOIN {prev} q ON q.doc_id = e.d GROUP BY e.s) nb
      ON nb.doc_id = p.doc_id)"""
        )
        prev = f"s{r}"
    return (
        ",\n    ".join(ctes)
        + f"""
    SELECT s0.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(s0.sc) AS DOUBLE) / count(*) AS avg_initial,
           CAST(SUM(fin.sc) AS DOUBLE) / count(*) AS avg_smoothed,
           CAST(SUM(CASE WHEN fin.sc <> s0.sc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed
    FROM s0 JOIN {prev} fin USING (doc_id)
    GROUP BY s0.source ORDER BY s0.source
    """
    )


@_register("docs_quality_label_propagation", _lp_oracle())
def q_docs_quality_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised quality smoothing: propagate a per-document
    quality score over the near-dup graph (LSH candidate pairs) for 2
    rounds of neighborhood averaging — the label-propagation move used
    to spread sparse quality/toxicity labels through duplicate
    clusters before filtering (a near-copy of junk is junk even if its
    own score looks fine). Score = type-token ratio in permille
    (1000·distinct/total, truncating div — repetitive docs score low);
    each round replaces s(v) with (s(v) + Σ_nbr s) div (1 + deg) —
    integer fixed point, so both engines replay the diffusion exactly.
    Readout per source: initial vs smoothed mean and how many docs
    moved (docs off the graph keep their score).

    Scale: edges come from the memoized banded-LSH table (never
    O(n²)); each round is one neighbor-keyed agg (map-combinable sum +
    count riding the edge exchange) and one doc-keyed left join —
    rounds are fixed (2), so total cost is 2 passes over O(edges).
    The score bootstrap is one token agg."""
    from ipeds_etl_spark.operators import sketches as _  # noqa: F401

    d = _docs(spark, sf_dir)
    lsh = _lsh_doc_pairs(spark, sf_dir)
    edges = lsh.selectExpr("id_a AS s", "id_b AS d").unionAll(
        lsh.selectExpr("id_b AS s", "id_a AS d")
    )
    tok = d.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("t")
    )
    s0 = tok.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.expr(
            "(1000 * CAST(count(DISTINCT t) AS BIGINT))"
            " div CAST(count(*) AS BIGINT)"
        ).alias("sc"),
    ).localCheckpoint(eager=False)

    cur = s0
    for _r in range(_LP_ROUNDS):
        nb = (
            edges.join(
                cur.select(F.col("doc_id").alias("d"), F.col("sc").alias("nsc")),
                "d",
            )
            .groupBy("s")
            .agg(
                F.sum("nsc").cast("long").alias("tot"),
                F.count(F.lit(1)).cast("long").alias("deg"),
            )
            .withColumnRenamed("s", "doc_id")
        )
        cur = (
            cur.join(nb, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                F.when(F.col("deg").isNull(), F.col("sc"))
                .otherwise(F.expr("(sc + tot) div (1 + deg)"))
                .alias("sc"),
            )
            .localCheckpoint(eager=False)
        )

    joined = s0.select("doc_id", "source", F.col("sc").alias("sc0")).join(
        cur.select("doc_id", F.col("sc").alias("scf")), "doc_id"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.sum("sc0").cast("double") / F.count(F.lit(1))).alias("avg_initial"),
            (F.sum("scf").cast("double") / F.count(F.lit(1))).alias("avg_smoothed"),
            F.sum(F.when(F.col("scf") != F.col("sc0"), 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Cross-source contamination matrix from per-source KMV shingle sketches
# ===========================================================================
_OVL_K = 64


def _overlap_oracle() -> str:
    from ipeds_etl_spark.operators import sketches as SK

    sk = SK.kmv_sketch_sql("g", _OVL_K)
    merged = SK.kmv_merge_sql("a.sk", "b.sk", _OVL_K)
    union_est = SK.kmv_estimate_from_sql("m", _OVL_K)
    shingles = _SHINGLES.format(w="w")
    return f"""
    WITH toks AS (SELECT doc_id, source, {_WS_TOKENS.format(x='text')} AS w
                  FROM documents),
    sh AS (SELECT source, unnest({shingles}) AS g FROM toks),
    s AS (SELECT source, {sk} AS sk FROM sh GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.sk AS ska, b.sk AS skb, {merged} AS m
      FROM s a JOIN s b ON a.source < b.source),
    est AS (
      SELECT src_a, src_b, {union_est} AS union_est,
             CAST(len(list_intersect(list_intersect(m, ska), skb)) AS DOUBLE)
               / len(m) AS jaccard_est
      FROM pairs),
    dg AS (SELECT DISTINCT source, g FROM sh),
    ex AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS exact_common
      FROM dg a JOIN dg b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2)
    SELECT est.src_a, est.src_b, est.union_est, est.jaccard_est,
           est.jaccard_est * est.union_est AS intersection_est,
           coalesce(ex.exact_common, 0) AS exact_common
    FROM est LEFT JOIN ex ON est.src_a = ex.src_a AND est.src_b = ex.src_b
    ORDER BY est.src_a, est.src_b
    """


@_register("docs_source_overlap_matrix", _overlap_oracle())
def q_docs_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination matrix: for every pair of sources,
    estimate shingle-level overlap (union size, Jaccard, intersection)
    from ONE bounded KMV sketch per source — the audit you run before
    mixing corpora, where shared boilerplate/near-copies across
    sources would double-count training mass and leak eval data. The
    exact distinct-shingle common count rides alongside as the
    oracle-scale calibration column (the ``events_kmv_intersection``
    pattern applied to content shingles). Deterministic parity
    hashing ⇒ the estimates replay bit-for-bit in DuckDB.

    Scale: the sketch build is one map-combinable agg with state ≤ k
    hashes per source regardless of corpus size; the pair algebra is
    O(sources²) over k-length arrays — a contamination matrix for
    1000 sources costs half a million tiny rows, while the raw
    shingle stream is touched exactly once. The exact side is a
    shingle-keyed self-join — the gate-scale audit, not the
    production path."""
    from ipeds_etl_spark.operators import sketches as SK

    d = _docs(spark, sf_dir)
    sh = d.select(
        "source", F.explode(TX.word_shingles(F.col("text"), 3)).alias("g")
    )
    s = sh.groupBy("source").agg(SK.kmv_sketch(F.col("g"), _OVL_K).alias("sk"))
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.sk").alias("ska"),
        F.col("b.sk").alias("skb"),
        SK.kmv_merge(F.col("a.sk"), F.col("b.sk"), _OVL_K).alias("m"),
    )
    est = pairs.select(
        "src_a",
        "src_b",
        SK.kmv_estimate_from(F.col("m"), _OVL_K).alias("union_est"),
        (
            F.size(F.array_intersect(F.array_intersect("m", "ska"), "skb"))
            .cast("double")
            / F.size("m")
        ).alias("jaccard_est"),
    )
    dg = sh.distinct()
    da, db = dg.alias("da"), dg.alias("db")
    ex = (
        da.join(
            db,
            (F.col("da.g") == F.col("db.g"))
            & (F.col("da.source") < F.col("db.source")),
        )
        .groupBy(
            F.col("da.source").alias("src_a"), F.col("db.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_common"))
    )
    return (
        est.join(ex, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "union_est",
            "jaccard_est",
            (F.col("jaccard_est") * F.col("union_est")).alias("intersection_est"),
            F.coalesce("exact_common", F.lit(0)).cast("long").alias("exact_common"),
        )
        .orderBy("src_a", "src_b")
    )


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
    `rounds` scans of the cached integer projection."""
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
# End-to-end curation funnel: per-stage survivor accounting
# ===========================================================================


def _funnel_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
    )
    h10 = "CAST(concat('0x', substr(sha256(g), 1, 10)) AS BIGINT)"
    return f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    bands AS ({bands}),
    lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    tok AS (SELECT doc_id, unnest({_WS_TOKENS.format(x='text')}) AS t
            FROM documents),
    dstat AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS ntok,
             CAST(max(n) AS BIGINT) AS maxtok
      FROM (SELECT doc_id, t, count(*) AS n FROM tok GROUP BY doc_id, t)
      GROUP BY doc_id),
    s1 AS (SELECT doc_id FROM dstat WHERE ntok >= 10 AND 5 * maxtok < ntok),
    s2 AS (SELECT min(d.doc_id) AS doc_id
           FROM documents d JOIN s1 USING (doc_id) GROUP BY d.text),
    e3 AS (SELECT l.id_a AS s, l.id_b AS d FROM lsh l
           JOIN s2 a ON a.doc_id = l.id_a JOIN s2 b ON b.doc_id = l.id_b
           UNION
           SELECT l.id_b, l.id_a FROM lsh l
           JOIN s2 a ON a.doc_id = l.id_a JOIN s2 b ON b.doc_id = l.id_b),
    reach(id, comp) AS (
      SELECT s, s FROM e3
      UNION
      SELECT e.s, r.comp FROM e3 e JOIN reach r ON e.d = r.id),
    comp AS (SELECT id, min(comp) AS lbl FROM reach GROUP BY id),
    s3 AS (SELECT s2.doc_id FROM s2 LEFT JOIN comp ON comp.id = s2.doc_id
           WHERE comp.lbl IS NULL OR comp.lbl = s2.doc_id),
    dsh AS (SELECT DISTINCT doc_id, {h10} AS h
           FROM (SELECT doc_id,
                        unnest({_SHINGLES.format(w='w')}) AS g
                 FROM (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w
                       FROM documents))),
    ev AS (SELECT DISTINCT h FROM dsh WHERE doc_id < 20),
    ov AS (SELECT dsh.doc_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(count(ev.h) AS BIGINT) AS hit
           FROM dsh JOIN s3 ON s3.doc_id = dsh.doc_id
           LEFT JOIN ev ON ev.h = dsh.h
           GROUP BY dsh.doc_id),
    s4 AS (SELECT doc_id FROM ov WHERE 5 * hit < 4 * n),
    c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
    c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2),
    c3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s3),
    c4 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s4)
    SELECT stage, n_in, n_kept, n_in - n_kept AS n_dropped
    FROM (
      SELECT '1_quality' AS stage, c0.n AS n_in, c1.n AS n_kept FROM c0, c1
      UNION ALL
      SELECT '2_exact_dedup', c1.n, c2.n FROM c1, c2
      UNION ALL
      SELECT '3_near_dedup', c2.n, c3.n FROM c2, c3
      UNION ALL
      SELECT '4_decontaminate', c3.n, c4.n FROM c3, c4)
    ORDER BY stage
    """


#: Components algorithm inside the funnel's near-dup stage — the sf10
#: race knob (VERDICT r9 item 2: the fixpoint is a measured 94% of the
#: funnel's sf10 cost). Both algorithms return the identical min-id
#: labeling (equivalence pinned in test_components_sampling). RACE
#: RESULT (r10, three solo sessions, 7 ABAB samples per arm on the
#: 127.6M-pair sf10 graph — SCALE.md "Components race" + its
#: REPLICATION entry): pooled medians label 151.7 s vs star 161.9 s,
#: within-arm same-code spread 3–5.6×, BOTH converge in 2 rounds in
#: all 14 runs (dedup clusters have diameter ≈ 2, so star's O(log² n)
#: advantage never engages). The arms are equivalent on this topology
#: and single-session deltas are box state; label stays the default
#: (2 shuffles/round vs star's 4), star remains the documented escape
#: hatch for diameter-heavy graphs.
FUNNEL_COMPONENTS_ALGORITHM = "label"


@_register("docs_curation_funnel", _funnel_oracle())
def q_docs_curation_funnel(
    spark: SparkSession,
    sf_dir: str,
    profile: dict | None = None,
    components_algorithm: str | None = None,
) -> DataFrame:
    """The whole curation pipeline as ONE auditable funnel: quality
    gate (≥10 tokens, top token < 1/5 — the repetition rule) → exact
    dedup (min-id per identical text) → near-dup resolution (LSH
    candidate pairs restricted to survivors → connected components →
    canonical-survivor keep) → benchmark decontamination (drop when
    distinct-shingle overlap with the planted eval set, doc_id < 20,
    reaches 0.8 — integer cross-multiplied 5·hit ≥ 4·n). One row per
    stage with in/kept/dropped counts — the accounting table every
    training-data run publishes, here value-hash-checked end to end
    (the oracle replays the component fixpoint as a recursive CTE).

    Scale: each stage is the production-shaped operator it audits —
    map-combinable token stats, one text-keyed agg, the pair-bounded
    LSH components, and the broadcast eval-set probe (the eval set is
    the ONE genuinely small side here). Counts are 1-row frames; the
    funnel adds nothing beyond its constituent passes. Every join
    where BOTH sides scale with the corpus (pairs ⋈ survivors,
    survivors ⋈ components, shingles ⋈ survivors) is pinned
    ``shuffle_hash``: the sf10 quad_r8 smoke caught AQE sizing the
    survivor side from 30x-compressed shuffle bytes and electing a
    driver-OOMing broadcast — the same defect class as
    the banded-LSH vector re-attach in similarity and the LPA label
    join.

    ``profile`` (optional dict, VERDICT r8 item 1): when provided,
    each stage is EAGERLY materialized (localCheckpoint) and its
    incremental wall seconds recorded under stage-named keys — the
    sf10 smoke's per-stage share readout. Adds materialization
    boundaries the production plan doesn't have (stages that Catalyst
    would pipeline are forced apart), so profile mode is a
    measurement tool, not the benched path; ``profile=None`` leaves
    the plan untouched."""
    import time as _time

    from ipeds_etl_spark.functions.hashing import parity_hash
    from ipeds_etl_spark.operators.components import dedup_clusters

    def mark(df: DataFrame, stage: str) -> DataFrame:
        if profile is None:
            return df
        t0 = _time.perf_counter()
        out = df.localCheckpoint(eager=True)
        profile[stage] = round(_time.perf_counter() - t0, 2)
        return out

    d = _docs(spark, sf_dir)
    t0 = _time.perf_counter()
    lsh = _lsh_doc_pairs(spark, sf_dir)
    if profile is not None:
        # memo build cost if cold, ~0 if another consumer already built
        # it (billed like bench bills lsh_doc_pairs)
        profile["lsh_memo"] = round(_time.perf_counter() - t0, 2)

    tok = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("t"))
    dstat = (
        tok.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("ntok"),
            F.max("n").cast("long").alias("maxtok"),
        )
    )
    s1 = mark(
        dstat.filter(
            (F.col("ntok") >= 10) & (5 * F.col("maxtok") < F.col("ntok"))
        )
        .select("doc_id")
        # two consumers (the s2 join and the c1 count) each re-ran the
        # token explode + double agg; the frame is ids-only, so the
        # barrier is cheap where the recompute is not (opt r13)
        .localCheckpoint(eager=False),
        "1_token_quality",
    )
    s2 = mark(
        d.join(s1, "doc_id")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False),
        "2_exact_dedup",
    )
    surv_pairs = (
        lsh.join(s2.withColumnRenamed("doc_id", "id_a").hint("shuffle_hash"), "id_a")
        .join(s2.withColumnRenamed("doc_id", "id_b").hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b")
    )
    comp = dedup_clusters(
        surv_pairs,
        algorithm=components_algorithm or FUNNEL_COMPONENTS_ALGORITHM,
    ).select(
        F.col("id").alias("doc_id"), F.col("component_id").alias("lbl")
    )
    s3 = mark(
        s2.join(comp.hint("shuffle_hash"), "doc_id", "left")
        .filter(F.col("lbl").isNull() | (F.col("lbl") == F.col("doc_id")))
        .select("doc_id")
        .localCheckpoint(eager=False),
        "3_components",
    )
    # the (doc_id, h) distinct only dedupes within a document, so it is
    # an array_distinct over the per-doc hashed-shingle array — no
    # global dedup exchange (the docs_ngram_novelty rewrite, opt r13)
    sh = d.select("doc_id", TX.tokens(F.col("text")).alias("w")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    TX.shingles_of(F.col("w"), 3), lambda g: parity_hash(g)
                )
            )
        ).alias("h"),
    )
    ev = sh.filter(F.col("doc_id") < 20).select(F.col("h").alias("ev_h")).distinct()
    ov = (
        sh.join(s3.hint("shuffle_hash"), "doc_id")
        .join(F.broadcast(ev), sh["h"] == F.col("ev_h"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("ev_h").cast("long").alias("hit"),
        )
    )
    s4 = mark(
        ov.filter(5 * F.col("hit") < 4 * F.col("n")).select("doc_id"),
        "4_decontaminate",
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    c0, c1, c2, c3, c4 = (
        cnt(d, "c0"),
        cnt(s1, "c1"),
        cnt(s2, "c2"),
        cnt(s3, "c3"),
        cnt(s4, "c4"),
    )
    wide = (
        c0.crossJoin(c1).crossJoin(c2).crossJoin(c3).crossJoin(c4)
    )
    stages = F.array(
        F.struct(F.lit("1_quality").alias("stage"), F.col("c0").alias("n_in"), F.col("c1").alias("n_kept")),
        F.struct(F.lit("2_exact_dedup").alias("stage"), F.col("c1").alias("n_in"), F.col("c2").alias("n_kept")),
        F.struct(F.lit("3_near_dedup").alias("stage"), F.col("c2").alias("n_in"), F.col("c3").alias("n_kept")),
        F.struct(F.lit("4_decontaminate").alias("stage"), F.col("c3").alias("n_in"), F.col("c4").alias("n_kept")),
    )
    return (
        wide.select(F.explode(stages).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.n_in").alias("n_in"),
            F.col("s.n_kept").alias("n_kept"),
            (F.col("s.n_in") - F.col("s.n_kept")).alias("n_dropped"),
        )
        .orderBy("stage")
    )
