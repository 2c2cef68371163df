"""Rounds 12–13 wave. Round 13 adds the four VERDICT-r12 items:
`emb_semantic_decontaminate`'s missing test/coverage (What's-wrong 1),
`emb_ivfpq_filtered_sweep` (item 4: the selectivity × n_probe recall
surface), `docs_vocab8k_apply_fertility` (item 5: apply at production
vocab size, with the measured json-literal-vs-broadcast decision), and
`emb_incremental_decontaminate` (item 7: the crawl-over-crawl twin).

Round-12 wave: the two operators VERDICT r11 named (items 4–5) —
(1) the IVF-PQ composition (FAISS ``IndexIVFPQ`` shape,
``by_residual=false``): coarse-cell pruning × compressed-domain ADC ×
exact shortlist re-rank, composed from the existing deterministic IVF
and PQ codebooks so the DuckDB oracle replays train/encode/probe/
score/re-rank end-to-end; and (2) the vocab-scale tokenizer APPLY
path: greedy longest-match segmentation of the word table against a
frozen ≥1k-unit vocabulary derived deterministically from the corpus
(``operators/bpe.py::segment_longest_match`` — training replays
merges, but what a production tokenizer runs is apply, and at real
vocab sizes that must be one linear pass per word, not one rewrite
pass per merge).

House rules as in prior waves: every float op order-pinned and
replayed identically by DuckDB, every aggregate aliased the same in
both engines. The reference (kebe3476/ipeds_etl) ships none of these;
they extend its surface under the oracle-twin discipline
(COVERAGE.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipeds_etl_spark.memostore import corpus_fingerprint, memo
from ipeds_etl_spark.operators import bpe as BPE
from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries_ext import (
    _COS_AB,
    _DOT,
    _PQ_M,
    _PQ_SUB_DIM,
    _cos_sql,
    _ivf_codebook,
    _ivf_sql,
    _pq_codebook,
    _pq_sub_sql,
)
from ipeds_etl_spark.sources.tables import load_table

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
    for s in range(_PQ_M):
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
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUB_DIM + 1, (s + 1) * _PQ_SUB_DIM
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
        f"JOIN s{s}_codes n{s} ON n{s}.vec_id = a.vec_id" for s in range(_PQ_M)
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
        _ivf_codebook(spark, sf_dir), _pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
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
        _ivf_codebook(spark, sf_dir), _pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
    )
    hits = brute.alias("b").join(
        pq.alias("p"),
        on=[
            F.col("b.query_id") == F.col("p.query_id"),
            F.col("b.neighbor_id") == F.col("p.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("p.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


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
        _ivf_codebook(spark, sf_dir), _pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
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
        _ivf_codebook(spark, sf_dir), _pq_codebook(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
    )
    hits = brute.alias("b").join(
        pq.alias("p"),
        on=[
            F.col("b.query_id") == F.col("p.query_id"),
            F.col("b.neighbor_id") == F.col("p.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("p.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


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
    (bench-excluded with the other recall gates at production scale)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    out = None
    for pct, pred in _SWEEP_SELS:
        filtered = e.filter(F.expr(pred))
        brute = SIM.brute_force_topk(
            filtered, queries, "vec_id", "embedding", k=5
        )
        for p in _SWEEP_NPROBES:
            pq = SIM.ivfpq_topk(
                filtered, queries, "vec_id", "embedding",
                _ivf_codebook(spark, sf_dir), _pq_codebook(spark, sf_dir),
                k=5, n_probe=p, n_short=_IVFPQ_SHORT,
                sub_dim=_PQ_SUB_DIM,
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
def _sq8_bounds(spark: SparkSession, sf_dir: str) -> list:
    """SQ8 bounds (dim x 2 doubles), memoized per corpus version."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "sq8"),
        lambda: SIM.sq8_train(load_table(spark, sf_dir, "embeddings"), "embedding"),
    )


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
        _sq8_bounds(spark, sf_dir), k=5,
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
        e, queries, "vec_id", "embedding", _sq8_bounds(spark, sf_dir), k=5
    )
    hits = brute.alias("b").join(
        sq.alias("p"),
        on=[
            F.col("b.query_id") == F.col("p.query_id"),
            F.col("b.neighbor_id") == F.col("p.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("p.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


# ===========================================================================
# Residual IVF-PQ: the FAISS default (by_residual=true)
# ===========================================================================
def _res_books(spark: SparkSession, sf_dir: str) -> list:
    """Residual sub-codebooks, memoized per corpus version: trained on
    v − coarse_centroid(v), same geometry as the plain PQ books."""
    from ipeds_etl_spark.queries_ext import _PQ_ITERS, _PQ_K

    def build() -> list:
        res = SIM.residual_frame(
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            _ivf_codebook(spark, sf_dir),
        )
        return SIM.build_pq_codebooks(
            res, "vec_id", "embedding",
            n_subspaces=_PQ_M, sub_dim=_PQ_SUB_DIM,
            n_centroids=_PQ_K, n_iters=_PQ_ITERS,
        )

    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "residual", _PQ_M, _PQ_SUB_DIM, _PQ_K, _PQ_ITERS),
        build,
    )


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
    for s in range(_PQ_M):
        ctes.extend(_pq_sub_sql(s, src="res", prefix=f"r{s}"))
    for s in range(_PQ_M):
        lo = s * _PQ_SUB_DIM  # 0-based slice start; +i+1 gives 1-based
        ctes.append(
            f"""rrec{s} AS (
      SELECT a.vec_id,
             list_transform(range({_PQ_SUB_DIM}),
               i -> CAST(c.embedding[{lo} + i + 1] AS DOUBLE)
                    + CAST(n.embedding[i+1] AS DOUBLE)) AS embedding
      FROM assigned a
      JOIN cent2 c ON c.cid = a.centroid_id
      JOIN r{s}_codes n ON n.vec_id = a.vec_id)"""
        )
    parts = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUB_DIM + 1, (s + 1) * _PQ_SUB_DIM
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
        for s in range(_PQ_M)
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
        _ivf_codebook(spark, sf_dir), _res_books(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
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
        _ivf_codebook(spark, sf_dir), _res_books(spark, sf_dir),
        k=5, n_probe=_IVFPQ_NPROBE, n_short=_IVFPQ_SHORT,
        sub_dim=_PQ_SUB_DIM,
    )
    hits = brute.alias("b").join(
        pq.alias("p"),
        on=[
            F.col("b.query_id") == F.col("p.query_id"),
            F.col("b.neighbor_id") == F.col("p.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("p.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


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
    agree bitwise."""
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
    scan of the batch."""
    e = load_table(spark, sf_dir, "embeddings")
    max_sim = SIM.eval_max_cosine(
        F.col("embedding"), _decon_eval_vecs(spark, sf_dir)
    )
    return e.filter(F.col("vec_id") >= _DECON_BATCH_SPLIT).select(
        "vec_id",
        max_sim.alias("max_eval_sim"),
        (max_sim < F.lit(_DECON_TAU)).alias("keep"),
    )


# ===========================================================================
# Vocab-scale tokenizer APPLY: longest-match against a frozen vocabulary
# ===========================================================================
_VOCAB_N_GRAMS = 1000
_VOCAB_MAX_LEN = 6


def _frozen_vocab(spark: SparkSession, sf_dir: str) -> list[str]:
    """Frozen tokenizer vocabulary, memoized per corpus version: a
    vocabulary is build-once-apply-many, like ``_ivf_codebook``."""

    def build() -> list[str]:
        d = load_table(spark, sf_dir, "documents")
        return [
            r["g"]
            for r in BPE.top_ngram_vocab(
                d, "text", n_grams=_VOCAB_N_GRAMS, max_len=_VOCAB_MAX_LEN
            ).collect()  # frozen artifact: bounded at _VOCAB_N_GRAMS rows
        ]

    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "documents"), "vocab", _VOCAB_N_GRAMS, _VOCAB_MAX_LEN),
        build,
    )

_W0_SQL = r"""
    w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      t -> regexp_matches(t, '^[a-z]+$'))) AS w
            FROM documents)
      GROUP BY w)"""


def _vocab_apply_oracle(fill_23: bool = False) -> str:
    """The oracle replays vocabulary derivation and greedy apply
    RELATIONALLY — positions/lengths from ``unnest(range(...))`` +
    equi-joins, and the maximal-munch walk as a recursive CTE (each
    word follows exactly one path: bl is unique per (w, i), so the
    recursion is vocabulary-sized per round and word-length deep) —
    instead of mirroring Spark's HOF fold. Deliberate: DuckDB 1.0
    MISBINDS an outer lambda variable when a lambda NESTS inside a
    ``list_reduce`` lambda under vectorized join plans (observed:
    word 'column' segmented with pieces of a different row's word, and
    the same CTE returning different values depending on the outer
    plan). No existing oracle nests lambdas; this one's first draft
    did and tripped it. The relational spelling computes the identical
    integer function, so the value-hash still pins the Spark fold.

    ``fill_23`` unions the deterministic production-scale filler (all
    26² 2-grams + 26³ 3-grams) into the vocabulary — the ≥8k-unit
    variant's artifact, derived identically on both engines."""
    alpha = ", ".join(f"('{c}')" for c in BPE.ALPHABET)
    fill = (
        """
                UNION SELECT chr(CAST(97 + a.i AS INT)) || chr(CAST(97 + b.i AS INT))
                FROM range(26) a(i), range(26) b(i)
                UNION SELECT chr(CAST(97 + a.i AS INT)) || chr(CAST(97 + b.i AS INT))
                             || chr(CAST(97 + c.i AS INT))
                FROM range(26) a(i), range(26) b(i), range(26) c(i)"""
        if fill_23
        else ""
    )
    return rf"""
    WITH RECURSIVE {_W0_SQL},
    grams AS (
      SELECT substr(p.w, CAST(p.i AS INT), CAST(t.l AS INT)) AS g,
             CAST(SUM(p.n) AS BIGINT) AS cnt
      FROM (SELECT w, n, unnest(range(1, length(w) + 1)) AS i FROM w0) p
      CROSS JOIN range(2, {_VOCAB_MAX_LEN} + 1) t(l)
      WHERE p.i + t.l <= length(p.w) + 1
      GROUP BY g),
    topg AS (SELECT g FROM grams ORDER BY cnt DESC, g LIMIT {_VOCAB_N_GRAMS}),
    vocab_t AS (SELECT g FROM topg
                UNION SELECT a FROM (VALUES {alpha}) letters(a){fill}),
    bl AS (
      SELECT c.w, c.i, CAST(MAX(c.l) AS INT) AS bl
      FROM (SELECT p.w, CAST(p.i AS INT) AS i, CAST(t.l AS INT) AS l
            FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM w0) p
            CROSS JOIN range(1, {_VOCAB_MAX_LEN} + 1) t(l)
            WHERE p.i + t.l <= length(p.w) + 1) c
      JOIN vocab_t v ON v.g = substr(c.w, c.i, c.l)
      GROUP BY c.w, c.i),
    walk AS (
      SELECT w, CAST(1 AS INT) AS pos, CAST(0 AS BIGINT) AS ntok FROM w0
      UNION ALL
      SELECT k.w, k.pos + b.bl, k.ntok + 1
      FROM walk k JOIN bl b ON b.w = k.w AND b.i = k.pos),
    segw AS (SELECT w, ntok AS word_tokens FROM walk
             WHERE pos = length(w) + 1),
    doc_words AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        t -> regexp_matches(t, '^[a-z]+$'))) AS w
      FROM documents)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(word_tokens) AS BIGINT) AS n_subword_tokens,
           CAST(SUM(word_tokens) AS DOUBLE) / count(*) AS fertility
    FROM doc_words JOIN segw USING (w)
    GROUP BY doc_id
    """


@_register("docs_vocab_apply_fertility", _vocab_apply_oracle())
def q_docs_vocab_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY at a realistic vocabulary (VERDICT r11 item 5):
    per-document subword token counts and fertility under a FROZEN
    1026-unit vocabulary (top-1000 character n-grams by corpus
    frequency + the 26 single letters, derived deterministically so
    the oracle re-derives the identical artifact), applied by greedy
    longest-match segmentation — ONE linear pass per distinct word
    against the broadcast vocabulary literal, the shape a production
    tokenization pipeline runs, vs the 6-unrolled-merge replay
    ``docs_bpe_fertility`` times (honest for training, not for apply
    at ≥1k merges). Scale: the corpus is touched twice (word extract +
    word join); the segmentation fold and the vocab derivation both
    run on the vocabulary-sized distinct-word table; the vocabulary
    rides every task as one constant-folded ~6 KB array literal."""
    d = load_table(spark, sf_dir, "documents")
    vocab = _frozen_vocab(spark, sf_dir)
    words = BPE.word_frequencies(d, "text")
    seg = BPE.segment_longest_match(
        words, vocab, max_len=_VOCAB_MAX_LEN
    ).select("w", "word_tokens")
    doc_words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    return (
        doc_words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_subword_tokens"),
            (
                F.sum("word_tokens").cast("double") / F.count(F.lit(1))
            ).alias("fertility"),
        )
    )


# ===========================================================================
# Vocab apply at PRODUCTION vocab size (VERDICT r12 item 5)
# ===========================================================================
def _vocab_8k(spark: SparkSession, sf_dir: str) -> list[str]:
    """The ≥8k-unit composite vocabulary: the corpus-derived top grams
    (the benchmark corpus's word diversity caps those at ~235) unioned
    with a DETERMINISTIC production-scale filler — all 26² two-letter
    and 26³ three-letter grams (~18.3k units total, past the ≥8k bar
    and approaching real 32k tokenizers). Both engines derive the
    identical artifact: the filler is a pure enumeration, no corpus
    dependence."""
    fill2 = [a + b for a in BPE.ALPHABET for b in BPE.ALPHABET]
    fill3 = [a + b + c for a in BPE.ALPHABET for b in BPE.ALPHABET for c in BPE.ALPHABET]
    return sorted(set(_frozen_vocab(spark, sf_dir)) | set(fill2) | set(fill3))


@_register("docs_vocab8k_apply_fertility", _vocab_apply_oracle(fill_23=True))
def q_docs_vocab8k_apply_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer APPLY at PRODUCTION vocabulary size (VERDICT r12
    item 5): the 1026-unit saturation proof said the algorithm is
    linear; real tokenizers run 32k–100k units, and at ≥8k the plan-
    literal vocabulary is no longer a ~6 KB constant — this query runs
    the identical fertility pipeline against the ~18.3k-unit composite
    vocabulary (``_vocab_8k``) and is the registered proof the
    longest-match fold survives production vocab scale.

    Literal-vs-broadcast decision (measured at sf1, 3-run medians, one
    process — see SCALE.md "Vocab apply at production vocab size"):
    the element-wise ``F.lit(list)`` spelling collapses at this size
    (11.8 s median, 44.6 s first sample — an 18k-child array
    expression bloats analysis + per-task serialization); rewriting
    the literal as ONE constant-folded ``from_json`` string (the
    ``_matrix_lit`` trick) wins at 2.2 s, with the broadcast 1-row
    DataFrame close behind at 2.9 s. The json-literal is now what
    ``vocab_via="literal"`` means and stays the default (no extra
    join in the plan); ``"broadcast"`` is the escape hatch for
    ≫1M-unit vocabularies."""
    d = load_table(spark, sf_dir, "documents")
    vocab = _vocab_8k(spark, sf_dir)
    words = BPE.word_frequencies(d, "text")
    seg = BPE.segment_longest_match(
        words, vocab, max_len=_VOCAB_MAX_LEN
    ).select("w", "word_tokens")
    doc_words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    return (
        doc_words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_subword_tokens"),
            (
                F.sum("word_tokens").cast("double") / F.count(F.lit(1))
            ).alias("fertility"),
        )
    )
