"""Build-once analysis indexes over the benchmark corpora.

A production dedup/basket/ANN run materializes its candidate-pair
tables and trained codebooks once per corpus version and fans queries
out from them (same shape as the reference's staged raw→core
materialization, reference ``architecture.md:50-87``):

* ``lsh_doc_pairs`` — the MinHash-LSH candidate-pair table over the
  ``documents`` corpus (default geometry), the input of every dedup
  query that starts from the LSH candidates (the pair listing, its
  components and graph profile, the recall/precision gates,
  containment, k-core, LPA, the curation funnel, …).
* ``lsh_doc_components`` — the connected-component labels of that
  pair graph, ``(id, component_id)``, read by ``dedup_components``,
  ``docs_dedup_resolution``, ``docs_golden_record``,
  ``docs_dedup_survivorship`` and the predicted side of
  ``dedup_bcubed_eval``. The labels are an iterative fixpoint that
  runs jobs when it is built; stored once, the five readers' warm
  builds run none. Each reader keeps its own size window, keep
  verdict and joins (``components.cluster_verdicts``) in its plan.
* ``basket_items`` — the distinct ``(l_orderkey, l_partkey)`` basket
  table consumed by the market-basket / association-rules / co-purchase
  graph family.
* ``pq_codebook``, ``ivf_codebook``, ``residual_pq_books`` and
  ``sq8_bounds`` — the trained vector-search indexes of the embeddings
  corpus.
* ``frozen_vocab`` — the frozen tokenizer vocabulary of the documents
  corpus.

``BUILD_ONCE`` lists them all, in build order. They live in the
engine's memo store (``ipeds_etl_spark.memostore``, which states the key
and release rules). A DataFrame artifact is materialized with
``localCheckpoint`` (eager): the store must hold the RESULT, not a lazy
plan, and lineage truncation keeps the iterative consumers' plans
(components fixpoints) from growing round-over-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ipeds_etl_spark.memostore import corpus_fingerprint, memo
from ipeds_etl_spark.operators import bpe as BPE
from ipeds_etl_spark.operators import components as CC
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.sources.tables import load_table


def lsh_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized default-geometry MinHash-LSH candidate pairs over
    ``documents`` (columns ``id_a < id_b``, as emitted by
    ``lsh_candidate_pairs`` and joined on by all consumers)."""
    # plain scan, no parallelism floor: the LSH pipeline is
    # shuffle-dominated and measured SLOWER behind a round-robin
    # exchange (see queries.shared.docs_scan docstring)
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "documents"), "lsh_doc_pairs", DD.N_PERMS, DD.ROWS_PER_BAND),
        lambda: DD.lsh_candidate_pairs(
            load_table(spark, sf_dir, "documents"), "text", "doc_id"
        ).localCheckpoint(),
    )


def lsh_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized component labels ``(id, component_id)`` of the
    ``lsh_doc_pairs`` graph: ``connected_components`` (min-label
    fixpoint, component_id = min member id) run once per corpus version
    and LSH geometry. ``connected_components`` returns its last
    checkpointed round, so the store holds the labels, not a plan."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "documents"), "lsh_doc_components", DD.N_PERMS, DD.ROWS_PER_BAND),
        lambda: CC.connected_components(lsh_doc_pairs(spark, sf_dir)),
    )


def basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized distinct ``(l_orderkey, l_partkey)`` basket-items table
    (one distinct shuffle per corpus version, paid once per session)."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "lineitem"), "basket_items"),
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(),
    )


def ivf_codebook(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, n_iters: int = 2
) -> list:
    """IVF coarse codebook, memoized per corpus version and geometry
    (``memostore``). Per-query bench numbers for the IVF queries are
    search-only: the build is billed once under ``index_builds``."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "ivf", n_centroids, n_iters),
        lambda: SIM.build_ivf_centroids(
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            n_centroids=n_centroids, n_iters=n_iters,
        ),
    )


#: PQ geometry for the 64-dim benchmark embeddings: 4 subspaces × 16
#: dims, 16 codewords each → 4 small ints (codes fit 4 bits each) per
#: vector vs 256 bytes of float32 — a 64× smaller scan footprint; the
#: compression story that makes 100 TB ANN scans cheap.
PQ_M, PQ_SUB_DIM, PQ_K, PQ_ITERS = 4, 16, 16, 2


def pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    """PQ sub-codebooks, memoized per corpus version like
    ``ivf_codebook`` (same billed-once build)."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "pq", PQ_M, PQ_SUB_DIM, PQ_K, PQ_ITERS),
        lambda: SIM.build_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            n_subspaces=PQ_M, sub_dim=PQ_SUB_DIM,
            n_centroids=PQ_K, n_iters=PQ_ITERS,
        ),
    )


def residual_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Residual sub-codebooks, memoized per corpus version: trained on
    v − coarse_centroid(v), same geometry as the plain PQ books."""

    def build() -> list:
        res = SIM.residual_frame(
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            ivf_codebook(spark, sf_dir),
        )
        return SIM.build_pq_codebooks(
            res, "vec_id", "embedding",
            n_subspaces=PQ_M, sub_dim=PQ_SUB_DIM,
            n_centroids=PQ_K, n_iters=PQ_ITERS,
        )

    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "residual", PQ_M, PQ_SUB_DIM, PQ_K, PQ_ITERS),
        build,
    )


def sq8_bounds(spark: SparkSession, sf_dir: str) -> list:
    """SQ8 bounds (dim x 2 doubles), memoized per corpus version."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "sq8"),
        lambda: SIM.sq8_train(load_table(spark, sf_dir, "embeddings"), "embedding"),
    )


VOCAB_N_GRAMS = 1000
VOCAB_MAX_LEN = 6


def frozen_vocab(spark: SparkSession, sf_dir: str) -> list[str]:
    """Frozen tokenizer vocabulary, memoized per corpus version: a
    vocabulary is build-once-apply-many, like ``ivf_codebook``."""

    def build() -> list[str]:
        d = load_table(spark, sf_dir, "documents")
        return [
            r["g"]
            for r in BPE.top_ngram_vocab(
                d, "text", n_grams=VOCAB_N_GRAMS, max_len=VOCAB_MAX_LEN
            ).collect()  # frozen artifact: bounded at VOCAB_N_GRAMS rows
        ]

    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "documents"), "vocab", VOCAB_N_GRAMS, VOCAB_MAX_LEN),
        build,
    )


#: Every build-once artifact as (label, builder), in build order. The
#: IVF codebook precedes the residual books, which are trained on its
#: coarse residuals.
BUILD_ONCE = (
    ("lsh_doc_pairs", lsh_doc_pairs),
    ("lsh_doc_components", lsh_doc_components),
    ("basket_items", basket_items),
    ("pq_codebook", pq_codebook),
    ("ivf_codebook", ivf_codebook),
    ("residual_pq_books", residual_pq_books),
    ("sq8_bounds", sq8_bounds),
    ("vocab_1k", frozen_vocab),
)
