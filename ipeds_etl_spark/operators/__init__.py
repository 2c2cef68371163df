"""Operator layer: merge, dedup, similarity, skew, bucketing, multimodal,
sketches, quality, sampling, txn."""

from ipeds_etl_spark.operators.bucketing import write_bucketed
from ipeds_etl_spark.operators.layout import global_row_number, z_value, zorder_write
from ipeds_etl_spark.operators.components import (
    connected_components,
    connected_components_star,
    dedup_clusters,
    graph_stats,
)
from ipeds_etl_spark.operators.bloom import (
    bloom_probe,
    bloom_semi_join,
    build_bloom,
)
from ipeds_etl_spark.operators.cdc import snapshot_diff
from ipeds_etl_spark.operators.interval import interval_bucket_join
from ipeds_etl_spark.operators.dedup import (
    exact_dedup,
    incremental_dedup_verdict,
    jaccard_prefix_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from ipeds_etl_spark.operators.merge import (
    overwrite_partitions_staged,
    recover_swaps,
    upsert_on_hash,
    upsert_on_pk,
)
from ipeds_etl_spark.operators.quantile import exact_quantiles
from ipeds_etl_spark.operators.txn import (
    commit_overwrite_partitions,
    compact,
    read_table,
    upsert_into_txn_table,
    vacuum,
)
from ipeds_etl_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    resize_images,
    sample_frames,
)
from ipeds_etl_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_centroids,
    build_pq_codebooks,
    cosine,
    embedding_near_dups,
    ivf_topk,
    pq_encode,
    pq_topk,
    pq_topk_rerank,
)
from ipeds_etl_spark.operators.sampling import (
    hash_sample,
    quota_cap,
    split_column,
    stratified_hash_sample,
)
from ipeds_etl_spark.operators.sketches import (
    kmv_estimate,
    kmv_estimate_from,
    kmv_merge,
    kmv_sketch,
)
from ipeds_etl_spark.operators.quality import dq_report
from ipeds_etl_spark.operators.skew import (
    agg_with_skew_guard,
    detect_skew,
    join_with_skew_guard,
    salted_agg,
    salted_join,
)

__all__ = [
    "attach_payload",
    "bloom_probe",
    "bloom_semi_join",
    "build_bloom",
    "brute_force_topk",
    "commit_overwrite_partitions",
    "connected_components",
    "connected_components_star",
    "graph_stats",
    "cosine",
    "dedup_clusters",
    "hash_sample",
    "interval_bucket_join",
    "split_column",
    "stratified_hash_sample",
    "embedding_near_dups",
    "exact_dedup",
    "extract_features",
    "ivf_topk",
    "jaccard_prefix_pairs",
    "build_ivf_centroids",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "overwrite_partitions_staged",
    "quota_cap",
    "read_table",
    "recover_swaps",
    "resize_images",
    "agg_with_skew_guard",
    "detect_skew",
    "dq_report",
    "join_with_skew_guard",
    "kmv_estimate",
    "kmv_estimate_from",
    "kmv_merge",
    "kmv_sketch",
    "salted_agg",
    "salted_join",
    "sample_frames",
    "simhash",
    "simhash_near_pairs",
    "snapshot_diff",
    "upsert_into_txn_table",
    "upsert_on_hash",
    "upsert_on_pk",
    "vacuum",
    "write_bucketed",
    "z_value",
    "zorder_write",
]
