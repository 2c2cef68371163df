"""Helpers that more than one query domain uses.

The DuckDB SQL fragments here are kept in lockstep with the Spark
operators they replay (``functions/*.py``, ``operators/dedup.py``): the
whitespace tokenizer, the word-shingle list, the sha256-prefix hash,
the MinHash signature and LSH band key. ``docs_scan`` is the documents
scan with a parallelism floor.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.functions.hashing import MERSENNE_P, minhash_perms
from ipeds_etl_spark.operators import dedup as DD
from ipeds_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (kept in lockstep with functions/*.py)
# ---------------------------------------------------------------------------
HASH10 = "CAST(concat('0x', substr(sha256({x}), 1, 10)) AS BIGINT)"


WS_TOKENS = r"list_filter(regexp_split_to_array({x}, '\s+'), t -> len(t) > 0)"


STOP_PAT = "(?i)\\b(" + "|".join(TX.STOPWORDS_EN) + ")\\b"
# k=3 word shingles, 1-based inclusive DuckDB slices
SHINGLES = (
    "CASE WHEN len({w}) < 3 THEN [array_to_string({w}, ' ')] "
    "ELSE list_transform(range(len({w}) - 2), i -> array_to_string({w}[i+1:i+3], ' ')) END"
)


def minhash_sig_sql() -> str:
    """DuckDB CTEs producing (doc_id, mh0..mh15)."""
    w = WS_TOKENS.format(x="text")
    shingles = SHINGLES.format(w="w")
    perms = minhash_perms(DD.N_PERMS)
    mins = ",\n             ".join(
        f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(perms)
    )
    return f"""
    toks AS (SELECT doc_id, {w} AS w FROM documents),
    sh AS (SELECT doc_id, {shingles} AS s FROM toks),
    hv AS (SELECT doc_id, list_transform(s, x -> {HASH10.format(x='x')}) AS hv FROM sh),
    sig AS (SELECT doc_id,
             {mins}
            FROM hv)"""


def band_key_sql(band: int) -> str:
    cols = [f"mh{band * DD.ROWS_PER_BAND + r}" for r in range(DD.ROWS_PER_BAND)]
    return " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


def docs_scan(spark: SparkSession, sf_dir: str):
    """Documents scan with a parallelism floor — used ONLY by queries
    whose per-row map work (per-gram sha256, per-pair set algebra)
    dwarfs the round-robin exchange: measured, the floor took
    ``doc_fingerprint`` 2.5s→0.33s and an earlier brute-force
    ``dedup_ngram_jaccard`` 33s→2.4s at sf0.1, while every
    shuffle-dominated query (minhash, simhash, tfidf, packing) got
    slower with it — their cost is in the post-shuffle stages, which
    are already wide, so the extra exchange is pure overhead.
    Single-partition scans only happen on tiny
    single-row-group files; see ``load_table``."""
    return load_table(
        spark, sf_dir, "documents",
        min_partitions=spark.sparkContext.defaultParallelism,
    )


#: KMV sketch size of the pairwise set-operation queries
#: (``events_kmv_intersection``, ``orders_customer_join_profile``).
KMV_K = 64
