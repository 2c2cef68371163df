"""Training-data extension queries: dedup, similarity search, text
analysis, time-series windows — registered into the same driver
contract as the reference-surface queries (``queries.py``).

Oracle strategy: every stochastic-looking construction (MinHash,
SimHash, LSH bands, IVF centroids) is derandomized with the
deterministic sha256-prefix hash family in ``functions.hashing``, so a
DuckDB oracle can replicate the *exact* result with list lambdas and
64-bit integer arithmetic — these queries are value-hash-checked, not
just row-counted. Floating point parity holds because every float is
produced by the same IEEE op sequence on both engines (index-order
fold-left dot products; single divisions of exact integers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.functions.hashing import (
    MERSENNE_P,
    minhash_perms,
    parity_hash,
    parity_hash_sql,
)
from ipeds_etl_spark.memostore import corpus_fingerprint, memo
from ipeds_etl_spark.operators import dedup as DD
# private aliases: the wave files import the shared index builders from here
from ipeds_etl_spark.operators.indexes import basket_items as _basket_items  # noqa: F401
from ipeds_etl_spark.operators.indexes import lsh_doc_pairs as _lsh_doc_pairs
from ipeds_etl_spark.operators import similarity as SIM
from ipeds_etl_spark.plans.views import exact_sum
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (kept in lockstep with functions/*.py)
# ---------------------------------------------------------------------------
_HASH10 = "CAST(concat('0x', substr(sha256({x}), 1, 10)) AS BIGINT)"
_HASH14 = "CAST(concat('0x', substr(sha256({x}), 1, 14)) AS BIGINT)"
_WS_TOKENS = r"list_filter(regexp_split_to_array({x}, '\s+'), t -> len(t) > 0)"
_BPE_PAT = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"
_PUNCT_PAT = r"[^\p{L}\p{N}\s]"
_STOP_PAT = "(?i)\\b(" + "|".join(TX.STOPWORDS_EN) + ")\\b"
# k=3 word shingles, 1-based inclusive DuckDB slices
_SHINGLES = (
    "CASE WHEN len({w}) < 3 THEN [array_to_string({w}, ' ')] "
    "ELSE list_transform(range(len({w}) - 2), i -> array_to_string({w}[i+1:i+3], ' ')) END"
)
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
# Text analysis
# ===========================================================================
@_register(
    "text_token_stats",
    f"""
    WITH t AS (
      SELECT source,
             len({_WS_TOKENS.format(x='text')}) AS ws,
             len(regexp_extract_all(text, '{_BPE_PAT}')) AS bpe
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tokens,
           CAST(MAX(ws) AS BIGINT) AS max_ws_tokens
    FROM t GROUP BY source
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) — per-source rollup.
    One narrow scan + hash agg; regexes run JVM-side in codegen."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return (
        d.select(
            "source",
            TX.token_count(text).cast("long").alias("ws"),
            F.size(TX.bpe_ish_tokens(text)).cast("long").alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("sum_ws_tokens"),
            F.sum("bpe").alias("sum_bpe_tokens"),
            F.max("ws").alias("max_ws_tokens"),
        )
    )


@_register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_WS_TOKENS.format(x='text')} AS w FROM documents)
    SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars_calc,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{_PUNCT_PAT}')) AS BIGINT) AS n_punct,
           CAST(len(regexp_extract_all(text, '{_STOP_PAT}')) AS BIGINT) AS n_stopwords,
           CAST(len(regexp_extract_all(text, '{_PUNCT_PAT}')) AS DOUBLE) / len(text) AS punct_ratio,
           CAST(len(regexp_extract_all(text, '{_STOP_PAT}')) AS DOUBLE) / len(w) AS stopword_ratio,
           CAST(list_sum(list_transform(w, s -> len(s))) AS DOUBLE) / len(w) AS mean_token_len
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring signals per document — pure codegen expressions.
    Map-only compute; the only exchange is ``_docs``'s conditional
    scan-widening round-robin (degenerate single-row-group scans only —
    a no-op on a real cluster where the scan is already wide)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "text", TX.tokens(F.col("text")).alias("toks")
    )
    text = F.col("text")
    m = TX.quality_metrics(text, toks=F.col("toks"))
    return d.select(
        "doc_id",
        m["n_chars_m"].alias("n_chars_calc"),
        m["n_tokens"].alias("n_tokens"),
        m["n_punct"].alias("n_punct"),
        m["n_stopwords"].alias("n_stopwords"),
        (m["n_punct"].cast("double") / m["n_chars_m"]).alias("punct_ratio"),
        (m["n_stopwords"].cast("double") / m["n_tokens"]).alias("stopword_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
    )


@_register(
    "text_lang_id",
    f"""
    WITH t AS (SELECT lang, text,
                      {TX.lang_word_tokens_sql('text')} AS __lang_toks
               FROM documents),
    s AS (SELECT lang, {TX.lang_id_sql('text')} FROM t)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY lang, pred_lang
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts: stopword-profile argmax vs the
    labeled ``lang`` column. Tokens are projected ONCE (optimizer
    barrier) so the per-language membership lambdas share one scan
    instead of re-tokenizing per language."""
    d = _docs(spark, sf_dir)
    toked = d.select(
        "lang", "text", TX.lang_word_tokens(F.col("text")).alias("__lang_toks")
    )
    score_cols = TX.lang_scores(F.col("text"), F.col("__lang_toks"))
    scored = toked.select(
        "lang", *[c.alias(f"__s_{lg}") for lg, c in score_cols.items()]
    )
    pred = TX.lang_id_from_scores(
        {lg: F.col(f"__s_{lg}") for lg in score_cols}
    )
    return (
        scored.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@_register(
    "doc_fingerprint",
    f"""
    WITH g AS (
      SELECT doc_id, text,
             list_distinct(
               CASE WHEN len(text) < 5 THEN [text]
                    ELSE list_transform(range(len(text) - 4), i -> substr(text, i+1, 5))
               END) AS grams
      FROM documents)
    SELECT doc_id,
           sha256(text) AS text_sha,
           {_HASH10.format(x='text')} AS fp40,
           array_to_string(
             list_sort(list_transform(grams, s -> {_HASH10.format(x='s')}))[1:4],
             '_') AS winnow_sketch
    FROM g
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full content hash, 40-bit fingerprint,
    and a winnowing-style bottom-4 sketch over char-5-gram hashes
    (bottom-k of a rolling gram family — robust to small edits)."""
    # distinct grams BEFORE hashing: ~30% of grams repeat, so this
    # skips a third of the sha256 work (measured 3.6s→2.4s at sf0.1)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.array_distinct(TX.char_ngrams(F.col("text"), 5)).alias("grams"),
    )
    gram_hashes = F.transform(F.col("grams"), lambda s: parity_hash(s))
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        parity_hash(F.col("text")).alias("fp40"),
        F.array_join(
            F.slice(F.array_sort(gram_hashes), 1, 4).cast("array<string>"),
            "_",
        ).alias("winnow_sketch"),
    )


@_register(
    "docs_ngram_heavy_hitters",
    f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
         g AS (SELECT doc_id, unnest({_SHINGLES.format(w='w')}) AS gram FROM t),
         pd AS (SELECT gram, doc_id, count(*) AS tf FROM g GROUP BY 1, 2)
    SELECT gram,
           CAST(sum(tf) AS BIGINT) AS total_count,
           CAST(count(*) AS BIGINT) AS doc_freq
    FROM pd GROUP BY gram
    ORDER BY total_count DESC, gram
    LIMIT 20
    """,
)
def q_docs_ngram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent n-grams (top-20 word trigrams with total
    occurrences and document frequency) — the boilerplate-detection /
    stop-gram mining pass of a training-data pipeline. Two map-side
    combinable aggregations ((gram, doc) then gram) and a distributed
    top-k (TakeOrderedAndProject — per-partition heaps, never a global
    sort) keep the 100 TB plan at two bounded shuffles."""
    d = _docs(spark, sf_dir).select(
        "doc_id", TX.word_shingles(F.col("text")).alias("grams")
    )
    g = d.select("doc_id", F.explode("grams").alias("gram"))
    per_doc = g.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("tf").alias("total_count"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .orderBy(F.col("total_count").desc(), "gram")
        .limit(20)
    )


#: BM25 constants (Robertson-Sparck Jones family); idf uses the
#: transcendental-free odds form (N - df + 0.5) / (df + 0.5) so both
#: engines produce bit-identical doubles (ln() is libm-dependent).
_BM25_K1 = 1.2
_BM25_TERMS = ("spark", "merge", "vector")


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    # every literal CAST to DOUBLE: a bare DuckDB numeric literal is a
    # DECIMAL, and decimal-exact multiply-then-round differs from
    # Spark's double-by-double rounding in the last ulp.
    contrib = " + ".join(
        f"(((CAST(n_docs AS DOUBLE) - df_{t}) + CAST(0.5 AS DOUBLE))"
        f" / (df_{t} + CAST(0.5 AS DOUBLE)))"
        f" * ((tf_{t} * CAST(2.2 AS DOUBLE)) / (tf_{t} + CAST({_BM25_K1} AS DOUBLE)"
        f" * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl))))"
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""
    WITH t AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
         d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, {tf_cols} FROM t),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                      {df_cols}
               FROM d)
    SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in _BM25_TERMS)},
           {contrib} AS score
    FROM d CROSS JOIN s
    WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
    ORDER BY score DESC, doc_id
    LIMIT 15
    """


@_register("docs_bm25_search")
def q_docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query, computed with zero
    joins on the fact side: per-term tf is a map-only array filter per
    document, the corpus stats (N, avgdl, per-term df) are ONE global
    partial-aggregated row broadcast back, and the final ranking is a
    distributed top-k. The idf uses the odds form (no ln) so DuckDB
    reproduces every double bit-for-bit; term contributions are summed
    in explicit written order (float addition is not associative)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    per_doc = d.select(
        "doc_id",
        F.size("w").cast("long").alias("dl"),
        *[
            F.size(F.filter("w", lambda x: x == F.lit(t)))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    norm = F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
    score = None
    for t in _BM25_TERMS:
        tf = F.col(f"tf_{t}")
        idf = ((F.col("n_docs").cast("double") - F.col(f"df_{t}")) + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        c = idf * ((tf * F.lit(2.2)) / (tf + F.lit(_BM25_K1) * norm))
        score = c if score is None else score + c
    any_tf = None
    for t in _BM25_TERMS:
        any_tf = (
            F.col(f"tf_{t}")
            if any_tf is None
            else any_tf + F.col(f"tf_{t}")
        )
    return (
        joined.select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            score.alias("score"),
        )
        .filter(any_tf > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


from ipeds_etl_spark.queries import ORACLE_SQL as _ORACLES_BM25  # noqa: E402

_ORACLES_BM25["docs_bm25_search"] = _bm25_oracle()


_PII_BLOB_SQL = (
    "concat('reach ', c_name, ' at user', CAST(c_custkey AS VARCHAR), "
    "'@example.com or ', lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), "
    "'-555-', lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'), "
    "' from host 10.', CAST(c_custkey % 256 AS VARCHAR), '.0.', "
    "CAST(c_custkey % 100 AS VARCHAR))"
)


def _pii_oracle() -> str:
    from ipeds_etl_spark.functions.text import PII_PATTERNS, pii_scrub_sql

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(blob, '{pat}')) AS BIGINT) AS n_{name}"
        for name, (pat, _) in PII_PATTERNS.items()
    )
    return f"""
    WITH b AS (SELECT c_custkey, {_PII_BLOB_SQL} AS blob FROM customer)
    SELECT c_custkey, {counts}, {pii_scrub_sql('blob')} AS scrubbed
    FROM b
    """


@_register("customers_pii_scrub")
def q_customers_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the privacy-scrub pass every
    training corpus needs before release. The synthetic benchmark data
    carries no real PII, so the query first derives a deterministic
    contact blob from customer fields (same construction on both
    engines), then counts and masks emails / IPv4s / phone numbers with
    engine-portable regexes (valid in Java regex AND RE2 — no
    lookaround, no backreferences). Pure expression chain: a map-only
    100 TB pass, value-hash-checked against DuckDB."""
    from ipeds_etl_spark.functions.text import pii_counts, pii_scrub

    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    blob = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        key.cast("string"),
        F.lit("@example.com or "),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" from host 10."),
        (key % 256).cast("string"),
        F.lit(".0."),
        (key % 100).cast("string"),
    )
    b = c.select("c_custkey", blob.alias("blob"))
    cnts = pii_counts(F.col("blob"))
    return b.select(
        "c_custkey",
        *[v.cast("long").alias(f"n_{k}") for k, v in cnts.items()],
        pii_scrub(F.col("blob")).alias("scrubbed"),
    )


_ORACLES_BM25["customers_pii_scrub"] = _pii_oracle()


# ===========================================================================
# Deduplication
# ===========================================================================
@_register(
    "dedup_exact",
    """
    SELECT doc_id,
           sha256(text) AS text_sha,
           CAST(count(*) OVER (PARTITION BY sha256(text)) AS BIGINT) AS group_size,
           doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
    FROM documents
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: every row keeps its group size and
    a deterministic keep/drop verdict (min doc_id is canonical)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup(d, "text", "doc_id")


def _minhash_sig_sql() -> str:
    """DuckDB CTEs producing (doc_id, mh0..mh15)."""
    w = _WS_TOKENS.format(x="text")
    shingles = _SHINGLES.format(w="w")
    perms = minhash_perms(DD.N_PERMS)
    mins = ",\n             ".join(
        f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {MERSENNE_P})) AS mh{i}"
        for i, (a, b) in enumerate(perms)
    )
    return f"""
    toks AS (SELECT doc_id, {w} AS w FROM documents),
    sh AS (SELECT doc_id, {shingles} AS s FROM toks),
    hv AS (SELECT doc_id, list_transform(s, x -> {_HASH10.format(x='x')}) AS hv FROM sh),
    sig AS (SELECT doc_id,
             {mins}
            FROM hv)"""


def _band_key_sql(band: int) -> str:
    cols = [f"mh{band * DD.ROWS_PER_BAND + r}" for r in range(DD.ROWS_PER_BAND)]
    return " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)


@_register(
    "dedup_minhash_lsh",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (16 perms × 4 bands of 4 rows)."""
    return _lsh_doc_pairs(spark, sf_dir)


@_register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, comp) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.id),
    comps AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id)
    SELECT id AS doc_id, component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size,
           id = component_id AS keep
    FROM comps
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: LSH candidate pairs → connected
    components (min-label propagation, the iterative fixpoint) →
    canonical-survivor verdict per document. The oracle replays the
    fixpoint with a recursive CTE — the unique min-reachable-id
    labeling makes an iterative Spark algorithm value-hash-checkable."""
    from ipeds_etl_spark.operators.components import dedup_clusters

    pairs = _lsh_doc_pairs(spark, sf_dir)
    return dedup_clusters(pairs).withColumnRenamed("id", "doc_id")


def _register_components_star():
    """Same cluster resolution through the star-contraction algorithm,
    against the SAME recursive-CTE oracle: the physical algorithm
    changes (O(log² n) contraction vs O(diameter) propagation), the
    labeling it must produce does not — the driver gate proves the
    two interchangeable, mirroring the window-vs-max_by dual forms of
    ``latest_per_key``."""
    from ipeds_etl_spark.queries import ORACLE_SQL

    @_register("dedup_components_star", ORACLE_SQL["dedup_components"])
    def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ipeds_etl_spark.operators.components import dedup_clusters

        pairs = _lsh_doc_pairs(spark, sf_dir)
        return dedup_clusters(pairs, algorithm="star").withColumnRenamed(
            "id", "doc_id"
        )


_register_components_star()


@_register(
    "dedup_simhash",
    f"""
    WITH toks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    hv AS (SELECT doc_id, list_transform(w, t -> {_HASH14.format(x='t')}) AS h
           FROM toks WHERE len(w) > 0),
    fp AS (SELECT doc_id,
             CAST(list_sum(list_transform(range({DD.SIMHASH_BITS}), j ->
               CASE WHEN list_sum(list_transform(h, x ->
                      CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
               AS BIGINT) AS simhash
           FROM hv),
    blocks AS (
      SELECT doc_id, simhash, t.j AS blk,
             (simhash >> (t.j * {DD.BLOCK_BITS})) & {(1 << DD.BLOCK_BITS) - 1} AS blk_val
      FROM fp CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(j))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM blocks a JOIN blocks b
      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {DD.HAMMING_K}
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (40-bit fingerprint, Hamming ≤ 3,
    pigeonhole block join). Narrow scan on purpose: A/B-measured both
    ways twice (r2 and r4) — the widening exchange loses to the
    map-side partial agg pipeline here (1.52 vs 1.78s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(d, "text", "doc_id")


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, source, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    sh AS (SELECT doc_id, source, list_distinct({_SHINGLES.format(w='w')}) AS s FROM toks)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard over same-source candidate pairs
    (the blocked verifier stage of a dedup pipeline), as one plan: the
    source-blocked PPJoin prefix filter (``dedup.jaccard_prefix_pairs``).

    The prefix filter is lossless (prefix theorem) and bounds the hot
    bucket: a boilerplate shingle present in most docs of one source
    ranks LAST in every doc's rarity order, so its quadratic bucket
    never forms (``test_hot_shingle_bucket_never_forms``). It also
    costs no more: the shingle-incidence expansion it replaced — run
    only behind a probe that measured the max per-(source, shingle)
    document frequency — gave identical output and was slower warm at
    sf0.1 (8.1 vs 3.8 s) and on a 10× sf0.1 documents replica (27.0 vs
    23.9 s), within noise at sf0.01 (4 cores, 4 shuffle partitions), so
    neither the probe nor the second plan pays.

    NULL-source docs are dropped up front — the oracle's
    ``a.source = b.source`` never pairs them — and the division stays
    size-int/size-int, so the emitted double is bit-identical to the
    oracle's."""
    return DD.jaccard_prefix_pairs(
        _docs(spark, sf_dir), "text", "doc_id", k=3, threshold=0.2, block_cols=["source"]
    )


@_register(
    "orders_snapshot_diff",
    """
    WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
               FROM orders WHERE o_orderkey % 11 <> 0),
         n AS (SELECT o_orderkey, o_orderstatus,
                      CASE WHEN o_orderkey % 7 = 0
                           THEN o_totalprice + CAST(1.0 AS DOUBLE)
                           ELSE o_totalprice END AS o_totalprice
               FROM orders WHERE o_orderkey % 13 <> 0)
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
       OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
    """,
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC between table versions, `operators/cdc.py`):
    the 'what changed between version N and M' answer for any two reads
    of a transactional table (`txn.read_table(version=...)`), computed
    from the snapshots alone — no change log required. The benchmark
    derives the two versions deterministically from orders (keys %11==0
    appear → insert, %13==0 vanish → delete, %7==0 reprice → update);
    one pk-co-partitioned full-outer join, output O(changes)."""
    from ipeds_etl_spark.operators.cdc import snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = base.filter(F.col("o_orderkey") % 11 != 0)
    new = base.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.col("o_totalprice") + F.lit(1.0),
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, pk=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )


@_register(
    "docs_robust_zscore",
    """
    WITH m AS (SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
         d AS (SELECT doc_id, n_chars, med, abs(n_chars - med) AS dev
               FROM documents CROSS JOIN m),
         s AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
    SELECT doc_id, n_chars, med, mad,
           (n_chars - med) / (CAST(1.4826 AS DOUBLE) * mad) AS robust_z,
           abs((n_chars - med) / (CAST(1.4826 AS DOUBLE) * mad))
             > CAST(3.0 AS DOUBLE) AS is_outlier
    FROM d CROSS JOIN s
    """,
)
def q_docs_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier scoring on document length — the
    outlier filter that survives heavy-tailed corpora where mean/stddev
    z-scores (docs_length_zscore) get dragged by the tail. Two global
    exact percentiles (each a 1-row broadcast back); all arithmetic is
    exact-or-single-rounded so DuckDB's quantile_cont reproduces every
    double. SCALE NOTE: exact percentile buffers values per group — at
    100 TB swap in approx_percentile (same plan shape, documented
    epsilon) or a two-pass histogram refine; the oracle requires the
    exact form."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    med_df = d.agg(F.percentile("n_chars", 0.5).alias("med"))
    dev = d.crossJoin(F.broadcast(med_df)).withColumn(
        "dev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad_df = dev.agg(F.percentile("dev", 0.5).alias("mad"))
    z = (F.col("n_chars") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return dev.crossJoin(F.broadcast(mad_df)).select(
        "doc_id",
        "n_chars",
        "med",
        "mad",
        z.alias("robust_z"),
        (F.abs(z) > F.lit(3.0)).alias("is_outlier"),
    )


@_register(
    "docs_jaccard_prefix_join",
    f"""
    WITH toks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES.format(w='w')}) AS s FROM toks)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    """,
)
def q_docs_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact similarity join (PPJoin-lite): the
    zero-recall-loss alternative to MinHash candidates. The Spark plan
    touches only pairs sharing a globally-rare prefix shingle; the
    oracle brute-forces all O(n²) pairs — identical output proves the
    prefix filter is lossless."""
    from ipeds_etl_spark.operators.dedup import jaccard_prefix_pairs

    d = _docs(spark, sf_dir)
    return jaccard_prefix_pairs(
        d, text_col="text", id_col="doc_id", k=3, threshold=0.7
    )


# ===========================================================================
# Deterministic sampling / split assignment
# ===========================================================================
def _sampling_oracle() -> str:
    from ipeds_etl_spark.operators.sampling import sample_bucket_sql

    bkt = sample_bucket_sql("doc_id", salt="v1")
    return f"""
    WITH b AS (SELECT doc_id, source, {bkt} AS bkt FROM documents)
    SELECT doc_id, source,
           CASE WHEN bkt < 90 THEN 'train'
                WHEN bkt < 95 THEN 'valid'
                ELSE 'test' END AS split,
           bkt < (CASE WHEN source IN ('src0','src1','src2') THEN 10
                       WHEN source = 'src3' THEN 0 ELSE 100 END) AS sampled
    FROM b
    """


@_register("docs_split_and_sample")
def q_docs_split_and_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus construction: content-hash train/valid/test
    split (90/5/5) + per-source stratified downsampling (10% for the
    boilerplate-heavy sources, 0% for an excluded source, 100%
    otherwise). Pure map-only codegen — zero shuffle at 100 TB; every
    assignment is value-hash-checked against DuckDB."""
    from ipeds_etl_spark.operators.sampling import sample_bucket, split_column

    d = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    rates = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 10)
        .when(F.col("source") == "src3", 0)
        .otherwise(100)
    )
    return d.select(
        "doc_id",
        "source",
        split_column(key, {"train": 90, "valid": 5, "test": 5}, salt="v1").alias(
            "split"
        ),
        (sample_bucket(key, salt="v1") < rates).alias("sampled"),
    )


from ipeds_etl_spark.queries import ORACLE_SQL as _ORACLES_SAMPLE  # noqa: E402

_ORACLES_SAMPLE["docs_split_and_sample"] = _sampling_oracle()


@_register(
    "docs_source_quota_sample",
    f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             {parity_hash_sql("CAST(doc_id AS VARCHAR)")} AS hh
      FROM documents)
    SELECT doc_id, source, n_chars
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY hh, CAST(doc_id AS VARCHAR)) AS rn
          FROM h)
    WHERE rn <= 10
    """,
)
def q_docs_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (at most 10 docs per source, chosen by
    content hash): the domain-balancing primitive of corpus
    construction. The operator is the two-phase scale path — count,
    map-side hash prefilter to ~margin*cap rows/group, exact rank on
    the sliver, with a guaranteed-exact fallback — so the 100 TB plan
    never sorts whole groups; the oracle runs the naive window and the
    value hashes must agree exactly."""
    from ipeds_etl_spark.operators.sampling import quota_cap

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quota_cap(d, key_col="doc_id", group_col="source", cap=10)


# ===========================================================================
# Bloom-filter semi-join pruning
# ===========================================================================
@_register(
    "orders_bloom_semi_join",
    """
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 250000)
    GROUP BY l.l_returnflag
    """,
)
def q_orders_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with Bloom pre-pruning: the fact scan (lineitem) is
    map-side filtered by a ~KB bitmap of the qualifying order keys
    BEFORE the exact semi join, so at 100 TB the exchange (or the
    broadcast probe) sees only the sliver that can possibly match.
    False positives are removed by the exact join — the oracle runs the
    plain semi join and the value hashes must agree."""
    from ipeds_etl_spark.operators.bloom import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    qualifying = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 250000)
    ).select("o_orderkey")
    # no parallelism floor (opt r13): the floor dated from the sha256
    # probe family; the default probe is two-seed xxhash64, within
    # noise of the scan itself, so the round-robin exchange of the
    # fact table was pure overhead (ABAB at sf0.1: 2.7 -> 2.3 s)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    pruned = bloom_semi_join(li, "l_orderkey", qualifying, "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum("l_extendedprice").alias("revenue"),
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


def _docs(spark: SparkSession, sf_dir: str):
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


def _ivf_codebook(
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
        cent_rows=_ivf_codebook(spark, sf_dir),
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
        cent_rows=_ivf_codebook(spark, sf_dir),
    )


_IVF_PAIR_COS = _cos_sql("q.embedding", "n.embedding")


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
        cent_rows=_ivf_codebook(spark, sf_dir),
    )
    hits = brute.alias("b").join(
        ivf.alias("i"),
        on=[
            F.col("b.query_id") == F.col("i.query_id"),
            F.col("b.neighbor_id") == F.col("i.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("i.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


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


@_register("emb_rp_lsh_near_dups", None)
def q_emb_rp_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs (8 Rademacher planes,
    cosine-verified ≥ 0.3) — the bucketing alternative to IVF."""
    from ipeds_etl_spark.operators.similarity import rp_lsh_near_dups

    e = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_near_dups(
        e, "vec_id", "embedding", n_planes=8, dim=64, threshold=0.3,
    )


# register the oracle lazily-built SQL (needs the plane constants)
from ipeds_etl_spark.queries import ORACLE_SQL as _ORACLES  # noqa: E402

_ORACLES["emb_rp_lsh_near_dups"] = _rp_oracle_sql()


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


@_register("emb_rp_lsh_recall")
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


_ORACLES["emb_rp_lsh_recall"] = _rp_recall_oracle()


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


@_register("emb_rp_lsh_banded_recall")
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


_ORACLES["emb_rp_lsh_banded_recall"] = _rp_banded_recall_oracle()


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


@_register("multimodal_features")
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


from ipeds_etl_spark.queries import ORACLE_SQL as _ORACLES_MM  # noqa: E402

_ORACLES_MM["multimodal_features"] = _multimodal_oracle()


def _kmv_oracle() -> str:
    from ipeds_etl_spark.operators.sketches import kmv_estimate_sql

    est = kmv_estimate_sql("CAST(user_id AS VARCHAR)", 64)
    return f"""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(CAST({est} AS DECIMAL(18,6)) AS DOUBLE) AS kmv_users
    FROM events GROUP BY event_type
    """


@_register("events_kmv_users")
def q_events_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketch per event type, next to the exact count
    — a cross-engine-verifiable approximate aggregate (HLL register
    layouts differ per engine; a deterministic-hash KMV does not)."""
    from ipeds_etl_spark.operators.sketches import kmv_estimate

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        kmv_estimate(F.col("user_id").cast("string"), 64)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("kmv_users"),
    )


from ipeds_etl_spark.queries import ORACLE_SQL as _ORACLES2  # noqa: E402

_ORACLES2["events_kmv_users"] = _kmv_oracle()


@_register(
    "orders_range_join_periods",
    """
    WITH periods AS (
      SELECT y AS period_year,
             make_date(y, 1, 1) AS period_start,
             make_date(y, 6, 30) AS period_end,
             CASE WHEN y % 2 = 0 THEN 'H1-even' ELSE 'H1-odd' END AS period_label
      FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
    )
    SELECT p.period_label,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN periods p
      ON o.o_orderdate BETWEEN p.period_start AND p.period_end
    GROUP BY p.period_label
    """,
)
def q_orders_range_join_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: facts against a small derived period
    dimension on BETWEEN — broadcast nested-loop at this dim size; the
    scale path for large interval sets is bucketing both sides to
    aligned time buckets and equi-joining on the bucket (same plan
    family as the LSH band join)."""
    o = load_table(spark, sf_dir, "orders")
    periods = (
        o.select(F.year("o_orderdate").alias("period_year"))
        .distinct()
        .select(
            "period_year",
            F.make_date("period_year", F.lit(1), F.lit(1)).alias("period_start"),
            F.make_date("period_year", F.lit(6), F.lit(30)).alias("period_end"),
            F.when(F.col("period_year") % 2 == 0, "H1-even")
            .otherwise("H1-odd")
            .alias("period_label"),
        )
    )
    joined = o.join(
        F.broadcast(periods),
        on=F.col("o_orderdate").between(F.col("period_start"), F.col("period_end")),
    )
    return joined.groupBy("period_label").agg(
        F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("revenue")
    )


@_register(
    "orders_range_join_bucketed",
    """
    WITH periods AS (
      SELECT y AS period_year,
             make_date(y, 1, 1) AS period_start,
             make_date(y, 6, 30) AS period_end,
             CASE WHEN y % 2 = 0 THEN 'H1-even' ELSE 'H1-odd' END AS period_label
      FROM (SELECT DISTINCT year(o_orderdate) AS y FROM orders)
    )
    SELECT p.period_label,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN periods p
      ON o.o_orderdate BETWEEN p.period_start AND p.period_end
    GROUP BY p.period_label
    """,
)
def q_orders_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range-join SCALE path: same query as
    ``orders_range_join_periods`` but through the bucketed equi-join
    (``operators.interval``) — no BroadcastNestedLoopJoin anywhere in
    the plan, so it survives interval sets too large to broadcast. The
    oracle is the plain BETWEEN formulation: bucketing + residual
    filter must be result-identical."""
    from ipeds_etl_spark.operators.interval import interval_bucket_join

    o = load_table(spark, sf_dir, "orders")
    periods = (
        o.select(F.year("o_orderdate").alias("period_year"))
        .distinct()
        .select(
            "period_year",
            F.make_date("period_year", F.lit(1), F.lit(1)).alias("period_start"),
            F.make_date("period_year", F.lit(6), F.lit(30)).alias("period_end"),
            F.when(F.col("period_year") % 2 == 0, "H1-even")
            .otherwise("H1-odd")
            .alias("period_label"),
        )
    )
    joined = interval_bucket_join(
        o.select("o_orderkey", "o_orderdate", "o_totalprice"),
        "o_orderdate",
        periods,
        "period_start",
        "period_end",
        bucket_days=32,
    )
    return joined.groupBy("period_label").agg(
        F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("revenue")
    )


@_register(
    "events_asof_last_purchase",
    """
    SELECT e.event_id,
           e.user_id,
           epoch_us(e.ts) AS ev_us,
           epoch_us(p.ts) AS purchase_us,
           p.value AS last_purchase_value
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the user's most recent
    purchase at-or-before it (checked against DuckDB's native ASOF)."""
    from ipeds_etl_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"), purchases, keys=["user_id"], time_col="ts"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ev_us"),
        F.unix_micros("ts_right").alias("purchase_us"),
        "last_purchase_value",
    )


# ===========================================================================
# Extended aggregate families (absent in the reference; built-in Spark)
# ===========================================================================
@_register(
    "events_value_percentiles",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
           CAST(CAST(quantile_cont(value, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS p95,
           CAST(CAST(quantile_cont(value, 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS p99
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per event type (sort-based
    aggregate). Values go through decimal(18,6) on both engines because
    the interpolation formulas differ in final-ulp floating point."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pct = F.expr("percentile(value, array(0.5, 0.95, 0.99))")
    return (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"), pct.alias("ps"))
        .select(
            "event_type",
            "n",
            F.element_at("ps", 1).cast("decimal(18,6)").cast("double").alias("p50"),
            F.element_at("ps", 2).cast("decimal(18,6)").cast("double").alias("p95"),
            F.element_at("ps", 3).cast("decimal(18,6)").cast("double").alias("p99"),
        )
    )


@_register(
    "orders_distinct_aggs",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_orders_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over different columns in one agg —
    exercises Spark's Expand-based multi-distinct rewrite."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count("*").alias("n_orders"),
    )


@_register(
    "customers_semi_anti",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F') THEN 'has_f' ELSE 'no_f' END AS bucket
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
    """,
)
def q_customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (has orders) + anti-join (none above 400k) + a
    semi-join-derived flag — the EXISTS/NOT EXISTS family as left_semi
    / left_anti joins."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders")
    keys_with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    keys_big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    keys_f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    base = c.join(keys_with_orders, "c_custkey", "left_semi").join(
        keys_big, "c_custkey", "left_anti"
    )
    flagged = base.join(
        keys_f.withColumn("has_f", F.lit(True)), "c_custkey", "left"
    )
    return flagged.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("has_f"), "has_f").otherwise("no_f").alias("bucket"),
    )


@_register(
    "kpi_rollup",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
    """,
)
def q_kpi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup (year, status) → year → grand
    total — one pass, Spark expands the grouping sets internally."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("order_year"), "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("total_revenue"))
    )


@_register(
    "kpi_cube",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderpriority,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY CUBE(year(o_orderdate), o_orderpriority)
    """,
)
def q_kpi_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE (every grouping-set combination) with GROUPING()
    indicator columns — the disambiguation a real report needs, since
    a NULL group key in cube output can mean 'subtotal' or a genuinely
    NULL value. Completes the grouping-sets family next to
    ``kpi_rollup``; one pass via Spark's Expand."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"), "o_orderpriority", "o_totalprice"
    )
    return (
        o.cube("order_year", "o_orderpriority")
        .agg(
            F.grouping(F.col("order_year")).cast("int").alias("g_year"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "order_year",
            "o_orderpriority",
            "g_year",
            "g_priority",
            "n_orders",
            "total_revenue",
        )
    )


@_register(
    "customer_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 350000
    """,
)
def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION ALL / EXCEPT chain with SQL's left-to-right
    set-op precedence, expressed with the DataFrame set operators."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey")
    )
    orders_1995 = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    big_orders = o.filter(F.col("o_totalprice") > 350000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    # SQL precedence: ((A INTERSECT B) UNION ALL C) EXCEPT D; EXCEPT
    # and INTERSECT are DISTINCT-based (subtract/intersect), UNION ALL
    # keeps duplicates until the final EXCEPT collapses them.
    return (
        building.intersect(orders_1995)
        .unionAll(machinery)
        .subtract(big_orders)
        .select(F.col("c_custkey"))
    )


@_register(
    "docs_chunk_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    starts AS (
      SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 40)) AS start
      FROM toks WHERE len(w) > 0)
    SELECT doc_id,
           CAST(start // 40 AS INT) AS chunk_id,
           CAST(start AS INT) AS start_token,
           CAST(len(w[start+1:start+50]) AS INT) AS n_tokens,
           sha256(array_to_string(w[start+1:start+50], ' ')) AS chunk_sha
    FROM starts
    """,
)
def q_docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus chunking: overlapping token windows (size 50,
    stride 40) per document — the canonical context-window prep op.
    Pure Column plumbing: sequence → explode → slice, no UDTF/UDF, so
    the whole row-expanding stage stays in JVM codegen (at 100 TB this
    is a map-only pass whose output is ~n_tokens/stride rows per doc).
    Chunk content is pinned by sha256 — the oracle proves the exact
    window boundaries, not just counts."""
    W, S = 50, 40
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    d = d.filter(F.size("w") > 0)
    starts = d.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("w") - 1, F.lit(0)), F.lit(S))
        ).alias("start"),
    )
    chunk = F.slice(F.col("w"), F.col("start") + 1, W)
    return starts.select(
        "doc_id",
        (F.col("start") / S).cast("int").alias("chunk_id"),
        F.col("start").cast("int").alias("start_token"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.sha2(F.array_join(chunk, " "), 256).alias("chunk_sha"),
    )


@_register(
    "nation_top2_customers",
    """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
    """,
)
def q_nation_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated lateral subquery (Spark 4 ``lateralJoin`` with
    ``Column.outer()`` references): top-2 customers by balance per
    nation — the J1 lateral-join family generalized beyond unnest.
    Catalyst decorrelates this into a ranked window join under the
    hood; the API-level correlation is what the reference's
    CROSS JOIN LATERAL exercised."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer")
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return n.lateralJoin(top2).select("n_name", "c_custkey", "c_acctbal")


@_register(
    "events_click_attribution",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_us,
           CAST(count(c.event_id) AS BIGINT) AS n_clicks_1h
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def q_events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution: clicks by the same user within the hour before each
    purchase — the equi-key + time-range self-join that becomes a
    stream-stream join in Structured Streaming (watermarks on both
    sides bound the buffered state; see
    ``streaming/jobs.py::click_attribution_stream`` + its equivalence
    test). Batch plan: user-key hash join with the range as a residual
    condition — shuffles only on user_id."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    joined = p.join(
        c,
        on=[
            p["user_id"] == c["user_id"],
            F.col("c_ts").between(
                F.col("p_ts") - F.expr("INTERVAL 1 HOUR"), F.col("p_ts")
            ),
        ],
        how="left",
    )
    return joined.groupBy("purchase_id", p["user_id"], "p_ts").agg(
        F.count("c_id").alias("n_clicks_1h")
    ).select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        "n_clicks_1h",
    )


@_register(
    "docs_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, source, len({_WS_TOKENS.format(x='text')}) AS n FROM documents),
    packed AS (
      SELECT source, doc_id, n,
             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks)
    SELECT source,
           CAST((cum - n) // 2048 AS INT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(n) AS DOUBLE) / 2048 AS fill_ratio
    FROM packed
    GROUP BY source, (cum - n) // 2048
    """,
)
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy sequential packing of documents into
    2048-token context windows per source (bin = where the doc's
    running total starts) — the standard pre-training batching op.
    One window + one agg, both on the source key: a single shuffle at
    any corpus size. Deterministic order (doc_id) ⇒ deterministic
    packing ⇒ value-checked bins."""
    budget = 2048
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(TX.tokens(F.col("text"))).cast("long").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = d.withColumn("cum", F.sum("n").over(w))
    binned = packed.withColumn(
        "bin_id", F.floor((F.col("cum") - F.col("n")) / budget).cast("int")
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        (F.sum("n").cast("double") / budget).alias("fill_ratio"),
    )


@_register(
    "docs_vocabulary",
    f"""
    WITH toks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    all_terms AS (SELECT doc_id, unnest(w) AS term FROM toks)
    SELECT term,
           CAST(count(*) AS BIGINT) AS total_tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM all_terms GROUP BY term HAVING count(DISTINCT doc_id) >= 25
    """,
)
def q_docs_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus-wide term frequency + document
    frequency (the exact counts behind TF-IDF — idf = log(N/df) is
    left to the consumer so every emitted number is an exact integer,
    engine-independent). Explode + one hash agg: term counts combine
    map-side, shuffle is O(distinct terms)."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("total_tf"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .filter(F.col("doc_freq") >= 25)
    )


@_register(
    "docs_length_zscore",
    """
    WITH stats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(len(text)) AS BIGINT) AS s1,
             CAST(SUM(CAST(len(text) AS BIGINT) * len(text)) AS BIGINT) AS s2
      FROM documents GROUP BY source)
    SELECT d.doc_id, d.source,
           CAST(len(d.text) AS BIGINT) AS n_chars,
           (CAST(len(d.text) AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
             / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n) / s.n)
             AS z_len
    FROM documents d JOIN stats s ON d.source = s.source
    """,
)
def q_docs_length_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped normalization (z-score of doc length within source) —
    the feature-engineering shape: one exact-integer moments aggregate
    per group, broadcast back, scalar math per row. Exact BIGINT sums
    of x and x² make the derived doubles bit-identical across engines
    and partitionings (every float comes from the same IEEE op
    sequence), so a statistic usually considered 'approximately equal'
    is value-hash-checked. Population variance, matching the oracle."""
    d = load_table(spark, sf_dir, "documents")
    x = F.length("text").cast("long")
    stats = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
    )
    joined = d.select("doc_id", "source", x.alias("n_chars")).join(
        F.broadcast(stats), "source"
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / F.col("n")
    return joined.select(
        "doc_id",
        "source",
        "n_chars",
        ((F.col("n_chars").cast("double") - mean) / F.sqrt(var)).alias("z_len"),
    )


@_register(
    "events_pivot_types",
    """
    SELECT user_id % 50 AS user_bucket,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase')
                AS DOUBLE) AS purchase_value
    FROM events GROUP BY 1
    """,
)
def q_events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): event counts per type as columns, one row per
    user bucket — ``groupBy().pivot()`` with an explicit value list, so
    the plan is a single pass of conditional aggregates (no second job
    to discover pivot values, which at 100 TB would be a full extra
    scan)."""
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy((F.col("user_id") % 50).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value").alias("val"),
        )
    )
    return out.select(
        "user_bucket",
        F.coalesce("click_n", F.lit(0)).alias("click"),
        F.coalesce("view_n", F.lit(0)).alias("view"),
        F.coalesce("purchase_n", F.lit(0)).alias("purchase"),
        F.col("purchase_val").alias("purchase_value"),
    )


@_register(
    "orders_profile",
    """
    SELECT 'o_totalprice' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_filled,
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,6)) AS DOUBLE) AS min_val,
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,6)) AS DOUBLE) AS max_val,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) / count(o_totalprice)
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_val,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(count(*) AS BIGINT),
           CAST(count(o_custkey) AS BIGINT),
           CAST(CAST(min(o_custkey) AS DECIMAL(18,6)) AS DOUBLE),
           CAST(CAST(max(o_custkey) AS DECIMAL(18,6)) AS DOUBLE),
           CAST(CAST(SUM(CAST(o_custkey AS DECIMAL(18,6))) / count(o_custkey)
                AS DECIMAL(18,6)) AS DOUBLE),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: one aggregate pass computing per-column
    completeness, range, exact-decimal mean, and distinct counts —
    the engine-side `df.summary()` with deterministic arithmetic. All
    columns profile in ONE scan (a struct of aggregates per column),
    then unpivot to rows."""
    o = load_table(spark, sf_dir, "orders")

    def stats(c: str):
        col = F.col(c)
        dec = col.cast("decimal(18,6)")
        return F.struct(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_filled"),
            F.min(dec).cast("double").alias("min_val"),
            F.max(dec).cast("double").alias("max_val"),
            (F.sum(dec) / F.count(col)).cast("decimal(18,6)").cast("double").alias("mean_val"),
            F.countDistinct(col).alias("n_distinct"),
        ).alias(c)

    one = o.agg(stats("o_totalprice"), stats("o_custkey"))
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"), F.col(c).alias("s")
                    )
                    for c in ("o_totalprice", "o_custkey")
                ]
            )
        ).alias("r")
    )
    return stacked.select(
        "r.column_name",
        F.col("r.s.n_rows").alias("n_rows"),
        F.col("r.s.n_filled").alias("n_filled"),
        F.col("r.s.min_val").alias("min_val"),
        F.col("r.s.max_val").alias("max_val"),
        F.col("r.s.mean_val").alias("mean_val"),
        F.col("r.s.n_distinct").alias("n_distinct"),
    )


@_register(
    "customer_order_window_funcs",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate)) AS INTEGER) AS yr_rank,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY year(o_orderdate)) AS INTEGER) AS yr_dense_rank,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_customer_order_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/offset/frame window family in one pass —
    row_number, rank, dense_rank, ntile, percent_rank, cume_dist,
    lag/lead, and a running decimal-exact frame sum — all over ONE
    partition spec (Catalyst collapses same-spec functions into a
    single Window operator: one shuffle, one sort)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wy = Window.partitionBy("o_custkey").orderBy(F.year("o_orderdate"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wy).alias("yr_rank"),
        F.dense_rank().over(wy).alias("yr_dense_rank"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
    )


@_register(
    "orders_calendar_dims",
    """
    SELECT year(o_orderdate) AS y,
           quarter(o_orderdate) AS q,
           month(o_orderdate) AS m,
           CAST(count(*) FILTER (WHERE isodow(o_orderdate) <= 5) AS BIGINT) AS weekday_orders,
           CAST(count(*) FILTER (WHERE isodow(o_orderdate) > 5) AS BIGINT) AS weekend_orders,
           strftime(min(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS month_start,
           strftime(max(last_day(o_orderdate)), '%Y-%m-%d') AS month_end,
           strftime(min(o_orderdate + INTERVAL 90 DAY), '%Y-%m-%d') AS first_due
    FROM orders GROUP BY 1, 2, 3
    """,
)
def q_orders_calendar_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family: truncation, last_day, date
    arithmetic, ISO weekday classification (Spark's ``dayofweek`` is
    1=Sunday; the portable ISO form is ``(dayofweek+5)%7+1`` —
    pinned against DuckDB's native ``isodow``)."""
    o = load_table(spark, sf_dir, "orders")
    isodow = (F.dayofweek("o_orderdate") + 5) % 7 + 1
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(
            F.count(F.when(isodow <= 5, 1)).alias("weekday_orders"),
            F.count(F.when(isodow > 5, 1)).alias("weekend_orders"),
            F.date_format(
                F.min(F.date_trunc("month", "o_orderdate")), "yyyy-MM-dd"
            ).alias("month_start"),
            F.date_format(F.max(F.last_day("o_orderdate")), "yyyy-MM-dd").alias(
                "month_end"
            ),
            F.date_format(F.min(F.date_add("o_orderdate", 90)), "yyyy-MM-dd").alias(
                "first_due"
            ),
        )
    )


@_register(
    "part_name_fuzzy_pairs",
    """
    WITH p AS (SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey <= 300)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    """,
)
def q_part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching: Levenshtein edit distance between part names,
    blocked by brand (the blocking key keeps the pair space linear-ish
    — same discipline as every other pair operator here). Exact
    integer distances, identical in both engines."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 300)
        .select("p_partkey", "p_brand", "p_name")
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            on=[
                F.col("a.p_brand") == F.col("b.p_brand"),
                F.col("a.p_partkey") < F.col("b.p_partkey"),
            ],
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


# ===========================================================================
# Event-time windows (batch twin of the streaming path)
# ===========================================================================
@_register(
    "events_window_hourly",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — the batch
    equivalent of the Structured Streaming job in ``streaming/``."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


def sessionize_user_stats(
    e: DataFrame, hot_key_share: float = 0.2, probe_cache_key: tuple | None = None
) -> DataFrame:
    """Sessionize ``events`` (30-minute inactivity gap; lag + running
    sum) and aggregate per-user session stats, with the final groupBy
    planned by ``agg_with_skew_guard``: a sampled probe of the raw
    ``user_id`` column (NOT the windowed pipeline — probing that would
    run the whole upstream twice) decides between the plain one-shuffle
    agg and the two-phase salted form. Results are identical either
    way; under a planted hot user the plan switches to the salted shape
    (pinned in ``tests/test_skew.py``). ``probe_cache_key`` — the
    events table's ``corpus_fingerprint`` — keeps the probe verdict in
    the memo store per data version."""
    from ipeds_etl_spark.operators.skew import agg_with_skew_guard

    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = e.select("user_id", "ts", "event_id").withColumn(
        "prev", F.lag("ts").over(w_order)
    )
    # exact-microsecond gap compare (cast-to-long would truncate seconds
    # and disagree with the oracle's interval comparison)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev"))
    marked = with_prev.withColumn(
        "is_new",
        F.when(F.col("prev").isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id", F.sum("is_new").over(w_order.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n")
    )
    out = agg_with_skew_guard(
        per_session,
        ["user_id"],
        {
            "n_sessions": ("count", "session_id"),
            "n_events": ("sum", "n"),
            "max_session_events": ("max", "n"),
        },
        hot_key_share=hot_key_share,
        detect_on=e.select("user_id"),
        cache_key=probe_cache_key,
    )
    return out.select("user_id", "n_sessions", "n_events", "max_session_events")


@_register(
    "events_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    m AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM o),
    s AS (
      SELECT user_id,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM m),
    per_session AS (
      SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY user_id, session_id)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (lag + running
    sum — the deterministic batch formulation; the streaming module
    uses ``session_window`` for the incremental case). The per-user
    stats agg is skew-guarded — see ``sessionize_user_stats``. The
    probe verdict is kept per events file version, so a rewritten file
    is probed again."""
    return sessionize_user_stats(
        load_table(spark, sf_dir, "events"),
        probe_cache_key=corpus_fingerprint(sf_dir, "events"),
    )


# ===========================================================================
# Round-3 additions (registered FIRST thing in the round so every entry
# gets a driver CORRECTNESS row — the round-2 lesson).
# ===========================================================================
@_register(
    "kpi_grouping_sets",
    """
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def q_kpi_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary (non-hierarchical) GROUPING SETS — (year, priority)
    detail, a status-only slice, and the grand total in ONE pass over
    orders via Spark's Expand, with GROUPING() indicators
    disambiguating subtotal NULLs from real NULLs. Completes the
    grouping family next to ``kpi_rollup`` (hierarchy) and
    ``kpi_cube`` (powerset)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        "o_orderstatus",
        "o_orderpriority",
        "o_totalprice",
    )
    return (
        o.groupingSets(
            [["order_year", "o_orderpriority"], ["o_orderstatus"], []],
            "order_year",
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
        )
        .select(
            "order_year",
            "o_orderstatus",
            "o_orderpriority",
            "g_year",
            "g_status",
            "g_priority",
            "n_orders",
            "total_revenue",
        )
    )


@_register(
    "docs_tfidf_topterms",
    f"""
    WITH toks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    t AS (SELECT doc_id, unnest(w) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(dfreq.doc_freq AS BIGINT) AS doc_freq,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.doc_freq AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored)
    SELECT doc_id, term, tf, doc_freq, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def q_docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. The idf factor is the exact
    rational N/df (one integer multiply, one double division — engine
    bit-identical) rather than log(N/df): the RANKING it induces per
    document is identical (log is monotone), and it keeps the oracle
    float-exact. Shape at scale: explode → (doc,term) hash agg (map-side
    combinable) → df agg on term → shuffle join tf⋈df on term → per-doc
    window top-k. The corpus-size scalar joins in as a broadcast 1-row
    aggregate, never a driver collect."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("doc_freq")).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "doc_freq", "tfidf", "rnk")
    )


@_register(
    "events_funnel",
    """
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS tv
      FROM events),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= tv THEN ts END)
               OVER (PARTITION BY user_id) AS tc
      FROM w1),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= tc THEN ts END)
               OVER (PARTITION BY user_id) AS tp
      FROM w2),
    per_user AS (
      SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
      FROM w3 GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(tv) AS BIGINT) AS n_viewed,
           CAST(count(tc) AS BIGINT) AS n_clicked,
           CAST(count(tp) AS BIGINT) AS n_purchased
    FROM per_user
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: a user converts a stage
    only with an event AT OR AFTER their entry into the previous stage
    (min-ts chaining, not mere presence). Three stacked window mins
    share one user_id partitioning — Catalyst plans a single exchange
    and three Window operators, so the whole funnel costs one shuffle
    plus the final all-reduce. No join, no driver-side state."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        e.select("user_id", "ts", "event_type")
        .withColumn(
            "tv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("tv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("tc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("tv").alias("n_viewed"),
        F.count("tc").alias("n_clicked"),
        F.count("tp").alias("n_purchased"),
    )


@_register(
    "events_user_retention",
    """
    WITH wk AS (
      SELECT user_id, date_trunc('week', ts) AS wk FROM events),
    with_cohort AS (
      SELECT DISTINCT user_id, wk,
             min(wk) OVER (PARTITION BY user_id) AS cohort_week
      FROM wk)
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM with_cohort
    GROUP BY 1, 2
    """,
)
def q_events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted in each later week they return. Three shuffles total —
    the user_id window (computes the cohort with no self-join), the
    (user, week) distinct, and the final cohort×offset agg; the offset
    division is exact (Monday-truncated weeks differ by multiples of
    7 days), so the INT cast agrees across engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    act = (
        e.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
        .withColumn("cohort_week", F.min("wk").over(w))
        .distinct()
    )
    return (
        act.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ===========================================================================
# Corpus hygiene: repetition filters and benchmark decontamination
# ===========================================================================
# k=2 word shingles, same short-document convention as _SHINGLES (k=3)
_SHINGLES2 = (
    "CASE WHEN len({w}) < 2 THEN [array_to_string({w}, ' ')] "
    "ELSE list_transform(range(len({w}) - 1), i -> array_to_string({w}[i+1:i+2], ' ')) END"
)


@_register(
    "docs_repetition_filters",
    f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    base AS (
      SELECT doc_id, len(w) AS n_tokens,
             CASE WHEN len(w) >= 2 THEN
               len(list_filter(range(len(w) - 1), i -> w[i+1] = w[i+2]))
             END AS n_consec,
             list_sort({_SHINGLES2.format(w='w')}) AS sbg,
             {_SHINGLES.format(w='w')} AS tgs
      FROM t),
    runs AS (
      SELECT doc_id, n_tokens, n_consec, tgs, len(sbg) AS n_bigrams,
             list_append(
               list_filter(range(1, len(sbg) + 1),
                           i -> i = 1 OR sbg[i] != sbg[i - 1]),
               len(sbg) + 1) AS bounds
      FROM base)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_consec AS DOUBLE) / (n_tokens - 1) AS consec_dup_frac,
           CAST(list_max(list_transform(range(len(bounds) - 1),
                                        j -> bounds[j + 2] - bounds[j + 1]))
                AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(len(tgs) - len(list_distinct(tgs)) AS DOUBLE) / len(tgs)
             AS dup_trigram_frac,
           (CAST(list_max(list_transform(range(len(bounds) - 1),
                                         j -> bounds[j + 2] - bounds[j + 1]))
                 AS DOUBLE) / n_bigrams <= 0.18
            AND CAST(len(tgs) - len(list_distinct(tgs)) AS DOUBLE) / len(tgs) <= 0.30)
             AS keep
    FROM runs
    """,
)
def q_docs_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters per document: fraction
    of consecutive duplicate tokens, mass of the single most frequent
    bigram, and fraction of duplicate trigram occurrences, with a keep
    verdict at the published-ish thresholds (Rae et al. 2021 use the
    same statistic family).

    Scale shape: ZERO shuffle — per-document gram statistics never
    cross documents, so shipping (doc, gram) pairs through an exchange
    (the groupBy formulation) moves the whole corpus for nothing. The
    top-bigram count is the longest run in the doc's SORTED bigram
    array (run boundaries → adjacent-boundary gaps → max), trigram
    dup mass is ``size − size(array_distinct)`` — all in-row, linear
    in doc length after an O(n log n) in-row sort, bounded per task by
    the longest document, not the corpus. Ratios are single IEEE
    divisions of exact integer counts (hash-stable across engines)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    n = F.size("w")
    base = d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(
            n >= 2,
            F.size(
                F.filter(
                    F.zip_with(
                        F.slice("w", 1, n - 1),
                        F.slice("w", 2, n - 1),
                        lambda a, b: a == b,
                    ),
                    lambda x: x,
                )
            ),
        ).alias("n_consec"),
        F.array_sort(TX.shingles_of(F.col("w"), 2)).alias("sbg"),
        TX.shingles_of(F.col("w"), 3).alias("tgs"),
    )
    nb = F.size("sbg")
    # 1-based positions where a new distinct bigram starts, plus the
    # one-past-the-end sentinel: max adjacent gap = top bigram count.
    # greatest(i-1, 1) keeps element_at's index ≥ 1 structurally: at
    # i == 1 the left disjunct already keeps the position, and sbg[1]
    # != sbg[1] is false, so the value is unchanged — but no evaluation
    # order can ever see index 0 (INVALID_INDEX_OF_ZERO under ANSI)
    bounds = F.concat(
        F.filter(
            F.sequence(F.lit(1), nb),
            lambda i: (i == 1)
            | (
                F.element_at(F.col("sbg"), i)
                != F.element_at(F.col("sbg"), F.greatest(i - 1, F.lit(1)))
            ),
        ),
        F.array(nb + 1),
    )
    runs = base.select(
        "doc_id",
        "n_tokens",
        "n_consec",
        "tgs",
        nb.alias("n_bigrams"),
        bounds.alias("bounds"),
    )
    top_n = F.array_max(
        F.zip_with(
            F.slice("bounds", 1, F.size("bounds") - 1),
            F.slice("bounds", 2, F.size("bounds") - 1),
            lambda a, b: b - a,
        )
    )
    top_frac = top_n.cast("double") / F.col("n_bigrams")
    dup_frac = (F.size("tgs") - F.size(F.array_distinct("tgs"))).cast(
        "double"
    ) / F.size("tgs")
    return runs.select(
        "doc_id",
        "n_tokens",
        (F.col("n_consec").cast("double") / (F.col("n_tokens") - 1)).alias(
            "consec_dup_frac"
        ),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_trigram_frac"),
        ((top_frac <= 0.18) & (dup_frac <= 0.30)).alias("keep"),
    )


@_register(
    "docs_decontaminate",
    f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    sh AS (
      SELECT doc_id, {_HASH10.format(x='g')} AS h
      FROM (SELECT doc_id, unnest({_SHINGLES.format(w='w')}) AS g FROM t)),
    ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < 20),
    tr AS (SELECT DISTINCT doc_id, h FROM sh WHERE doc_id >= 20)
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(ev.h) AS BIGINT) AS n_hit,
           CAST(count(ev.h) AS DOUBLE) / count(*) AS overlap_frac,
           CAST(count(ev.h) AS DOUBLE) / count(*) >= 0.8 AS contaminated
    FROM tr LEFT JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id
    """,
)
def q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose
    distinct 3-word-shingle sets overlap an evaluation set (planted
    here as doc_id < 20) beyond a threshold — the standard n-gram
    containment check run before training on a scraped corpus.

    Scale shape: the eval side of a real decontamination pass is a few
    benchmark suites — tiny against a 100 TB corpus — so its distinct
    shingle-hash set is BROADCAST and the train side never shuffles for
    the probe: one distinct on (doc, hash) and the per-doc agg are the
    only exchanges, both map-side combinable. The broadcast is pinned
    with an explicit hint; overlap is exact distinct-shingle
    containment, not an estimate."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    # per-doc map-side dedup (array_distinct over the hashed shingle
    # array): tr's (doc_id, h) distinct only ever deduped within a doc,
    # so its global dedup exchange disappears; ev's cross-doc distinct
    # over the (tiny) eval slice stays (opt r13)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    TX.shingles_of(F.col("w"), 3), lambda g: parity_hash(g)
                )
            )
        ).alias("h"),
    )
    ev = sh.filter(F.col("doc_id") < 20).select("h").distinct()
    tr = sh.filter(F.col("doc_id") >= 20).select("doc_id", "h")
    hit_frac = F.count(F.col("ev_h")).cast("double") / F.count(F.lit(1))
    return (
        tr.join(F.broadcast(ev.select(F.col("h").alias("ev_h"))),
                tr["h"] == F.col("ev_h"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.col("ev_h")).alias("n_hit"),
            hit_frac.alias("overlap_frac"),
            (hit_frac >= 0.8).alias("contaminated"),
        )
    )


@_register(
    "events_value_histogram",
    """
    SELECT CAST(floor("value" / 25.0) AS BIGINT) AS bin,
           CAST(floor("value" / 25.0) * 25.0 AS DOUBLE) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram with per-bin distinct users — the
    workhorse distribution profile at scale: binning is a pure map
    (floor of one IEEE division by a constant — exact on both
    engines), the count combines map-side, and the distinct triggers
    Spark's standard two-phase expand-and-recombine. Bin count is
    bounded by the value range, not the row count, so the final
    shuffle is O(bins) regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 25.0)
    return (
        e.groupBy(
            bin_.cast("long").alias("bin"),
            (bin_ * 25.0).cast("double").alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@_register(
    "docs_token_diversity",
    f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    c AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(count(*) AS DOUBLE) / sum(n) AS type_token_ratio,
           1.0 - CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)) AS simpson_index
    FROM c GROUP BY doc_id
    """,
)
def q_docs_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and Simpson
    diversity (1 − Σn²/N²) — the repetition-complement of the entropy
    family, chosen over Shannon entropy deliberately: it needs no
    transcendental function, so every statistic is integer sums and
    ONE IEEE division, bit-reproducible across engines (libm ``log``
    implementations differ in final ulps and would break value-hash
    parity). One (doc, token) count then a per-doc agg — both
    map-side combinable, partitioned by doc throughout."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    c = d.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    n_tok = F.sum("n")
    n_dis = F.count(F.lit(1))
    return c.groupBy("doc_id").agg(
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        (n_dis.cast("double") / n_tok).alias("type_token_ratio"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double") / (n_tok * n_tok)
        ).alias("simpson_index"),
    )


# ===========================================================================
# Graph profile of the dedup pair graph; event-sequence transitions
# ===========================================================================
def _register_graph_stats():
    from ipeds_etl_spark.operators.dedup import N_PERMS, ROWS_PER_BAND

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(N_PERMS // ROWS_PER_BAND)
    )

    @_register(
        "dedup_graph_stats",
        f"""
        WITH {_minhash_sig_sql()},
        bands AS ({bands_union}),
        e AS (
          SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
        deg AS (SELECT u, count(*) AS d
                FROM (SELECT a AS u FROM e UNION ALL SELECT b FROM e)
                GROUP BY u)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
               (SELECT CAST(count(*) AS BIGINT)
                FROM e e1 JOIN e e2 ON e1.b = e2.a
                          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
                 AS n_triangles
        """,
    )
    def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Shape profile of the MinHash-LSH candidate graph (nodes,
        edges, max degree, exact triangles): the pre-clustering sanity
        check that catches boilerplate near-cliques before they become
        one giant dedup cluster."""
        from ipeds_etl_spark.operators.components import graph_stats

        pairs = _lsh_doc_pairs(spark, sf_dir)
        return graph_stats(pairs, pairs_canonical=True)


_register_graph_stats()


@_register(
    "events_type_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / sum(n_transitions) OVER (PARTITION BY prev_type)
             AS p_transition
    FROM c
    """,
)
def q_events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov view of
    user behavior): per-user event sequences ordered by (ts, event_id)
    — fully deterministic under ties — lagged one step, transition
    pairs counted, and row-normalized into probabilities.

    Scale shape: the lag window and a (prev,next) hash agg — the
    window shuffles on user_id once, the agg output is O(types²)
    regardless of corpus size, and the normalizing window runs over
    those O(types²) rows. Probabilities are one IEEE division of
    exact counts."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_norm = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_norm)
        ).alias("p_transition"),
    )


# ===========================================================================
# Mergeable sketches / sweep-line intervals / algebraic trends / weighted
# sampling (round-4 additions; each with the standard oracle contract)
# ===========================================================================


def _kmv_merge_oracle() -> str:
    from ipeds_etl_spark.operators.sketches import (
        kmv_estimate_from_sql,
        kmv_merge_sql,
        kmv_sketch_sql,
    )

    sk = kmv_sketch_sql("CAST(user_id AS VARCHAR)", 64)
    est_a = kmv_estimate_from_sql("a.sk", 64)
    est_b = kmv_estimate_from_sql("b.sk", 64)
    est_u = kmv_estimate_from_sql(kmv_merge_sql("a.sk", "b.sk", 64), 64)
    return f"""
    WITH a AS (SELECT count(DISTINCT user_id) AS exact_a, {sk} AS sk
               FROM events WHERE event_type = 'view'),
    b AS (SELECT count(DISTINCT user_id) AS exact_b, {sk} AS sk
          FROM events WHERE event_type = 'purchase'),
    u AS (SELECT count(DISTINCT user_id) AS exact_union FROM events
          WHERE event_type IN ('view', 'purchase'))
    SELECT CAST(exact_a AS BIGINT) AS exact_view,
           CAST(exact_b AS BIGINT) AS exact_purchase,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(CAST({est_a} AS DECIMAL(18,6)) AS DOUBLE) AS kmv_view,
           CAST(CAST({est_b} AS DECIMAL(18,6)) AS DOUBLE) AS kmv_purchase,
           CAST(CAST({est_u} AS DECIMAL(18,6)) AS DOUBLE) AS kmv_union,
           CAST(CAST({est_a} + {est_b} - ({est_u}) AS DECIMAL(18,6)) AS DOUBLE)
             AS kmv_intersection
    FROM a, b, u
    """


@_register("events_kmv_merge")
def q_events_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE — the property that makes sketches usable at 100 TB:
    per-set KMV states (k-element arrays) built independently, then
    combined with the associative merge (distinct union, k smallest) to
    estimate |A∪B| and, by inclusion-exclusion, |A∩B| — without ever
    rescanning A or B together. Exact counterparts ride alongside so
    the row also documents the estimator's error at this k. All three
    sketch aggs are map-side combinable; the merge runs on three 1-row
    frames (broadcast cross joins)."""
    from ipeds_etl_spark.operators.sketches import (
        kmv_estimate_from,
        kmv_merge,
        kmv_sketch,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    uid = F.col("user_id").cast("string")
    a = e.filter(F.col("event_type") == "view").agg(
        F.countDistinct("user_id").alias("exact_view"),
        kmv_sketch(uid).alias("sk_a"),
    )
    b = e.filter(F.col("event_type") == "purchase").agg(
        F.countDistinct("user_id").alias("exact_purchase"),
        kmv_sketch(uid).alias("sk_b"),
    )
    u = e.filter(F.col("event_type").isin("view", "purchase")).agg(
        F.countDistinct("user_id").alias("exact_union")
    )
    est_a = kmv_estimate_from(F.col("sk_a"))
    est_b = kmv_estimate_from(F.col("sk_b"))
    est_u = kmv_estimate_from(kmv_merge(F.col("sk_a"), F.col("sk_b")))

    def _d(c):
        return c.cast("decimal(18,6)").cast("double")

    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(u))
        .select(
            "exact_view",
            "exact_purchase",
            "exact_union",
            _d(est_a).alias("kmv_view"),
            _d(est_b).alias("kmv_purchase"),
            _d(est_u).alias("kmv_union"),
            _d(est_a + est_b - est_u).alias("kmv_intersection"),
        )
    )


@_register(
    "orders_open_interval_counts",
    """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 60 + 1 AS INTEGER) AS e
      FROM orders),
    deltas AS (
      SELECT s AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT e + 1, -1 FROM iv),
    per_date AS (SELECT d, SUM(delta) AS delta FROM deltas GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(SUM(delta) OVER (ORDER BY d) AS BIGINT) AS n_open
    FROM per_date
    """,
)
def q_orders_open_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counts by sweep line: each order holds an
    open interval (synthetic deterministic duration); how many are open
    at every boundary date? Sweep line = +1 at start, -1 past end,
    prefix-sum over dates — O(n log n) against the O(n·m) naive range
    join.

    The prefix sum is built as a DISTRIBUTED two-phase scan, not a
    global window: a cumulative window partitioned by YEAR (parallel),
    plus per-year offsets (cumulative over a years-sized frame,
    broadcast back). A single `ORDER BY date` window would serialize
    the whole table through one task at 100 TB; the oracle uses exactly
    that global form, which pins the two-phase rewrite to the canonical
    semantics."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("s"),
        (F.col("o_orderkey") % 60 + 1).cast("int").alias("dur"),
    )
    # both boundary rows from ONE scan (explode of a 2-element array;
    # a union of two selects would scan orders twice)
    deltas = o.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("d"), F.lit(1).alias("delta")),
                F.struct(
                    F.expr("date_add(date_add(s, dur), 1)").alias("d"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b")
    ).select("b.d", "b.delta")
    # per_date is O(distinct boundary dates) — tiny next to orders.
    # Checkpointing it makes the two consumers (in-year cumulative,
    # year offsets) read the small artifact instead of re-scanning the
    # fact table per branch (measured: Catalyst did not plan a
    # ReusedExchange here; without this the orders scan runs twice).
    per_date = (
        deltas.groupBy("d").agg(F.sum("delta").alias("delta")).localCheckpoint()
    )
    yr = F.year("d").alias("y")
    w_in = Window.partitionBy("y").orderBy("d")
    within = per_date.select("d", "delta", yr).withColumn(
        "cum_in", F.sum("delta").over(w_in)
    )
    w_years = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        per_date.groupBy(yr)
        .agg(F.sum("delta").alias("yr_delta"))
        .select("y", F.coalesce(F.sum("yr_delta").over(w_years), F.lit(0)).alias("off"))
    )
    return within.join(F.broadcast(offsets), "y").select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        (F.col("cum_in") + F.col("off")).cast("bigint").alias("n_open"),
    )


@_register(
    "events_user_trend",
    """
    WITH pts AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS DECIMAL(20,0)) AS xm,
             CAST(floor(value * 1000000.0) AS DECIMAL(20,0)) AS ym
      FROM events),
    sums AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(SUM(xm) AS DOUBLE) / 1000000.0 AS sx,
             CAST(SUM(ym) AS DOUBLE) / 1000000.0 AS sy,
             CAST(SUM(xm * ym) AS DOUBLE) / 1000000000000.0 AS sxy,
             CAST(SUM(xm * xm) AS DOUBLE) / 1000000000000.0 AS sxx,
             CAST(count(DISTINCT xm) AS BIGINT) AS nx
      FROM pts GROUP BY user_id)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
    FROM sums
    WHERE nx >= 2 AND (n * sxx - sx * sx) <> 0
    """,
)
def q_events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend: closed-form OLS slope from ALGEBRAIC
    aggregates (n, Σx, Σy, Σxy, Σx²) — one map-side-combinable groupBy,
    no per-group iteration, no Python. Every summed quantity is an
    INTEGER in micro-units (x = epoch-micros; y quantized by
    floor(y·1e6) — the documented quantization of this estimator) held
    as scale-0 DECIMALs, so sums and products are exact AND every
    decimal→double conversion is a single correctly-rounded step on
    both engines. This is load-bearing twice over: (a) per-row
    double→decimal casts of arbitrary PRODUCTS round differently
    across engines at the decimal grid (measured 1-ulp Σxy drift), and
    (b) DuckDB converts scale-k decimals to double via int/10^k — a
    DOUBLE-rounding that disagrees with Spark's single rounding by
    1 ulp; scale-0 sums sidestep both. The rescales and the slope
    formula are then short identical IEEE sequences. (Spark has
    regr_slope, but its accumulation order is engine-specific — the
    exact-sum form is what makes the value hash-checkable.)"""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        F.unix_micros("ts").cast("decimal(20,0)").alias("xm"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("decimal(20,0)").alias("ym"),
    )
    us = F.lit(1_000_000.0)
    us2 = F.lit(1_000_000_000_000.0)
    sums = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("xm").cast("double") / us).alias("sx"),
        (F.sum("ym").cast("double") / us).alias("sy"),
        (F.sum(F.col("xm") * F.col("ym")).cast("double") / us2).alias("sxy"),
        (F.sum(F.col("xm") * F.col("xm")).cast("double") / us2).alias("sxx"),
        F.countDistinct("xm").alias("nx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        sums.filter((F.col("nx") >= 2) & (denom != 0))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom).alias(
                "slope"
            ),
        )
    )


def _weighted_sample_oracle() -> str:
    u = _HASH10.format(x="concat('wsamp|', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             (CAST({u} AS DOUBLE) / 1099511627776.0) / n_chars AS k
      FROM documents WHERE n_chars > 0),
    ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rnk
      FROM keyed)
    SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, n_chars
    FROM ranked WHERE rnk <= 5
    """


@_register("docs_weighted_sample", _weighted_sample_oracle())
def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling per stratum (sequential Poisson
    sampling, Ohlsson 1998): priority key = u/w with u a content-hash
    uniform and w the weight — inclusion probability ∝ weight, fully
    reproducible (no RNG state), and rank-by-key is a per-stratum
    window top-k: one shuffle on the stratum key at any corpus size.
    The key uses only hash, one division, and a compare — no
    transcendental functions, so the oracle's floats are bit-identical
    (the classic exp/log reservoir keys would drift in the last ulp
    across libm implementations)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = parity_hash(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string")))
    from ipeds_etl_spark.operators.sketches import HASH_SPACE

    keyed = d.select(
        "source",
        "doc_id",
        "n_chars",
        ((u.cast("double") / F.lit(HASH_SPACE)) / F.col("n_chars")).alias("k"),
    )
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "doc_id", "n_chars")
    )


_ORACLES2["events_kmv_merge"] = _kmv_merge_oracle()


@_register(
    "orders_dq_report",
    """
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders)
    SELECT r.rule, r.violations, n.total, r.violations = 0 AS passed FROM (
      SELECT 'not_null(o_orderkey,o_custkey)' AS rule,
             CAST(count(*) FILTER (WHERE o_orderkey IS NULL OR o_custkey IS NULL) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'range(o_totalprice)',
             CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL AND o_totalprice < 0) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                     AND o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches(o_orderpriority)',
             CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST(coalesce((SELECT SUM(c) FROM (
               SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0) AS BIGINT)
      UNION ALL
      SELECT 'references(o_custkey)',
             CAST((SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL
                     AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
    ) r CROSS JOIN n
    """,
)
def q_orders_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (`operators/quality.py`): six
    constraint kinds over orders — null checks, range, value set,
    regex, key uniqueness, and referential integrity against customer —
    compiled into one shared full-scan aggregate plus the two rules
    that need their own shape (unique: hash agg on the key;
    references: left-anti join, broadcast at dim size). The report is
    the dbt-test / Deequ contract: (rule, violations, total, passed)."""
    from ipeds_etl_spark.operators import quality as DQ

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return DQ.dq_report(
        o,
        [
            DQ.not_null("o_orderkey", "o_custkey"),
            DQ.accepted_range("o_totalprice", lo=0),
            DQ.in_set("o_orderstatus", ["O", "F", "P"]),
            DQ.matches("o_orderpriority", "^[1-5]-"),
            DQ.unique("o_orderkey"),
            DQ.references("o_custkey", c, "c_custkey"),
        ],
    )


# ===========================================================================
# Product quantization (PQ/ADC): compressed-domain ANN
# ===========================================================================
#: PQ geometry for the 64-dim benchmark embeddings: 4 subspaces × 16
#: dims, 16 codewords each → 4 small ints (codes fit 4 bits each) per
#: vector vs 256 bytes of float32 — a 64× smaller scan footprint; the
#: compression story that makes 100 TB ANN scans cheap.
_PQ_M, _PQ_SUB_DIM, _PQ_K, _PQ_ITERS = 4, 16, 16, 2
#: Shortlist depth for the two-stage (ADC shortlist → exact re-rank)
#: pipeline — measured recall@5 at sf0.01: ADC alone 0.32, re-ranked
#: 0.88; depth is the quality/cost dial.
_PQ_SHORTLIST = 100

def _pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    """PQ sub-codebooks, memoized per corpus version like
    ``_ivf_codebook`` (same billed-once build)."""
    return memo(
        spark,
        (corpus_fingerprint(sf_dir, "embeddings"), "pq", _PQ_M, _PQ_SUB_DIM, _PQ_K, _PQ_ITERS),
        lambda: SIM.build_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            n_subspaces=_PQ_M, sub_dim=_PQ_SUB_DIM,
            n_centroids=_PQ_K, n_iters=_PQ_ITERS,
        ),
    )


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
    lo, hi = s * _PQ_SUB_DIM + 1, (s + 1) * _PQ_SUB_DIM
    sub = f"(SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM {src})"
    cos_vc = _cos_sql("v.embedding", "c.embedding")
    parts = [
        f"{p}_cent0 AS (SELECT vec_id AS cid, embedding FROM {sub} t ORDER BY vec_id LIMIT {_PQ_K})"
    ]
    for it in range(_PQ_ITERS):
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
      FROM {p}_a{it}, range({_PQ_SUB_DIM}) t(i) WHERE rn = 1 GROUP BY cid, i)"""
        )
        parts.append(
            f"{p}_cent{it + 1} AS (SELECT cid, list(mu ORDER BY pos) AS embedding FROM {p}_m{it} GROUP BY cid)"
        )
    parts.append(
        f"""{p}_codes AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT v.vec_id, c.cid, c.embedding,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.cid DESC) AS rn
        FROM {sub} v CROSS JOIN {p}_cent{_PQ_ITERS} c) WHERE rn = 1)"""
    )
    return parts


def _pq_pairs_sql() -> str:
    """The ADC scoring CTE: queries (vec_id < 5, exact vectors) ×
    encoded corpus; approx dot and reconstruction norm² are LEFT-FOLD
    sums over subspaces in fixed order — parenthesized exactly as the
    Spark side chains them, so the floats agree bitwise."""
    parts = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUB_DIM + 1, (s + 1) * _PQ_SUB_DIM
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
        f"JOIN s{s}_codes n{s} ON n{s}.vec_id = n0.vec_id" for s in range(1, _PQ_M)
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
    for s in range(_PQ_M):
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
        _pq_codebook(spark, sf_dir), k=5, sub_dim=_PQ_SUB_DIM,
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
        _pq_codebook(spark, sf_dir), k=5, sub_dim=_PQ_SUB_DIM,
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
        _pq_codebook(spark, sf_dir),
        k=5, n_short=_PQ_SHORTLIST, sub_dim=_PQ_SUB_DIM,
    )
    hits = brute.alias("b").join(
        rr.alias("r"),
        on=[
            F.col("b.query_id") == F.col("r.query_id"),
            F.col("b.neighbor_id") == F.col("r.neighbor_id"),
        ],
        how="left",
    )
    return (
        hits.groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count("*").alias("k"),
            F.count(F.col("r.neighbor_id")).alias("n_hit"),
        )
        .select(
            "query_id",
            "k",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall_at_5"),
        )
    )


@_register(
    "dedup_minhash_recall",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    ),
    lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    rtoks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    rsh AS (SELECT doc_id, list_distinct({_SHINGLES.format(w='w')}) AS s FROM rtoks),
    gold AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rsh a JOIN rsh b ON a.doc_id < b.doc_id
      WHERE 10 * len(list_intersect(a.s, b.s))
            >= 7 * len(list_distinct(list_concat(a.s, b.s))))
    SELECT CAST(count(*) AS BIGINT) AS n_gold,
           CAST(count(l.id_a) AS BIGINT) AS n_hit,
           CAST(count(l.id_a) AS DOUBLE) / count(*) AS recall_at_070
    FROM gold g LEFT JOIN lsh l
      ON g.id_a = l.id_a AND g.id_b = l.id_b
    """,
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash+LSH candidate pairs against the
    EXACT Jaccard ≥ 0.7 pair set — the text-side quality gate matching
    the embedding family's ``emb_rp_lsh_recall``/``emb_pq_recall``.
    0.7 sits at the 16-perm 4×4-band s-curve threshold ((1/4)^(1/4) ≈
    0.707), so the measured number is the s-curve promise made
    empirical and oracle-checked. The gold standard is the O(n²)
    verifier (oracle-scale only, like ``dedup.ngram_jaccard_pairs``,
    the reference the prefix-join tests check against); the threshold compare is cross-multiplied
    integers (10·|∩| ≥ 7·|∪|) — no float until the final ratio."""
    d = _docs(spark, sf_dir)
    lsh = _lsh_doc_pairs(spark, sf_dir)
    sets = d.select("doc_id", TX.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.array_distinct(TX.shingles_of(F.col("toks"), 3)).alias("sh")
    )
    L, R = sets.alias("l"), sets.alias("r")
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    # |A∪B| = |A|+|B|−|A∩B| on distinct arrays (opt r13)
    union = F.size(F.col("l.sh")) + F.size(F.col("r.sh")) - inter
    gold = (
        L.join(R, F.col("l.doc_id") < F.col("r.doc_id"))
        .filter(10 * inter >= 7 * union)
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
    )
    hits = gold.alias("g").join(
        lsh.alias("c"),
        on=[
            F.col("g.id_a") == F.col("c.id_a"),
            F.col("g.id_b") == F.col("c.id_b"),
        ],
        how="left",
    )
    return hits.agg(
        F.count("*").alias("n_gold"),
        F.count(F.col("c.id_a")).alias("n_hit"),
        (F.count(F.col("c.id_a")).cast("double") / F.count("*")).alias(
            "recall_at_070"
        ),
    )


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


@_register(
    "docs_incremental_dedup",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    ),
    inc AS (SELECT doc_id AS inc_id, band, band_key FROM bands WHERE doc_id >= 250),
    ex AS (SELECT doc_id AS ex_id, band, band_key FROM bands WHERE doc_id < 250),
    m AS (
      SELECT DISTINCT i.inc_id, e.ex_id
      FROM inc i JOIN ex e ON i.band = e.band AND i.band_key = e.band_key)
    SELECT d.doc_id,
           CAST(count(m.ex_id) AS BIGINT) AS n_matches,
           count(m.ex_id) = 0 AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
    LEFT JOIN m ON m.inc_id = d.doc_id
    GROUP BY d.doc_id
    """,
)
def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (crawl-over-crawl) dedup: the second half of the
    corpus (doc_id ≥ 250, standing in for a new crawl batch) checked
    against the first half (the previously-kept reference corpus) via
    LSH band collisions restricted to incoming × existing — intra-
    batch and intra-corpus pairs never expand. The production cadence:
    the reference side's banded index is built once and reused per
    batch; each batch costs a bucket join proportional to the BATCH.
    Output: per incoming doc, existing-match count + keep verdict."""
    d = load_table(spark, sf_dir, "documents")
    return DD.incremental_dedup_verdict(
        d, "text", "doc_id", is_existing=F.col("doc_id") < 250
    )


@_register(
    "events_value_exact_quantiles",
    """
    SELECT event_type, 0.5 AS q, quantile_disc(value, 0.5) AS value
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.9 AS q, quantile_disc(value, 0.9) AS value
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    UNION ALL
    SELECT event_type, 0.99 AS q, quantile_disc(value, 0.99) AS value
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def q_events_value_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type quantiles through the two-pass histogram
    refinement (``operators/quantile.py``) — the scale path that
    ``events_value_percentiles``' buffering ``percentile`` aggregate
    is not: no stage holds a whole group. The result is an order
    statistic (an actual element), so the oracle is DuckDB's
    ``quantile_disc`` and values hash with no decimal laundering."""
    from ipeds_etl_spark.operators.quantile import exact_quantiles

    e = load_table(spark, sf_dir, "events")
    return exact_quantiles(e, "value", [0.5, 0.9, 0.99], ["event_type"])


@_register(
    "dedup_minhash_precision",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
          for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
      )}
    ),
    lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    ptoks AS (SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    psh AS (SELECT doc_id, list_distinct({_SHINGLES.format(w='w')}) AS s FROM ptoks),
    verified AS (
      SELECT l.id_a, l.id_b,
             2 * len(list_intersect(a.s, b.s))
               >= len(list_distinct(list_concat(a.s, b.s))) AS is_true
      FROM lsh l
      JOIN psh a ON a.doc_id = l.id_a
      JOIN psh b ON b.doc_id = l.id_b)
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE is_true) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE is_true) AS DOUBLE) / count(*)
             AS precision_at_050
    FROM verified
    """,
)
def q_dedup_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION of the MinHash+LSH candidate pairs against exact
    Jaccard ≥ 0.5 — the complement of ``dedup_minhash_recall``'s
    quality gate (recall tells you what the bucketing missed;
    precision tells you how much the verifier stage must discard).
    Unlike the recall gate's O(n²) gold standard, this one is
    CHEAP at any scale: it verifies only the candidate pairs
    (candidate-fed exact Jaccard — the production verify stage
    measured on itself). Threshold compare cross-multiplied
    (2·|∩| ≥ |∪|) — integers until the final ratio."""
    d = _docs(spark, sf_dir)
    lsh = _lsh_doc_pairs(spark, sf_dir)
    sets = d.select("doc_id", TX.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.array_distinct(TX.shingles_of(F.col("toks"), 3)).alias("sh")
    )
    verified = (
        lsh.join(
            sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            # 2·I ≥ |A∪B| = |A|+|B|−I  ⟺  3·I ≥ |A|+|B| on distinct
            # arrays — same exact integers, no union array (opt r13)
            (
                3 * F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
                >= F.size(F.col("sh_a")) + F.size(F.col("sh_b"))
            ).alias("is_true")
        )
    )
    return verified.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        (
            F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("precision_at_050"),
    )


# ===========================================================================
# Cross-document duplicated-passage fraction (FineWeb-style quality signal)
# ===========================================================================
# k=8 word shingles, 1-based inclusive DuckDB slices (the passage
# length the dedup literature uses for "duplicated n-gram fraction")
_SHINGLES8 = (
    "CASE WHEN len({w}) < 8 THEN [array_to_string({w}, ' ')] "
    "ELSE list_transform(range(len({w}) - 7), i -> array_to_string({w}[i+1:i+8], ' ')) END"
)


@_register(
    "docs_dup_ngram_fraction",
    f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {_HASH10.format(x='g')} AS h
      FROM (SELECT doc_id, unnest({_SHINGLES8.format(w='w')}) AS g FROM t)),
    freq AS (SELECT h, count(*) AS n_docs FROM sh GROUP BY h)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN freq.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN freq.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS shared_frac,
           CAST(sum(CASE WHEN freq.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) <= 0.3 AS keep
    FROM sh JOIN freq ON sh.h = freq.h
    GROUP BY sh.doc_id
    """,
)
def q_docs_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication signal: for every document, the
    fraction of its DISTINCT 8-word shingles that also occur in at
    least one OTHER document — the "duplicated n-gram fraction" filter
    corpus-quality pipelines apply between exact and fuzzy dedup (a
    doc can be globally unique yet 90% boilerplate passages). Exact,
    not sketched.

    Scale shape: within-doc shingle dedup happens MAP-SIDE
    (``array_distinct`` over the hashed shingle array before the
    explode), so the (doc, hash) stream is distinct by construction —
    no dedup shuffle. Cross-doc frequency rides ONE exchange on the
    hash (a count window in place of a groupBy + join-back on the
    same key), and the per-doc rollup is the second — two shuffles
    total for an exact sub-document duplication profile. No Python
    anywhere; the shingle stream never collects."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    # distinct-by-construction: the per-doc hash array is deduped in
    # the map stage; exploding yields exactly one (doc_id, h) row per
    # distinct shingle of the doc
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(TX.shingles_of(F.col("w"), 8), parity_hash)
            )
        ).alias("h"),
    )
    n_docs_h = F.count(F.lit(1)).over(Window.partitionBy("h"))
    flagged = sh.select("doc_id", (n_docs_h > 1).alias("shared"))
    shared_n = F.sum(F.when(F.col("shared"), 1).otherwise(0))
    shared_frac = shared_n.cast("double") / F.count(F.lit(1))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        shared_n.cast("long").alias("n_shared"),
        shared_frac.alias("shared_frac"),
        (shared_frac <= 0.3).alias("keep"),
    )


# ===========================================================================
# Engagement stickiness: DAU / trailing-7-day WAU per day
# ===========================================================================
@_register(
    "events_dau_wau_stickiness",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
    wau AS (
      SELECT days.d AS d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
      FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
      GROUP BY days.d)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           dau.dau AS dau,
           wau.wau AS wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """,
)
def q_events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day — the engagement-stickiness
    series product analytics ships on every dashboard. Rolling
    COUNT(DISTINCT) cannot ride a window frame (distinct is not an
    associative frame aggregate), so the WAU side joins the distinct
    user-day grid to the day spine over a 7-day band and counts
    distinct users per anchor day — exact, engine-portable.

    Scale shape: the user-day grid is one distinct (map-combinable)
    over the raw events; the day spine is |days| rows — BROADCAST, so
    the band join never shuffles the grid; each grid row lands in ≤7
    anchor groups (bounded expansion) and the distinct count is a
    two-phase (anchor, user) exchange over that bounded stream. The
    remaining exchanges (DAU agg, final align) are over day-sized
    frames — O(|days|) rows regardless of corpus. Stickiness is one
    IEEE division of exact counts."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    g = days.select(F.col("d").alias("anchor"))
    wau = (
        ud.join(
            F.broadcast(g),
            (F.col("d") >= F.date_sub(F.col("anchor"), 6))
            & (F.col("d") <= F.col("anchor")),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.anchor)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("day")
    )


# ===========================================================================
# TPC-H Q11 shape: part-value concentration within one nation
# ===========================================================================
@_register(
    "nation_part_value_concentration",
    """
    WITH nv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS value
    FROM nv
    WHERE val * 500 > (SELECT SUM(val) FROM nv)
    ORDER BY value DESC, partkey
    """,
)
def q_nation_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part supplied value within one nation,
    kept only where it exceeds 1/500 of the nation's total — a grouped
    aggregate gated by an uncorrelated scalar aggregate over ITSELF.
    Written as SQL so Catalyst plans the scalar as a broadcast
    (single-row) subquery over the reused ``nv`` aggregate rather
    than a second scan. The threshold is cross-multiplied in exact
    decimal (``val * 500 > total``): no division, hash-identical
    engines. Scale: one fact shuffle on l_partkey; supplier and
    nation broadcast; the nation filter prunes the fact stream inside
    the broadcast-join stage before the exchange."""
    for t in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q11_{t}")
    return spark.sql(
        """
        WITH nv AS (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
          FROM q11_lineitem
          JOIN q11_supplier ON s_suppkey = l_suppkey
          JOIN q11_nation ON n_nationkey = s_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY l_partkey)
        SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS value
        FROM nv
        WHERE val * 500 > (SELECT SUM(val) FROM nv)
        ORDER BY value DESC, partkey
        """
    )


# ===========================================================================
# BPE vocabulary induction: k unrolled merge rounds, oracle-replayed
# ===========================================================================
def _register_bpe():
    K = 6
    SEP = "chr(31)"
    rewrite = (
        f"string_split(list_reduce(s, (acc, x) -> "
        f"CASE WHEN x = mr AND (acc = ml OR ends_with(acc, {SEP} || ml)) "
        f"THEN acc || x ELSE acc || {SEP} || x END), {SEP})"
    )
    parts = [
        """
    w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> regexp_matches(t, '^[a-z]+$'))) AS w
            FROM documents)
      GROUP BY w),
    s0 AS (SELECT n, regexp_extract_all(w, '.') AS s FROM w0)
    """
    ]
    for r in range(K):
        parts.append(
            f"""
    p{r} AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (SELECT n, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr
            FROM s{r} WHERE len(s) > 1)
      GROUP BY 1, 2),
    m{r} AS (SELECT l AS ml, r AS mr, cnt FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1),
    s{r + 1} AS (SELECT n, {rewrite} AS s FROM s{r}, m{r})
    """
        )
    sel = " UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, ml AS left_sym, mr AS right_sym, "
        f"ml || mr AS merged, cnt AS pair_count FROM m{r}"
        for r in range(K)
    )
    oracle = "WITH " + ",".join(parts) + sel + " ORDER BY merge_rank"

    @_register("docs_bpe_merges", oracle)
    def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tokenizer training over the corpus: the first 6 BPE merge
        rules (Sennrich et al. 2016), learned with k fully-unrolled
        declarative rounds — word-frequency table once (the only
        corpus-wide pass; every round after is vocabulary-sized),
        weighted bigram count + deterministic top-1 (count DESC, then
        lexicographic — a total order) + one left-to-right merge pass
        per round. The DuckDB oracle REPLAYS TRAINING end-to-end (same
        string-fold rewrite — the one spelling both engines run
        identically) and the driver value-hashes the learned merges.
        See ``operators/bpe.py`` for the scale argument."""
        from ipeds_etl_spark.operators.bpe import learn_bpe_merges

        d = load_table(spark, sf_dir, "documents")
        return learn_bpe_merges(d, "text", n_merges=6)


_register_bpe()


def _register_bpe_fertility():
    K = 6
    SEP = "chr(31)"
    rewrite = (
        f"string_split(list_reduce(s, (acc, x) -> "
        f"CASE WHEN x = mr AND (acc = ml OR ends_with(acc, {SEP} || ml)) "
        f"THEN acc || x ELSE acc || {SEP} || x END), {SEP})"
    )
    parts = [
        """
    w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> regexp_matches(t, '^[a-z]+$'))) AS w
            FROM documents)
      GROUP BY w),
    s0 AS (SELECT w, n, regexp_extract_all(w, '.') AS s FROM w0)
    """
    ]
    for r in range(K):
        parts.append(
            f"""
    p{r} AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (SELECT n, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS pr
            FROM s{r} WHERE len(s) > 1)
      GROUP BY 1, 2),
    m{r} AS (SELECT l AS ml, r AS mr FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1),
    s{r + 1} AS (SELECT w, n, {rewrite} AS s FROM s{r}, m{r})
    """
        )
    oracle = (
        "WITH "
        + ",".join(parts)
        + f""",
    vocab AS (SELECT w, CAST(len(s) AS BIGINT) AS word_tokens FROM s{K}),
    doc_words AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                        t -> regexp_matches(t, '^[a-z]+$'))) AS w
      FROM documents)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(word_tokens) AS BIGINT) AS n_subword_tokens,
           CAST(SUM(word_tokens) AS DOUBLE) / count(*) AS fertility
    FROM doc_words JOIN vocab USING (w)
    GROUP BY doc_id
    """
    )

    @_register("docs_bpe_fertility", oracle)
    def q_docs_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The APPLY side of BPE training: per-document subword token
        counts and fertility (tokens/word) under the 6-merge tokenizer
        learned from this corpus — the standard tokenizer-quality
        metric (fertility ≈ 1 means the vocabulary fits the corpus).
        Tokenization is a pure word function, so the corpus joins the
        SEGMENTED VOCABULARY by word — the 100 TB corpus is touched
        once for word extraction and once for the join; the k merge
        rounds run on the vocabulary-sized table only. The oracle
        replays training AND application end-to-end."""
        from ipeds_etl_spark.operators.bpe import bpe_word_segmentation

        d = load_table(spark, sf_dir, "documents")
        vocab = bpe_word_segmentation(d, "text", n_merges=6).select(
            "w", F.size("s").cast("long").alias("word_tokens")
        )
        doc_words = d.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        ).filter(F.col("w").rlike("^[a-z]+$"))
        return (
            doc_words.join(vocab, "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("word_tokens").alias("n_subword_tokens"),
                (
                    F.sum("word_tokens").cast("double") / F.count(F.lit(1))
                ).alias("fertility"),
            )
        )


_register_bpe_fertility()


# ===========================================================================
# Passage-level dedup REWRITE: drop globally-duplicated chunks, reassemble
# ===========================================================================
@_register(
    "docs_passage_dedup_rewrite",
    f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKENS.format(x='text')} AS w FROM documents),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(w[i*10+1:i*10+10], ' ') AS chunk
      FROM t, unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)),
    firsts AS (
      SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS first_pos
      FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk
      FROM chunks c JOIN firsts f
        ON c.chunk = f.chunk
       AND c.doc_id * 1000000 + c.chunk_idx = f.first_pos)
    SELECT t.doc_id,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept_chunks,
           CAST(CAST(ceil(len(t.w) / 10.0) AS BIGINT) AS BIGINT) AS n_chunks,
           coalesce(k.cleaned, '') AS cleaned_text
    FROM t LEFT JOIN (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(chunk, ' ' ORDER BY chunk_idx) AS cleaned
      FROM kept GROUP BY doc_id) k
      ON t.doc_id = k.doc_id
    """,
)
def q_docs_passage_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup as a TRANSFORM, not a flag (the CCNet/
    FineWeb rewrite step): split every document into 10-word chunks,
    keep only each chunk's GLOBAL first occurrence (ordered by
    (doc_id, chunk_idx) — deterministic on any engine/partitioning),
    and reassemble the surviving chunks into cleaned text. Documents
    whose every passage appeared earlier collapse to empty — exactly
    what a dedup rewrite should do to fully-boilerplate pages.

    Scale shape: chunking is a map-only row expansion; the global
    first-occurrence is ONE min-aggregate on the chunk text (map-side
    combinable — no window over the full chunk stream), the keep
    filter re-joins on the same key (exchange reused), and reassembly
    is a per-doc sort-agg. Positions are encoded as
    ``doc_id·10⁶+idx`` single BIGINTs so the min is one comparison,
    not a struct order."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("w")
    )
    # size>0 guard: Spark's sequence(0, -1) DESCENDS ([0, -1]) instead
    # of being empty, so a zero-word doc would fabricate a chunk; the
    # base frame below still carries every doc (n_chunks=0, empty text)
    chunks = d.filter(F.size("w") > 0).select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("w") / F.lit(10.0)).cast("long") - 1,
            )
        ).alias("chunk_idx"),
        "w",
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(F.col("w"), F.col("chunk_idx") * 10 + 1, 10), " "
        ).alias("chunk"),
    )
    pos = F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_idx")
    firsts = chunks.groupBy("chunk").agg(F.min(pos).alias("first_pos"))
    kept = chunks.join(firsts, "chunk").filter(pos == F.col("first_pos"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned"),
    )
    base = d.select(
        "doc_id", F.ceil(F.size("w") / F.lit(10.0)).cast("long").alias("n_chunks")
    )
    return base.join(reassembled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept_chunks"),
        "n_chunks",
        F.coalesce("cleaned", F.lit("")).alias("cleaned_text"),
    )
