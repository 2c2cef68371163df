"""Round-6 final wave: community structure, change detection, and
measurement hygiene for the curation pipeline — synchronous label
propagation (LPA) over the near-dup graph, CUSUM changepoint detection
on event volumes, inter-rater agreement (Cohen's kappa) between two
deterministic quality raters, plus the statistical tooling registered
in later batches of this module.

House rules as everywhere: integer/decimal-exact numerators with one
IEEE operation per output cell, bit-length in place of log2 (the libm
ban), ``div`` ↔ ``//`` scaled fixed point, windows only over
metadata-sized or per-entity-bounded frames, iteration only with a
fixed round count and per-round ``localCheckpoint``.

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
    _STOP_PAT,
    _WS_TOKENS,
)
from ipeds_etl_spark.sources.tables import load_table

#: synchronous LPA rounds — fixed, like every iterative operator here
#: (components' star rounds, k-core's peels, PageRank's power steps):
#: a data-dependent convergence loop cannot be oracle-replayed and has
#: unbounded cost at scale; a fixed-round contract has neither problem.
_LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
    )
    parts = [
        _minhash_sig_sql(),
        f"bands AS ({bands})",
        """pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""",
        """edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs)""",
        "lab0 AS (SELECT DISTINCT s AS id, s AS lab FROM edges)",
    ]
    for r in range(_LPA_ROUNDS):
        parts.append(
            f"""n{r + 1} AS (
      SELECT e.s, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM edges e JOIN lab{r} l ON e.d = l.id
      GROUP BY e.s, l.lab)"""
        )
        parts.append(
            f"""lab{r + 1} AS (
      SELECT s AS id, lab FROM (
        SELECT s, lab,
               row_number() OVER (PARTITION BY s ORDER BY c DESC, lab ASC) AS rn
        FROM n{r + 1})
      WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT lab AS community_id, CAST(count(*) AS BIGINT) AS n_members
    FROM lab{_LPA_ROUNDS}
    GROUP BY lab
    ORDER BY n_members DESC, community_id"""
    )


@_register("dedup_lpa_communities", _lpa_oracle())
def q_dedup_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup graph via SYNCHRONOUS
    label propagation (Raghavan et al. 2007, the deterministic
    synchronous variant): every node starts labeled with its own id;
    each round every node adopts the MOST FREQUENT label among its
    neighbors, ties to the smallest label. Two fixed rounds, then
    community sizes. Unlike connected components (`dedup_components`,
    min-label fixpoint), LPA respects edge DENSITY: a chain of
    borderline LSH collisions does not pull two dense duplicate
    clusters into one community, which is exactly the failure mode of
    transitive-closure dedup on boilerplate-heavy corpora.

    Scale: edges come from the memoized banded-LSH pair table (never
    O(n²)). Each round is (1) one join of the O(E) edge list against
    the O(V) label table on the destination key, (2) one
    map-combinable (node, label) count, (3) one per-node argmax via a
    single ``max(struct(count, -label))`` aggregate — no window, no
    SinglePartition. Labels are ``localCheckpoint``-ed per round so
    lineage stays O(1) (the components/PageRank contract). The oracle
    unrolls the same two rounds as CTEs with a row_number argmax."""
    pairs = _lsh_doc_pairs(spark, sf_dir)
    edges = (
        pairs.selectExpr("id_a AS s", "id_b AS d")
        .unionAll(pairs.selectExpr("id_b AS s", "id_a AS d"))
        .localCheckpoint(eager=False)
    )
    cur = edges.select(F.col("s").alias("id")).distinct().withColumn(
        "lab", F.col("id")
    )
    for _r in range(_LPA_ROUNDS):
        # shuffle-hash hint: labels are O(V) and edges O(E) — neither
        # side is broadcastable at scale, and AQE's compressed-bytes
        # estimate has been measured to broadcast a 52M-row edge list
        # at the sf10 smoke (the banded-LSH re-attach trap); pin the
        # strategy instead of trusting the estimate
        nb = edges.join(
            cur.select(F.col("id").alias("d"), "lab").hint("shuffle_hash"),
            "d",
        ).groupBy("s", "lab").agg(F.count(F.lit(1)).alias("c"))
        cur = (
            nb.groupBy("s")
            .agg(
                F.max(
                    F.struct(F.col("c").alias("c"), (-F.col("lab")).alias("nl"))
                ).alias("m")
            )
            .select(F.col("s").alias("id"), (-F.col("m.nl")).alias("lab"))
            .localCheckpoint(eager=False)
        )
    return (
        cur.groupBy(F.col("lab").alias("community_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.desc("n_members"), "community_id")
    )


# ===========================================================================
# CUSUM changepoint detection on daily event volumes
# ===========================================================================
@_register(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tot AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nd
      FROM daily GROUP BY event_type),
    cu AS (
      SELECT daily.event_type, d, nd,
             CAST(SUM(c * nd - total) OVER (
               PARTITION BY daily.event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cusum
      FROM daily JOIN tot USING (event_type)),
    pick AS (
      SELECT event_type, d AS cp_date, abs(cusum) AS peak_abs_cusum,
             nd AS n_days
      FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type ORDER BY abs(cusum) DESC, d ASC) AS rn
            FROM cu)
      WHERE rn = 1),
    seg AS (
      SELECT daily.event_type, cp_date, peak_abs_cusum, n_days,
             CASE WHEN d <= cp_date THEN c END AS cb,
             CASE WHEN d > cp_date THEN c END AS ca
      FROM daily JOIN pick USING (event_type))
    SELECT event_type, strftime(cp_date, '%Y-%m-%d') AS cp_date,
           CAST(peak_abs_cusum AS BIGINT) AS peak_abs_cusum,
           n_days,
           CAST((1000 * SUM(cb)) // count(cb) AS BIGINT) AS mean_before_x1000,
           CASE WHEN count(ca) = 0 THEN NULL
                ELSE CAST((1000 * SUM(ca)) // count(ca) AS BIGINT)
           END AS mean_after_x1000
    FROM seg
    GROUP BY event_type, strftime(cp_date, '%Y-%m-%d'), peak_abs_cusum, n_days
    ORDER BY event_type
    """,
)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day t maximizing
    |Σ_{i≤t} (c_i − mean)| over the daily count series — the classic
    cumulative-deviation statistic (Page 1954), kept INTEGER by
    cross-multiplying the mean away: Σ (c_i·n_days − total) is the
    CUSUM scaled by n_days, and scaling doesn't move the argmax. Ties
    break to the earliest day. Readout: the changepoint date, the
    scaled peak, and mean daily volume before/after (×1000, truncating
    div) — the drift detector a crawl-volume monitor runs per source.

    Scale: daily rollup is one map-combinable agg to O(types × days)
    rows; the running sum windows per type over that METADATA-SIZED
    frame (a type's day count, not its event count); the argmax is a
    ``max(struct)`` agg; the before/after means are one more pass over
    the daily frame joined against the O(types) picks (broadcast)."""
    e = load_table(spark, sf_dir, "events")
    # materialize the daily rollup once: three consumers (totals,
    # running sum, before/after means) would otherwise each rescan the
    # fact table (the events_temporal_split single-scan lesson)
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = daily.join(F.broadcast(tot), "event_type").withColumn(
        "cusum", F.sum(F.col("c") * F.col("nd") - F.col("total")).over(w)
    )
    pick = (
        cu.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("cusum")).alias("a"),
                    (-F.unix_date(F.col("d"))).alias("nud"),
                )
            ).alias("m"),
            F.first("nd").alias("n_days"),
        )
        .select(
            "event_type",
            F.date_from_unix_date(-F.col("m.nud")).alias("cp_date"),
            F.col("m.a").alias("peak_abs_cusum"),
            "n_days",
        )
    )
    # date keys compare as 'yyyy-MM-dd' strings on both engines (the
    # strftime/date_format output idiom used across the registry)
    seg = daily.join(F.broadcast(pick), "event_type")
    return (
        seg.groupBy("event_type", "cp_date", "peak_abs_cusum", "n_days")
        .agg(
            F.expr(
                "CAST((1000 * sum(CASE WHEN d <= cp_date THEN c END))"
                " div count(CASE WHEN d <= cp_date THEN 1 END) AS BIGINT)"
            ).alias("mean_before_x1000"),
            F.expr(
                "CASE WHEN count(CASE WHEN d > cp_date THEN 1 END) = 0 THEN NULL"
                " ELSE CAST((1000 * sum(CASE WHEN d > cp_date THEN c END))"
                " div count(CASE WHEN d > cp_date THEN 1 END) AS BIGINT) END"
            ).alias("mean_after_x1000"),
        )
        .withColumn("cp_date", F.date_format("cp_date", "yyyy-MM-dd"))
        .orderBy("event_type")
    )


# ===========================================================================
# Inter-rater agreement: Cohen's kappa between two deterministic raters
# ===========================================================================
@_register(
    "docs_rater_agreement_kappa",
    f"""
    WITH t AS (
      SELECT {_WS_TOKENS.format(x='text')} AS w,
             CAST(len(regexp_extract_all(text, '{_STOP_PAT}')) AS BIGINT) AS sw
      FROM documents),
    r AS (
      SELECT (2 * len(list_distinct(w)) >= len(w)) AS ra,
             (10 * sw >= len(w)) AS rb
      FROM t),
    ct AS (
      SELECT
        CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS yes_yes,
        CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS yes_no,
        CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS no_yes,
        CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS no_no
      FROM r),
    k AS (
      SELECT yes_yes, yes_no, no_yes, no_no,
             yes_yes + yes_no + no_yes + no_no AS n,
             (yes_yes + yes_no) * (yes_yes + no_yes)
               + (no_yes + no_no) * (yes_no + no_no) AS e
      FROM ct)
    SELECT yes_yes, yes_no, no_yes, no_no,
           CAST((1000 * (yes_yes + no_no)) // n AS BIGINT) AS po_x1000,
           CAST(n * (yes_yes + no_no) - e AS DOUBLE) / (n * n - e) AS kappa
    FROM k
    """,
)
def q_docs_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document-quality raters
    — rater A flags lexical diversity (2·distinct_tokens ≥ tokens),
    rater B flags natural-language stopword density (10·stopwords ≥
    tokens); both are integer cross-multiplied predicates, no ratio
    float ever formed. Kappa comes out of the 2×2 contingency in the
    single-division form κ = (n·agree − Σ marginal products) /
    (n² − Σ marginal products): numerator and denominator are exact
    BIGINTs, ONE IEEE division total — the agreement number a labeling
    pipeline reports before trusting silver labels. Observed agreement
    also reported in exact permille.

    Scale: pure map (two codegen predicates per doc) into one 4-cell
    global aggregate — nothing shuffles but four partial counters."""
    d = _docs(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    r = d.select(
        (2 * F.size(F.array_distinct(toks)) >= F.size(toks)).alias("ra"),
        (10 * TX.stopword_count(F.col("text")) >= F.size(toks)).alias("rb"),
    )
    ct = r.agg(
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("yes_yes"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("yes_no"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("no_yes"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("no_no"),
    )
    n = F.col("yes_yes") + F.col("yes_no") + F.col("no_yes") + F.col("no_no")
    e = (F.col("yes_yes") + F.col("yes_no")) * (
        F.col("yes_yes") + F.col("no_yes")
    ) + (F.col("no_yes") + F.col("no_no")) * (F.col("yes_no") + F.col("no_no"))
    agree = F.col("yes_yes") + F.col("no_no")
    return ct.select(
        "yes_yes",
        "yes_no",
        "no_yes",
        "no_no",
        F.expr(
            "CAST((1000 * (yes_yes + no_no)) div"
            " (yes_yes + yes_no + no_yes + no_no) AS BIGINT)"
        ).alias("po_x1000"),
        ((n * agree - e).cast("double") / (n * n - e)).alias("kappa"),
    )


# ===========================================================================
# Winnowing fingerprints (MOSS) + fingerprint-match pairs
# ===========================================================================
#: winnowing geometry: char K-grams, window of W consecutive gram
#: hashes, stop-fingerprint document-frequency cap, min shared
#: fingerprints to report a pair. K/W per Schleimer et al. 2003 §4:
#: guarantees any match of length >= K + W - 1 = 12 chars shares a
#: fingerprint.
_WIN_K = 5
_WIN_W = 8
_WIN_MAX_DF = 50
_WIN_MIN_SHARED = 3
#: pos packs into the low 20 bits of the selection key — document
#: positions must stay < 2^20 (true by the chunking contract; a 1 MB+
#: doc should flow through docs_chunk_windows first)
_WIN_POS_SCALE = 1 << 20


def _winnow_oracle() -> str:
    from ipeds_etl_spark.functions.hashing import parity_hash_sql

    h = parity_hash_sql(f"substr(text, i + 1, {_WIN_K})")
    return f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(range(len(text) - {_WIN_K - 1}), i ->
               struct_pack(pos := i,
                           key := ({h}) * {_WIN_POS_SCALE} + i))) AS s
      FROM documents WHERE len(text) >= {_WIN_K + _WIN_W - 1}),
    k AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos,
                 CAST(s.key AS BIGINT) AS key FROM g),
    m AS (SELECT doc_id, pos,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS mk,
                 count(*) OVER (PARTITION BY doc_id) AS ng
          FROM k),
    fps AS (SELECT DISTINCT doc_id, mk // {_WIN_POS_SCALE} AS fp
            FROM m WHERE pos <= ng - {_WIN_W}),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WIN_MAX_DF}),
    fx AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fx a JOIN fx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WIN_MIN_SHARED}
    ORDER BY n_shared DESC, id_a, id_b
    """


@_register("docs_winnowing_fingerprints", _winnow_oracle())
def q_docs_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    the MOSS algorithm): hash every char 5-gram, slide a window of 8
    consecutive gram hashes, select the minimum per window (leftmost
    on ties via the packed (hash, pos) key — one BIGINT, hash in the
    high bits, position in the low 20), and the distinct selected
    hashes are the document's fingerprints. Guarantee: any shared
    substring of >= K+W-1 = 12 chars yields a shared fingerprint —
    the EXACT-substring detector that MinHash (set semantics, order
    blind) cannot be. Pairs sharing >= 3 fingerprints are reported,
    after dropping stop-fingerprints present in > 50 docs (boilerplate
    — same role as LSH's hot-bucket cap).

    Scale: gram explode is map-side; the min-select window partitions
    by doc_id and is bounded by DOCUMENT length (the per-entity-
    bounded-frame rule — docs above the 2^20-char position budget go
    through chunking first). Fingerprints per doc ≈ 2·len/(W+1) and
    the pair join is fingerprint-bucketed with the DF cap bounding any
    bucket's expansion at C(50,2) — never O(n²) in the corpus."""
    from ipeds_etl_spark.functions.hashing import parity_hash

    d = _docs(spark, sf_dir).filter(F.length("text") >= _WIN_K + _WIN_W - 1)
    g = d.select(
        "doc_id", F.posexplode(TX.char_ngrams(F.col("text"), _WIN_K)).alias("pos", "g")
    )
    keyed = g.select(
        "doc_id",
        "pos",
        (parity_hash(F.col("g")) * F.lit(_WIN_POS_SCALE) + F.col("pos")).alias("key"),
    )
    wmin = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
            Window.currentRow, _WIN_W - 1
        )
    )
    wcnt = Window.partitionBy("doc_id")
    sel = keyed.select(
        "doc_id",
        "pos",
        F.min("key").over(wmin).alias("mk"),
        F.count(F.lit(1)).over(wcnt).alias("ng"),
    )
    # Pair generation is one in-bucket expansion keyed on the
    # fingerprint (opt r13, guide §2.4): the old rare-filter agg +
    # fx ⋈ fx self-join re-ran the rare agg and broadcast probe on
    # BOTH join sides (14 exchanges / 6 joins), and needed fps
    # checkpointed for its three consumers. collect_set dedupes
    # (doc_id, fp) inside the bucket agg (the separate distinct
    # exchange disappears), the MAX_DF stop-fingerprint rule is
    # cap_mode="drop" (HAVING count <= cap — bucket dropped whole,
    # exactly the rare filter), and the a<b pair stream comes out of
    # the sorted-array expansion with no join at all.
    fps = sel.filter(F.col("pos") <= F.col("ng") - _WIN_W).select(
        "doc_id", F.expr(f"mk div {_WIN_POS_SCALE}").alias("fp")
    )
    pairs = DD.pairs_within_buckets(
        fps,
        ["fp"],
        F.struct(F.col("doc_id").alias("id")),
        max_bucket_size=_WIN_MAX_DF,
        cap_mode="drop",
    )
    return (
        pairs.groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
        .orderBy(F.desc("n_shared"), "id_a", "id_b")
    )


# ===========================================================================
# Temperature-scaled mixture allocation (T = 2 => weights ∝ sqrt(tokens))
# ===========================================================================
_TEMP_BUDGET = 100_000


@_register(
    "docs_temperature_mixture",
    f"""
    WITH toks AS (
      SELECT source,
             CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> len(t) > 0))) AS BIGINT) AS tok
      FROM documents GROUP BY source),
    r0 AS (SELECT source, tok,
                  CAST(floor(sqrt(CAST(tok AS DOUBLE))) AS BIGINT) AS s0
           FROM toks),
    w AS (SELECT source, tok,
                 CASE WHEN (s0 + 1) * (s0 + 1) <= tok THEN s0 + 1
                      WHEN s0 * s0 > tok THEN s0 - 1
                      ELSE s0 END AS isqrt_w
          FROM r0),
    tot AS (SELECT CAST(SUM(isqrt_w) AS BIGINT) AS t FROM w),
    q AS (SELECT source, tok, isqrt_w,
                 CAST(({_TEMP_BUDGET} * isqrt_w) // t AS BIGINT) AS quota_floor,
                 CAST(({_TEMP_BUDGET} * isqrt_w) % t AS BIGINT) AS remainder
          FROM w CROSS JOIN tot),
    l AS (SELECT CAST({_TEMP_BUDGET} - SUM(quota_floor) AS BIGINT) AS leftover
          FROM q),
    r AS (SELECT q.*, l.leftover,
                 row_number() OVER (ORDER BY remainder DESC, source) AS rk
          FROM q CROSS JOIN l)
    SELECT source, tok AS tokens, isqrt_w,
           CAST(quota_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM r ORDER BY source
    """,
)
def q_docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights at T = 2 — allocation
    ∝ sqrt(per-source tokens), the standard move that up-samples small
    high-value sources relative to proportional mixing (multilingual
    and code/web recipes both use it) — then Hamilton-apportioned to
    an exact integer token budget. The sqrt is EXACT integer isqrt:
    libm's sqrt only SEEDS the value, and a ±1 integer correction
    pins floor(√n) regardless of libm rounding (the libm ban held the
    same way the k-means centroid quantization pins floor(x+0.5)).
    Σ allocated == budget exactly, ties to the alphabetically first
    source (the `docs_token_budget_allocation` contract at T = 2).

    Scale: one token agg, O(sources) everything after, one rank window
    over the metadata-sized source list."""
    d = load_table(spark, sf_dir, "documents")
    # one corpus scan: the isqrt weights, their total, the quotas and
    # the leftover would otherwise each re-run the token aggregate
    toks = (
        d.groupBy("source")
        .agg(F.sum(TX.token_count(F.col("text")).cast("long")).alias("tok"))
        .localCheckpoint(eager=False)
    )
    s0 = F.floor(F.sqrt(F.col("tok").cast("double"))).cast("long")
    w = toks.select(
        "source",
        "tok",
        F.when((s0 + 1) * (s0 + 1) <= F.col("tok"), s0 + 1)
        .when(s0 * s0 > F.col("tok"), s0 - 1)
        .otherwise(s0)
        .alias("isqrt_w"),
    )
    tot = w.agg(F.sum("isqrt_w").cast("long").alias("t"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok",
        "isqrt_w",
        F.expr(f"CAST(({_TEMP_BUDGET} * isqrt_w) div t AS BIGINT)").alias(
            "quota_floor"
        ),
        F.expr(f"CAST(({_TEMP_BUDGET} * isqrt_w) % t AS BIGINT)").alias(
            "remainder"
        ),
    )
    leftover = q.agg(
        (F.lit(_TEMP_BUDGET) - F.sum("quota_floor")).cast("long").alias("leftover")
    )
    rk = F.row_number().over(Window.orderBy(F.desc("remainder"), F.asc("source")))
    return (
        q.crossJoin(F.broadcast(leftover))
        .withColumn("rk", rk)
        .select(
            "source",
            F.col("tok").alias("tokens"),
            "isqrt_w",
            (
                F.col("quota_floor")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocated"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Join-key skew profile: exact Gini + concentration shares
# ===========================================================================
@_register(
    "orders_key_skew_profile",
    """
    WITH f AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY o_custkey),
    r AS (SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM f),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS tot,
                 CAST(SUM(i * c) AS BIGINT) AS ic FROM r),
    t10 AS (SELECT CAST(SUM(c) AS BIGINT) AS top10
            FROM (SELECT c FROM f ORDER BY c DESC, k ASC LIMIT 10)),
    mx AS (SELECT CAST(MAX(c) AS BIGINT) AS maxc FROM f)
    SELECT n AS n_keys, tot AS total_rows,
           CAST(2 * ic - (n + 1) * tot AS DOUBLE) / (n * tot) AS gini,
           CAST((1000 * top10) // tot AS BIGINT) AS top10_share_x1000,
           CAST((1000 * maxc) // tot AS BIGINT) AS max_key_share_x1000
    FROM s CROSS JOIN t10 CROSS JOIN mx
    """,
)
def q_orders_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for orders ⋈ customer on o_custkey —
    the numbers a shuffle planner wants BEFORE picking a strategy:
    exact Gini coefficient of the key-frequency distribution (the
    textbook G = (2·Σ i·cᵢ − (n+1)·Σc) / (n·Σc) over ascending-sorted
    counts — numerator and denominator exact BIGINTs, ONE IEEE
    division), top-10-key share and max-single-key share in exact
    permille. Gini ≈ 0 ⇒ hash partitioning balances; high Gini + high
    max share ⇒ salt or AQE-skew-join the hot keys (`operators/
    skew.py` consumes exactly this signal shape).

    Scale: frequency table is one map-combinable agg to O(keys) rows;
    the ascending rank comes from `global_row_number` (range exchange
    + O(partitions) offsets — no SinglePartition window); top-10 is
    TakeOrderedAndProject. The oracle's ORDER BY window is the
    single-node replay."""
    from ipeds_etl_spark.operators.layout import global_row_number

    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    r = global_row_number(f, [F.asc("c"), F.asc("k")], "i")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("ic"),
        F.max("c").cast("long").alias("maxc"),
    )
    t10 = (
        f.orderBy(F.desc("c"), F.asc("k"))
        .limit(10)
        .agg(F.sum("c").cast("long").alias("top10"))
    )
    return s.crossJoin(F.broadcast(t10)).select(
        F.col("n").alias("n_keys"),
        F.col("tot").alias("total_rows"),
        (
            (2 * F.col("ic") - (F.col("n") + 1) * F.col("tot")).cast("double")
            / (F.col("n") * F.col("tot"))
        ).alias("gini"),
        F.expr("CAST((1000 * top10) div tot AS BIGINT)").alias(
            "top10_share_x1000"
        ),
        F.expr("CAST((1000 * maxc) div tot AS BIGINT)").alias(
            "max_key_share_x1000"
        ),
    )


# ===========================================================================
# Deterministic half-sample bootstrap CI for the corpus mean
# ===========================================================================
_BOOT_B = 32


def _bootstrap_oracle() -> str:
    from ipeds_etl_spark.functions.hashing import parity_hash_sql

    h = parity_hash_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    return f"""
    WITH r AS (
      SELECT n_chars,
             unnest(list_filter(range({_BOOT_B}), b -> ({h}) % 2 = 0)) AS b
      FROM documents),
    m AS (SELECT b, CAST((1000 * SUM(n_chars)) // count(*) AS BIGINT) AS mn
          FROM r GROUP BY b),
    s AS (SELECT mn, row_number() OVER (ORDER BY mn) AS rk,
                 count(*) OVER () AS nb
          FROM m),
    f AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST((1000 * SUM(n_chars)) // count(*) AS BIGINT) AS mean_x1000
          FROM documents)
    SELECT n_docs, mean_x1000,
           (SELECT mn FROM s WHERE rk = 2) AS ci_lo_x1000,
           (SELECT mn FROM s WHERE rk = {_BOOT_B - 1}) AS ci_hi_x1000,
           (SELECT CAST(max(nb) AS BIGINT) FROM s) AS n_replicates
    FROM f
    """


@_register("docs_bootstrap_mean_ci", _bootstrap_oracle())
def q_docs_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sample bootstrap CI for mean document length:
    32 replicates, document d belongs to replicate b iff
    parity_hash(doc_id:b) is even — a HASH-RANDOMIZED design (Efron's
    half-sampling flavor) that both engines replay bit-for-bit, unlike
    any RNG-based resample. Each replicate's mean is an exact permille
    (integer sum, truncating div); the 90%-ish CI is the 2nd/31st
    order statistic of the 32 replicate means. This is the error bar a
    corpus-stats dashboard should put on every mean.

    Scale: ONE corpus scan — each row map-side explodes to its ~B/2
    replicate memberships which partial-aggregate to at most
    B × partitions rows before the exchange; everything after is over
    the 32-row replicate frame (the rank window is metadata-sized)."""
    from ipeds_etl_spark.functions.hashing import parity_hash

    d = load_table(spark, sf_dir, "documents")
    reps = d.select(
        "n_chars",
        F.explode(
            F.filter(
                F.sequence(F.lit(0), F.lit(_BOOT_B - 1)),
                lambda b: parity_hash(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        b.cast("string"),
                    )
                )
                % 2
                == 0,
            )
        ).alias("b"),
    )
    m = reps.groupBy("b").agg(
        F.expr("CAST((1000 * sum(n_chars)) div count(*) AS BIGINT)").alias("mn")
    )
    w = Window.orderBy("mn")  # 32 rows: metadata-sized
    s = m.select("mn", F.row_number().over(w).alias("rk")).agg(
        F.min(F.when(F.col("rk") == 2, F.col("mn"))).alias("ci_lo_x1000"),
        F.min(F.when(F.col("rk") == _BOOT_B - 1, F.col("mn"))).alias(
            "ci_hi_x1000"
        ),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )
    f = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST((1000 * sum(n_chars)) div count(*) AS BIGINT)").alias(
            "mean_x1000"
        ),
    )
    return f.crossJoin(F.broadcast(s)).select(
        "n_docs", "mean_x1000", "ci_lo_x1000", "ci_hi_x1000", "n_replicates"
    )


# ===========================================================================
# Language-ID calibration (reliability table vs the labeled lang column)
# ===========================================================================
def _calibration_oracle() -> str:
    from ipeds_etl_spark.functions.text import (
        LANG_STOPWORDS,
        lang_id_sql,
        lang_word_tokens_sql,
    )

    langs = sorted(LANG_STOPWORDS)
    score_sum = " + ".join(f"score_{lg}" for lg in langs)
    top = "list_max([" + ", ".join(f"score_{lg}" for lg in langs) + "])"
    return f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             {lang_word_tokens_sql('text')} AS __lang_toks
      FROM documents),
    s AS (SELECT doc_id, lang, {lang_id_sql('text')} FROM t),
    c AS (
      SELECT lang, pred_lang,
             CASE WHEN {score_sum} = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((1000 * {top}) // ({score_sum}) AS BIGINT)
             END AS conf
      FROM s),
    b AS (SELECT least(conf // 100, 9) AS bin,
                 CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS ok,
                 conf
          FROM c)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(conf) // count(*) AS BIGINT) AS mean_conf_x1000,
           CAST((1000 * SUM(ok)) // count(*) AS BIGINT) AS acc_x1000,
           abs(CAST(SUM(conf) // count(*) AS BIGINT)
               - CAST((1000 * SUM(ok)) // count(*) AS BIGINT)) AS gap_x1000
    FROM b GROUP BY bin ORDER BY bin
    """


@_register("docs_langid_calibration", _calibration_oracle())
def q_docs_langid_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the n-gram language identifier against
    the labeled ``lang`` column: confidence = top stopword score over
    total score in exact permille, binned into deciles; per bin the
    observed accuracy and the |confidence − accuracy| gap — the
    calibration readout (the per-bin terms of ECE, which the test
    assembles) that decides whether lang-id confidences can gate
    filtering thresholds. All counts integer, one truncating div per
    cell, ties and zero-score docs handled identically on both
    engines (conf = 0).

    Scale: map-only scoring (the pre-projected token-array pattern of
    `text_lang_id` — one tokenize, 5 array-membership counts), one
    10-row aggregate."""
    langs = sorted(TX.LANG_STOPWORDS)
    d = _docs(spark, sf_dir).select(
        "lang", "text", TX.lang_word_tokens(F.col("text")).alias("wt")
    )
    scores = TX.lang_scores(F.col("text"), F.col("wt"))
    scored = d.select(
        "lang", *[scores[lg].alias(f"score_{lg}") for lg in langs]
    )
    pred = TX.lang_id_from_scores(
        {lg: F.col(f"score_{lg}") for lg in langs}
    ).alias("pred_lang")
    tot = None
    for lg in langs:
        tot = F.col(f"score_{lg}") if tot is None else tot + F.col(f"score_{lg}")
    top = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    c = scored.select(
        "lang",
        pred,
        tot.alias("tot"),
        top.alias("top"),
    ).select(
        "lang",
        "pred_lang",
        F.expr(
            "CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((1000 * top) div tot AS BIGINT) END"
        ).alias("conf"),
    )
    b = c.select(
        F.least(F.expr("conf div 100"), F.lit(9).cast("long")).alias("bin"),
        F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0).alias("ok"),
        "conf",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(sum(conf) div count(*) AS BIGINT)").alias(
                "mean_conf_x1000"
            ),
            F.expr("CAST((1000 * sum(ok)) div count(*) AS BIGINT)").alias(
                "acc_x1000"
            ),
            F.abs(
                F.expr("CAST(sum(conf) div count(*) AS BIGINT)")
                - F.expr("CAST((1000 * sum(ok)) div count(*) AS BIGINT)")
            ).alias("gap_x1000"),
        )
        .orderBy("bin")
    )


# ===========================================================================
# Recency-weighted engagement score (dyadic decay, exact)
# ===========================================================================
@_register(
    "events_recency_engagement",
    """
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events),
    s AS (
      SELECT user_id,
             CAST(SUM(CAST(1 AS BIGINT) << (16 - least(
               datediff('day', CAST(ts AS DATE), mxd) // 7, 16))) AS BIGINT)
               AS score,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events CROSS JOIN mx GROUP BY user_id)
    SELECT user_id, score, n_events
    FROM s ORDER BY score DESC, user_id LIMIT 25
    """,
)
def q_events_recency_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user engagement for sampling/curriculum
    weighting: each event contributes 2^(16 − weeks_ago) (capped at 16
    weeks), i.e. half-life = one week as an EXACT dyadic weight —
    shifts instead of exp() (the libm ban applied to decay curves).
    Top-25 users by score, ties to the smaller id. A training-data
    sampler uses exactly this shape to over-sample recent activity
    without floating-point drift between runs.

    Scale: one broadcast 1-row max-date, one map-combinable per-user
    agg, TakeOrderedAndProject for the top-k — no window, no sort of
    the full aggregate."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.to_date("ts")).alias("mxd"))
    s = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), 16 - CAST(least("
                    "datediff(mxd, CAST(ts AS DATE)) div 7, 16) AS INT))"
                )
            )
            .cast("long")
            .alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return s.orderBy(F.desc("score"), "user_id").limit(25)


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
# Benford first-digit DQ screen on order totals
# ===========================================================================
#: Benford probabilities log10(1+1/d), scaled 1e6 — fixed integer
#: CONSTANTS (they sum to exactly 1,000,000), so no libm at query time
_BENFORD_X1E6 = (
    (1, 301030),
    (2, 176091),
    (3, 124939),
    (4, 96910),
    (5, 79181),
    (6, 66947),
    (7, 57992),
    (8, 51153),
    (9, 45757),
)


@_register(
    "orders_benford_dq",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit),
    exp AS (SELECT * FROM (VALUES
      {", ".join(f"({d}, {p})" for d, p in _BENFORD_X1E6)}) AS t(digit, p_x1e6))
    SELECT exp.digit, coalesce(cnt, 0) AS cnt, p_x1e6,
           CAST((1000000 * coalesce(cnt, 0)) // n AS BIGINT) AS obs_x1e6,
           CAST(1000000 * coalesce(cnt, 0) - n * p_x1e6 AS BIGINT)
             AS deviation_x1e6
    FROM exp LEFT JOIN obs USING (digit) CROSS JOIN n
    ORDER BY exp.digit
    """,
)
def q_orders_benford_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order totals — the forensic DQ
    test for fabricated or truncated numeric columns. First digit via
    integer rendering (floor → BIGINT → first char: integers print
    identically on every engine; raw DOUBLE strings do not), expected
    shares as FIXED integer constants log10(1+1/d)·10⁶ (they sum to
    exactly 10⁶ — no libm at query time), deviations as exact
    1e6-scaled BIGINTs. The χ² statistic assembles from these exact
    cells in the test; the query itself performs zero IEEE operations.

    Scale: one map + one 9-group agg; the expected table is a 9-row
    literal joined broadcast."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    exp = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(dg).cast("long").alias("digit"),
                            F.lit(p).cast("long").alias("p_x1e6"),
                        )
                        for dg, p in _BENFORD_X1E6
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            "p_x1e6",
            F.expr(
                "CAST((1000000 * coalesce(cnt, 0)) div n AS BIGINT)"
            ).alias("obs_x1e6"),
            (
                1000000 * F.coalesce(F.col("cnt"), F.lit(0))
                - F.col("n") * F.col("p_x1e6")
            )
            .cast("long")
            .alias("deviation_x1e6"),
        )
        .orderBy("digit")
    )


# ===========================================================================
# Skyline layers (onion peeling of the 2-D Pareto frontier)
# ===========================================================================
_SKY_LAYERS = 3


def _skyline_pass(p: DataFrame) -> DataFrame:
    """One 2-D skyline over (p_retailprice, p_size), both minimized —
    the prefix-min spelling of `parts_skyline_2d` (per-price min, then
    the distributed two-phase prefix min; no O(n²) join, no full-data
    window)."""
    per_price = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    pp = per_price.withColumn(
        "bkt", F.floor(F.col("p_retailprice") / 100.0).cast("long")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pp = pp.withColumn("prev_in", F.min("msize").over(w_in))
    bstats = pp.groupBy("bkt").agg(F.min("msize").alias("bmin"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bstats = bstats.withColumn("prev_b", F.min("bmin").over(w_b))
    big = 1 << 31
    prev_min = F.least(
        F.coalesce(F.col("prev_in"), F.lit(big)),
        F.coalesce(F.col("prev_b"), F.lit(big)),
    )
    pref = pp.join(F.broadcast(bstats.select("bkt", "prev_b")), "bkt").select(
        "p_retailprice", "msize", prev_min.alias("prev_min")
    )
    return (
        p.join(pref, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("msize"))
            & (F.col("p_size") < F.col("prev_min"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


def _skyline_layers_oracle() -> str:
    parts = [
        """p0 AS (SELECT p_partkey, p_retailprice, p_size FROM part
             WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)"""
    ]
    for k in range(1, _SKY_LAYERS + 1):
        parts.append(
            f"""s{k} AS (
      SELECT * FROM p{k - 1} p WHERE NOT EXISTS (
        SELECT 1 FROM p{k - 1} q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)))"""
        )
        parts.append(
            f"""p{k} AS (
      SELECT * FROM p{k - 1}
      WHERE p_partkey NOT IN (SELECT p_partkey FROM s{k}))"""
        )
    union = " UNION ALL ".join(
        f"SELECT {k} AS layer, p_partkey, p_retailprice, p_size FROM s{k}"
        for k in range(1, _SKY_LAYERS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(layer AS BIGINT) AS layer, p_partkey, p_retailprice, p_size
    FROM ({union})
    ORDER BY layer, p_retailprice, p_partkey"""
    )


@_register("parts_skyline_layers", _skyline_layers_oracle())
def q_parts_skyline_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion peeling of the cheapest-and-smallest Pareto frontier:
    layer 1 is the skyline, layer 2 the skyline of what remains, layer
    3 of the rest — the ranking a sourcing engine uses when the first
    frontier is exhausted (and, in data terms, the layered non-
    dominated sort NSGA-style selection uses). Each peel is the
    prefix-min skyline (per-price min + two-phase distributed prefix
    min — never the O(n²) dominance join the oracle runs), the
    remainder shrinks monotonically, and the layer count is FIXED at
    3 (the house iterative contract; remainder localCheckpointed per
    round).

    Scale: 3 × (one per-price agg + one metadata-sized bucket window
    + one anti join on p_partkey) — all linear passes."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_retailprice", "p_size")
        .localCheckpoint(eager=False)
    )
    out = None
    cur = p
    for k in range(1, _SKY_LAYERS + 1):
        sky = _skyline_pass(cur).withColumn("layer", F.lit(k).cast("long"))
        out = sky if out is None else out.unionByName(sky)
        if k < _SKY_LAYERS:
            cur = cur.join(
                sky.select("p_partkey"), "p_partkey", "left_anti"
            ).localCheckpoint(eager=False)
    return out.select("layer", "p_partkey", "p_retailprice", "p_size").orderBy(
        "layer", "p_retailprice", "p_partkey"
    )


# ===========================================================================
# Edit-distance verification of LSH candidate pairs
# ===========================================================================
#: Levenshtein is O(len_a × len_b) per pair — cap the compared prefix
#: so per-pair cost is a constant (the banded-verify discipline)
_EDIT_PREFIX = 200


def _edit_verify_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS band_key FROM sig"
        for b in range(DD.N_PERMS // DD.ROWS_PER_BAND)
    )
    return f"""
    WITH {_minhash_sig_sql()},
    bands AS ({bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    px AS (SELECT doc_id, substr(text, 1, {_EDIT_PREFIX}) AS p FROM documents),
    j AS (
      SELECT id_a, id_b,
             CAST(CASE WHEN a.p = b.p THEN 0
                       ELSE levenshtein(a.p, b.p) END AS BIGINT) AS lev,
             CAST(greatest(len(a.p), len(b.p), 1) AS BIGINT) AS mx
      FROM pairs JOIN px a ON a.doc_id = id_a JOIN px b ON b.doc_id = id_b),
    n AS (SELECT id_a, id_b, lev, (1000 * lev) // mx AS norm_x1000 FROM j)
    SELECT least(norm_x1000 // 100, 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(norm_x1000) AS BIGINT) AS min_norm_x1000,
           CAST(max(norm_x1000) AS BIGINT) AS max_norm_x1000
    FROM n GROUP BY least(norm_x1000 // 100, 9) ORDER BY bucket
    """


@_register("dedup_edit_verify", _edit_verify_oracle())
def q_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the LSH candidate pairs — the
    third verifier lens after set-Jaccard (`dedup_minhash_precision`)
    and token diff (`docs_near_dup_diff`): normalized Levenshtein on a
    capped 200-char prefix, histogrammed into permille deciles. Edit
    distance is ORDER- and REPETITION-sensitive where Jaccard is not
    (a shuffled boilerplate page is Jaccard-identical but edit-far),
    so the histogram splits candidates into true copies (bucket 0-1),
    templated variants (mid), and band-collision noise (high).
    Levenshtein is exact INTEGER and implemented identically in both
    engines (proven by `part_name_fuzzy_pairs`).

    Scale: pairs from the memoized banded index; the prefix re-attach
    is two equi-joins (the dedup-family discipline); per-pair cost is
    capped at 200×200 cell updates by the prefix bound — O(pairs)
    total, never O(n²)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _EDIT_PREFIX).alias("p")
    )
    pairs = _lsh_doc_pairs(spark, sf_dir)
    pa = d.select(F.col("doc_id").alias("id_a"), F.col("p").alias("pa"))
    pb = d.select(F.col("doc_id").alias("id_b"), F.col("p").alias("pb"))
    j = pairs.join(pa, "id_a").join(pb, "id_b")
    # equality short-circuit: candidate pairs in clone-heavy corpora
    # mostly share IDENTICAL prefixes, and string equality is O(len)
    # where the DP matrix is O(len²) — free when it fires.
    # DISTINCT-TEXT-PAIR fold (opt r13, guide §1.2 "don't compute
    # things you throw away"): the histogram depends on each pair only
    # through (pa, pb), and candidate sets are clone-heavy by
    # construction (that is what LSH surfaces), so many pairs share
    # the identical prefix TEXTS. Group to one row per distinct
    # (pa, pb) with its multiplicity, run the O(len²) DP once per
    # distinct text pair, and weight the histogram by the count —
    # same rows out, Levenshtein invocations drop from |pairs| to
    # |distinct text pairs| (10× on replica corpora; ≥1× always, and
    # the map-side partial agg keeps the added exchange ≤ the pair
    # stream it replaced).
    grp = j.groupBy("pa", "pb").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    lev = (
        F.when(F.col("pa") == F.col("pb"), F.lit(0))
        .otherwise(F.levenshtein(F.col("pa"), F.col("pb")))
        .cast("long")
    )
    mx = F.greatest(F.length("pa"), F.length("pb"), F.lit(1)).cast("long")
    n = grp.select(lev.alias("lev"), mx.alias("mx"), "cnt").select(
        F.expr("CAST((1000 * lev) div mx AS BIGINT)").alias("norm_x1000"),
        "cnt",
    )
    return (
        n.groupBy(
            F.least(F.expr("norm_x1000 div 100"), F.lit(9).cast("long")).alias(
                "bucket"
            )
        )
        .agg(
            F.sum("cnt").cast("long").alias("n_pairs"),
            F.min("norm_x1000").cast("long").alias("min_norm_x1000"),
            F.max("norm_x1000").cast("long").alias("max_norm_x1000"),
        )
        .orderBy("bucket")
    )


# ===========================================================================
# Nucleus (top-p) source cutoff
# ===========================================================================
@_register(
    "docs_nucleus_sources",
    """
    WITH toks AS (
      SELECT source,
             CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> len(t) > 0))) AS BIGINT) AS tok
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS t FROM toks),
    c AS (SELECT source, tok,
                 CAST(coalesce(SUM(tok) OVER (ORDER BY tok DESC, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
          FROM toks)
    SELECT source, tok AS tokens,
           CAST(cum_before + tok AS BIGINT) AS cum_tokens,
           10 * cum_before < 9 * t AS in_nucleus
    FROM c CROSS JOIN tot
    ORDER BY tokens DESC, source
    """,
)
def q_docs_nucleus_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p, p = 0.9) source cutoff: rank sources by token
    mass descending and keep the smallest prefix covering 90% of the
    corpus — the top-p sampling rule applied to data mixing (drop the
    long tail of scraps, keep the mass). Membership is the exact
    cross-multiplied predicate 10·cum_before < 9·total (a source is in
    while strictly less than 90% is already covered — so the boundary
    source that crosses the line is INCLUDED, matching nucleus
    sampling's convention). No division anywhere.

    Scale: one token agg (map-combinable), then a window over the
    O(sources) frame — metadata-sized by definition."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.groupBy("source")
        .agg(F.sum(TX.token_count(F.col("text")).cast("long")).alias("tok"))
        .localCheckpoint(eager=False)
    )
    tot = toks.agg(F.sum("tok").cast("long").alias("t"))
    w = (
        Window.orderBy(F.desc("tok"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = toks.withColumn(
        "cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0)).cast("long")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("tok").alias("tokens"),
            (F.col("cum_before") + F.col("tok")).cast("long").alias("cum_tokens"),
            (10 * F.col("cum_before") < 9 * F.col("t")).alias("in_nucleus"),
        )
        .orderBy(F.desc("tokens"), "source")
    )


# ===========================================================================
# LSH geometry planner: measured collision work + exact s-curve recall
# ===========================================================================
#: the geometries that factor N_PERMS = 16 signature slots
_LSH_GEOMETRIES = (1, 2, 4, 8, 16)
#: planning threshold the s-curve is evaluated at
_LSH_PLAN_J_NUM, _LSH_PLAN_J_DEN = 7, 10  # J = 0.7 as an exact rational


def _lsh_recall_x1e6(r: int, b: int) -> int:
    """P(candidate | J=0.7) = 1 − (1 − 0.7^r)^b as an EXACT rational:
    (den^(r·b) − (den^r − num^r)^b) · 10^6 // den^(r·b). Pure integer —
    the s-curve promise with no libm, identical on every engine by
    construction (it is a literal)."""
    num, den = _LSH_PLAN_J_NUM, _LSH_PLAN_J_DEN
    miss = (den**r - num**r) ** b
    full = den ** (r * b)
    return ((full - miss) * 10**6) // full


def _lsh_planner_oracle() -> str:
    from ipeds_etl_spark.operators.dedup import N_PERMS

    parts = [_minhash_sig_sql()]
    selects = []
    for r in _LSH_GEOMETRIES:
        b = N_PERMS // r
        band_sel = " UNION ALL ".join(
            "SELECT doc_id, {j} AS band, {key} AS key FROM sig".format(
                j=j,
                key=" || '_' || ".join(
                    f"CAST(mh{j * r + k} AS VARCHAR)" for k in range(r)
                ),
            )
            for j in range(b)
        )
        parts.append(
            f"""g{r} AS (
      SELECT band, key, CAST(count(*) AS BIGINT) AS sz
      FROM ({band_sel}) GROUP BY band, key)"""
        )
        selects.append(
            f"""SELECT {r} AS rows_per_band, {b} AS n_bands,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS collision_pairs,
             CAST({_lsh_recall_x1e6(r, b)} AS BIGINT) AS est_recall_at_07_x1e6
      FROM g{r}"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(selects)
        + "\n    ORDER BY rows_per_band"
    )


@_register("dedup_lsh_geometry_planner", _lsh_planner_oracle())
def q_dedup_lsh_geometry_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning table: for every (rows_per_band r, bands b)
    geometry that factors the 16-slot signature, the MEASURED collision
    work on THIS corpus (Σ C(bucket_size, 2) — the number of candidate
    checks the verify stage would pay, double-counting across bands
    exactly as the work is paid) next to the THEORETICAL s-curve recall
    at J = 0.7, computed as an exact rational (1 − (1 − (7/10)^r)^b
    in pure integer arithmetic — no libm, the estimator-calibration
    promise as a planning constant). A dedup owner reads this table to
    pick the geometry: r=4 (the registry default) vs r=2 trades ~×k
    collision work for the recall step the adjacent column shows.

    Scale: the signature table builds ONCE (map-only narrow stage,
    localCheckpoint shared by all five geometries — these are five
    DIFFERENT band groupings, so no exchange reuse is possible); per
    geometry one (band,key) count agg and a 1-row rollup. Work is
    O(docs × bands) rows per geometry, never pair expansion."""
    from ipeds_etl_spark.operators.dedup import N_PERMS

    d = load_table(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(d, "text", "doc_id").localCheckpoint(
        eager=False
    )
    out = None
    for r in _LSH_GEOMETRIES:
        b = N_PERMS // r
        buckets = DD.lsh_band_buckets(sigs, "doc_id", rows_per_band=r)
        g = buckets.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        s = g.agg(
            F.lit(r).cast("long").alias("rows_per_band"),
            F.lit(b).cast("long").alias("n_bands"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.expr("CAST(SUM(sz * (sz - 1) div 2) AS BIGINT)").alias(
                "collision_pairs"
            ),
            F.lit(_lsh_recall_x1e6(r, b)).cast("long").alias(
                "est_recall_at_07_x1e6"
            ),
        ).select(
            "rows_per_band",
            "n_bands",
            "n_buckets",
            "collision_pairs",
            "est_recall_at_07_x1e6",
        )
        out = s if out is None else out.unionByName(s)
    return out.orderBy("rows_per_band")


# ===========================================================================
# Burstiness (Fano factor) of daily event volumes
# ===========================================================================
@_register(
    "events_burstiness_fano",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS sc,
                 CAST(SUM(c * c) AS BIGINT) AS scc
          FROM daily GROUP BY event_type)
    SELECT event_type, n AS n_days,
           CAST((1000 * sc) // n AS BIGINT) AS mean_x1000,
           CASE WHEN n > 1 THEN
             CAST((1000 * (n * scc - sc * sc)) // ((n - 1) * sc) AS BIGINT)
           END AS fano_x1000
    FROM s ORDER BY event_type
    """,
)
def q_events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of daily event volume per type: the Fano factor
    (sample variance over mean) in exact permille — Fano ≈ 1 is
    Poisson-like arrivals, ≫ 1 is bursty (bot traffic, batch imports),
    ≪ 1 is rate-limited. Variance/mean simplifies to the single
    truncating division (n·Σc² − (Σc)²) div ((n−1)·Σc) — numerator and
    denominator exact BIGINTs (keep daily counts under ~3·10⁹ so c²
    sums stay in range; at larger volumes widen to DECIMAL(38,0)).
    Pairs with `events_cusum_changepoint`: CUSUM finds WHERE the level
    shifted, Fano says whether the series is shift-prone at all.

    Scale: one map-combinable daily rollup, one O(types) rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("CAST((1000 * sc) div n AS BIGINT)").alias("mean_x1000"),
        F.expr(
            "CASE WHEN n > 1 THEN"
            " CAST((1000 * (n * scc - sc * sc)) div ((n - 1) * sc) AS BIGINT)"
            " END"
        ).alias("fano_x1000"),
    ).orderBy("event_type")


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
    ``multimodal_audio_windows`` family, which reads its fingerprints."""
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
