"""Round-10 wave: experimentation + sampling + LM-scoring depth —
a rank-based Mann-Whitney U guardrail (the nonparametric twin of
``events_ab_test``'s moment readout), a Duffield-Lund-Thorup priority
sample with its subset-sum estimator audited against the exact total,
a CCNet-style held-out bigram-LM document scorer (trained on one
reference source, integer floor-log2 surprisal), and an embedding
near-dup threshold sweep (the tuning curve an operator reads before
committing a 100 TB dedup threshold — same operational-surface class
as ``emb_ivf_probe_sweep``).

House rules as in ``queries_wave12``: integer-exact or op-order-pinned
arithmetic on both engines, every aggregate aliased identically in
Spark and DuckDB, no transcendental functions anywhere (ranks, integer
bit lengths, one-division doubles). The reference (kebe3476/ipeds_etl)
ships none of these; they extend its surface under the same
oracle-twin discipline (COVERAGE.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions import text as TX
from ipeds_etl_spark.functions.hashing import parity_hash, parity_hash_sql
from ipeds_etl_spark.operators import sampling as SAMP
from ipeds_etl_spark.queries import _register
from ipeds_etl_spark.queries_ext import _WS_TOKENS
from ipeds_etl_spark.sources.tables import load_table

_DEC = "decimal(38,0)"


# ===========================================================================
# Mann-Whitney U: rank-based A/B lift (nonparametric guardrail)
# ===========================================================================
def _mwu_oracle() -> str:
    bucket = SAMP.sample_bucket_sql("user_id", salt="ab")
    return f"""
    WITH assigned AS (
      SELECT event_type, value,
             CASE WHEN {bucket} < 50 THEN 'A' ELSE 'B' END AS arm
      FROM events WHERE value IS NOT NULL),
    vc AS (
      SELECT event_type, value,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM assigned GROUP BY event_type, value),
    pre AS (
      SELECT event_type, ca, cb,
             CAST(COALESCE(SUM(cb) OVER (
               PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cb_less
      FROM vc),
    agg AS (
      SELECT event_type,
             CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b,
             CAST(SUM(CAST(ca AS HUGEINT) * (2 * cb_less + cb))
                  AS DECIMAL(38,0)) AS two_u_a,
             CAST(SUM(CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)
                           AS HUGEINT)) AS DECIMAL(38,0)) AS tie_term
      FROM pre GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           CAST(two_u_a AS DOUBLE) AS two_u_a,
           CAST(tie_term AS DOUBLE) AS tie_term,
           CASE WHEN n_a * n_b > 0 THEN
             CAST(two_u_a AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0
           END AS rank_biserial,
           CASE WHEN n_a * n_b > 0 AND
                CAST(n_a + n_b + 1 AS DOUBLE)
                  * CAST(n_a + n_b AS DOUBLE)
                  * CAST(n_a + n_b - 1 AS DOUBLE)
                  - CAST(tie_term AS DOUBLE) > 0.0 THEN
             (3.0 * CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)
                * (CAST(two_u_a - n_a * n_b AS DOUBLE)
                   * CAST(two_u_a - n_a * n_b AS DOUBLE)))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                * (CAST(n_a + n_b + 1 AS DOUBLE)
                   * CAST(n_a + n_b AS DOUBLE)
                   * CAST(n_a + n_b - 1 AS DOUBLE)
                   - CAST(tie_term AS DOUBLE)))
           END AS z_sq
    FROM agg ORDER BY event_type
    """


@_register("events_mann_whitney_u", _mwu_oracle())
def q_events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the deterministic A/B arms, per event
    type — the rank-based lift test an experimentation guardrail runs
    NEXT TO ``events_ab_test``'s mean/variance readout (means move
    with one whale; rank statistics don't) and ``events_srm_check``'s
    assignment audit. Emitted as exact sufficient statistics:
    ``two_u_a`` = 2·U_A with the standard half-credit tie convention
    (doubling keeps it integral), accumulated in DECIMAL(38,0) —
    per-row the product ca·(2·cb_less+cb) is computed in decimal/
    HUGEINT too, since it is quadratic in per-(type,value) arm counts
    (ADVICE r10: a long sum would silently wrap past ~4.3e9 events of
    one value while DuckDB's checked cast errors) — and the
    tie-correction term Σ(t³−t)
    accumulated in DECIMAL(38,0) (per-row t³ fits int64 up to ~2.09M
    duplicates of ONE exact double value inside one event type;
    everything ACCUMULATED is checked decimal — the
    ``customer_revenue_gini`` envelope discipline; the OUTPUT column
    ships as double — exact below 2^53, correctly-rounded and
    engine-identical above, and unlike a bigint cast it cannot wrap),
    and two derived doubles with pinned op
    order: the rank-biserial effect size 2U/(n_a·n_b)−1 and the
    tie-corrected z² (z itself needs sqrt; the square is the same
    decision statistic — compare to χ²₁ — without libm).

    U is computed WITHOUT ranking raw events: counts per (type,
    value, arm) first (one map-combinable exchange), then U_A =
    Σ_v ca(v)·(2·Σ_{{v'<v}} cb(v') + cb(v)) via a prefix-sum window
    over the DISTINCT-VALUE frame — the window input is O(distinct
    values per type), not O(events), so no corpus-sized sort exists
    in the plan (the two-phase range-exchange form in
    ``operators/layout`` remains the spelling if distinct values ever
    approach event count). One final O(types) rollup."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arm = F.when(
        SAMP.sample_bucket(F.col("user_id"), salt="ab") < 50, "A"
    ).otherwise("B")
    vc = (
        e.select("event_type", "value", arm.alias("arm"))
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = vc.select(
        "event_type",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).cast("long").alias("cb_less"),
    )
    t = F.col("ca") + F.col("cb")
    agg = pre.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca").cast(_DEC) * (2 * F.col("cb_less") + F.col("cb")))
        .cast(_DEC)
        .alias("two_u_a"),
        F.sum((t * t * t - t).cast(_DEC)).cast(_DEC).alias("tie_term"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nd = (n_a + n_b).cast("double")
    nd1 = (n_a + n_b - 1).cast("double")
    tie_d = F.col("tie_term").cast("double")
    denom3 = (n_a + n_b + 1).cast("double") * nd * nd1 - tie_d
    diff_d = (F.col("two_u_a") - n_a * n_b).cast("double")
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.col("two_u_a").cast("double").alias("two_u_a"),
        F.col("tie_term").cast("double").alias("tie_term"),
        F.when(
            n_a * n_b > 0,
            F.col("two_u_a").cast("double")
            / (n_a.cast("double") * n_b.cast("double"))
            - 1.0,
        ).alias("rank_biserial"),
        F.when(
            (n_a * n_b > 0) & (denom3 > 0.0),
            (3.0 * nd * nd1 * (diff_d * diff_d))
            / (n_a.cast("double") * n_b.cast("double") * denom3),
        ).alias("z_sq"),
    ).orderBy("event_type")


# ===========================================================================
# Priority sampling (Duffield-Lund-Thorup 2007) + subset-sum estimator
# ===========================================================================
_PS_K = 32
#: 2^40 — the parity-hash space; u = (h+1)/2^40 ∈ (0, 1]
_PS_HS = float(1 << 40)


def _psamp_oracle() -> str:
    h = parity_hash_sql("concat('psamp|', CAST(event_id AS VARCHAR))")
    k = _PS_K
    return f"""
    WITH w AS (
      SELECT event_type, event_id, value,
             (value * {_PS_HS:.1f}) / CAST({h} + 1 AS DOUBLE) AS q
      FROM events WHERE value IS NOT NULL AND value > 0),
    r AS (
      SELECT event_type, event_id, value, q,
             row_number() OVER (
               PARTITION BY event_type ORDER BY q DESC, event_id) AS rn
      FROM w),
    tau AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN rn = {k + 1} THEN q END), 0.0) AS tau
      FROM r WHERE rn <= {k + 1} GROUP BY event_type),
    samp AS (
      SELECT r.event_type,
             CAST(floor(GREATEST(r.value, t.tau) * 1000000.0)
                  AS DECIMAL(38,0)) AS m
      FROM r JOIN tau t ON r.event_type = t.event_type
      WHERE r.rn <= {k}),
    truth AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             SUM(CAST(floor(value * 1000000.0) AS DECIMAL(38,0))) AS tm
      FROM w GROUP BY event_type),
    est AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k_used,
             SUM(m) AS em
      FROM samp GROUP BY event_type)
    SELECT t.event_type, t.n_events, e.k_used,
           ta.tau AS tau,
           CAST(e.em AS DOUBLE) / 1000000.0 AS est_sum,
           CAST(t.tm AS DOUBLE) / 1000000.0 AS true_sum,
           ((CAST(e.em AS DOUBLE) - CAST(t.tm AS DOUBLE))
             / CAST(t.tm AS DOUBLE)) * 1000.0 AS err_permille
    FROM truth t
    JOIN est e ON t.event_type = e.event_type
    JOIN tau ta ON t.event_type = ta.event_type
    ORDER BY t.event_type
    """


@_register("events_priority_sample_estimator", _psamp_oracle())
def q_events_priority_sample_estimator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007): each event
    gets priority q = w/u with w its value-weight and u a content-hash
    uniform in (0,1]; the k highest priorities per event type form the
    sample, τ = the (k+1)-th priority, and Σ max(wᵢ, τ) over the
    sample is an UNBIASED estimator of the true total — the audit
    column here compares it to the exact total (err_permille). This
    is the fixed-size weighted sample a 100 TB pipeline keeps per
    stratum when the full pass is too expensive to repeat; unlike the
    sequential-Poisson sampler (``docs_weighted_sample``, Ohlsson) it
    ships with a subset-sum ESTIMATOR and its threshold, so the
    sample answers total-weight queries, not just membership. No
    transcendental key (the classic exp/log reservoir keys drift in
    the last ulp across libm): q is one multiply + one divide of
    doubles, identical on both engines; the estimator sums in exact
    micro-unit decimals with ONE double conversion at the end.

    Scale: the only window is row_number ranked-filter per event
    type, which Spark rewrites to WindowGroupLimit — a map-side
    per-partition top-(k+1) BEFORE the exchange, so the shuffle
    carries O(partitions · k) rows, not the corpus. τ is an O(types)
    frame broadcast back onto k rows; the exact-total pass is one
    map-combinable agg."""
    k = _PS_K
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    h = parity_hash(F.concat(F.lit("psamp|"), F.col("event_id").cast("string")))
    w = e.select(
        "event_type",
        "event_id",
        "value",
        ((F.col("value") * F.lit(_PS_HS)) / (h + 1).cast("double")).alias("q"),
    )
    rn_w = Window.partitionBy("event_type").orderBy(
        F.col("q").desc(), F.col("event_id")
    )
    r = w.withColumn("rn", F.row_number().over(rn_w)).filter(
        F.col("rn") <= k + 1
    )
    tau = r.groupBy("event_type").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("q"))), F.lit(0.0)
        ).alias("tau")
    )
    samp = (
        r.filter(F.col("rn") <= k)
        .join(F.broadcast(tau), "event_type")
        .select(
            "event_type",
            F.floor(F.greatest(F.col("value"), F.col("tau")) * 1000000.0)
            .cast(_DEC)
            .alias("m"),
        )
    )
    truth = w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000000.0).cast(_DEC)).alias("tm"),
    )
    est = samp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum("m").alias("em"),
    )
    em_d = F.col("em").cast("double")
    tm_d = F.col("tm").cast("double")
    return (
        truth.join(est, "event_type")
        .join(F.broadcast(tau), "event_type")
        .select(
            "event_type",
            "n_events",
            "k_used",
            # tau ships as the raw double (ADVICE r10: floor(tau*1e6)
            # → BIGINT was the one unchecked narrowing cast here — a
            # heavy stratum can push it past int64, where DuckDB
            # errors and Spark wraps; the double quotient itself is
            # op-order-pinned and engine-identical)
            F.col("tau").alias("tau"),
            (em_d / 1000000.0).alias("est_sum"),
            (tm_d / 1000000.0).alias("true_sum"),
            (((em_d - tm_d) / tm_d) * 1000.0).alias("err_permille"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Held-out bigram-LM scoring (CCNet-style quality filter)
# ===========================================================================
#: LM training source — deterministic literal; src0 plays the role of
#: CCNet's "target-domain" (Wikipedia) corpus.
_LM_REF_SOURCE = "src0"


def _bigram_lm_oracle() -> str:
    ref = _LM_REF_SOURCE
    return f"""
    WITH t AS (SELECT doc_id, source, {_WS_TOKENS.format(x='text')} AS w
               FROM documents),
    bg AS (
      SELECT source, w[i + 1] AS a, w[i + 2] AS b
      FROM (SELECT source, w, unnest(range(len(w) - 1)) AS i
            FROM t WHERE len(w) >= 2)),
    ref1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1
             FROM bg WHERE source = '{ref}' GROUP BY a),
    ref2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2
             FROM bg WHERE source = '{ref}' GROUP BY a, b),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
          FROM (SELECT unnest(w) AS tok FROM t WHERE source = '{ref}')),
    scored AS (
      SELECT bg.source,
             CAST(length(to_base(COALESCE(ref1.c1, 0) + v.vsz, 2))
                  - length(to_base(COALESCE(ref2.c2, 0) + 1, 2)) AS BIGINT)
               AS bits
      FROM bg
      LEFT JOIN ref1 ON bg.a = ref1.a
      LEFT JOIN ref2 ON bg.a = ref2.a AND bg.b = ref2.b
      CROSS JOIN v)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS sum_bits,
           CAST(SUM(bits) AS DOUBLE) / count(*) AS avg_bits
    FROM scored GROUP BY source ORDER BY source
    """


@_register("docs_bigram_lm_ppl", _bigram_lm_oracle())
def q_docs_bigram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train an
    add-one-smoothed BIGRAM model on one reference source (src0 — the
    stand-in for CCNet's Wikipedia target domain) and score every
    source's text by average conditional surprisal under it — sources
    whose word SEQUENCES look like the reference score low, sources
    of shuffled/boilerplate/junk text score high even when their
    unigram mix looks fine (the signal ``docs_unigram_surprisal``
    cannot see, and the conditional-probability table
    ``docs_bigram_conditionals`` builds but never applies to held-out
    text). Surprisal per bigram is the integer floor-log2 surrogate
    of −log2 (c2+1)/(c1+V): bitlength(c1(a)+V) − bitlength(c2(a,b)+1)
    via binary-string length — pure integer arithmetic, bit-identical
    across engines (the house libm ban); unseen heads degrade to
    −log2(1/V) exactly as add-one smoothing prescribes. Non-negative
    by construction (c2 ≤ c1, 1 ≤ V).

    Scale: bigrams are generated MAP-SIDE from each doc's token array
    (no position self-join); the model is two count exchanges bounded
    by the REFERENCE source's bigram vocabulary, not the corpus; the
    scoring joins are keyed on token/bigram — when the reference
    vocab fits in memory they auto-broadcast, otherwise they ride the
    same hash exchange the counts already paid. One O(sources)
    rollup + a broadcast 1-row vocab size."""
    ref = _LM_REF_SOURCE
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("w")
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS a, w[i+1] AS b))"
                )
            ).alias("s"),
        )
        .select("source", F.col("s.a").alias("a"), F.col("s.b").alias("b"))
    )
    ref_bg = bg.filter(F.col("source") == ref)
    ref1 = ref_bg.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    ref2 = ref_bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    v = (
        d.filter(F.col("source") == ref)
        .select(F.explode("w").alias("tok"))
        .agg(F.countDistinct("tok").cast("long").alias("vsz"))
    )
    bits = F.length(F.conv((F.coalesce(F.col("c1"), F.lit(0)) + F.col("vsz")).cast("string"), 10, 2)).cast(
        "long"
    ) - F.length(
        F.conv((F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("string"), 10, 2)
    ).cast("long")
    scored = (
        bg.join(ref1, "a", "left")
        .join(ref2, ["a", "b"], "left")
        .crossJoin(F.broadcast(v))
        .select("source", bits.alias("bits"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("sum_bits"),
            (F.sum("bits").cast("double") / F.count(F.lit(1))).alias(
                "avg_bits"
            ),
        )
        .orderBy("source")
    )


# ===========================================================================
# Embedding near-dup threshold sweep (dedup tuning curve)
# ===========================================================================
_SWEEP_T100 = [30, 35, 40, 45, 50]
_SWEEP_FLOOR = 0.30


def _dup_sweep_oracle() -> str:
    from ipeds_etl_spark.queries_ext import _cos_sql, _ivf_sql

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
    from ipeds_etl_spark.queries_ext import _ivf_codebook

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
        e, "vec_id", "embedding", None, cent_rows=_ivf_codebook(spark, sf_dir)
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
# CUPED variance reduction (Deng et al. 2013)
# ===========================================================================
def _cuped_oracle() -> str:
    bucket = SAMP.sample_bucket_sql("user_id", salt="ab")
    return f"""
    WITH ev AS (
      SELECT event_type, user_id, epoch_us(ts) AS us,
             CAST(floor(value * 1000000.0) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL),
    mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev),
    u AS (
      SELECT event_type, user_id,
             CASE WHEN {bucket} < 50 THEN 'A' ELSE 'B' END AS arm,
             CAST(COALESCE(SUM(CASE WHEN us < mid.mid_us THEN m END), 0)
                  AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN us >= mid.mid_us THEN m END), 0)
                  AS BIGINT) AS y
      FROM ev CROSS JOIN mid GROUP BY event_type, user_id, mid.mid_us),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(CASE WHEN arm = 'A' THEN x ELSE 0 END AS HUGEINT)) AS sxa,
             SUM(CAST(CASE WHEN arm = 'A' THEN y ELSE 0 END AS HUGEINT)) AS sya,
             SUM(CAST(CASE WHEN arm = 'B' THEN x ELSE 0 END AS HUGEINT)) AS sxb,
             SUM(CAST(CASE WHEN arm = 'B' THEN y ELSE 0 END AS HUGEINT)) AS syb
      FROM u GROUP BY event_type),
    c AS (
      SELECT event_type, n_users, n_a, n_b,
             CAST(n_users * sxx - sx * sx AS DOUBLE) AS sxx_c,
             CAST(n_users * sxy - sx * sy AS DOUBLE) AS sxy_c,
             CAST(n_users * syy - sy * sy AS DOUBLE) AS syy_c,
             CAST(sxa AS DOUBLE) AS sxa_d, CAST(sya AS DOUBLE) AS sya_d,
             CAST(sxb AS DOUBLE) AS sxb_d, CAST(syb AS DOUBLE) AS syb_d
      FROM g)
    SELECT event_type, n_users, n_a, n_b,
           CASE WHEN sxx_c > 0.0 THEN sxy_c / sxx_c END AS theta,
           CASE WHEN sxx_c > 0.0 AND syy_c > 0.0 THEN
             (sxy_c * sxy_c) / (sxx_c * syy_c) END AS var_reduction,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ((syb_d / n_b) - (sya_d / n_a)) / 1000000.0 END AS diff_raw,
           CASE WHEN n_a > 0 AND n_b > 0 AND sxx_c > 0.0 THEN
             (((syb_d / n_b) - ((sxy_c / sxx_c) * (sxb_d / n_b)))
              - ((sya_d / n_a) - ((sxy_c / sxx_c) * (sxa_d / n_a))))
             / 1000000.0 END AS diff_cuped
    FROM c ORDER BY event_type
    """


@_register("events_cuped_adjustment", _cuped_oracle())
def q_events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) per event type: the
    data's time range splits at its midpoint into pre/post periods,
    each user's pre-period value total is the covariate X and the
    post-period total the metric Y, θ = Cov(X,Y)/Var(X) is fitted
    POOLED (arm-blind, as the method requires to stay unbiased), and
    the readout is the achieved variance reduction ρ² = Corr(X,Y)²
    next to the raw and CUPED-adjusted B−A mean lifts. This completes
    the experimentation guardrail suite — ``events_ab_test`` (moments),
    ``events_mann_whitney_u`` (ranks), ``events_srm_check``
    (assignment health) — with the sensitivity lever production
    platforms apply before any of them read significance.

    Arithmetic: per-event values floor-quantize to micro-units ONCE;
    per-user (X, Y) are exact integer sums; all corpus-level moments
    (Σx, Σxy, …) accumulate in HUGEINT/DECIMAL(38,0); the centered
    second moments n·Σxy − ΣxΣy convert to double in ONE cast each
    (their squares would overflow any fixed decimal, so ρ² is a
    pinned-order double expression), divisions ordered identically on
    both engines. Period split uses exact epoch MICROS (`unix_micros`
    ↔ `epoch_us` — the truncating-vs-fractional `epoch()` trap).

    Scale: one map-combinable (type, user) exchange builds the
    per-user frame (the midpoint is a broadcast 1-row frame), one
    O(types) rollup computes every moment — a metrics pass, no joins
    beyond the broadcast, nothing driver-side."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev = e.select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 1000000.0).cast("long").alias("m"),
    )
    mid = ev.agg(F.expr("(min(us) + max(us)) div 2").alias("mid_us"))
    arm = F.when(
        SAMP.sample_bucket(F.col("user_id"), salt="ab") < 50, "A"
    ).otherwise("B")
    u = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "user_id", "mid_us")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("us") < F.col("mid_us"), F.col("m"))),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("us") >= F.col("mid_us"), F.col("m"))),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
        .select("event_type", "user_id", arm.alias("arm"), "x", "y")
    )
    x_dec = F.col("x").cast(_DEC)
    y_dec = F.col("y").cast(_DEC)
    g = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(x_dec).alias("sx"),
        F.sum(y_dec).alias("sy"),
        F.sum(x_dec * F.col("x")).alias("sxx"),
        F.sum(x_dec * F.col("y")).alias("sxy"),
        F.sum(y_dec * F.col("y")).alias("syy"),
        F.sum(F.when(F.col("arm") == "A", F.col("x")).otherwise(0).cast(_DEC))
        .alias("sxa"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0).cast(_DEC))
        .alias("sya"),
        F.sum(F.when(F.col("arm") == "B", F.col("x")).otherwise(0).cast(_DEC))
        .alias("sxb"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0).cast(_DEC))
        .alias("syb"),
    )
    n_dec = F.col("n_users").cast(_DEC)
    c = g.select(
        "event_type",
        "n_users",
        "n_a",
        "n_b",
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("sxx_c"),
        (n_dec * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("sxy_c"),
        (n_dec * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("syy_c"),
        F.col("sxa").cast("double").alias("sxa_d"),
        F.col("sya").cast("double").alias("sya_d"),
        F.col("sxb").cast("double").alias("sxb_d"),
        F.col("syb").cast("double").alias("syb_d"),
    )
    theta = F.col("sxy_c") / F.col("sxx_c")
    n_a_d, n_b_d = F.col("n_a"), F.col("n_b")
    return c.select(
        "event_type",
        "n_users",
        "n_a",
        "n_b",
        F.when(F.col("sxx_c") > 0.0, theta).alias("theta"),
        F.when(
            (F.col("sxx_c") > 0.0) & (F.col("syy_c") > 0.0),
            (F.col("sxy_c") * F.col("sxy_c"))
            / (F.col("sxx_c") * F.col("syy_c")),
        ).alias("var_reduction"),
        F.when(
            (n_a_d > 0) & (n_b_d > 0),
            ((F.col("syb_d") / n_b_d) - (F.col("sya_d") / n_a_d)) / 1000000.0,
        ).alias("diff_raw"),
        F.when(
            (n_a_d > 0) & (n_b_d > 0) & (F.col("sxx_c") > 0.0),
            (
                ((F.col("syb_d") / n_b_d) - (theta * (F.col("sxb_d") / n_b_d)))
                - ((F.col("sya_d") / n_a_d) - (theta * (F.col("sxa_d") / n_a_d)))
            )
            / 1000000.0,
        ).alias("diff_cuped"),
    ).orderBy("event_type")
