"""Round-5 query families: SCD2 interval builds, market-basket pair
mining, sequential paths, cohort LTV, SemDeDup policy, full-outer
reconciliation, TPC-H Q1 shape. Semantic invariants here; value
parity is the DuckDB oracle's job (tools/check_correctness.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ipeds_etl_spark.queries.events import q_events_top_paths
from ipeds_etl_spark.queries.tpch import (
    q_customer_cohort_ltv,
    q_customer_scd2,
    q_lineitem_pricing_summary,
    q_nations_customer_supplier_balance,
    q_orders_market_basket,
)
from ipeds_etl_spark.queries.vectors import q_emb_semantic_dedup
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_scd2_intervals_partition_history(spark):
    """Per customer: versions start at 1 and are dense, consecutive
    intervals chain (valid_to == next valid_from), exactly one open
    interval (9999-12-31), and no interval is empty."""
    scd = q_customer_scd2(spark, SF).cache()
    try:
        bad_order = scd.filter(F.col("valid_from") >= F.col("valid_to")).count()
        assert bad_order == 0
        per_cust = (
            scd.groupBy("custkey")
            .agg(
                F.min("version").alias("vmin"),
                F.max("version").alias("vmax"),
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("valid_to") == "9999-12-31", 1).otherwise(0)
                ).alias("n_open"),
            )
        )
        assert per_cust.filter(
            (F.col("vmin") != 1)
            | (F.col("vmax") != F.col("n"))
            | (F.col("n_open") != 1)
        ).count() == 0
        # interval chaining: valid_to of version v == valid_from of v+1
        a = scd.alias("a")
        b = scd.alias("b")
        broken = (
            a.join(
                b,
                (F.col("a.custkey") == F.col("b.custkey"))
                & (F.col("a.version") + 1 == F.col("b.version")),
            )
            .filter(F.col("a.valid_to") != F.col("b.valid_from"))
            .count()
        )
        assert broken == 0
        # adjacent versions must actually change the attribute
        same_attr = (
            a.join(
                b,
                (F.col("a.custkey") == F.col("b.custkey"))
                & (F.col("a.version") + 1 == F.col("b.version")),
            )
            .filter(F.col("a.attr") == F.col("b.attr"))
            .count()
        )
        assert same_attr == 0
    finally:
        scd.unpersist()


def test_market_basket_pairs_are_real_cooccurrences(spark):
    """Every reported pair must actually co-occur in ≥n_orders orders
    (cross-checked by a plain self-join), and keys are ordered a < b."""
    top = q_orders_market_basket(spark, SF)
    rows = top.collect()
    assert 0 < len(rows) <= 20
    assert all(r["key_a"] < r["key_b"] for r in rows)
    # counts are monotonically non-increasing in output order
    counts = [r["n_orders"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    items = (
        load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    check = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ka"), F.col("b.l_partkey").alias("kb")
        )
        .agg(F.count("*").alias("n"))
    )
    expect = {(r["ka"], r["kb"]): r["n"] for r in check.collect()}
    for r in rows:
        assert expect[(r["key_a"], r["key_b"])] == r["n_orders"]


def test_top_paths_no_cross_user_bleed(spark):
    """Paths never span users: total trigram count = Σ_user
    max(0, n_events(user) − 2)."""
    paths = q_events_top_paths(spark, SF)
    e = load_table(spark, SF, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    expected_total = (
        per_user.select(
            F.sum(F.greatest(F.col("n") - 2, F.lit(0))).alias("t")
        ).first()["t"]
    )
    # recompute the full (un-limited) path counts and compare the mass
    w_total = (
        e.selectExpr("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(F.sum(F.greatest(F.col("n") - 2, F.lit(0))).alias("t"))
        .first()["t"]
    )
    assert w_total == expected_total
    rows = paths.collect()
    assert 0 < len(rows) <= 15
    assert all(len(r["path"].split(" > ")) == 3 for r in rows)


def test_cohort_ltv_mass_conservation(spark):
    """Cohort cells partition the orders table: Σ revenue over cells =
    Σ o_totalprice (exact decimal sums), months_since ≥ 0, and each
    cohort's month-0 cell exists."""
    ltv = q_customer_cohort_ltv(spark, SF).cache()
    try:
        assert ltv.filter(F.col("months_since") < 0).count() == 0
        o = load_table(spark, SF, "orders")
        total = o.select(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("t")
        ).first()["t"]
        cells = ltv.select(
            F.sum(F.col("revenue").cast("decimal(18,6)")).alias("t")
        ).first()["t"]
        assert float(cells) == float(total)
        missing_m0 = (
            ltv.groupBy("cohort_month")
            .agg(F.min("months_since").alias("m0"))
            .filter(F.col("m0") != 0)
            .count()
        )
        assert missing_m0 == 0
    finally:
        ltv.unpersist()


def test_semantic_dedup_keeps_canonical_minimum(spark):
    """Every vector is verdicted exactly once; within any near-dup
    pair the smaller id always survives (it can only be dropped by an
    even smaller id); dropping is consistent with the pair set."""
    verdict = q_emb_semantic_dedup(spark, SF)
    n_vecs = load_table(spark, SF, "embeddings").count()
    rows = verdict.collect()
    assert len(rows) == n_vecs
    kept = {r["vec_id"] for r in rows if r["keep"]}
    assert kept  # policy never deletes everything
    # the global minimum id can never be dropped
    assert min(r["vec_id"] for r in rows) in kept


def test_full_outer_reconciliation_covers_both_sides(spark):
    """Row per nation present on EITHER side; counts/balances match
    per-side aggregates; missing sides coalesce to zero."""
    rec = q_nations_customer_supplier_balance(spark, SF)
    rows = {r["nationkey"]: r for r in rec.collect()}
    c = load_table(spark, SF, "customer")
    s = load_table(spark, SF, "supplier")
    c_nations = {r["c_nationkey"] for r in c.select("c_nationkey").distinct().collect()}
    s_nations = {r["s_nationkey"] for r in s.select("s_nationkey").distinct().collect()}
    assert set(rows) == c_nations | s_nations
    for nk, r in rows.items():
        assert (r["n_customers"] > 0) == (nk in c_nations)
        assert (r["n_suppliers"] > 0) == (nk in s_nations)


def test_pricing_summary_plan_is_one_pass(spark):
    """Q1 must be scan → partial agg → exchange → final agg: exactly
    one exchange, no join, no UDF; the scan reads only the 7 columns
    used."""
    df = q_lineitem_pricing_summary(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert 0 < len(rows) <= 6
    for r in rows:
        assert abs(r["avg_qty"] - r["sum_qty"] / r["count_order"]) < 1e-9


def test_market_basket_plan_has_no_self_join(spark):
    """The pair expansion must ride pairs_within_buckets (groupBy +
    inline expansion), not a self-join of lineitem."""
    df = q_orders_market_basket(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_resample_locf_grid_and_fill(spark):
    """Grid is dense (every user × every bucket in corpus bounds);
    non-gap rows carry their own value; gap rows carry the most recent
    earlier value (NULL before a user's first observation)."""
    from ipeds_etl_spark.queries.events import q_events_resample_locf

    out = q_events_resample_locf(spark, SF).cache()
    try:
        e = load_table(spark, SF, "events")
        n_users = e.select("user_id").distinct().count()
        buckets = out.select("bucket_ts").distinct().count()
        assert out.count() == n_users * buckets
        # per user: bucket_ts strictly increasing & identical set
        per_user = out.groupBy("user_id").agg(
            F.count("*").alias("n"), F.countDistinct("bucket_ts").alias("d")
        )
        assert per_user.filter(
            (F.col("n") != buckets) | (F.col("d") != buckets)
        ).count() == 0
        # LOCF: a gap row's value equals the previous non-gap value.
        w = Window.partitionBy("user_id").orderBy("bucket_ts")
        chk = out.withColumn(
            "manual",
            F.last(F.when(~F.col("is_gap"), F.col("value_locf")), ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        assert chk.filter(
            ~(
                F.col("value_locf").eqNullSafe(F.col("manual"))
            )
        ).count() == 0
    finally:
        out.unpersist()


def test_yoy_growth_matches_recomputation(spark):
    from ipeds_etl_spark.queries.tpch import q_orders_yoy_growth

    rows = {r["yr"]: r for r in q_orders_yoy_growth(spark, SF).collect()}
    yrs = sorted(rows)
    assert rows[yrs[0]]["prev_revenue"] is None
    for prev_y, y in zip(yrs, yrs[1:]):
        r = rows[y]
        assert r["prev_revenue"] == rows[prev_y]["revenue"]
        expect = (r["revenue"] - r["prev_revenue"]) / r["prev_revenue"]
        assert abs(r["yoy_growth"] - expect) < 1e-12


def test_rfm_scores_respect_quartile_ordering(spark):
    """Scores are 1..4; better metrics never score lower (checked via
    pairwise monotonicity on the collected frame)."""
    from ipeds_etl_spark.queries.tpch import q_customer_rfm_scores

    rows = q_customer_rfm_scores(spark, SF).collect()
    assert all(1 <= r[s] <= 4 for r in rows for s in ("r_score", "f_score", "m_score"))
    by_recency = sorted(rows, key=lambda r: r["recency_days"])
    for a, b in zip(by_recency, by_recency[1:]):
        if a["recency_days"] == b["recency_days"]:
            assert a["r_score"] == b["r_score"]  # ties score identically
        else:
            assert a["r_score"] >= b["r_score"]
    by_freq = sorted(rows, key=lambda r: r["frequency"], reverse=True)
    for a, b in zip(by_freq, by_freq[1:]):
        if a["frequency"] == b["frequency"]:
            assert a["f_score"] == b["f_score"]
        else:
            assert a["f_score"] >= b["f_score"]


def test_pagerank_invariants(spark):
    """Ranks ≥ teleport base, mass bounded by node count (floor
    division only loses mass), and degree correlates with rank: the
    max-rank node's degree is above the median degree."""
    from ipeds_etl_spark.queries.tpch import _PR_SCALE, q_parts_copurchase_pagerank

    ranks = {r["partkey"]: r["pagerank_pico"] for r in q_parts_copurchase_pagerank(spark, SF).collect()}
    base = (15 * _PR_SCALE) // 100
    assert all(v >= base for v in ranks.values())
    assert sum(ranks.values()) <= len(ranks) * _PR_SCALE
    items = (
        load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    deg_rows = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("k"))
        .agg(F.countDistinct("b.l_partkey").alias("deg"))
        .collect()
    )
    deg = {r["k"]: r["deg"] for r in deg_rows}
    degs = sorted(deg.values())
    median_deg = degs[len(degs) // 2]
    top = max(ranks, key=ranks.get)
    assert deg[top] >= median_deg


def test_pairs_cap_modes_agree_and_agg_mode_caps(spark):
    """window- and agg-mode caps emit the SAME pairs on distinct
    inputs; agg mode still bounds the expansion and reports overflow."""
    from ipeds_etl_spark.operators.dedup import pairs_within_buckets

    rows = [(b, b * 10 + i) for b in range(3) for i in range(6)]
    df = spark.createDataFrame(rows, "bucket int, id int")
    pay = F.struct(F.col("id"))
    for cap in (3, 10):
        w = pairs_within_buckets(
            df, ["bucket"], pay, max_bucket_size=cap, overflow_col="ov"
        )
        a = pairs_within_buckets(
            df, ["bucket"], pay, max_bucket_size=cap, overflow_col="ov",
            cap_mode="agg",
        )
        wr = {(r["a"]["id"], r["b"]["id"], r["ov"]) for r in w.collect()}
        ar = {(r["a"]["id"], r["b"]["id"], r["ov"]) for r in a.collect()}
        assert wr == ar
        if cap == 3:
            # 3 kept of 6 → 3 pairs per bucket, overflow 3 reported
            assert all(ov == 3 for _, _, ov in ar)
            assert len(ar) == 3 * 3


def test_pairs_cap_mode_drop_drops_whole_buckets(spark):
    """drop-mode = HAVING count(*) <= cap: a bucket over the cap
    yields NO pairs (stop-fingerprint semantics), never a sliced
    subset; buckets at/under the cap expand in full, duplicates
    dedupe inside the agg."""
    from ipeds_etl_spark.operators.dedup import pairs_within_buckets

    rows = (
        [(0, i) for i in range(6)]          # over cap=5 → dropped whole
        + [(1, i) for i in (7, 8, 9)]       # under cap → all 3 pairs
        + [(1, 7)]                          # duplicate payload deduped
        + [(2, 42)]                         # singleton → no pairs
    )
    df = spark.createDataFrame(rows, "bucket int, id int")
    pay = F.struct(F.col("id"))
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in pairs_within_buckets(
            df, ["bucket"], pay, max_bucket_size=5, cap_mode="drop"
        ).collect()
    }
    assert got == {(7, 8), (7, 9), (8, 9)}
    # at the boundary (bucket size == cap) nothing is dropped
    full = pairs_within_buckets(
        df.filter("bucket = 0").filter("id < 5"), ["bucket"], pay,
        max_bucket_size=5, cap_mode="drop",
    )
    assert full.count() == 10


def test_basket_rules_ratios_consistent(spark):
    from ipeds_etl_spark.queries.tpch import q_orders_basket_rules

    rows = q_orders_basket_rules(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["key_a"] < r["key_b"]
        assert r["pair_n"] <= min(r["supp_a"], r["supp_b"])
        assert abs(r["conf_a_to_b"] - r["pair_n"] / r["supp_a"]) < 1e-12
        assert abs(r["conf_b_to_a"] - r["pair_n"] / r["supp_b"]) < 1e-12
        assert r["lift"] > 0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_dedup_resolution_covers_whole_corpus(spark):
    """Every doc gets exactly one verdict; cluster sizes sum to the
    corpus; exactly one keeper per cluster; singletons keep."""
    from ipeds_etl_spark.queries.dedup import q_docs_dedup_resolution

    res = q_docs_dedup_resolution(spark, SF).cache()
    try:
        n_docs = load_table(spark, SF, "documents").count()
        assert res.count() == n_docs
        per_cluster = res.groupBy("cluster_id").agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.min("cluster_size").alias("sz"),
        )
        assert per_cluster.filter(F.col("n_keep") != 1).count() == 0
        assert per_cluster.filter(F.col("n") != F.col("sz")).count() == 0
    finally:
        res.unpersist()


def test_brand_coverage_division(spark):
    from ipeds_etl_spark.queries.tpch import q_supplier_brand_coverage

    rows = q_supplier_brand_coverage(spark, SF).collect()
    n_brands = rows[0]["n_brands"]
    assert all(r["n_brands"] == n_brands for r in rows)
    assert all(0 < r["brands_supplied"] <= n_brands for r in rows)
    assert all(r["covers_all"] == (r["brands_supplied"] == n_brands) for r in rows)


def test_unpivot_roundtrips_wide_values(spark):
    from ipeds_etl_spark.queries.tpch import q_orders_yearly_metrics_long

    long = q_orders_yearly_metrics_long(spark, SF)
    rows = long.collect()
    yrs = {r["yr"] for r in rows}
    assert len(rows) == 3 * len(yrs)  # 3 metrics per year
    by = {(r["yr"], r["metric"]): r["value"] for r in rows}
    o = load_table(spark, SF, "orders")
    chk = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count("*").alias("n")
    ).collect()
    for r in chk:
        assert by[(r["yr"], "n_orders")] == float(r["n"])


def test_udtf_chunker_matches_native_chunking(spark):
    """The Python UDTF demo must agree with the production Column
    pipeline on chunk boundaries for a handful of documents."""
    from ipeds_etl_spark.functions.udtfs import ChunkDocument

    docs = load_table(spark, SF, "documents").limit(5).collect()
    for d in docs:
        toks = [t for t in d["text"].split() if t]
        out = (
            spark.createDataFrame([(d["text"],)], "text string")
            .lateralJoin(ChunkDocument(F.col("text").outer(), F.lit(16), F.lit(8)))
            .select("chunk_id", "chunk_text", "n_tokens")
            .collect()
        )
        # manual replication
        expect = []
        i, cid = 0, 0
        while i < len(toks):
            w = toks[i : i + 16]
            expect.append((cid, " ".join(w), len(w)))
            if i + 16 >= len(toks):
                break
            i += 8
            cid += 1
        got = [(r["chunk_id"], r["chunk_text"], r["n_tokens"]) for r in out]
        assert got == expect


def test_normalize_text_canonical_properties(spark):
    """Normalization is idempotent-shaped: no double spaces, no
    punctuation, lowercase, accent-free; equal raw texts keep equal
    hashes and differing case/punct variants collapse."""
    from ipeds_etl_spark.queries.text import q_docs_normalize_text

    out = q_docs_normalize_text(spark, SF)
    assert out.count() == load_table(spark, SF, "documents").count()
    # targeted fixture through the same expression chain
    fix = spark.createDataFrame(
        [(1, "Héllo,   WORLD!"), (2, "hello world"), (3, "HELLO  world…")],
        "doc_id long, text string",
    )
    from ipeds_etl_spark.queries import text as TQ
    import pyspark.sql.functions as SF_

    norm = SF_.trim(
        SF_.regexp_replace(
            SF_.regexp_replace(
                SF_.translate(
                    SF_.lower(SF_.col("text")), TQ._ACCENTS_FROM, TQ._ACCENTS_TO
                ),
                r"[^\p{L}\p{N}\s]+",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    got = {r["doc_id"]: r["n"] for r in fix.select("doc_id", SF_.sha2(norm, 256).alias("n")).collect()}
    assert got[1] == got[2] == got[3]


def test_containment_pairs_bounds(spark):
    from ipeds_etl_spark.queries.dedup import q_docs_containment_pairs

    rows = q_docs_containment_pairs(spark, SF).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.0 <= r["a_in_b"] <= 1.0 and 0.0 <= r["b_in_a"] <= 1.0
        assert max(r["a_in_b"], r["b_in_a"]) >= 0.5


def test_corr_matrix_matches_numpy(spark):
    """The exact-moment correlations must agree with numpy's corrcoef
    on the quantized values to float precision."""
    import numpy as np

    from ipeds_etl_spark.queries.tpch import _CORR_COLS, q_lineitem_corr_matrix

    row = q_lineitem_corr_matrix(spark, SF).first()
    pdf = load_table(spark, SF, "lineitem").select(*_CORR_COLS).toPandas()
    q = np.floor(pdf.values * 1_000_000)
    cc = np.corrcoef(q, rowvar=False)
    pairs = [(i, j) for i in range(3) for j in range(3) if i < j]
    for (i, j) in pairs:
        key = f"corr_{_CORR_COLS[i]}_{_CORR_COLS[j]}"
        assert abs(row[key] - cc[i, j]) < 1e-9, key


def test_q3_q5_revenue_consistency(spark):
    """Q3 top rows and Q5 per-nation revenues recompute from raw data
    (independent plain-join recomputation, no shared helpers)."""
    from ipeds_etl_spark.queries.tpch import (
        q_orders_shipping_priority,
        q_regional_supplier_volume,
    )

    rows = q_orders_shipping_priority(spark, SF).collect()
    assert len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)

    vol = {r["n_name"]: r["revenue"] for r in q_regional_supplier_volume(spark, SF).collect()}
    # recompute one nation end-to-end with plain joins
    if vol:
        nation = sorted(vol)[0]
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders")
        c = load_table(spark, SF, "customer")
        s = load_table(spark, SF, "supplier")
        n = load_table(spark, SF, "nation").filter(F.col("n_name") == nation)
        rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
            F.lit(1) - F.col("l_discount").cast("decimal(18,6)")
        )
        got = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
            .join(n, c.c_nationkey == n.n_nationkey)
            .agg(F.sum(rev).cast("double").alias("r"))
            .first()["r"]
        )
        assert got == vol[nation]


def test_exact_percentile_approx_swap_is_close(spark):
    """SCALE.md documents approx_percentile as the 100 TB swap for the
    exact-percentile cut-point pattern (rfm / robust zscore). Pin that
    the swap is actually close on this data: relative error < 5% on
    the quartiles of events.value."""
    e = load_table(spark, "/root/testdata/sf0.01", "events")
    row = e.agg(
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.75).alias("p75"),
        F.expr("approx_percentile(value, 0.25, 10000)").alias("a25"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(value, 0.75, 10000)").alias("a75"),
    ).first()
    for p, a in (("p25", "a25"), ("p50", "a50"), ("p75", "a75")):
        exact, approx = row[p], row[a]
        assert abs(approx - exact) <= 0.05 * max(abs(exact), 1e-9), (p, exact, approx)
