"""Wave-6 operators: exact-moment regression/PCA, sketch set-ops,
framing, mobility. Semantic invariants + exact Python recomputations
here; value parity is the DuckDB oracle's job
(tools/check_correctness.py, green at sf0.01 AND sf0.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ipeds_etl_spark.queries.curation import q_docs_length_ks_drift
from ipeds_etl_spark.queries.events import (
    q_events_hll_sliding,
    q_events_kmv_intersection,
    q_events_window_dedup,
)
from ipeds_etl_spark.queries.text import q_docs_bigram_conditionals
from ipeds_etl_spark.queries.tpch import (
    _TREND_XC,
    _TREND_YC,
    q_customer_decile_transition,
    q_parts_supplier_hhi,
    q_supplier_price_trend,
)
from ipeds_etl_spark.queries.vectors import q_emb_pca_power_iteration
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_price_trend_matches_integer_python_replay(spark):
    """The scaled-BIGINT OLS slope must equal an exact Python-integer
    replay (Python ints are arbitrary precision — if the BIGINT path
    overflowed or rounded anywhere, this diverges)."""
    from datetime import date

    rows = load_table(spark, SF, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice"
    ).collect()
    pts: dict[int, list[tuple[int, int]]] = {}
    epoch = date(1995, 1, 1)
    for r in rows:
        x = (r.l_shipdate.date() - epoch).days - _TREND_XC
        # decimal cents, exactly as the query's decimal(18,6)*100 cast
        from decimal import Decimal

        y = int(Decimal(str(r.l_extendedprice)).quantize(Decimal("0.000001")) * 100) - _TREND_YC
        pts.setdefault(r.l_suppkey, []).append((x, y))
    expect = {}
    for k, ps in pts.items():
        n = len(ps)
        sx = sum(x for x, _ in ps)
        sy = sum(y for _, y in ps)
        sxy = sum(x * y for x, y in ps)
        sxx = sum(x * x for x, _ in ps)
        den = n * sxx - sx * sx
        if n > 1 and den != 0:
            num = (n * sxy - sx * sy) * 1000
            q = abs(num) // abs(den)  # truncate toward zero, like div
            expect[k] = -q if (num < 0) != (den < 0) else q
    got = {
        r.l_suppkey: r.slope_millicents_per_day
        for r in q_supplier_price_trend(spark, SF).collect()
    }
    assert got == expect


def test_ks_drift_matches_python_replay(spark):
    rows = load_table(spark, SF, "documents").select("lang", "n_chars").collect()
    a = sorted(r.n_chars for r in rows if r.lang == "en")
    b = sorted(r.n_chars for r in rows if r.lang == "de")
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    best, at = -1, None
    import bisect

    for v in vals:
        d = abs(bisect.bisect_right(a, v) * nb - bisect.bisect_right(b, v) * na)
        if d > best:
            best, at = d, v
    (r,) = q_docs_length_ks_drift(spark, SF).collect()
    assert r.ks_numerator == best
    assert r.ks_at_n_chars == at
    assert r.ks_denominator == na * nb
    assert r.ks_stat == best / (na * nb)


def test_hhi_bounds_and_single_supplier_case(spark):
    """HHI ∈ (0, 10000]; 10000 iff a single supplier; ≥ 10000/n by
    Cauchy-Schwarz."""
    out = q_parts_supplier_hhi(spark, SF).collect()
    assert out
    for r in out:
        assert 0 < r.hhi_bp <= 10000
        if r.n_suppliers == 1:
            assert r.hhi_bp == 10000
        # floor division can land just under the continuous bound
        assert r.hhi_bp >= 10000 // r.n_suppliers - 1


def test_window_dedup_invariants(spark):
    out = {r.event_type: r for r in q_events_window_dedup(spark, SF).collect()}
    tot = dict(
        load_table(spark, SF, "events").groupBy("event_type").count().collect()
    )
    assert set(out) == set(tot)
    for et, r in out.items():
        assert r.n_events == tot[et]
        assert 0 < r.n_kept <= r.n_events
        assert r.n_dropped == r.n_events - r.n_kept


def test_bigram_argmax_is_true_max_with_min_tiebreak(spark):
    rows = load_table(spark, SF, "documents").select("text").collect()
    pairs: dict[tuple[str, str], int] = {}
    for r in rows:
        toks = r.text.split()
        for a, b in zip(toks, toks[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    heads: dict[str, tuple[int, str]] = {}
    totals: dict[str, int] = {}
    for (a, b), n in pairs.items():
        totals[a] = totals.get(a, 0) + n
        cur = heads.get(a)
        if cur is None or (-n, b) < (-cur[0], cur[1]):
            heads[a] = (n, b)
    got = {r.head: r for r in q_docs_bigram_conditionals(spark, SF).collect()}
    assert set(got) == set(heads)
    for h, (n, b) in heads.items():
        assert got[h].top_next == b and got[h].pair_n == n
        assert got[h].head_n == totals[h]
        assert got[h].cond_p == n / totals[h]


def test_kmv_intersection_calibration(spark):
    """Sketch estimates must be sane: union ≥ each exact side's floor,
    jaccard ∈ [0,1], intersection estimate within 3x of exact for the
    synthetic near-complete-overlap audiences (k=64 gives coarse but
    bounded estimates)."""
    out = q_events_kmv_intersection(spark, SF).collect()
    assert len(out) == 10  # 5 choose 2 event-type pairs
    for r in out:
        assert 0.0 <= r.jaccard_est <= 1.0
        assert r.union_est > 0
        assert r.intersection_est <= r.union_est + 1e-9
        if r.exact_common >= 64:
            assert r.intersection_est >= r.exact_common / 3
            assert r.intersection_est <= r.exact_common * 3


def test_hll_sliding_merge_equals_direct_window_sketch(spark):
    """The load-bearing property is MERGE ASSOCIATIVITY, not estimator
    accuracy (the raw m=64 estimator deliberately has no ln-based
    low-range correction and overshoots sparse windows — documented in
    operators/sketches.py): every sliding window's estimate, built by
    max-merging the two hourly register sets, must BIT-EQUAL the HLL
    computed directly over that window's raw events."""
    from ipeds_etl_spark.operators import sketches as SK

    out = {r.window_end_hour: r.hll_users for r in q_events_hll_sliding(spark, SF).collect()}
    assert out
    e = load_table(spark, SF, "events")
    uid = F.col("user_id").cast("string")
    direct_regs = (
        e.select(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hr"),
            SK.hll_bucket(uid).alias("bucket"),
            SK.hll_rho(uid).alias("rho"),
        )
        .groupBy("hr", "bucket")
        .agg(F.max("rho").alias("r"))
        .collect()
    )
    # python replay: window w covers hours {w-1h, w}; registers = max
    from collections import defaultdict
    from datetime import datetime, timedelta

    regs_by_hour = defaultdict(dict)
    for r in direct_regs:
        regs_by_hour[r.hr][r.bucket] = max(regs_by_hour[r.hr].get(r.bucket, 0), r.r)
    fmt = "%Y-%m-%d %H:00"
    for win, est in out.items():
        t = datetime.strptime(win, fmt)
        merged: dict[int, int] = {}
        for h in (t - timedelta(hours=1), t):
            for b, rho in regs_by_hour.get(h.strftime(fmt), {}).items():
                merged[b] = max(merged.get(b, 0), rho)
        sp = sum(2.0 ** -r for r in merged.values())
        denom = sp + (SK.HLL_M - len(merged))
        assert est == SK._HLL_ALPHA_M2 / denom, win


def test_decile_transition_is_doubly_bounded(spark):
    out = q_customer_decile_transition(spark, SF).collect()
    assert out
    for r in out:
        assert 1 <= r[0] <= 10 and 1 <= r[1] <= 10
        assert r.n_customers > 0
    # matrix total == retained cohort size (customers active both years)
    o = load_table(spark, SF, "orders")
    y = o.select("o_custkey", F.year("o_orderdate").alias("y")).distinct()
    both = (
        y.filter(F.col("y") == 1996)
        .select("o_custkey")
        .intersect(y.filter(F.col("y") == 1997).select("o_custkey"))
        .count()
    )
    assert sum(r.n_customers for r in out) == both


def test_pca_vector_is_dominant_direction(spark):
    """The integer power iteration must land on (a scaled version of)
    the dominant eigenvector: its Rayleigh quotient on the EXACT
    covariance must beat every coordinate axis's (axis variance) —
    the property that matters for the collapsed-dimension readout —
    and renormalization must pin max |loading| into (500, 1000]."""
    import numpy as np

    v = np.array(
        [r.loading_milli for r in q_emb_pca_power_iteration(spark, SF).collect()],
        dtype=float,
    )
    assert len(v) == 64
    m = np.abs(v).max()
    assert 500 < m <= 1000  # 1000-grid renormalization with truncation
    emb = np.array(
        [r.embedding for r in load_table(spark, SF, "embeddings").collect()]
    )
    q = np.floor(emb * 1000)  # the query's quantization
    c = np.cov(q.T, bias=True)
    vr = v / np.linalg.norm(v)
    rayleigh = vr @ c @ vr
    axis_best = np.diag(c).max()
    assert rayleigh >= axis_best * 0.99


def test_multitouch_credit_conserves_exactly(spark):
    """Largest-remainder apportionment per purchase: total credited
    basis points must equal 10000 x purchases EXACTLY — no attribution
    dust (the Hamilton-rule guarantee, integer arithmetic only)."""
    from ipeds_etl_spark.queries.events import q_events_multitouch_attribution

    (r,) = q_events_multitouch_attribution(spark, SF).collect()
    assert r.n_purchases > 0 and r.n_credited_clicks >= r.n_purchases
    assert r.total_credit_bp == 10000 * r.n_purchases
    assert 0 < r.first_touch_bp <= r.total_credit_bp


def test_neyman_allocation_conserves_and_favors_variance(spark):
    """Hamilton conservation (Σ alloc == budget exactly) and the
    Neyman property: allocation ordering follows N_h·S_h ordering."""
    from ipeds_etl_spark.queries.curation import _NEY_BUDGET, q_docs_neyman_allocation

    rows = q_docs_neyman_allocation(spark, SF).collect()
    assert rows and sum(r.alloc for r in rows) == _NEY_BUDGET
    by_wt = sorted(rows, key=lambda r: (-r.neyman_weight, r.source))
    allocs = [r.alloc for r in by_wt]
    # largest-remainder keeps allocations within 1 of proportionality:
    # a strictly higher weight can never get 2+ fewer units
    for hi, lo in zip(allocs, allocs[1:]):
        assert hi >= lo - 1
