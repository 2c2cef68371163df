"""Wave-5 operators: verifiable HLL / Count-Min sketches, 2-D skyline,
CEP-style sequence matching, sorted-neighborhood dedup, composition
drift. Semantic invariants + brute-force recomputations here; value
parity is the DuckDB oracle's job (tools/check_correctness.py)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ipeds_etl_spark.operators import sketches as SK
from ipeds_etl_spark.queries.curation import q_docs_source_lang_drift
from ipeds_etl_spark.queries.dedup import _SNM_J, _SNM_W, q_docs_snm_pairs
from ipeds_etl_spark.queries.events import (
    _CEP_P1,
    _CEP_P2,
    _CEP_P3,
    q_events_cep_pattern_match,
    q_events_cms_user_counts,
    q_events_hll_users,
)
from ipeds_etl_spark.queries.tpch import q_parts_skyline_2d
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------
def test_hll_global_is_max_merge_of_per_type_registers(spark):
    """The '__all__' row must equal the estimate computed by max-merging
    the per-type register arrays — the associative-merge property that
    makes the sketch usable as partial aggregation state."""
    uid = F.col("user_id").cast("string")
    e = load_table(spark, SF, "events")
    regs = (
        e.select(
            "event_type",
            SK.hll_bucket(uid).alias("bucket"),
            SK.hll_rho(uid).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
        .collect()
    )
    merged: dict[int, int] = {}
    for row in regs:
        merged[row.bucket] = max(merged.get(row.bucket, 0), row.r)
    s = sum(2.0**-r for r in merged.values()) + (SK.HLL_M - len(merged)) * 1.0
    expect = 0.709 * SK.HLL_M * SK.HLL_M / s

    out = {r.event_type: r for r in q_events_hll_users(spark, SF).collect()}
    assert out["__all__"].hll_users == expect  # exact: dyadic sum, one division
    assert out["__all__"].empty_registers == SK.HLL_M - len(merged)


def test_hll_estimates_are_sane(spark):
    """Raw HLL with m=64 has ~13% std error above the small-range
    regime; below 2.5m the published linear-counting correction applies
    — the query emits the zero-register count V precisely so a consumer
    can compute it, which is what this test does (ln stays out of the
    cross-engine surface, not out of the algorithm)."""
    import math

    rows = q_events_hll_users(spark, SF).collect()
    assert len(rows) >= 2  # at least one type + __all__
    for r in rows:
        assert r.exact_users > 0
        assert r.hll_users > 0
        est = r.hll_users
        if est <= 2.5 * SK.HLL_M and r.empty_registers > 0:
            est = SK.HLL_M * math.log(SK.HLL_M / r.empty_registers)
        assert abs(est - r.exact_users) / r.exact_users < 0.4, (r.event_type, est)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------
def test_cms_never_underestimates_any_user(spark):
    """CMS point estimates are min-of-overcounts: est >= exact for EVERY
    user (not just the returned top-15), and the sketch table is at most
    d*w rows."""
    uid = F.col("user_id").cast("string")
    e = load_table(spark, SF, "events")
    rows_ = F.explode(F.array(*[F.lit(i) for i in range(SK.CMS_D)])).alias("i")
    sk = (
        e.select("user_id", rows_)
        .select(F.col("i"), SK.cms_bucket(uid, F.col("i")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert sk.count() <= SK.CMS_D * SK.CMS_W
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probe = exact.select("user_id", "exact_n", rows_).select(
        "user_id", "exact_n", "i", SK.cms_bucket(uid, F.col("i")).alias("bucket")
    )
    est = (
        probe.join(F.broadcast(sk), ["i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_n"))
    )
    assert est.filter(F.col("cms_n") < F.col("exact_n")).count() == 0
    # total mass per sketch row equals the stream length
    n = e.count()
    per_row = sk.groupBy("i").agg(F.sum("c").alias("mass")).collect()
    assert all(r.mass == n for r in per_row)


def test_cms_top15_matches_registered_query(spark):
    out = q_events_cms_user_counts(spark, SF).collect()
    assert len(out) <= 15
    assert all(r.overcount >= 0 for r in out)
    # descending by estimate, user_id tiebreak
    keys = [(-r.cms_n, r.user_id) for r in out]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# Skyline
# ---------------------------------------------------------------------------
def test_skyline_matches_quadratic_dominance(spark):
    parts = (
        load_table(spark, SF, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    )
    pts = [(r.p_partkey, r.p_retailprice, r.p_size) for r in parts]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts
            if q[0] != p[0]
        )

    expect = sorted(k for k, *_ in pts if not dominated((k, *_)))
    got = sorted(r.p_partkey for r in q_parts_skyline_2d(spark, SF).collect())
    assert got == expect


def test_skyline_duplicate_points_all_survive(spark):
    """Equal (price, size) points do not dominate each other — verify on
    the quadratic definition over a constructed frame run through the
    same window recipe semantics (brute force)."""
    pts = [(1, 10.0, 5), (2, 10.0, 5), (3, 9.0, 7), (4, 11.0, 4), (5, 11.0, 9)]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts
            if q[0] != p[0]
        )

    # both duplicates (1,2) survive; 5 is dominated by 4; 3 and 4 survive
    assert sorted(k for k, *_ in pts if not dominated((k, *_))) == [1, 2, 3, 4]


# ---------------------------------------------------------------------------
# CEP
# ---------------------------------------------------------------------------
def test_cep_flags_match_python_re_on_reconstructed_sequences(spark):
    """Rebuild each user's delimited sequence in Python from the raw
    events (same (ts, event_id) total order) and re-evaluate all three
    patterns with Python's re — Java regex and RE2 and re must agree on
    this lookahead-free subset."""
    e = load_table(spark, SF, "events").select("user_id", "ts", "event_id", "event_type")
    by_user: dict[int, list] = {}
    for r in e.collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    out = {r.user_id: r for r in q_events_cep_pattern_match(spark, SF).collect()}
    assert set(out) == set(by_user)
    for uid, evs in by_user.items():
        s = ">" + ">".join(t for _, _, t in sorted(evs)) + ">"
        r = out[uid]
        assert r.n_events == len(evs)
        assert r.view_then_purchase == bool(re.search(_CEP_P1, s)), uid
        assert r.signup_to_purchase_clean == bool(re.search(_CEP_P2, s)), uid
        assert r.purchase_then_error == bool(re.search(_CEP_P3, s)), uid


# ---------------------------------------------------------------------------
# SNM
# ---------------------------------------------------------------------------
def test_snm_candidates_are_exactly_the_rank_band(spark):
    """Candidate pair set == all pairs at sort-rank distance 1..w (before
    the Jaccard filter): recompute the global sort order in Python."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    order = sorted((d.text.lower()[:20], d.doc_id) for d in docs)
    toks = {d.doc_id: set(t for t in re.split(r"\s+", d.text) if t) for d in docs}
    expect = []
    for i, (_, a) in enumerate(order):
        for d in range(1, _SNM_W + 1):
            if i + d < len(order):
                b = order[i + d][1]
                inter = len(toks[a] & toks[b])
                union = len(toks[a] | toks[b])
                j = inter / union
                if j >= _SNM_J:
                    expect.append((a, b, d))
    got = [
        (r.doc_a, r.doc_b, r.window_dist)
        for r in q_docs_snm_pairs(spark, SF).collect()
    ]
    assert sorted(got) == sorted(expect)


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------
def test_kcore_matches_python_peel_replay(spark):
    """Replay the fixed-round 2-core peel in Python from the same LSH
    candidate pairs and compare (node, degree) exactly."""
    from ipeds_etl_spark.operators.indexes import lsh_doc_pairs
    from ipeds_etl_spark.queries.dedup import _KCORE_K, _KCORE_ROUNDS, q_dedup_kcore

    pairs = [(r.id_a, r.id_b) for r in lsh_doc_pairs(spark, SF).collect()]
    edges = set(pairs) | {(b, a) for a, b in pairs}
    for _ in range(_KCORE_ROUNDS):
        deg: dict[int, int] = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, c in deg.items() if c >= _KCORE_K}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    expect: dict[int, int] = {}
    for s, _d in edges:
        expect[s] = expect.get(s, 0) + 1
    got = {r.doc_id: r.degree for r in q_dedup_kcore(spark, SF).collect()}
    assert got == expect
    assert len(got) > 0  # the dup-heavy corpus has a 2-core


# ---------------------------------------------------------------------------
# MinHash calibration
# ---------------------------------------------------------------------------
def test_minhash_estimate_matches_signature_agreement(spark):
    """est_j must be exactly (# agreeing positions)/16 recomputed from
    the signature arrays, and err must be est_j - exact_j."""
    from ipeds_etl_spark.operators import dedup as DD
    from ipeds_etl_spark.queries.shared import docs_scan
    from ipeds_etl_spark.queries.dedup import q_dedup_minhash_estimate

    sigs = {
        r.doc_id: list(r.sig)
        for r in DD.minhash_signatures(docs_scan(spark, SF), "text", "doc_id").collect()
    }
    rows = q_dedup_minhash_estimate(spark, SF).collect()
    assert rows
    for r in rows:
        agree = sum(
            1 for x, y in zip(sigs[r.id_a], sigs[r.id_b]) if x == y
        )
        assert r.est_j == agree / DD.N_PERMS, (r.id_a, r.id_b)
        assert r.err == r.est_j - r.exact_j
        assert 0.0 <= r.exact_j <= 1.0


# ---------------------------------------------------------------------------
# Gaps-and-islands
# ---------------------------------------------------------------------------
def test_streaks_match_python_island_replay(spark):
    from ipeds_etl_spark.queries.tpch import q_customer_order_streaks

    o = load_table(spark, SF, "orders").select("o_custkey", "o_orderdate").collect()
    months: dict[int, set] = {}
    for r in o:
        months.setdefault(r.o_custkey, set()).add(
            r.o_orderdate.year * 12 + r.o_orderdate.month - 1
        )
    got = {r.custkey: r for r in q_customer_order_streaks(spark, SF).collect()}
    assert set(got) == set(months)
    for ck, ms in months.items():
        runs, cur = [], 0
        prev = None
        for m in sorted(ms):
            cur = cur + 1 if prev is not None and m == prev + 1 else 1
            if prev is None or m != prev + 1:
                runs.append(0)
            runs[-1] = cur if runs[-1] < cur else runs[-1]
            prev = m
        r = got[ck]
        assert r.active_months == len(ms)
        assert r.n_streaks == len(runs)
        assert r.longest_streak == max(runs)


# ---------------------------------------------------------------------------
# Rolling anomaly
# ---------------------------------------------------------------------------
def test_rolling_anomaly_matches_python_window_replay(spark):
    from ipeds_etl_spark.queries.events import q_events_rolling_anomaly

    e = load_table(spark, SF, "events").collect()
    daily: dict[tuple, int] = {}
    for r in e:
        daily[(r.event_type, r.ts.date())] = daily.get((r.event_type, r.ts.date()), 0) + 1
    by_type: dict[str, list] = {}
    for (t, d), c in daily.items():
        by_type.setdefault(t, []).append((d, c))
    expect = {}
    for t, seq in by_type.items():
        seq.sort()
        for i in range(7, len(seq)):
            window = [c for _, c in seq[i - 7 : i]]
            d, cnt = seq[i]
            sx, sxx = sum(window), sum(c * c for c in window)
            varnum = 7 * sxx - sx * sx
            mean7 = float(sx) / 7.0
            if varnum > 0:
                import math

                z = (float(cnt) - mean7) / math.sqrt(float(varnum) / 42.0)
                anom = abs(z) > 2.0
            else:
                z = None
                anom = cnt * 7 != sx
            expect[(t, d.isoformat())] = (cnt, mean7, z, anom)
    rows = q_events_rolling_anomaly(spark, SF).collect()
    assert {(r.event_type, r.day) for r in rows} == set(expect)
    for r in rows:
        cnt, mean7, z, anom = expect[(r.event_type, r.day)]
        assert r.cnt == cnt
        assert r.mean7 == mean7
        assert (r.zscore is None) == (z is None)
        if z is not None:
            assert r.zscore == z
        assert r.is_anomaly == anom


# ---------------------------------------------------------------------------
# Golden record
# ---------------------------------------------------------------------------
def test_golden_record_survivorship_rules(spark):
    from ipeds_etl_spark.queries.dedup import q_docs_golden_record

    docs = {
        r.doc_id: r
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    rows = q_docs_golden_record(spark, SF).collect()
    # every document is in exactly one cluster
    assert sum(r.cluster_size for r in rows) == len(docs)
    # survivor must be a member maximizing (n_chars, -doc_id) — verify
    # against the registered resolution query's cluster assignment
    from ipeds_etl_spark.queries.dedup import q_docs_dedup_resolution

    assign = {
        r.doc_id: r.cluster_id for r in q_docs_dedup_resolution(spark, SF).collect()
    }
    members: dict[int, list] = {}
    for did, cid in assign.items():
        members.setdefault(cid, []).append(did)
    got = {r.cluster_id: r for r in rows}
    assert set(got) == set(members)
    for cid, mids in members.items():
        best = sorted(mids, key=lambda i: (-docs[i].n_chars, i))[0]
        r = got[cid]
        assert r.survivor_doc_id == best
        assert r.survivor_n_chars == docs[best].n_chars
        langs: dict[str, int] = {}
        for i in mids:
            langs[docs[i].lang] = langs.get(docs[i].lang, 0) + 1
        maj = sorted(langs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert r.majority_lang == maj


# ---------------------------------------------------------------------------
# Blocking-union recall
# ---------------------------------------------------------------------------
def test_blocking_union_recall_invariants(spark):
    from ipeds_etl_spark.queries.dedup import q_dedup_blocking_union_recall

    r = q_dedup_blocking_union_recall(spark, SF).collect()[0]
    assert r.n_gold > 0
    for n in (r.n_lsh, r.n_snm, r.n_simhash):
        assert 0 <= n <= r.n_gold
    assert max(r.n_lsh, r.n_snm, r.n_simhash) <= r.n_union <= r.n_gold
    assert r.n_union <= r.n_lsh + r.n_snm + r.n_simhash
    assert r.recall_union == r.n_union / r.n_gold


# ---------------------------------------------------------------------------
# Cluster purity
# ---------------------------------------------------------------------------
def test_cluster_purity_partitions_corpus_and_recomputes(spark):
    from ipeds_etl_spark.queries.vectors import q_emb_cluster_purity

    e = load_table(spark, SF, "embeddings")
    n = e.count()
    rows = q_emb_cluster_purity(spark, SF).collect()
    assert sum(r.cluster_size for r in rows) == n
    for r in rows:
        assert r.purity == r.n_majority / r.cluster_size
        assert 0 < r.purity <= 1.0
        assert r.n_majority <= r.cluster_size


# ---------------------------------------------------------------------------
# Funnel conversion-time quantiles
# ---------------------------------------------------------------------------
def test_funnel_time_quantiles_match_order_statistics(spark):
    import math

    from ipeds_etl_spark.queries.events import _CONV_QS, q_events_funnel_time_quantiles

    e = load_table(spark, SF, "events").collect()
    views: dict[int, object] = {}
    buys: dict[int, object] = {}
    for r in e:
        if r.event_type == "view" and (r.user_id not in views or r.ts < views[r.user_id]):
            views[r.user_id] = r.ts
        if r.event_type == "purchase" and (
            r.user_id not in buys or r.ts < buys[r.user_id]
        ):
            buys[r.user_id] = r.ts
    conv = sorted(
        int((buys[u] - views[u]).total_seconds() * 1_000_000)
        for u in views
        if u in buys and buys[u] >= views[u]
    )
    got = {r.q: r.conv_micros for r in q_events_funnel_time_quantiles(spark, SF).collect()}
    assert set(got) == set(_CONV_QS)
    for q in _CONV_QS:
        r = max(0, math.ceil(q * len(conv)) - 1)
        assert got[q] == conv[r], q


# ---------------------------------------------------------------------------
# Top-k with ties
# ---------------------------------------------------------------------------
def test_top_customers_ties_uses_rank_semantics(spark):
    from ipeds_etl_spark.queries.tpch import q_nation_top_customers_ties

    rows = q_nation_top_customers_ties(spark, SF).collect()
    by_nation: dict[int, list] = {}
    for r in rows:
        by_nation.setdefault(r.nationkey, []).append(r)
    for nk, rs in by_nation.items():
        # rank values are gap-style: 1, then 1+|ties at 1|, etc; all ≤ 3
        assert all(r.rnk <= 3 for r in rs)
        # equal spends share a rank; strictly larger spend → strictly
        # smaller rank
        for a in rs:
            for b in rs:
                if a.spend == b.spend:
                    assert a.rnk == b.rnk
                elif a.spend > b.spend:
                    assert a.rnk < b.rnk


# ---------------------------------------------------------------------------
# Global prefix sum
# ---------------------------------------------------------------------------
def test_global_prefix_sum_equals_naive_window(spark):
    """Distributed two-phase prefix sum == the single-task window form,
    bit-for-bit, on exact decimals with a descending order."""
    from pyspark.sql import Window

    from ipeds_etl_spark.operators.layout import global_prefix_sum

    o = load_table(spark, SF, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend")
    )
    got = {
        r.o_custkey: r.cum
        for r in global_prefix_sum(
            spend, [F.desc("spend"), F.asc("o_custkey")], "spend", "cum", 8
        ).collect()
    }
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        r.o_custkey: r.cum
        for r in spend.withColumn("cum", F.sum("spend").over(w)).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Pareto 80/20
# ---------------------------------------------------------------------------
def test_pareto_8020_matches_python_decimal_replay(spark):
    from ipeds_etl_spark.queries.tpch import q_orders_pareto_8020

    o = load_table(spark, SF, "orders").select("o_custkey", "o_totalprice").collect()
    from decimal import Decimal

    spend: dict[int, Decimal] = {}
    for r in o:
        spend[r.o_custkey] = spend.get(r.o_custkey, Decimal(0)) + Decimal(
            str(r.o_totalprice)
        ).quantize(Decimal("0.000001"))
    total = sum(spend.values())
    cum = Decimal(0)
    n80 = 0
    for _, s in sorted(spend.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += s
        n80 += 1
        if 5 * cum >= 4 * total:
            break
    r = q_orders_pareto_8020(spark, SF).collect()[0]
    assert r.total_customers == len(spend)
    assert r.top_customers_for_80pct == n80
    assert r.customer_share == float(n80) / len(spend)
    assert 0.8 <= r.revenue_share_at_cut <= 1.0


# ---------------------------------------------------------------------------
# Temporal split
# ---------------------------------------------------------------------------
def test_temporal_split_leakage_matches_python_replay(spark):
    import math

    from ipeds_etl_spark.queries.events import q_events_temporal_split

    e = load_table(spark, SF, "events").select("user_id", "ts").collect()
    micros = sorted(int(r.ts.timestamp() * 1_000_000) for r in e)
    cutoff = micros[max(0, math.ceil(0.8 * len(micros)) - 1)]
    r = q_events_temporal_split(spark, SF).collect()[0]
    assert r.cutoff_micros == cutoff
    assert r.n_train == sum(1 for m in micros if m <= cutoff)
    assert r.n_test == len(micros) - r.n_train
    users: dict[int, list] = {}
    for row in e:
        users.setdefault(row.user_id, []).append(int(row.ts.timestamp() * 1_000_000))
    tr = {u for u, ms in users.items() if min(ms) <= cutoff}
    te = {u for u, ms in users.items() if max(ms) > cutoff}
    assert r.train_users == len(tr)
    assert r.test_users == len(te)
    assert r.overlap_users == len(tr & te)
    assert r.user_leakage_rate == len(tr & te) / len(te)


# ---------------------------------------------------------------------------
# Equi-depth histogram
# ---------------------------------------------------------------------------
def test_equidepth_buckets_partition_and_are_balanced(spark):
    from ipeds_etl_spark.queries.tpch import q_lineitem_price_equidepth

    li = load_table(spark, SF, "lineitem")
    n = li.count()
    rows = q_lineitem_price_equidepth(spark, SF).collect()
    assert [r.bucket for r in rows] == list(range(1, len(rows) + 1))
    assert sum(r.n for r in rows) == n
    # bucket ranges are ordered and non-overlapping
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo
    # equal-frequency within the duplicate-tie tolerance: no bucket is
    # more than 3x the ideal depth
    ideal = n / len(rows)
    assert all(r.n <= 3 * ideal for r in rows)


# ---------------------------------------------------------------------------
# Markov stationary distribution
# ---------------------------------------------------------------------------
def test_markov_stationary_matches_python_integer_replay(spark):
    from ipeds_etl_spark.queries.events import (
        _MK_ITERS,
        _MK_SCALE,
        q_events_markov_stationary,
    )

    e = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user: dict[int, list] = {}
    for r in e:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    m: dict[tuple, int] = {}
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            m[(a, b)] = m.get((a, b), 0) + 1
    deg: dict[str, int] = {}
    for (a, _b), n in m.items():
        deg[a] = deg.get(a, 0) + n
    types = sorted({r.event_type for r in e})
    pi = {t: _MK_SCALE // len(types) for t in types}
    for _ in range(_MK_ITERS):
        nxt: dict[str, int] = {}
        for (a, b), n in m.items():
            nxt[b] = nxt.get(b, 0) + (pi[a] * n) // deg[a]
        pi = nxt
    got = {r.event_type: r.pi_pico for r in q_events_markov_stationary(spark, SF).collect()}
    assert got == pi
    # mass approximately conserved (floor losses only)
    assert 0 <= _MK_SCALE - sum(got.values()) < _MK_SCALE * 0.001


# ---------------------------------------------------------------------------
# Token-budget apportionment
# ---------------------------------------------------------------------------
def test_token_budget_allocates_exactly_and_by_largest_remainder(spark):
    from ipeds_etl_spark.queries.curation import (
        _ALLOC_BUDGET,
        q_docs_token_budget_allocation,
    )

    rows = q_docs_token_budget_allocation(spark, SF).collect()
    assert sum(r.allocated for r in rows) == _ALLOC_BUDGET
    for r in rows:
        assert r.allocated in (r.quota_floor, r.quota_floor + 1)
    # every bumped source has a remainder >= every unbumped source's
    # (ties broken by source name)
    bumped = [(r.remainder, r.source) for r in rows if r.allocated > r.quota_floor]
    unbumped = [(r.remainder, r.source) for r in rows if r.allocated == r.quota_floor]
    if bumped and unbumped:
        assert min((-rm, s) for rm, s in bumped) <= min(
            (-rm, s) for rm, s in unbumped
        )
        assert max((-rm, s) for rm, s in bumped) <= min((-rm, s) for rm, s in unbumped)


# ---------------------------------------------------------------------------
# Winsorized stats
# ---------------------------------------------------------------------------
def test_winsorized_stats_match_python_replay(spark):
    import math

    from ipeds_etl_spark.queries.tpch import q_orders_winsorized_stats

    prices = sorted(
        r.o_totalprice
        for r in load_table(spark, SF, "orders").select("o_totalprice").collect()
    )
    n = len(prices)
    lo = prices[max(0, math.ceil(0.01 * n) - 1)]
    hi = prices[max(0, math.ceil(0.99 * n) - 1)]
    wvals = [min(max(p, lo), hi) for p in prices]
    r = q_orders_winsorized_stats(spark, SF).collect()[0]
    assert r.n == n
    assert r.n_clipped == sum(1 for p in prices if p < lo or p > hi)
    assert r.lo == lo and r.hi == hi
    cents = sum(int(math.floor(v * 100.0)) for v in wvals)
    assert r.winsorized_mean == float(cents) / 100.0 / n


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------
def test_weighted_median_matches_python_replay(spark):
    from ipeds_etl_spark.queries.tpch import q_lineitem_weighted_median_price

    rows = (
        load_table(spark, SF, "lineitem")
        .select("l_extendedprice", "l_quantity")
        .collect()
    )
    pairs = sorted((r.l_extendedprice, int(r.l_quantity)) for r in rows)
    total = sum(w for _, w in pairs)
    cum = 0
    med = None
    for v, w in pairs:
        cum += w
        if 2 * cum >= total:
            med = v
            break
    r = q_lineitem_weighted_median_price(spark, SF).collect()[0]
    assert r.weighted_median == med
    assert r.total_weight == total


# ---------------------------------------------------------------------------
# Butterflies
# ---------------------------------------------------------------------------
def test_butterflies_match_python_replay(spark):
    from ipeds_etl_spark.queries.tpch import q_parts_copurchase_butterflies

    items = (
        load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders: dict[int, set] = {}
    for r in items:
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    co: dict[tuple, int] = {}
    for parts in orders.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                co[(a, b)] = co.get((a, b), 0) + 1
    r = q_parts_copurchase_butterflies(spark, SF).collect()[0]
    assert r.n_copurchase_pairs == len(co)
    assert r.n_butterflies == sum(n * (n - 1) // 2 for n in co.values())
    assert r.pairs_with_reinforcement == sum(1 for n in co.values() if n >= 2)


# ---------------------------------------------------------------------------
# Drift
# ---------------------------------------------------------------------------
def test_drift_contributions_match_python_float_recompute(spark):
    """(o*N - rt*ct)^2 / (N*rt*ct) with the pinned op order reproduces
    every cell bit-for-bit in Python floats; margins are consistent."""
    rows = q_docs_source_lang_drift(spark, SF).collect()
    n = sum(r.observed for r in rows)
    rt: dict[str, int] = {}
    ct: dict[str, int] = {}
    for r in rows:
        rt[r.source] = rt.get(r.source, 0) + r.observed
        ct[r.lang] = ct.get(r.lang, 0) + r.observed
    for r in rows:
        diff = r.observed * n - rt[r.source] * ct[r.lang]
        expect = float(diff * diff) / (float(n) * rt[r.source] * ct[r.lang])
        assert r.chi2_contrib == expect, (r.source, r.lang)
        assert r.expected == float(rt[r.source] * ct[r.lang]) / n


def test_global_prefix_sum_edge_cases(spark):
    """ADVICE r5: empty input must not raise (create_map() with zero
    args), and an all-NULL range partition must not TypeError the
    driver-side offset fold (SUM of nulls -> NULL -> coalesced 0)."""
    from ipeds_etl_spark.operators.layout import global_prefix_sum, global_row_number

    schema = "k int, v long"
    empty = spark.createDataFrame([], schema)
    assert global_prefix_sum(empty, [F.asc("k")], "v", "cum", 4).count() == 0
    assert global_row_number(empty, ["k"], "rn", 4).count() == 0

    # 3 rows, v entirely NULL: partition totals are NULL pre-coalesce
    rows = [(1, None), (2, None), (3, None)]
    nulls = spark.createDataFrame(rows, schema)
    out = global_prefix_sum(nulls, [F.asc("k")], "v", "cum", 2).collect()
    assert len(out) == 3 and all(r.cum is None for r in out)

    # mixed: NULL values contribute nothing; running sum skips them
    mixed = spark.createDataFrame([(1, 10), (2, None), (3, 5)], schema)
    got = {r.k: r.cum for r in global_prefix_sum(mixed, [F.asc("k")], "v", "cum", 2).collect()}
    assert got == {1: 10, 2: 10, 3: 15}
