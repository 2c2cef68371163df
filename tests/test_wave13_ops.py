"""Wave-13 semantics beyond the oracle twins: independent Python
replays (Mann-Whitney U with ties, the priority-sample estimator,
the held-out bigram LM) and the cross-query consistency the
value-hash compare can't articulate (sweep@0.40 ≡ emb_near_dups)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _phash(s: str) -> int:
    """Python replay of functions.hashing.parity_hash (40-bit)."""
    return int(hashlib.sha256(s.encode()).hexdigest()[:10], 16)


def _arm(user_id: int) -> str:
    """Replay of operators.sampling.sample_bucket(user_id, salt='ab')."""
    return "A" if _phash("ab" + str(user_id)) % 100 < 50 else "B"


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------
def test_mwu_python_replay(spark):
    """n_a/n_b/2U_A/tie-term per event type must equal a brute-force
    pairwise replay (the O(n_a·n_b) definition, not the prefix-sum
    plan) over the same arm assignment."""
    from ipeds_etl_spark.queries.events import q_events_mann_whitney_u
    from ipeds_etl_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("event_type", "user_id", "value")
        .collect()
    )
    by_type: dict[str, dict[str, list[float]]] = defaultdict(
        lambda: {"A": [], "B": []}
    )
    for r in rows:
        if r.value is None:
            continue
        by_type[r.event_type][_arm(r.user_id)].append(r.value)

    got = {
        r.event_type: r
        for r in q_events_mann_whitney_u(spark, SF).collect()
    }
    assert set(got) == set(by_type)
    for et, arms in by_type.items():
        a, b = arms["A"], arms["B"]
        two_u = 0
        for x in a:
            for y in b:
                if x > y:
                    two_u += 2
                elif x == y:
                    two_u += 1
        pooled = Counter(a) + Counter(b)
        tie = sum(t**3 - t for t in pooled.values())
        g = got[et]
        assert (g.n_a, g.n_b) == (len(a), len(b))
        assert g.two_u_a == two_u, et
        assert int(g.tie_term) == tie, et
        if len(a) and len(b):
            assert math.isclose(
                g.rank_biserial, two_u / (len(a) * len(b)) - 1.0, rel_tol=1e-12
            )
            # z² against the textbook tie-corrected normal approximation
            n = len(a) + len(b)
            mu = len(a) * len(b) / 2.0
            var = (
                len(a) * len(b) / 12.0
                * ((n + 1) - tie / (n * (n - 1)))
            )
            if var > 0:
                z = (two_u / 2.0 - mu) / math.sqrt(var)
                assert math.isclose(g.z_sq, z * z, rel_tol=1e-9), et


# ---------------------------------------------------------------------------
# Priority sampling
# ---------------------------------------------------------------------------
def test_priority_sample_python_replay(spark):
    """τ, k_used and the subset-sum estimate must equal the
    Duffield-Lund-Thorup construction replayed in Python; the
    estimator must be exact whenever the stratum fits in the sample."""
    from ipeds_etl_spark.queries.events import (
        _PS_HS,
        _PS_K,
        q_events_priority_sample_estimator,
    )
    from ipeds_etl_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("event_type", "event_id", "value")
        .collect()
    )
    by_type: dict[str, list[tuple[float, int]]] = defaultdict(list)
    for r in rows:
        if r.value is not None and r.value > 0:
            by_type[r.event_type].append((r.value, r.event_id))

    got = {
        r.event_type: r
        for r in q_events_priority_sample_estimator(spark, SF).collect()
    }
    assert set(got) == set(by_type)
    for et, vw in by_type.items():
        ranked = sorted(
            (
                ((v * _PS_HS) / (_phash("psamp|" + str(eid)) + 1), v, eid)
                for v, eid in vw
            ),
            key=lambda t: (-t[0], t[2]),
        )
        tau = ranked[_PS_K][0] if len(ranked) > _PS_K else 0.0
        est_micro = sum(
            math.floor(max(v, tau) * 1e6) for _, v, _ in ranked[:_PS_K]
        )
        true_micro = sum(math.floor(v * 1e6) for v, _ in vw)
        g = got[et]
        assert g.n_events == len(vw)
        assert g.k_used == min(_PS_K, len(vw))
        assert g.tau == tau
        assert math.isclose(g.est_sum, est_micro / 1e6, rel_tol=1e-12)
        assert math.isclose(g.true_sum, true_micro / 1e6, rel_tol=1e-12)
        if len(vw) <= _PS_K:
            assert g.tau == 0.0 and g.est_sum == g.true_sum
        # the estimator should land in the right ballpark even at k=32
        assert abs(g.err_permille) < 1000.0


# ---------------------------------------------------------------------------
# Held-out bigram LM
# ---------------------------------------------------------------------------
def test_bigram_lm_python_replay(spark):
    """Per-source bigram count and summed floor-log2 surprisal must
    equal an independent replay of train-on-src0 / add-one smoothing;
    surprisal is non-negative by construction."""
    from ipeds_etl_spark.queries.text import _LM_REF_SOURCE, q_docs_bigram_lm_ppl
    from ipeds_etl_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF, "documents")
        .select("source", "text")
        .collect()
    )
    c1: Counter = Counter()
    c2: Counter = Counter()
    vocab: set[str] = set()
    per_src: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for r in docs:
        toks = [t for t in r.text.split() if t]
        bgs = list(zip(toks, toks[1:]))
        per_src[r.source].extend(bgs)
        if r.source == _LM_REF_SOURCE:
            vocab.update(toks)
            for a, b in bgs:
                c1[a] += 1
                c2[(a, b)] += 1
    v = len(vocab)

    got = {r.source: r for r in q_docs_bigram_lm_ppl(spark, SF).collect()}
    assert set(got) == {s for s, bgs in per_src.items() if bgs}
    for src, bgs in per_src.items():
        if not bgs:
            continue
        sum_bits = sum(
            (c1.get(a, 0) + v).bit_length() - (c2.get((a, b), 0) + 1).bit_length()
            for a, b in bgs
        )
        g = got[src]
        assert g.n_bigrams == len(bgs), src
        assert g.sum_bits == sum_bits, src
        assert g.sum_bits >= 0
        assert math.isclose(g.avg_bits, sum_bits / len(bgs), rel_tol=1e-12)
    # the reference source reads as most in-domain under its own LM
    assert min(got, key=lambda s: got[s].avg_bits) == _LM_REF_SOURCE


# ---------------------------------------------------------------------------
# Near-dup threshold sweep
# ---------------------------------------------------------------------------
def test_dup_threshold_sweep_monotone_and_consistent(spark):
    """The sweep must be monotone non-increasing in the threshold,
    internally consistent (removed ≤ pairs, permille = floor), and its
    0.40 row must agree with ``emb_near_dups`` (same candidate
    generator, same verify) — the cross-query check that the sweep
    measures the production operator, not a parallel implementation."""
    from ipeds_etl_spark.queries.vectors import q_emb_near_dups
    from ipeds_etl_spark.queries.vectors import q_emb_dup_threshold_sweep
    from ipeds_etl_spark.sources.tables import load_table

    rows = sorted(
        q_emb_dup_threshold_sweep(spark, SF).collect(),
        key=lambda r: r.threshold_x100,
    )
    assert [r.threshold_x100 for r in rows] == [30, 35, 40, 45, 50]
    n_vecs = load_table(spark, SF, "embeddings").count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_pairs <= prev.n_pairs
        assert cur.n_removed <= prev.n_removed
    for r in rows:
        assert r.n_removed <= r.n_pairs
        assert r.n_removed <= n_vecs
        assert r.removal_permille == (1000 * r.n_removed) // n_vecs

    near = q_emb_near_dups(spark, SF)
    at40 = next(r for r in rows if r.threshold_x100 == 40)
    assert at40.n_pairs == near.count()
    assert at40.n_removed == near.select("id_b").distinct().count()


# ---------------------------------------------------------------------------
# CUPED
# ---------------------------------------------------------------------------
def test_cuped_python_replay(spark):
    """θ, ρ² and the adjusted lift must equal a numpy-free Python
    replay of the pooled-θ CUPED construction; ρ² ∈ [0, 1]; CUPED
    leaves the EXPECTED lift structure intact (adjustment uses only
    the pre-period covariate)."""
    from ipeds_etl_spark.queries.events import q_events_cuped_adjustment
    from ipeds_etl_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "user_id", "unix_micros(ts) AS us", "value")
        .collect()
    )
    evs = [r for r in rows if r.value is not None]
    mid = (min(r.us for r in evs) + max(r.us for r in evs)) // 2
    per: dict[tuple[str, int], list[int]] = defaultdict(lambda: [0, 0])
    for r in evs:
        xy = per[(r.event_type, r.user_id)]
        xy[0 if r.us < mid else 1] += math.floor(r.value * 1e6)

    got = {r.event_type: r for r in q_events_cuped_adjustment(spark, SF).collect()}
    types = {et for et, _ in per}
    assert set(got) == types
    for et in types:
        users = [(u, v) for (t, u), v in per.items() if t == et]
        n = len(users)
        xs = [v[0] for _, v in users]
        ys = [v[1] for _, v in users]
        sxx_c = n * sum(x * x for x in xs) - sum(xs) ** 2
        sxy_c = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        syy_c = n * sum(y * y for y in ys) - sum(ys) ** 2
        g = got[et]
        assert g.n_users == n
        assert g.n_a + g.n_b == n
        if sxx_c > 0:
            assert math.isclose(g.theta, sxy_c / sxx_c, rel_tol=1e-9), et
            if syy_c > 0:
                rho2 = (sxy_c * sxy_c) / (sxx_c * syy_c)
                assert math.isclose(g.var_reduction, rho2, rel_tol=1e-9)
                assert 0.0 <= g.var_reduction <= 1.0
        arms = {
            u: _arm(u) for u, _ in users
        }
        a = [(x, y) for (u, (x, y)) in users if arms[u] == "A"]
        b = [(x, y) for (u, (x, y)) in users if arms[u] == "B"]
        if a and b:
            raw = (
                sum(y for _, y in b) / len(b) - sum(y for _, y in a) / len(a)
            ) / 1e6
            assert math.isclose(g.diff_raw, raw, rel_tol=1e-9, abs_tol=1e-12)
            if sxx_c > 0:
                th = sxy_c / sxx_c
                adj = (
                    (sum(y for _, y in b) / len(b) - th * sum(x for x, _ in b) / len(b))
                    - (sum(y for _, y in a) / len(a) - th * sum(x for x, _ in a) / len(a))
                ) / 1e6
                assert math.isclose(g.diff_cuped, adj, rel_tol=1e-9, abs_tol=1e-12)


def test_priority_sample_plan_has_window_group_limit(spark):
    """The docstring's scale claim, pinned: the per-type row_number
    ranked filter must compile to WindowGroupLimit (partial map-side
    top-k BEFORE the exchange), so the shuffle carries O(partitions·k)
    rows — if a Spark upgrade or a rewrite loses the rank-limit
    pushdown, this fails before the 100 TB run does."""
    from ipeds_etl_spark.queries.events import q_events_priority_sample_estimator

    df = q_events_priority_sample_estimator(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
