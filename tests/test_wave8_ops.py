"""Round-6 final wave: LPA communities, CUSUM changepoint, Cohen's
kappa — each checked against an independent single-machine replay
(pure-Python LPA / numpy CUSUM / hand contingency), the same property
style as the k-center and k-means trajectory tests."""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

from ipeds_etl_spark.operators.indexes import lsh_doc_pairs
from ipeds_etl_spark.queries.curation import q_docs_rater_agreement_kappa
from ipeds_etl_spark.queries.dedup import _LPA_ROUNDS, q_dedup_lpa_communities
from ipeds_etl_spark.queries.events import q_events_cusum_changepoint

SF = "/root/testdata/sf0.001"


def test_lpa_matches_sync_replay(spark):
    """Synchronous LPA with (count DESC, label ASC) tie-break is a
    pure function of the edge set — a dict-based replay over the same
    LSH pairs must produce identical community sizes."""
    pairs = [
        (r.id_a, r.id_b) for r in lsh_doc_pairs(spark, SF).collect()
    ]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    lab = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for v, nbrs in adj.items():
            cnt = Counter(lab[u] for u in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lab = nxt
    want = sorted(Counter(lab.values()).items())

    got = sorted(
        (r.community_id, r.n_members)
        for r in q_dedup_lpa_communities(spark, SF).collect()
    )
    assert got == want
    # conservation: every graph node lands in exactly one community
    assert sum(n for _, n in got) == len(adj)


def test_cusum_matches_numpy_replay(spark):
    """Scaled-integer CUSUM peak/argmax per type equals the numpy
    replay over the same daily counts (ties to earliest day)."""
    rows = q_events_cusum_changepoint(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/events.parquet").to_pandas()
    tbl["d"] = tbl["ts"].dt.date
    for r in rows:
        sub = tbl[tbl["event_type"] == r.event_type]
        daily = sub.groupby("d").size().sort_index()
        c = daily.to_numpy(dtype=np.int64)
        nd, total = len(c), int(c.sum())
        cusum = np.cumsum(c * nd - total)
        peak = int(np.max(np.abs(cusum)))
        cp = daily.index[int(np.argmax(np.abs(cusum)))]  # first argmax = earliest
        assert r.n_days == nd
        assert r.peak_abs_cusum == peak
        assert r.cp_date == cp.isoformat()
        before = c[: int(np.argmax(np.abs(cusum))) + 1]
        after = c[int(np.argmax(np.abs(cusum))) + 1 :]
        assert r.mean_before_x1000 == (1000 * int(before.sum())) // len(before)
        if len(after) == 0:
            assert r.mean_after_x1000 is None
        else:
            assert r.mean_after_x1000 == (1000 * int(after.sum())) // len(after)
    # full cusum over all days telescopes to exactly zero, so the last
    # day can never be the (unique-peak) changepoint of a >1-day series
    assert all(r.mean_after_x1000 is not None for r in rows if r.n_days > 1)


def test_kappa_contingency_and_identity(spark):
    """The 2×2 cells sum to the corpus size and kappa satisfies the
    single-division identity on the reported exact cells."""
    (r,) = q_docs_rater_agreement_kappa(spark, SF).collect()
    n = r.yes_yes + r.yes_no + r.no_yes + r.no_no
    assert n == 500
    e = (r.yes_yes + r.yes_no) * (r.yes_yes + r.no_yes) + (
        r.no_yes + r.no_no
    ) * (r.yes_no + r.no_no)
    assert r.kappa == float(n * (r.yes_yes + r.no_no) - e) / float(n * n - e)
    assert r.po_x1000 == (1000 * (r.yes_yes + r.no_no)) // n
    assert -1.0 <= r.kappa <= 1.0


def test_winnowing_matches_python_replay(spark):
    """Window-min selection with the packed (hash, pos) key is a pure
    function of the text — replay it per document in Python over the
    same sha256-prefix hashes and compare the fingerprint pair counts."""
    import hashlib

    from ipeds_etl_spark.queries.dedup import (
        _WIN_K,
        _WIN_MAX_DF,
        _WIN_MIN_SHARED,
        _WIN_POS_SCALE,
        _WIN_W,
        q_docs_winnowing_fingerprints,
    )

    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()

    def h40(s: str) -> int:
        return int(hashlib.sha256(s.encode()).hexdigest()[:10], 16)

    fps = defaultdict(set)
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        if len(text) < _WIN_K + _WIN_W - 1:
            continue
        keys = [
            h40(text[i : i + _WIN_K]) * _WIN_POS_SCALE + i
            for i in range(len(text) - _WIN_K + 1)
        ]
        for i in range(len(keys) - _WIN_W + 1):
            fps[doc_id].add(min(keys[i : i + _WIN_W]) // _WIN_POS_SCALE)
    df = Counter(f for s in fps.values() for f in s)
    want = Counter()
    by_fp = defaultdict(list)
    for d, s in fps.items():
        for f in s:
            if df[f] <= _WIN_MAX_DF:
                by_fp[f].append(d)
    for f, docs in by_fp.items():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                want[(docs[i], docs[j])] += 1
    want = {p: c for p, c in want.items() if c >= _WIN_MIN_SHARED}

    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in q_docs_winnowing_fingerprints(spark, SF).collect()
    }
    assert got == want
    assert len(got) > 0


def test_winnowing_shared_substring_guarantee(spark):
    """Two docs sharing a >= K+W-1-char substring MUST share a
    fingerprint (Schleimer et al. theorem 1) — checked on the replay's
    raw fingerprint sets for a planted pair."""
    import hashlib

    from ipeds_etl_spark.queries.dedup import _WIN_K, _WIN_POS_SCALE, _WIN_W

    def fset(text: str) -> set:
        keys = [
            int(hashlib.sha256(text[i : i + _WIN_K].encode()).hexdigest()[:10], 16)
            * _WIN_POS_SCALE
            + i
            for i in range(len(text) - _WIN_K + 1)
        ]
        return {
            min(keys[i : i + _WIN_W]) // _WIN_POS_SCALE
            for i in range(len(keys) - _WIN_W + 1)
        }

    shared = "the quick brown fox jumps"  # 25 chars >= 12
    a = "AAAA " + shared + " AAAA"
    b = "BBBBBBBB " + shared + " BB"
    assert fset(a) & fset(b)


def test_temperature_mixture_budget_and_isqrt(spark):
    from ipeds_etl_spark.queries.curation import _TEMP_BUDGET, q_docs_temperature_mixture

    rows = q_docs_temperature_mixture(spark, SF).collect()
    assert sum(r.allocated for r in rows) == _TEMP_BUDGET
    import math

    for r in rows:
        assert r.isqrt_w == math.isqrt(r.tokens)
    # T=2 compresses the range toward uniform:
    # the smallest source gets MORE than its proportional share,
    # the largest gets LESS (the whole point of temperature mixing)
    total_tok = sum(r.tokens for r in rows)
    small = min(rows, key=lambda r: r.tokens)
    large = max(rows, key=lambda r: r.tokens)
    assert small.allocated * total_tok > _TEMP_BUDGET * small.tokens
    assert large.allocated * total_tok < _TEMP_BUDGET * large.tokens


def test_skew_profile_matches_numpy(spark):
    from ipeds_etl_spark.queries.tpch import q_orders_key_skew_profile

    (r,) = q_orders_key_skew_profile(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/orders.parquet").to_pandas()
    c = np.sort(tbl.groupby("o_custkey").size().to_numpy(dtype=np.int64))
    n, tot = len(c), int(c.sum())
    i = np.arange(1, n + 1, dtype=np.int64)
    gini = float(2 * int((i * c).sum()) - (n + 1) * tot) / float(n * tot)
    assert r.n_keys == n
    assert r.total_rows == tot
    assert r.gini == gini
    top10 = int(np.sort(c)[-10:].sum())
    assert r.top10_share_x1000 == (1000 * top10) // tot
    assert r.max_key_share_x1000 == (1000 * int(c.max())) // tot


def test_bootstrap_hash_replay_and_coverage(spark):
    """Replicate membership is a pure function of (doc_id, b) — replay
    the hash in Python; the point estimate must sit inside the CI."""
    import hashlib

    from ipeds_etl_spark.queries.curation import _BOOT_B, q_docs_bootstrap_mean_ci

    (r,) = q_docs_bootstrap_mean_ci(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    means = []
    for b in range(_BOOT_B):
        inc = [
            int(n)
            for d, n in zip(tbl["doc_id"], tbl["n_chars"])
            if int(hashlib.sha256(f"{d}:{b}".encode()).hexdigest()[:10], 16) % 2
            == 0
        ]
        means.append((1000 * sum(inc)) // len(inc))
    means.sort()
    assert r.n_replicates == _BOOT_B
    assert r.ci_lo_x1000 == means[1]
    assert r.ci_hi_x1000 == means[_BOOT_B - 2]
    assert r.mean_x1000 == (1000 * int(tbl["n_chars"].sum())) // len(tbl)
    assert r.ci_lo_x1000 <= r.mean_x1000 <= r.ci_hi_x1000


def test_langid_calibration_ece_assembly(spark):
    """Bins partition the corpus; ECE assembles from the exact per-bin
    cells; accuracy respects the permille identity."""
    from ipeds_etl_spark.queries.curation import q_docs_langid_calibration

    rows = q_docs_langid_calibration(spark, SF).collect()
    n = sum(r.n_docs for r in rows)
    assert n == 500
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0 <= r.acc_x1000 <= 1000
        assert r.gap_x1000 == abs(r.mean_conf_x1000 - r.acc_x1000)
    ece_x1000 = sum(r.gap_x1000 * r.n_docs for r in rows) / n
    assert 0.0 <= ece_x1000 <= 1000.0


def test_recency_engagement_dyadic_replay(spark):
    from ipeds_etl_spark.queries.events import q_events_recency_engagement

    rows = q_events_recency_engagement(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/events.parquet").to_pandas()
    d = tbl["ts"].dt.date
    mxd = d.max()
    weeks = ((mxd - d).apply(lambda x: x.days) // 7).clip(upper=16)
    tbl["w"] = (2 ** (16 - weeks)).astype("int64")
    g = tbl.groupby("user_id").agg(score=("w", "sum"), n=("w", "size"))
    want = sorted(
        ((int(s), int(u), int(n)) for u, (s, n) in g.iterrows()),
        key=lambda t: (-t[0], t[1]),
    )[:25]
    got = [(r.score, r.user_id, r.n_events) for r in rows]
    assert got == [(s, u, n) for s, u, n in want]
    # decay sanity: scores strictly positive, sorted desc
    assert all(s > 0 for s, _, _ in got)


def test_cluster_margin_matches_numpy(spark):
    """Quantized centroid/margin arithmetic replayed exactly in numpy."""
    from ipeds_etl_spark.queries.vectors import q_emb_cluster_margin

    rows = {r.label: r for r in q_emb_cluster_margin(spark, SF).collect()}
    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    labels = tbl["label"].to_numpy()
    q = np.stack(
        [
            np.floor(np.asarray(v, dtype=np.float64) * 1000.0)
            for v in tbl["embedding"]
        ]
    ).astype(np.int64)
    # Spark's `div` truncates toward zero; numpy // floors — replicate
    # trunc explicitly (component sums can be negative)
    cents = {}
    for lab in np.unique(labels):
        sub = q[labels == lab]
        s = 1000 * sub.sum(axis=0)
        cents[lab] = np.sign(s) * (np.abs(s) // len(sub))
    per_label = defaultdict(lambda: [0, 0, [], None])
    for x, lab in zip(q, labels):
        d = {
            cl: int(((1000 * x - c) ** 2).sum()) for cl, c in cents.items()
        }
        down = d[lab]
        dother = min(v for cl, v in d.items() if cl != lab)
        margin = dother - down
        agg = per_label[lab]
        agg[0] += 1
        agg[1] += 1 if margin > 0 else 0
        agg[2].append(margin)
    for lab, (n, ncorr, margins, _) in per_label.items():
        r = rows[lab]
        assert r.n_vectors == n
        assert r.n_correct == ncorr
        tot = sum(margins)
        trunc_mean = int(np.sign(tot)) * (abs(tot) // n)
        assert r.mean_margin == trunc_mean
        assert r.min_margin == min(margins)


def test_benford_constants_and_chi2_assembly(spark):
    from ipeds_etl_spark.queries.tpch import _BENFORD_X1E6, q_orders_benford_dq

    assert sum(p for _, p in _BENFORD_X1E6) == 1_000_000
    rows = q_orders_benford_dq(spark, SF).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    n = sum(r.cnt for r in rows)
    for r in rows:
        assert r.deviation_x1e6 == 1_000_000 * r.cnt - n * r.p_x1e6
        assert r.obs_x1e6 == (1_000_000 * r.cnt) // n
    # chi-square assembles from the exact cells
    chi2 = sum(
        (r.cnt - n * r.p_x1e6 / 1e6) ** 2 / (n * r.p_x1e6 / 1e6) for r in rows
    )
    assert chi2 >= 0.0
    # deviations telescope: sum of (1e6*cnt - n*p) over digits == 0
    assert sum(r.deviation_x1e6 for r in rows) == 0


def test_skyline_layers_partition_and_dominance(spark):
    from ipeds_etl_spark.queries.tpch import _SKY_LAYERS, q_parts_skyline_layers

    rows = q_parts_skyline_layers(spark, SF).collect()
    by_layer = defaultdict(list)
    for r in rows:
        by_layer[r.layer].append((float(r.p_retailprice), r.p_size, r.p_partkey))
    assert set(by_layer) <= set(range(1, _SKY_LAYERS + 1))
    keys = [r.p_partkey for r in rows]
    assert len(keys) == len(set(keys))  # layers are disjoint

    def dominates(a, b):
        return a[0] <= b[0] and a[1] <= b[1] and (a[0] < b[0] or a[1] < b[1])

    # within a layer nothing dominates anything
    for pts in by_layer.values():
        for a in pts:
            for b in pts:
                assert not dominates(a, b)
    # every layer-(k+1) point is dominated by some layer-k point
    for k in range(1, max(by_layer)):
        for b in by_layer.get(k + 1, []):
            assert any(dominates(a, b) for a in by_layer[k])


def test_edit_verify_matches_python_levenshtein(spark):
    """Histogram equals a pure-Python Levenshtein replay over the same
    LSH candidate pairs and capped prefixes."""
    from ipeds_etl_spark.queries.dedup import _EDIT_PREFIX, q_dedup_edit_verify

    pairs = [(r.id_a, r.id_b) for r in lsh_doc_pairs(spark, SF).collect()]
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    txt = dict(zip(tbl["doc_id"], tbl["text"]))

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    hist = Counter()
    mins, maxs = {}, {}
    for a, b in pairs:
        pa, pb = txt[a][:_EDIT_PREFIX], txt[b][:_EDIT_PREFIX]
        norm = (1000 * lev(pa, pb)) // max(len(pa), len(pb), 1)
        bkt = min(norm // 100, 9)
        hist[bkt] += 1
        mins[bkt] = min(mins.get(bkt, norm), norm)
        maxs[bkt] = max(maxs.get(bkt, norm), norm)

    got = {
        r.bucket: (r.n_pairs, r.min_norm_x1000, r.max_norm_x1000)
        for r in q_dedup_edit_verify(spark, SF).collect()
    }
    assert got == {b: (hist[b], mins[b], maxs[b]) for b in hist}


def test_nucleus_sources_coverage_boundary(spark):
    from ipeds_etl_spark.queries.curation import q_docs_nucleus_sources

    rows = q_docs_nucleus_sources(spark, SF).collect()
    total = sum(r.tokens for r in rows)
    # rows come back in rank order; cum_tokens is the running total
    run = 0
    for r in rows:
        run += r.tokens
        assert r.cum_tokens == run
    inside = [r for r in rows if r.in_nucleus]
    outside = [r for r in rows if not r.in_nucleus]
    # nucleus covers >= 90% of mass, and dropping its LAST member
    # (the boundary source) would fall under 90%
    assert 10 * inside[-1].cum_tokens >= 9 * total
    assert 10 * (inside[-1].cum_tokens - inside[-1].tokens) < 9 * total
    # membership is a rank prefix
    assert all(
        a.tokens >= b.tokens or (a.tokens, a.source) > (b.tokens, b.source)
        for a, b in zip(rows, rows[1:])
    )
    if outside:
        # prefix property: the last nucleus member outranks the first
        # excluded one in the (tokens DESC, source ASC) order
        last_in, first_out = inside[-1], outside[0]
        assert last_in.tokens > first_out.tokens or (
            last_in.tokens == first_out.tokens
            and last_in.source < first_out.source
        )


def test_lsh_geometry_planner_monotone_and_exact_constants(spark):
    """Recall constants are the exact rationals; collision work and
    recall both fall as rows_per_band grows; the r=4 row matches the
    registry default geometry's bucket structure."""
    from ipeds_etl_spark.queries.dedup import _lsh_recall_x1e6, q_dedup_lsh_geometry_planner

    rows = q_dedup_lsh_geometry_planner(spark, SF).collect()
    assert [r.rows_per_band for r in rows] == [1, 2, 4, 8, 16]
    for r in rows:
        assert r.rows_per_band * r.n_bands == 16
        assert r.est_recall_at_07_x1e6 == _lsh_recall_x1e6(
            r.rows_per_band, r.n_bands
        )
    # exact rational spot check: r=16, b=1 -> 0.7^16 scaled
    assert rows[-1].est_recall_at_07_x1e6 == (7**16 * 10**6) // 10**16
    recalls = [r.est_recall_at_07_x1e6 for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    work = [r.collision_pairs for r in rows]
    assert work == sorted(work, reverse=True)  # finer bands = more collisions
    assert all(r.collision_pairs >= 0 for r in rows)


def test_fano_matches_numpy(spark):
    from ipeds_etl_spark.queries.events import q_events_burstiness_fano

    rows = q_events_burstiness_fano(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/events.parquet").to_pandas()
    tbl["d"] = tbl["ts"].dt.date
    for r in rows:
        c = (
            tbl[tbl["event_type"] == r.event_type]
            .groupby("d")
            .size()
            .to_numpy(dtype=np.int64)
        )
        n, sc, scc = len(c), int(c.sum()), int((c * c).sum())
        assert r.n_days == n
        assert r.mean_x1000 == (1000 * sc) // n
        if n > 1:
            assert r.fano_x1000 == (1000 * (n * scc - sc * sc)) // ((n - 1) * sc)


def test_audio_fingerprint_matches_python_replay(spark):
    """Framing, peak picking, landmark pairing, and the DF-capped
    match replayed in pure Python over the same UTF-8 payloads."""
    from ipeds_etl_spark.queries.vectors import (
        _AF_HOP,
        _AF_MAX_DF,
        _AF_MIN_SHARED,
        _AF_MOD,
        _AF_WIN,
        q_multimodal_audio_fingerprint,
    )

    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    fps = defaultdict(set)
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        p = text.encode("utf-8")
        n = len(p)
        k = 1 if n <= _AF_WIN else (n - _AF_WIN + _AF_HOP - 1) // _AF_HOP + 1
        e = [
            sum(p[i * _AF_HOP : i * _AF_HOP + _AF_WIN]) for i in range(k)
        ]
        peaks = [
            (i, e[i])
            for i in range(1, len(e) - 1)
            if e[i] > e[i - 1] and e[i] >= e[i + 1]
        ]
        for (i1, e1), (i2, e2) in zip(peaks, peaks[1:]):
            fps[doc_id].add(f"{e1 % _AF_MOD}:{e2 % _AF_MOD}:{i2 - i1}")
    df = Counter(f for s in fps.values() for f in s)
    want = Counter()
    by_k = defaultdict(list)
    for d, s in fps.items():
        for f in s:
            if df[f] <= _AF_MAX_DF:
                by_k[f].append(d)
    for f, docs in by_k.items():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                want[(docs[i], docs[j])] += 1
    want = {p_: c for p_, c in want.items() if c >= _AF_MIN_SHARED}

    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in q_multimodal_audio_fingerprint(spark, SF).collect()
    }
    assert got == want
