"""Wave-12 semantics beyond the oracle twins: independent Python
replays (hash boundaries, DP mechanism, chi-square, Gini) and the
invariants the value-hash compare can't articulate."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _phash(s: str) -> int:
    """Python replay of functions.hashing.parity_hash (40-bit)."""
    return int(hashlib.sha256(s.encode()).hexdigest()[:10], 16)


def _cdc_chunks(tokens: list[str], w: int = 4, d: int = 8) -> list[list[str]]:
    """Independent replay of the content-defined chunking rule."""
    chunks: list[list[str]] = [[]]
    for i0, tok in enumerate(tokens):
        chunks[-1].append(tok)
        if i0 >= w - 1 and _phash(" ".join(tokens[i0 - w + 1 : i0 + 1])) % d == 0:
            chunks.append([])
    if chunks[-1] == []:
        chunks.pop()
    return chunks


def test_cdc_chunk_python_replay(spark):
    """Per-source chunk/token/dup accounting must equal a pure-Python
    replay of the boundary rule over the same corpus."""
    from ipeds_etl_spark.queries.dedup import q_docs_cdc_chunk_dedup
    from ipeds_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    chunk_docs: dict[int, set[int]] = {}
    per_doc: list[tuple[int, str, list[list[str]]]] = []
    for r in docs:
        toks = [t for t in r.text.split() if t]
        if not toks:
            continue
        chunks = _cdc_chunks(toks)
        per_doc.append((r.doc_id, r.source, chunks))
        for c in chunks:
            chunk_docs.setdefault(_phash(" ".join(c)), set()).add(r.doc_id)
    want: dict[str, dict[str, int]] = {}
    for doc_id, source, chunks in per_doc:
        g = want.setdefault(
            source,
            {"n_docs": 0, "n_chunks": 0, "n_tokens": 0, "n_dup_chunks": 0,
             "dup_tokens": 0},
        )
        g["n_docs"] += 1
        for c in chunks:
            g["n_chunks"] += 1
            g["n_tokens"] += len(c)
            if len(chunk_docs[_phash(" ".join(c))]) >= 2:
                g["n_dup_chunks"] += 1
                g["dup_tokens"] += len(c)

    got = {r.source: r for r in q_docs_cdc_chunk_dedup(spark, SF).collect()}
    assert set(got) == set(want)
    for s, w in want.items():
        r = got[s]
        assert (r.n_docs, r.n_chunks, r.n_tokens, r.n_dup_chunks, r.dup_tokens) == (
            w["n_docs"], w["n_chunks"], w["n_tokens"], w["n_dup_chunks"],
            w["dup_tokens"],
        )
        assert r.dup_token_permille == (1000 * w["dup_tokens"]) // w["n_tokens"]
        assert r.avg_chunk_len_x10 == (10 * w["n_tokens"]) // w["n_chunks"]


def test_cdc_boundaries_resynchronize_after_shift(spark, tmp_path):
    """The point of content-defined chunking: PREPENDING text to a
    document perturbs only the chunks up to the first boundary after
    the edit — the shared tail re-synchronizes to identical chunks, so
    chunk-level dedup still sees the shared passage. Fixed-offset
    chunking would shift every chunk."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    )
    shifted = "INTRO WORDS HERE " + base
    spark.createDataFrame(
        [(1, base, "en", "s1", len(base)), (2, shifted, "en", "s1", len(shifted))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    from ipeds_etl_spark.queries.dedup import q_docs_cdc_chunk_dedup

    row = q_docs_cdc_chunk_dedup(spark, str(tmp_path)).collect()[0]
    # Python replay: the two docs must share every chunk from the first
    # post-edit boundary onward
    a = {_phash(" ".join(c)) for c in _cdc_chunks(base.split())}
    b = {_phash(" ".join(c)) for c in _cdc_chunks(shifted.split())}
    shared = a & b
    assert shared, "boundaries never re-synchronized — CDC property broken"
    assert row.n_dup_chunks == sum(
        1
        for c in _cdc_chunks(base.split()) + _cdc_chunks(shifted.split())
        if _phash(" ".join(c)) in shared
    )


def test_dp_histogram_mechanism(spark):
    """Noise must be the exact inverse-CDF lookup of the frozen table
    at the seeded hash; released counts clamp at 0; the CDF itself is
    strictly monotone and complete."""
    from ipeds_etl_spark.queries.curation import (
        _DP_CDF,
        _DP_SCALE,
        q_docs_dp_source_histogram,
    )

    cums = [c for _, c in _DP_CDF]
    assert cums == sorted(cums) and len(set(cums)) == len(cums)
    assert cums[-1] == _DP_SCALE
    assert [k for k, _ in _DP_CDF] == list(range(-8, 9))

    rows = q_docs_dp_source_histogram(spark, SF).collect()
    assert rows
    for r in rows:
        u = _phash(f"dpnoise|{r.source}") % _DP_SCALE
        want_noise = next(k for k, c in _DP_CDF if u < c)
        assert r.noise == want_noise
        assert r.released == max(r.n_docs + r.noise, 0)
        assert r.abs_err == abs(r.noise)


def test_srm_check_python_replay_and_planted_mismatch(spark, tmp_path):
    """(a) sf0.001 readout equals an independent replay of the hash
    assignment and the collapsed chi² form; (b) a deliberately
    one-sided synthetic experiment trips the flag."""
    from ipeds_etl_spark.queries.events import q_events_srm_check
    from ipeds_etl_spark.streaming.jobs import SRM_CRIT_X1E6
    from ipeds_etl_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select("event_type", "user_id").collect()
    arms: dict[str, list[int]] = {}
    for et, uid in {(r.event_type, r.user_id) for r in ev}:
        arms.setdefault(et, [0, 0])[_phash(f"srm|{uid}") % 2] += 1
    got = {r.event_type: r for r in q_events_srm_check(spark, SF).collect()}
    assert set(got) == set(arms)
    for et, (a, b) in arms.items():
        r = got[et]
        assert (r.users_a, r.users_b) == (a, b)
        d, n = a - b, a + b
        assert r.chi2_x1e6 == (1_000_000 * d * d) // n
        assert r.srm_flag == int(1_000_000 * d * d >= SRM_CRIT_X1E6 * n)

    # planted mismatch: keep only users hashed into arm 0 — the most
    # extreme SRM possible must flag
    arm0_users = [u for u in range(1, 400) if _phash(f"srm|{u}") % 2 == 0]
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, ts, u, "exp_biased", 1.0, "{}") for i, u in enumerate(arm0_users)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    row = q_events_srm_check(spark, str(tmp_path)).collect()[0]
    assert row.users_b == 0 and row.srm_flag == 1


def test_revenue_gini_numpy_replay(spark):
    """gini_x1000 equals the textbook rank-formula Gini computed in
    Python over the same floored per-customer revenues."""
    from ipeds_etl_spark.queries.tpch import q_customer_revenue_gini
    from ipeds_etl_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders")
    rev = sorted(
        (int(r.x), int(r.c))
        for r in o.groupBy(F.col("o_custkey").alias("c"))
        .agg(F.floor(F.sum("o_totalprice")).cast("long").alias("x"))
        .collect()
    )
    xs = [x for x, _ in sorted(rev, key=lambda t: (t[0], t[1]))]
    n, s = len(xs), sum(xs)
    t = sum((i + 1) * x for i, x in enumerate(xs))
    want = (1000 * (2 * t - (n + 1) * s)) // (n * s)

    row = q_customer_revenue_gini(spark, SF).collect()[0]
    assert (row.n_customers, row.total_revenue, row.gini_x1000) == (n, s, want)
    assert 0 <= row.gini_x1000 < 1000


def test_packing_fragmentation_identities(spark):
    """Packing never uses more blocks than padding; waste permilles
    recompute exactly from the block counts; token totals agree with a
    direct count."""
    from ipeds_etl_spark.queries.text import _FRAG_CTX, q_docs_packing_fragmentation
    from ipeds_etl_spark.functions import text as TX
    from ipeds_etl_spark.sources.tables import load_table

    L = _FRAG_CTX
    rows = q_docs_packing_fragmentation(spark, SF).collect()
    assert rows
    d = load_table(spark, SF, "documents")
    totals = {
        r.source: r.t
        for r in d.select(
            "source", TX.token_count(F.col("text")).cast("long").alias("n")
        )
        .filter(F.col("n") > 0)
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .collect()
    }
    for r in rows:
        assert r.total_tokens == totals[r.source]
        assert r.packed_blocks == (r.total_tokens + L - 1) // L
        assert r.packed_blocks <= r.padded_blocks
        assert r.blocks_saved == r.padded_blocks - r.packed_blocks
        assert r.padded_waste_permille == (
            1000 * (r.padded_blocks * L - r.total_tokens)
        ) // (r.padded_blocks * L)
        assert r.packed_waste_permille == (
            1000 * (r.packed_blocks * L - r.total_tokens)
        ) // (r.packed_blocks * L)
        assert r.packed_waste_permille <= r.padded_waste_permille


def test_ivf_probe_sweep_monotonicity(spark):
    """Recall must be non-decreasing in nprobe (more probed partitions
    can only add candidates), hit at most k_total, and reach the
    single-point emb_ivf_recall gate's value at nprobe=2."""
    from ipeds_etl_spark.queries.vectors import q_emb_ivf_probe_sweep

    rows = {r.n_probe: r for r in q_emb_ivf_probe_sweep(spark, SF).collect()}
    assert sorted(rows) == [1, 2, 4]
    prev = -1.0
    for p in (1, 2, 4):
        r = rows[p]
        assert 0 <= r.n_hit <= r.k_total
        assert r.recall == r.n_hit / r.k_total
        assert r.recall >= prev
        prev = r.recall

    from ipeds_etl_spark.queries.vectors import q_emb_ivf_recall

    gate = q_emb_ivf_recall(spark, SF).collect()
    assert rows[2].n_hit == sum(g.n_hit for g in gate)
    assert rows[2].k_total == sum(g.k for g in gate)


def test_bot_score_python_replay(spark):
    """The per-user heuristics and the point rule must equal an
    independent Python replay over the raw events."""
    from ipeds_etl_spark.queries.events import (
        _BOT_BURST_MIN,
        _BOT_MONOTONY_PERMILLE,
        _BOT_POINTS_FLAG,
        q_events_bot_score,
    )
    from ipeds_etl_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us")
    ).collect()
    per_min: dict[tuple, int] = {}
    per_type: dict[tuple, int] = {}
    for r in ev:
        per_min[(r.user_id, r.us // 60_000_000)] = (
            per_min.get((r.user_id, r.us // 60_000_000), 0) + 1
        )
        per_type[(r.user_id, r.event_type)] = (
            per_type.get((r.user_id, r.event_type), 0) + 1
        )
    users: dict[int, dict] = {}
    for (u, _), c in per_min.items():
        g = users.setdefault(u, {"n": 0, "mins": 0, "mx": 0, "top": 0, "nt": 0})
        g["n"] += c
        g["mins"] += 1
        g["mx"] = max(g["mx"], c)
    for (u, _), c in per_type.items():
        g = users[u]
        g["top"] = max(g["top"], c)
        g["nt"] += 1

    def points(g):
        tp = (1000 * g["top"]) // g["n"]
        return (
            int(g["mx"] >= _BOT_BURST_MIN)
            + int(tp >= _BOT_MONOTONY_PERMILLE)
            + int(g["n"] >= 2 * g["mins"])
        )

    want = sorted(
        (
            (-points(g), -g["n"], u)
            for u, g in users.items()
        )
    )[:20]
    got = q_events_bot_score(spark, SF).collect()
    assert [r.user_id for r in got] == [u for _, _, u in want]
    for r in got:
        g = users[r.user_id]
        assert (r.n_events, r.active_minutes, r.max_per_minute, r.n_types) == (
            g["n"], g["mins"], g["mx"], g["nt"]
        )
        assert r.top_type_permille == (1000 * g["top"]) // g["n"]
        assert r.bot_points == points(g)
        assert r.is_bot == int(points(g) >= _BOT_POINTS_FLAG)


def test_pq_codebook_balance_bounds(spark):
    """Simpson ×10⁶ is bounded below by the uniform value 10⁶/n_used
    and above by 10⁶; per-subspace shares are consistent; subspaces
    cover exactly the PQ geometry."""
    from ipeds_etl_spark.operators.indexes import PQ_M
    from ipeds_etl_spark.queries.vectors import q_emb_pq_codebook_balance

    rows = q_emb_pq_codebook_balance(spark, SF).collect()
    assert [r.subspace for r in rows] == list(range(PQ_M))
    for r in rows:
        assert 1 <= r.n_codes_used <= 16
        # uniform lower bound (integer-truncated), degenerate upper
        assert 1_000_000 // r.n_codes_used <= r.simpson_x1e6 + r.n_codes_used
        assert r.simpson_x1e6 <= 1_000_000
        assert 1000 // r.n_codes_used <= r.max_code_share_permille <= 1000
