"""Round-6 coda: survivorship-bias audit and keyword taxonomy tagging."""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq

from ipeds_etl_spark.queries.dedup import q_docs_dedup_survivorship
from ipeds_etl_spark.queries.text import _TAXONOMY, q_docs_keyword_tagging

SF = "/root/testdata/sf0.001"


def test_survivorship_conservation_and_bounds(spark):
    """Per-source counts partition the corpus; kept <= total; the
    corpus-wide kept count equals the resolution query's keepers."""
    from ipeds_etl_spark.queries.dedup import q_docs_dedup_resolution

    rows = q_docs_dedup_survivorship(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    per_source = Counter(tbl["source"])
    assert {r.source: r.n_docs for r in rows} == dict(per_source)
    for r in rows:
        assert 0 < r.n_kept <= r.n_docs
        assert r.kept_x1000 == (1000 * r.n_kept) // r.n_docs
        assert 0 <= r.q_kept_x1000 <= 1000
        assert 0 <= r.q_all_x1000 <= 1000
    res = q_docs_dedup_resolution(spark, SF).collect()
    assert sum(r.n_kept for r in rows) == sum(1 for x in res if x.keep)


def test_keyword_tagging_matches_python_replay(spark):
    rows = q_docs_keyword_tagging(spark, SF).collect()
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    want: dict[tuple, list[int]] = {}
    for src, text in zip(tbl["source"], tbl["text"]):
        toks = [t for t in text.split() if t]
        for tag, words in _TAXONOMY:
            hits = sum(1 for t in toks if t in words)
            if (src, tag) not in want:
                want[(src, tag)] = [0, 0]
            want[(src, tag)][0] += 1 if hits > 0 else 0
            want[(src, tag)][1] += hits
    want = {k: v for k, v in want.items() if v[0] > 0}
    got = {(r.source, r.tag): [r.n_docs_tagged, r.n_hits] for r in rows}
    assert got == want
    assert len(got) > 0


def test_pq_distortion_matches_numpy(spark):
    """Reconstruction error replayed in numpy from the same memoized
    codebooks (the k-center/k-means trajectory-test style)."""
    import numpy as np

    from ipeds_etl_spark.operators.indexes import PQ_SUB_DIM, pq_codebook
    from ipeds_etl_spark.queries.vectors import q_emb_pq_distortion

    rows = {r.vec_id: r for r in q_emb_pq_distortion(spark, SF).collect()}
    books = pq_codebook(spark, SF)
    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    for vec_id, emb in zip(tbl["vec_id"], tbl["embedding"]):
        x = np.asarray(emb, dtype=np.float64)
        r = rows[vec_id]
        total = 0.0
        for s, book in enumerate(books):
            sub = x[s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM]
            code = getattr(r, f"code_{s}")
            cw = np.asarray(dict(book)[code], dtype=np.float64)
            # left-fold (x-y)^2 sum: same order as both engines
            acc = 0.0
            for a, b in zip(sub, cw):
                acc = acc + (float(a) - float(b)) * (float(a) - float(b))
            total = total + acc if s else acc
        assert r.recon_err2 == total
        assert r.recon_err2 >= 0.0


def test_tercile_routing_balance(spark):
    """Buckets partition each source roughly in thirds (exact within
    score-tie granularity) and bucket ranges are ordered and disjoint."""
    from ipeds_etl_spark.queries.curation import q_docs_quality_tercile_routing

    rows = q_docs_quality_tercile_routing(spark, SF).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.bucket] = r
    tbl = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    per_source = tbl.groupby("source").size().to_dict()
    for src, buckets in by_src.items():
        n = sum(r.n_docs for r in buckets.values())
        assert n == per_source[src]
        # tail gets at least a third (the cutoff crosses n/3 inclusively)
        assert 3 * buckets["tail"].n_docs >= n
        # ranges ordered: tail.max <= middle.min range etc. (when present)
        order = [b for b in ("tail", "middle", "head") if b in buckets]
        for a, b in zip(order, order[1:]):
            assert buckets[a].max_sc < buckets[b].min_sc


def test_seasonal_naive_backtest_matches_pandas(spark):
    import pandas as pd

    from ipeds_etl_spark.queries.tpch import q_orders_seasonal_naive_backtest

    rows = {r.month: r for r in q_orders_seasonal_naive_backtest(spark, SF).collect()}
    tbl = pq.read_table(f"{SF}/orders.parquet").to_pandas()
    import math

    tbl["cents"] = tbl["o_totalprice"].apply(lambda x: int(math.floor(x * 100 + 0.5)))
    tbl["month"] = tbl["o_orderdate"].dt.strftime("%Y-%m")
    monthly = tbl.groupby("month")["cents"].sum().to_dict()
    n_checked = 0
    for month, actual in monthly.items():
        y, m = int(month[:4]), int(month[5:7])
        prev = f"{y - 1:04d}-{m:02d}"
        if prev not in monthly:
            assert month not in rows
            continue
        r = rows[month]
        assert r.actual_cents == actual
        assert r.forecast_cents == monthly[prev]
        assert r.abs_err_cents == abs(actual - monthly[prev])
        assert r.ape_x1000 == (1000 * abs(actual - monthly[prev])) // actual
        n_checked += 1
    assert n_checked == len(rows) > 0
    # WAPE assembles from exact cells
    wape = sum(r.abs_err_cents for r in rows.values()) / sum(
        r.actual_cents for r in rows.values()
    )
    assert 0.0 <= wape


def test_ship_latency_percentiles_match_numpy(spark):
    import numpy as np

    from ipeds_etl_spark.queries.tpch import q_supplier_ship_latency_percentiles

    rows = {r.suppkey: r for r in q_supplier_ship_latency_percentiles(spark, SF).collect()}
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    o = pq.read_table(f"{SF}/orders.parquet").to_pandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["d"] = (j["l_shipdate"].dt.normalize() - j["o_orderdate"].dt.normalize()).dt.days
    for suppkey, grp in j.groupby("l_suppkey"):
        d = np.sort(grp["d"].to_numpy(dtype=np.int64))
        n = len(d)
        r = rows[suppkey]
        assert r.n_items == n

        def cutoff(num, den):
            # smallest value whose cumulative count crosses num/den
            k = -(-num * n // den)  # ceil(num*n/den)
            return int(d[k - 1])

        assert r.p50_days == cutoff(1, 2)
        assert r.p90_days == cutoff(9, 10)
        assert r.p99_days == cutoff(99, 100)
        assert r.min_days == int(d[0])
