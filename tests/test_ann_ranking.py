"""The ranking rule every vector top-k variant shares
(``similarity._top_k``): no query is its own neighbor, ranks run
1..n, scores never rise with rank, and equal scores rank by ascending
``neighbor_id``. The fixture repeats each of 10 vectors four times, so
exact duplicates tie under every scorer, exact or compressed."""

from __future__ import annotations

import random
from itertools import groupby

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.operators import similarity as SIM

DIM, SUB_DIM, N_SUB = 8, 4, 2


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rng = random.Random(11)
    base = [[rng.uniform(-1.0, 1.0) for _ in range(DIM)] for _ in range(10)]
    rows = [(i, base[i % 10]) for i in range(40)]
    return spark.createDataFrame(rows, "id long, vec array<float>")


def _variants(corpus):
    q = corpus.filter(F.col("id") < 5)
    cents = SIM.build_ivf_centroids(corpus, "id", "vec", n_centroids=4, n_iters=1)
    book_args = dict(n_subspaces=N_SUB, sub_dim=SUB_DIM, n_centroids=4, n_iters=1)
    books = SIM.build_pq_codebooks(corpus, "id", "vec", **book_args)
    rbooks = SIM.build_pq_codebooks(
        SIM.residual_frame(corpus, "id", "vec", cents), "id", "vec", **book_args
    )
    search = dict(k=6, n_short=12, sub_dim=SUB_DIM)
    return {
        "brute_force_topk": SIM.brute_force_topk(corpus, q, "id", "vec", k=6),
        "ivf_topk": SIM.ivf_topk(corpus, q, "id", "vec", k=6, n_probe=2, cent_rows=cents),
        "pq_topk": SIM.pq_topk(corpus, q, "id", "vec", books, k=6, sub_dim=SUB_DIM),
        "pq_topk_rerank": SIM.pq_topk_rerank(corpus, q, "id", "vec", books, **search),
        "sq8_topk": SIM.sq8_topk(corpus, q, "id", "vec", SIM.sq8_train(corpus, "vec"), k=6),
        "ivfpq_topk": SIM.ivfpq_topk(
            corpus, q, "id", "vec", cents, books, n_probe=2, **search
        ),
        "ivfpq_residual_topk": SIM.ivfpq_residual_topk(
            corpus, q, "id", "vec", cents, rbooks, n_probe=2, **search
        ),
    }


def test_every_variant_ranks_by_one_rule(spark, dup_corpus):
    for name, df in _variants(dup_corpus).items():
        score = df.columns[2]
        rows = sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"]))
        assert rows, name
        ties = 0
        for qid, grp in groupby(rows, key=lambda r: r["query_id"]):
            grp = list(grp)
            assert all(r["neighbor_id"] != qid for r in grp), (name, qid)
            assert [r["rank"] for r in grp] == list(range(1, len(grp) + 1)), (name, qid)
            for a, b in zip(grp, grp[1:]):
                assert a[score] >= b[score], (name, qid, a, b)
                if a[score] == b[score]:
                    ties += 1
                    assert a["neighbor_id"] < b["neighbor_id"], (name, qid, a, b)
        assert ties > 0, f"{name}: the fixture produced no equal scores"
