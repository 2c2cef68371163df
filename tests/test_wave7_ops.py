"""Round-6 late wave: DSIR importance/AUC, B-cubed dedup evaluation,
z-order layout audit, and the k-center coreset's exact numpy replay."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from ipeds_etl_spark.queries.curation import q_docs_dsir_importance
from ipeds_etl_spark.queries.dedup import q_dedup_bcubed_eval
from ipeds_etl_spark.queries.tpch import q_lineitem_zorder_stats
from ipeds_etl_spark.queries.vectors import q_emb_kcenter_coreset

SF = "/root/testdata/sf0.001"


def test_kcenter_matches_numpy_replay(spark):
    """The greedy farthest-point traversal is a pure function of the
    data (trunc-quantized integer distances, min-id seed, min-id tie
    break) — a single-machine numpy replay must reproduce the entire
    trajectory exactly, ids and radii both."""
    got = [
        (r["round"], r.vec_id, r.sel_dist_sq)
        for r in q_emb_kcenter_coreset(spark, SF).collect()
    ]

    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    ids = tbl["vec_id"].to_numpy()
    vecs = np.stack(
        [np.trunc(np.asarray(v, dtype=np.float64) * 1000.0) for v in tbl["embedding"]]
    ).astype(np.int64)
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]

    want = [(0, int(ids[0]), 0)]
    mind = ((vecs - vecs[0]) ** 2).sum(axis=1)
    for rnd in range(1, 8):
        # argmax(mind), tie -> smaller id (ids sorted: first argmax wins)
        best = int(np.argmax(mind))
        want.append((rnd, int(ids[best]), int(mind[best])))
        mind = np.minimum(mind, ((vecs - vecs[best]) ** 2).sum(axis=1))

    assert got == want
    # selection distances are non-increasing (greedy invariant)
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)


def test_bcubed_bounds_and_f1_identity(spark):
    (r,) = q_dedup_bcubed_eval(spark, SF).collect()
    assert r.n_docs == 500
    assert 0.0 < r.bcubed_precision <= 1.0
    assert 0.0 < r.bcubed_recall <= 1.0
    f1 = (2.0 * r.bcubed_precision * r.bcubed_recall) / (
        r.bcubed_precision + r.bcubed_recall
    )
    assert r.bcubed_f1 == f1
    # LSH over-merges (near-dups below 0.7 share bands) but rarely
    # splits true clusters: recall should dominate precision.
    assert r.bcubed_recall >= r.bcubed_precision


def test_zorder_pruning_contrast(spark):
    """Exact numpy replay of both zone maps, plus the layout claim:
    z-order clustering makes min/max pruning strictly more effective
    than round-robin insertion order on both query shapes."""
    (r,) = q_lineitem_zorder_stats(spark, SF).collect()

    t = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_partkey", "l_suppkey", "l_orderkey"]
    ).to_pandas()
    pk = (t["l_partkey"].to_numpy() % 16).astype(np.int64)
    sk = (t["l_suppkey"].to_numpy() % 16).astype(np.int64)
    fn = (t["l_orderkey"].to_numpy() % 64).astype(np.int64)
    z = np.zeros_like(pk)
    for j in range(4):
        z += ((pk >> j) & 1) << (2 * j + 1)
        z += ((sk >> j) & 1) << (2 * j)
    fz = z // 4

    def scanned(fcol, box):
        hits = 0
        for f in np.unique(fcol):
            m = fcol == f
            pmin, pmax = pk[m].min(), pk[m].max()
            smin, smax = sk[m].min(), sk[m].max()
            ok = smin <= 11 and smax >= 8
            if box:
                ok = ok and pmin <= 7 and pmax >= 4
            hits += ok
        return hits

    assert r.n_files == len(np.unique(fz))
    assert r.z_box_files == scanned(fz, True)
    assert r.nat_box_files == scanned(fn, True)
    assert r.z_dim_files == scanned(fz, False)
    assert r.nat_dim_files == scanned(fn, False)
    assert r.box_rows == int(
        ((pk >= 4) & (pk <= 7) & (sk >= 8) & (sk <= 11)).sum()
    )
    # the layout claim itself: z-order prunes, insertion order doesn't
    assert r.z_box_files * 4 <= r.nat_box_files
    assert r.z_dim_files * 2 <= r.nat_dim_files


def test_dsir_auc_separates_seed(spark):
    (r,) = q_docs_dsir_importance(spark, SF).collect()
    assert r.n_target == 11
    assert r.n_rest == 489
    assert r.auc == r.u2 / (2.0 * r.n_target * r.n_rest)
    # the unigram importance weight must rank the planted repetition
    # defect well above chance (imperfectly - shared 31-token vocab)
    assert r.auc > 0.75


def test_label_propagation_bounds_and_locality(spark):
    from ipeds_etl_spark.queries.curation import q_docs_quality_label_propagation

    rows = q_docs_quality_label_propagation(spark, SF).collect()
    assert len(rows) == 20  # one per source
    assert sum(r.n_docs for r in rows) == 500
    for r in rows:
        # permille type-token ratio stays inside its codomain, and the
        # neighbor-mean diffusion cannot escape the initial hull
        assert 0 <= r.avg_initial <= 1000
        assert 0 <= r.avg_smoothed <= 1000
        assert 0 <= r.n_changed <= r.n_docs
    # the planted near-dups guarantee a non-trivial graph: something moved
    assert sum(r.n_changed for r in rows) > 0


def test_source_overlap_matrix_estimates(spark):
    from ipeds_etl_spark.queries.curation import q_docs_source_overlap_matrix

    rows = q_docs_source_overlap_matrix(spark, SF).collect()
    assert len(rows) == 190  # C(20,2) source pairs
    for r in rows:
        assert r.src_a < r.src_b
        assert 0.0 <= r.jaccard_est <= 1.0
        assert r.union_est > 0
        assert r.intersection_est == r.jaccard_est * r.union_est
        assert r.exact_common >= 0


def test_kmeans_matches_numpy_replay(spark):
    """Lloyd's with integer coordinates, min-id seeding, lower-cid tie
    break, and truncating-division centroid updates is a pure function
    of the data — numpy replays the 3 rounds exactly."""
    from ipeds_etl_spark.queries.vectors import q_emb_kmeans_lloyd

    got = [
        (r.cluster_id, r.n_points, r.inertia_sq)
        for r in q_emb_kmeans_lloyd(spark, SF).collect()
    ]

    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    ids = tbl["vec_id"].to_numpy()
    vecs = np.stack(
        [np.trunc(np.asarray(v, dtype=np.float64) * 1000.0) for v in tbl["embedding"]]
    ).astype(np.int64)
    order = np.argsort(ids)
    vecs = vecs[order]
    centroids = {cid: vecs[cid].copy() for cid in range(8)}

    assign = dist = None
    for rnd in range(3):
        cids = sorted(centroids)
        d = np.stack([((vecs - centroids[c]) ** 2).sum(axis=1) for c in cids])
        pick = np.argmin(d, axis=0)  # ties -> first (lowest cid) like the struct min
        assign = np.array([cids[p] for p in pick])
        dist = d[pick, np.arange(len(vecs))]
        if rnd < 2:
            centroids = {}
            for c in np.unique(assign):
                m = vecs[assign == c]
                s = m.sum(axis=0)
                centroids[int(c)] = np.sign(s) * (np.abs(s) // len(m))  # trunc div

    want = [
        (int(c), int((assign == c).sum()), int(dist[assign == c].sum()))
        for c in np.unique(assign)
    ]
    assert got == want


def test_curation_funnel_chains_and_accounts(spark):
    from ipeds_etl_spark.queries.curation import q_docs_curation_funnel

    rows = q_docs_curation_funnel(spark, SF).collect()
    assert [r.stage for r in rows] == [
        "1_quality", "2_exact_dedup", "3_near_dedup", "4_decontaminate",
    ]
    assert rows[0].n_in == 500
    for r in rows:
        assert r.n_in - r.n_kept == r.n_dropped
        assert 0 <= r.n_kept <= r.n_in
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt.n_in == prev.n_kept  # stages chain exactly
    # the planted defects actually exercise the gates
    assert rows[0].n_dropped == 11  # repetitive docs at this sf
    assert rows[2].n_dropped > 0  # near-dups resolved
    assert rows[3].n_dropped > 0  # eval-set containment


def test_kcenter_edge_cases(spark):
    """ADVICE r6: empty input returns [], and k > distinct points stops
    early instead of re-picking covered points (no duplicate center
    ids, no sel_dist_sq=0 rows past the seed)."""
    from ipeds_etl_spark.operators.coreset import kcenter_greedy, quantize_vec

    empty = spark.createDataFrame([], "vec_id long, emb array<float>").select(
        "vec_id", quantize_vec("emb").alias("qvec")
    )
    assert kcenter_greedy(empty, "qvec", "vec_id", k=4) == []

    # 2 distinct points (one duplicated), k=5 -> exactly 2 centers
    dup = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, emb array<float>",
    ).select("vec_id", quantize_vec("emb").alias("qvec"))
    centers = kcenter_greedy(dup, "qvec", "vec_id", k=5)
    ids = [c[1] for c in centers]
    assert len(ids) == len(set(ids)) == 2
    assert centers[0] == (0, 1, 0)
    assert centers[1] == (1, 2, 2 * 1000**2)
