"""Greedy k-center coreset selection (farthest-point traversal) over
an integer-quantized embedding column.

The classic 2-approximation for the k-center objective (Gonzalez
1985): seed with one point, then repeatedly add the point farthest
from the current center set. Used in training-data curation as the
diversity-maximizing sampler (pick k exemplars that cover the
embedding space) — the opposite pole from dedup, which removes the
redundant points this traversal never picks.

Determinism contract: distances are squared euclidean over
TRUNC(x * 1000) integer components (BIGINT end to end — no float
accumulation order anywhere), the seed is the minimum id, and ties on
the farthest distance break toward the smaller id. Given identical
input doubles the whole trajectory is a pure function of the data, so
a single-machine numpy replay must match exactly
(`tests/test_wave7_ops.py`).

Scale: each of the k rounds is one map-side distance update against a
k-element broadcast literal plus one map-combinable struct-max
aggregation — no shuffle of the point set, no driver collect beyond
the single argmax row per round. The running min-distance column is
`localCheckpoint`-ed per round (the components/BPE house pattern) so
round r does not recompute rounds 0..r-1's distance lambdas. The
point set enters once; total cost is k scans of one cached projection.

No reference counterpart (kebe3476/ipeds_etl has no embedding
operators); extension-track operator alongside
`operators/similarity.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit

#: fixed-point scale for embedding quantization: TRUNC(x * 1000).
QUANT_SCALE = 1000


def quantize_vec(col):
    """array<float> -> array<long> via TRUNC(x * 1000) per component
    (double multiply, then the toward-zero long cast — the one float
    op, applied independently per component so there is no
    accumulation-order hazard)."""
    return F.transform(
        col, lambda x: (x.cast("double") * float(QUANT_SCALE)).cast("long")
    )


def _dist_sq(vec_col, center_literal):
    """Squared euclidean distance between an array<long> column and a
    python list of ints (becomes an array literal) — BIGINT fold."""
    lit = array_lit([int(v) for v in center_literal]).cast("array<bigint>")
    diffs = F.zip_with(vec_col, lit, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _min_dist_sq(vec_col, centers_vecs: list[list[int]]):
    """Min squared euclidean distance from an array<long> column to a
    center MATRIX embedded as one constant-folded literal — each
    per-center fold is exactly ``_dist_sq``'s (BIGINT, exact), and
    ``array_min`` over exact integers equals the sequential ``least``
    chain, so the running-min value is bit-identical to the
    round-by-round update (opt r13)."""
    m = array_lit([[int(v) for v in c] for c in centers_vecs]).cast(
        "array<array<bigint>>"
    )
    return F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(centers_vecs))),
            lambda i: F.aggregate(
                F.zip_with(
                    vec_col,
                    F.element_at(m, i.cast("int")),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )


def kcenter_greedy(
    df: DataFrame,
    vec_col: str = "qvec",
    id_col: str = "vec_id",
    k: int = 8,
) -> list[tuple[int, int, int]]:
    """Run the greedy traversal; returns [(round, id, sel_dist_sq)].

    ``sel_dist_sq`` is the squared distance from the picked point to
    the center set at the moment of selection (the k-center coverage
    radius BEFORE the pick takes effect); round 0's is 0 by
    convention. The df must carry an array<long> ``vec_col``.

    Edge cases (ADVICE r6): an empty input returns ``[]``, and when
    ``k`` exceeds the number of DISTINCT points the traversal stops
    early — once the farthest remaining distance is 0, every point is
    already a center (duplicates included) and further rounds would
    only emit duplicate center ids.
    """
    pts = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).localCheckpoint()

    # seed: minimum id (metadata-sized collect — one row; empty input
    # means there is nothing to cover)
    seed_rows = pts.orderBy("id").limit(1).collect()
    if not seed_rows:
        return []
    seed = seed_rows[0]
    centers = [(0, int(seed["id"]), 0)]
    cvecs = [[int(v) for v in seed["v"]]]

    for rnd in range(1, k):
        # argmax(mind), tie -> min id; carry the vector in the struct so
        # ONE aggregation yields both the winner and its coordinates
        # (struct max orders field-by-field; v never decides because
        # (mind, -id) is already unique). The running min-distance is
        # re-derived each round from the once-checkpointed point set
        # via one matrix-literal loop (`_min_dist_sq`) instead of a
        # per-round localCheckpoint of the wide (id, v, mind) frame:
        # materializing ~|pts|·dim longs every round cost more than
        # re-folding r tiny distance loops map-side (opt r13; exact
        # integer distances, so the trajectory is bit-identical).
        mind = _min_dist_sq(F.col("v"), cvecs)
        picked = pts.agg(
            F.max(F.struct(mind.alias("mind"), (-F.col("id")).alias("negid"), F.col("v")))
            .alias("p")
        ).collect()[0]["p"]
        pid, pdist, pvec = int(-picked["negid"]), int(picked["mind"]), list(picked["v"])
        if pdist == 0:
            # all points coincide with an existing center: the center
            # set already covers everything at radius 0 — stop instead
            # of re-picking covered points
            break
        centers.append((rnd, pid, pdist))
        cvecs.append([int(v) for v in pvec])
    return centers


def kcenter_coreset_df(
    spark: SparkSession, df: DataFrame, vec_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """DataFrame wrapper: (round, vec_id, sel_dist_sq) — k rows."""
    centers = kcenter_greedy(df, vec_col=vec_col, id_col=id_col, k=k)
    out = spark.createDataFrame(
        [(int(r), int(i), int(d)) for r, i, d in centers],
        "round INT, vec_id BIGINT, sel_dist_sq BIGINT",
    )
    return out.orderBy("round")
