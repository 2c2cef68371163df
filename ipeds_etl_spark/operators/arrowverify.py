"""Arrow-batched in-bucket pair verification — the engine's one
production verify for the ANN near-dup family (emb_near_dups,
emb_rp_lsh_near_dups, the banded RP-LSH pairs of
emb_rp_lsh_banded_recall, emb_semantic_dedup, emb_dup_threshold_sweep,
emb_semdedup). The three kernels share one chunk-row decode
(``_decoded_chunks``) and differ only in their bounds and emit.

Spark does the distribution and the bucket shuffle; each chunk of a
bucket goes to numpy whole, inside one ``mapInArrow`` stage. Pair
enumeration and cap semantics are those of every in-bucket expansion
(``dedup.capped_bucket_arrays`` and the chunked expansion frame
below). The same verify spelled as a JVM higher-order-function fold
(~25M interpreted zip_with/aggregate folds at sf1 across the
8-centroid family; 25.9 s vs 13.4 s with this module in the r14 sf1
record) lives in the tests as the bit-parity reference.

Bit-parity with the JVM fold, by construction (and pinned by tests
against it on real corpora):

* dot: the JVM form is products in index order, left-folded from 0.0 —
  one rounded multiply + one rounded add per dimension. The numpy
  spelling ``for d in range(dim): C += A[:, d:d+1] * B[None, :, d]``
  performs the same two rounded IEEE ops per cell in the same index
  order (numpy elementwise ops do not fuse multiply-add), so every
  accumulated double is bit-identical. float32→float64 casts are
  exact; int64 arithmetic is exact on both sides.
* cosine: ``C / (na * nb)`` — one rounded multiply, one rounded
  divide, same operand order as the JVM expression; the norms ride
  the payload FROM the JVM (computed once per member by the
  ``similarity.norm`` expression), so they are the same doubles.
* comparisons on identical doubles yield identical booleans, hence
  identical qualifying sets and identical emitted values.

Memory stays bounded by construction: a task's score block is
``chunk × bucket_cap`` float64 (≤ 128 × 10k × 8 B = 10 MB at the
default cap), and the bucket array itself is the only wide value.

Workers need only numpy and pyarrow: this module is registered with
cloudpickle to pickle BY VALUE (bottom of the file), so the kernels
and their module-level helpers travel inside the task instead of
being imported from the package on the worker — a Spark driver with
the package only on its own ``sys.path`` (started from any other
working directory) runs them too.
"""

from __future__ import annotations

import sys
from typing import Iterator, Sequence

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipeds_etl_spark.operators.dedup import (
    FUSED_PAIR_CHUNK,
    MAX_BUCKET_SIZE_DEFAULT,
    capped_bucket_arrays,
)


def _chunked_buckets(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    payload: Column,
    max_bucket_size: int | None,
    cap_mode: str,
    chunk: int,
) -> DataFrame:
    """The shared chunked expansion frame: one row per (bucket, chunk
    index), the capped sorted payload array duplicated per chunk row,
    round-robin repartitioned so n_buckets × ⌈B/chunk⌉ work units
    spread over the task space."""
    grouped = capped_bucket_arrays(
        bucketed, bucket_cols, payload, max_bucket_size, cap_mode
    )
    n_part = int(
        bucketed.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        or 32
    )
    n_chunks = F.floor((F.size("xs") - F.lit(2)) / F.lit(chunk)).cast("int")
    return grouped.select(
        *bucket_cols, "xs", F.explode(F.sequence(F.lit(0), n_chunks)).alias("__c")
    ).repartition(n_part)


def _np_dot_block(A, B):
    """dot(A[i], B[j]) for all (i, j) with the JVM fold's exact IEEE
    op order per cell (see module docstring)."""
    import numpy as np

    C = np.zeros((A.shape[0], B.shape[0]), dtype=A.dtype)
    for d in range(A.shape[1]):
        C += A[:, d : d + 1] * B[None, :, d]
    return C


def _decoded_chunks(batches, vec_field: str, aux_field: str, dtype: str):
    """Every (bucket, chunk) row of a chunk-frame batch stream, decoded
    once for all kernels: yields ``(batch, r, ids, M, aux, c)`` — the
    row's members' id array, their vectors as an ``n × dim`` ``dtype``
    matrix, the per-member ``aux_field`` as numpy, and the chunk
    index."""
    for batch in batches:
        xs = batch.column("xs")
        cs = batch.column("__c")
        for r in range(batch.num_rows):
            members = xs[r].values
            ids = members.field("id")
            vecs = members.field(vec_field)
            M = (
                vecs.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(dtype)
                .reshape(len(ids), len(vecs[0]))
            )
            aux = members.field(aux_field).to_numpy(zero_copy_only=False)
            yield batch, r, ids, M, aux, cs[r].as_py()


def pair_cos_hits_within_buckets(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str,
    vec_col: str,
    threshold: float,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    cap_mode: str = "window",
    chunk: int = FUSED_PAIR_CHUNK,
) -> DataFrame:
    """Qualifying cosine pairs (``id_a < id_b``, ``cos_sim >=
    threshold``) within shared buckets — the verify of
    ``similarity.embedding_near_dups``, ``rp_lsh_near_dups`` and
    ``rp_lsh_banded_pairs``. Returns ``id_a, id_b, cos_sim`` with the id column's
    original type preserved."""
    import numpy as np
    import pyarrow as pa

    from ipeds_etl_spark.operators.similarity import norm

    payload = F.struct(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    chunked = _chunked_buckets(
        bucketed.select(*bucket_cols, id_col, vec_col),
        bucket_cols,
        payload,
        max_bucket_size,
        cap_mode,
        chunk,
    )
    id_type = bucketed.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
    thr = float(threshold)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _, _, ids, M, nrm, c in _decoded_chunks(batches, "vec", "nrm", "float64"):
            lo = c * chunk  # first a-position (0-based)
            hi = min(lo + chunk - 1, len(ids) - 2)
            if hi < lo:
                continue
            A = M[lo : hi + 1]
            B = M[lo + 1 :]
            cos = _np_dot_block(A, B) / (
                nrm[lo : hi + 1, None] * nrm[None, lo + 1 :]
            )
            # partners strictly after the a-position: column j of the
            # block is absolute position lo+1+j, valid for row i
            # (absolute lo+i) when lo+1+j > lo+i, i.e. j >= i
            ai = np.arange(hi - lo + 1)
            bj = np.arange(cos.shape[1])
            keep = (bj[None, :] >= ai[:, None]) & (cos >= thr)
            ii, jj = np.nonzero(keep)
            if len(ii) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(ii + lo, pa.int32())),
                    ids.take(pa.array(jj + lo + 1, pa.int32())),
                    pa.array(cos[ii, jj], pa.float64()),
                ],
                ["id_a", "id_b", "cos_sim"],
            )

    return chunked.mapInArrow(fn, out_schema)


def member_cos_stats_within_buckets(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str,
    vec_col: str,
    floor: float,
    thresholds: Sequence[float],
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    cap_mode: str = "window",
    chunk: int = FUSED_PAIR_CHUNK,
) -> DataFrame:
    """Per-MEMBER qualifying-pair stats over the b-side of the
    in-bucket pair stream (what a groupBy on the pair stream's b-side
    id would compute, without materializing the pairs): for every
    member at sorted position j ≥ 1, the count of earlier partners
    with ``cos >= t`` per threshold and the max qualifying cosine
    (−1.0 sentinel when none reaches ``floor``).
    Returns ``id, c0..c<k-1> (long), mc double``."""
    import numpy as np
    import pyarrow as pa

    from ipeds_etl_spark.operators.similarity import norm

    payload = F.struct(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    chunked = _chunked_buckets(
        bucketed.select(*bucket_cols, id_col, vec_col),
        bucket_cols,
        payload,
        max_bucket_size,
        cap_mode,
        chunk,
    )
    id_type = bucketed.schema[id_col].dataType.simpleString()
    names = [f"c{i}" for i in range(len(thresholds))]
    out_schema = ", ".join(
        [f"id {id_type}", *[f"{nm} long" for nm in names], "mc double"]
    )
    ts = [float(t) for t in thresholds]
    flr = float(floor)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _, _, ids, M, nrm, c in _decoded_chunks(batches, "vec", "nrm", "float64"):
            lo = c * chunk + 1  # first b-position (0-based sorted)
            hi = min(lo + chunk - 1, len(ids) - 1)
            if hi < lo:
                continue
            A = M[:hi]
            B = M[lo : hi + 1]
            cos = _np_dot_block(A, B) / (nrm[:hi, None] * nrm[None, lo : hi + 1])
            jabs = np.arange(lo, hi + 1)
            mask = np.arange(hi)[:, None] < jabs[None, :]
            cols = [ids.take(pa.array(jabs, pa.int32()))]
            for t in ts:
                cols.append(
                    pa.array(
                        ((cos >= t) & mask).sum(axis=0).astype(np.int64),
                        pa.int64(),
                    )
                )
            mc = np.where(mask & (cos >= flr), cos, -1.0).max(axis=0)
            cols.append(pa.array(mc, pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, ["id", *names, "mc"])

    return chunked.mapInArrow(fn, out_schema)


def pair_int_crossmul_hits_within_buckets(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    id_col: str,
    vec_col: str,
    num: int,
    den: int,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    cap_mode: str = "window",
    chunk: int = FUSED_PAIR_CHUNK,
) -> DataFrame:
    """Qualifying INTEGER-cosine pairs within shared buckets — the
    semdedup test ``dp > 0 AND den·dp² >= num·|a|²·|b|²`` over
    quantized BIGINT vectors (exact integer arithmetic on both sides; the caller guarantees the documented
    2⁶³ envelope). Returns ``*bucket_cols, id_a, id_b`` with original
    column types preserved."""
    import numpy as np
    import pyarrow as pa

    n2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col(vec_col), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    payload = F.struct(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        n2.alias("n2"),
    )
    chunked = _chunked_buckets(
        bucketed.select(*bucket_cols, id_col, vec_col),
        bucket_cols,
        payload,
        max_bucket_size,
        cap_mode,
        chunk,
    )
    id_type = bucketed.schema[id_col].dataType.simpleString()
    bcol_types = {
        c: bucketed.schema[c].dataType.simpleString() for c in bucket_cols
    }
    out_schema = (
        ", ".join(f"{c} {bcol_types[c]}" for c in bucket_cols)
        + f", id_a {id_type}, id_b {id_type}"
    )
    num_, den_ = int(num), int(den)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch, r, ids, M, n2v, c in _decoded_chunks(batches, "v", "n2", "int64"):
            lo = c * chunk
            hi = min(lo + chunk - 1, len(ids) - 2)
            if hi < lo:
                continue
            dp = _np_dot_block(M[lo : hi + 1], M[lo + 1 :])
            rhs = num_ * (n2v[lo : hi + 1, None] * n2v[None, lo + 1 :])
            ai = np.arange(hi - lo + 1)
            bj = np.arange(dp.shape[1])
            keep = (bj[None, :] >= ai[:, None]) & (dp > 0) & (den_ * dp * dp >= rhs)
            ii, jj = np.nonzero(keep)
            if len(ii) == 0:
                continue
            arrays = [
                pa.array(
                    [batch.column(c_)[r].as_py()] * len(ii),
                    type=batch.schema.field(c_).type,
                )
                for c_ in bucket_cols
            ]
            arrays.append(ids.take(pa.array(ii + lo, pa.int32())))
            arrays.append(ids.take(pa.array(jj + lo + 1, pa.int32())))
            yield pa.RecordBatch.from_arrays(arrays, [*bucket_cols, "id_a", "id_b"])

    return chunked.mapInArrow(fn, out_schema)


cloudpickle.register_pickle_by_value(sys.modules[__name__])
