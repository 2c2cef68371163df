"""Physical layout optimization: Z-order (Morton-curve) clustering.

Parquet data skipping works off per-file/row-group min-max stats; a
table range-partitioned on ONE column localizes that column only — a
filter on any other column still touches every file. Interleaving the
bits of two key columns (the Morton/Z curve) and range-partitioning on
the curve localizes BOTH: each file covers a small rectangle of the
key space, so min-max pruning works for either predicate (what Delta's
``OPTIMIZE ZORDER BY`` does at the layout level).

Everything here is plain DataFrame API: a 1-row min/max agg (broadcast
to the codes), a codegen bit-spread expression chain, and a
``repartitionByRange`` write. No RDDs, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: bits per dimension (2 dims → 32-bit z values)
_BITS = 16


def _spread_bits(x: Column) -> Column:
    """Interleave a 16-bit integer with zero bits (x → bit positions
    0,2,4,…,30) via the standard mask-and-shift ladder — four codegen
    ops, no UDF."""
    x = x.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def z_value(code_a: Column, code_b: Column) -> Column:
    """Morton code of two ``[0, 2^16)`` integer codes."""
    return _spread_bits(code_a).bitwiseOR(F.shiftleft(_spread_bits(code_b), 1))


def zorder_write(
    df: DataFrame,
    col_a: str,
    col_b: str,
    path: str,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve of two columns.

    Codes are linear min-max scalings of each column to 16 bits (one
    combinable 1-row agg, broadcast back — no driver-side data). For
    heavily skewed columns substitute quantile codes (cut-points from
    ``approx_percentile``, same plan shape); linear is the right
    default for the id-like keys this targets.

    ``repartitionByRange`` on the z value gives every output file a
    contiguous z-range = a small rectangle in (a, b) space, so parquet
    min-max stats prune files for predicates on EITHER column. The
    z column itself is dropped before writing — layout is the only
    product. Cost: one extra range shuffle over the write, the same
    price as any sorted write."""
    bounds = df.agg(
        F.min(col_a).alias("a0"),
        F.max(col_a).alias("a1"),
        F.min(col_b).alias("b0"),
        F.max(col_b).alias("b1"),
    )
    top = F.lit((1 << _BITS) - 1)

    def code(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo) + F.lit(1)
        return F.floor(
            (F.col(c) - F.col(lo)).cast("double") / span * (1 << _BITS)
        ).cast("long").bitwiseAND(top)

    z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "__z", z_value(code(col_a, "a0", "a1"), code(col_b, "b0", "b1"))
    )
    (
        z.repartitionByRange(n_files, "__z")
        .drop("a0", "a1", "b0", "b1", "__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "row_num",
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order global row numbers WITHOUT the single-task stage.

    The naive spelling — ``row_number().over(Window.orderBy(...))`` —
    plans an ``Exchange SinglePartition``: every row funnels through
    ONE task, the canonical Spark anti-pattern (fine at 60k rows,
    fatal at 100 TB). A row number is the inclusive count of rows in
    the total order, so this is ``global_prefix_sum`` over a column of
    ones: range exchange, per-partition running counts in parallel,
    O(partitions) offsets. Ties must be broken by including a unique
    key in ``order_cols`` — otherwise "global row number" is not a
    well-defined function of the data on ANY engine."""
    ones = df.withColumn("__one", F.lit(1).cast("long"))
    return global_prefix_sum(
        ones, list(order_cols), "__one", out_col, num_partitions
    ).drop("__one")


def global_prefix_sum(
    df: DataFrame,
    order_exprs: list,
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE global running sum of ``value_col`` in the total order
    given by ``order_exprs``, in two parallel phases:

    1. ``repartitionByRange(order_exprs)`` — the sampled range exchange
       a global sort uses: partition i holds a contiguous key range,
       all ranges ordered across partitions;
    2. running sums within each range partition (a window keyed on the
       range partition id), and an O(partitions) per-partition-total
       collect prefix-summed on the driver and added back as offsets.

    It replaces the ``SUM(...) OVER (ORDER BY ...)`` single-task window
    for cumulative analytics (Pareto curves, cumulative shares, and
    ``global_row_number``) at any size.

    ``order_exprs`` may be names or Column sort expressions
    (``F.desc(...)`` works); include a unique tiebreak so the order —
    and therefore every prefix — is a well-defined function of the
    data. Exactness: for DECIMAL values both the partial sums and the
    offset additions are exact integer arithmetic, so the distributed
    prefix equals the serial one bit-for-bit (the same argument that
    lets any aggregate tree reorder decimal partials)."""
    pid = F.spark_partition_id()
    ranged = (
        df.repartitionByRange(
            *([num_partitions] if num_partitions else []), *order_exprs
        )
        .withColumn("__pid", pid)
        # pin the sampled range assignment: the totals job and the
        # running-sum job must see the SAME partitioning or the
        # offsets won't line up — one materialization serves both
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local", F.sum(value_col).over(w))
    # typed zero (keeps Decimal offsets Decimal) — also the coalesce
    # fallback for a range partition whose values are ALL NULL, where
    # SUM returns NULL and the driver-side fold would TypeError
    zero = F.lit(0).cast(df.schema[value_col].dataType)
    totals = sorted(
        (r["__pid"], r["t"])
        for r in ranged.groupBy("__pid")
        .agg(F.coalesce(F.sum(value_col), zero).alias("t"))
        .collect()
    )
    if not totals:
        # empty input: no partitions → create_map() with zero args is
        # a plan-construction error; the prefix of nothing is __local
        return local.withColumn(out_col, F.col("__local")).drop("__pid", "__local")
    offsets, acc = {}, None
    for p, t in totals:
        if acc is None:
            acc = t - t  # typed zero of the collected Python type
        offsets[p] = acc
        acc = acc + t
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return local.withColumn(
        out_col, F.element_at(off_map, F.col("__pid")) + F.col("__local")
    ).drop("__pid", "__local")
