"""Exact quantiles at scale: two-pass histogram refinement.

Spark's exact ``percentile`` aggregate buffers every value of a group
on one reducer — fine at benchmark scale, an OOM at 100 TB (the
registered ``events_value_percentiles`` documents that trade). This
module is the scale path for EXACT quantiles (the sketch path for
approximate ones is ``operators/sketches.py``):

* pass 0 (one map-combinable agg): per group — count, min, max;
* pass 1 (one map-combinable agg): fixed-width histogram of
  ``n_buckets`` bins per group; a cumulative window over the
  O(groups × buckets) histogram locates, for each requested q, the
  bin containing order statistic ``r = max(0, ceil(q·n) − 1)``
  (0-based — DuckDB's ``quantile_disc`` rule, verified empirically)
  and the exact offset inside it;
* pass 2: rank ONLY the rows of the hit bins (≈ n/n_buckets of the
  data per quantile) and pick the row at the offset.

No stage ever holds a whole group: the aggs combine map-side, the
windows run over histogram rows and bin-sized row sets. A pathological
bin (all mass at one value) still ranks just that bin — recursive
refinement would shrink it further; one level suffices for the
benchmark and the recursion is mechanical.

The result is an ORDER STATISTIC — an element of the data, no
interpolation arithmetic — so cross-engine value hashes hold with no
decimal laundering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    group_cols: Sequence[str],
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-group exact discrete quantiles (one output row per group ×
    q) without buffering any group. See module docstring."""
    g = list(group_cols)
    rows = df.filter(F.col(value_col).isNotNull())
    stats = rows.groupBy(*g).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
    )
    withb = rows.join(F.broadcast(stats), g)  # stats is O(groups)
    width = F.col("__hi") - F.col("__lo")
    b = (
        F.when(width == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor(
                    (F.col(value_col) - F.col("__lo")) / width * n_buckets
                ).cast("int"),
            )
        )
        .alias("__b")
    )
    hist = (
        withb.select(*g, b)
        .groupBy(*g, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn(
            "__cum", F.sum("__c").over(Window.partitionBy(*g).orderBy("__b"))
        )
    )
    targets = (
        stats.select(
            *g,
            "__n",
            F.explode(array_lit([float(q) for q in qs])).alias("__q"),
        )
        .withColumn(
            "__r",
            F.greatest(
                F.lit(0).cast("long"),
                (F.ceil(F.col("__q") * F.col("__n")) - 1).cast("long"),
            ),
        )
    )
    hit = (
        targets.join(hist, g)
        .filter(
            (F.col("__cum") > F.col("__r"))
            & (F.col("__cum") - F.col("__c") <= F.col("__r"))
        )
        .select(
            *g,
            "__q",
            "__b",
            (F.col("__r") - (F.col("__cum") - F.col("__c"))).alias("__off"),
        )
    )
    cand = withb.select(*g, F.col(value_col).alias("__v"), b).join(
        F.broadcast(hit), [*g, "__b"]
    )
    wr = Window.partitionBy(*g, "__q", "__b").orderBy("__v")
    return (
        cand.withColumn("__rk", F.row_number().over(wr) - 1)
        .filter(F.col("__rk") == F.col("__off"))
        .select(*g, F.col("__q").alias("q"), F.col("__v").alias(value_col))
    )
