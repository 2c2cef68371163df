"""BI view layer — generic builders for the reference's documented views.

Capability parity with the reference's ``ipeds_vw`` layer (reference
``architecture.md:50-56``):

* ``enrich_join``         ≅ ``admissions_enriched`` (fact ⋈ dims on key)
* ``dim_lookup``          ≅ ``completions_by_cip`` label join

All are shuffle-aware by construction:

* ``dim_lookup`` broadcasts the dimension explicitly — dims are small
  by definition; never shuffle the fact side for a label join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key_window(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[Column]
) -> DataFrame:
    """Window-ranked variant (keeps every column; deterministic with a
    total tie-breaking order). Use when the row must come back whole."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def enrich_join(
    fact: DataFrame, dim: DataFrame, on: Sequence[str], how: str = "left"
) -> DataFrame:
    """Fact-to-dimension enrichment join with the dimension broadcast:
    the reference's dims (directory per year, code labels) are orders
    of magnitude smaller than facts; a broadcast join avoids shuffling
    the 100 TB side entirely."""
    return fact.join(F.broadcast(dim), list(on), how)


def dim_lookup(
    fact: DataFrame, dim: DataFrame, code_col: str, label_cols: Sequence[str]
) -> DataFrame:
    """Tiny code→label lookup (always broadcast)."""
    return fact.join(F.broadcast(dim.select(code_col, *label_cols)), code_col, "left")


def exact_sum(col: str | Column, scale: int = 6) -> Column:
    """Order-independent double sum: sum in decimal, present as double.

    Double addition is not associative; a plain ``sum(double)`` varies
    with partitioning. Decimal sums are exact, so the result is stable
    across any cluster size — and matches an oracle engine bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def incremental_join_view(
    stored: DataFrame,
    delta_fact: DataFrame,
    dim: DataFrame,
    fact_pk: Sequence[str],
    on: Sequence[str],
    retract_pk: DataFrame | None = None,
    how: str = "left",
) -> DataFrame:
    """Incremental maintenance of a stored JOIN view (ΔV = ΔA ⋈ B) —
    the join-view complement to ``pipeline.refresh_gold_incremental``'s
    latest-per-key/algebraic families, and the standard delta rule for
    enrichment views (e.g. the reference's ``admissions_enriched``,
    architecture.md:53, refreshed as a matview architecture.md:85-87):

    * retract: every stored row whose fact PK appears in the delta (an
      upsert replaces it) or in ``retract_pk`` (a delete) leaves the
      view — one left-anti join against a delta-sized key set;
    * insert: ``delta_fact ⋈ dim`` joins ONLY the delta against the
      dimension — never the full fact table.

    Work is O(|stored| anti-probe + |delta| ⋈ |dim|); with the dim
    broadcast the whole refresh is one scan of the stored view plus a
    map-side join of the delta — at 100 TB the alternative (recompute
    A ⋈ B) rescans the fact table, which is exactly what a nightly
    matview refresh cannot afford. Exactness requires the retraction
    feed for deletes; updates are handled by the upsert-replaces rule.
    The equivalence test drives inserts, updates, AND deletes through
    one refresh and demands bit-identity with the full recompute."""
    touched = delta_fact.select(*fact_pk)
    if retract_pk is not None:
        touched = touched.unionByName(retract_pk.select(*fact_pk))
    kept = stored.join(touched.distinct(), list(fact_pk), "left_anti")
    added = delta_fact.join(F.broadcast(dim), list(on), how)
    # joins float their keys to the front; pin the stored view's layout
    return kept.unionByName(added, allowMissingColumns=False).select(stored.columns)
