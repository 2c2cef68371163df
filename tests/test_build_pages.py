"""Bucketed page numbering in ``raw.build_pages``: deterministic,
contiguous, and parallel (no per-year single-reducer window)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.sources import raw as raw_io


def _records(spark, n=700, years=(2019, 2020)):
    return (
        spark.range(n * len(years))
        .select(
            (F.lit(years[0]) + (F.col("id") % len(years))).cast("int").alias("year"),
            F.col("id").alias("unitid"),
            F.concat(F.lit("inst-"), F.col("id")).alias("name"),
        )
    )


def test_pages_cover_all_records_with_bounded_size(spark):
    recs = _records(spark)
    pages = raw_io.build_pages(recs, page_size=100).cache()
    per_year = {
        r["year"]: (r["n_pages"], r["n_records"], r["max_rc"])
        for r in pages.groupBy("year")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("record_count").alias("n_records"),
            F.max("record_count").alias("max_rc"),
        )
        .collect()
    }
    for year, (n_pages, n_records, max_rc) in per_year.items():
        assert n_records == 700
        assert n_pages == 7  # contiguous numbering -> exactly ceil(700/100)
        assert max_rc == 100
    # page numbers are 1..7 with no gaps
    nums = sorted(
        r["page_number"] for r in pages.filter(F.col("year") == 2019).collect()
    )
    assert nums == list(range(1, 8))
    # every record lands in exactly one page
    total = pages.agg(F.sum("record_count")).first()[0]
    assert total == 1400


def test_pagination_is_deterministic_across_partitionings(spark):
    recs = _records(spark)
    a = raw_io.build_pages(recs.repartition(1), page_size=64)
    b = raw_io.build_pages(recs.repartition(17), page_size=64)
    ka = sorted(
        (r["year"], r["page_number"], r["source_hash"]) for r in a.collect()
    )
    kb = sorted(
        (r["year"], r["page_number"], r["source_hash"]) for r in b.collect()
    )
    assert ka == kb  # same pages, same payload hashes, any partitioning


def test_numbering_window_is_bucketed_not_per_year(spark):
    """The plan's big window partitions by (year, bucket) — the
    per-year total sort the reference does driver-side must not appear
    as a one-reducer-per-year window at scale."""
    plan = raw_io.build_pages(_records(spark))._jdf.queryExecution().toString()
    assert "bucket" in plan


def test_asof_and_salted_join_validation(spark):
    from ipeds_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k int, ts int, v string")
    right = spark.createDataFrame([(1, 5, "y")], "k int, ts int, v string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, keys=["k"], time_col="ts")  # v collides
    with pytest.raises(ValueError, match="how"):
        asof_join(left.drop("v"), right, keys=["k"], time_col="ts", how="full")
