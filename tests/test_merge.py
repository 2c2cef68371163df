"""Merge-layer invariants: idempotency, hash-guarded skip, PK uniqueness.

Idempotency (re-running the same load leaves the table identical) is
the reference's core semantic contract (reference etl/core_io.py:93-113
ON CONFLICT upsert; etl/raw_io.py:181-197 hash-guarded variant).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ipeds_etl_spark.operators.merge import upsert_on_hash, upsert_on_pk


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_on_pk_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    source = spark.createDataFrame([(2, "B", 22.0), (4, "d", 40.0)], "k int, s string, v double")
    out = upsert_on_pk(target, source, ["k"])
    assert _sorted_rows(out) == [(1, "a", 10.0), (2, "B", 22.0), (3, "c", 30.0), (4, "d", 40.0)]


def test_upsert_on_pk_idempotent(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    source = spark.createDataFrame([(2, "B"), (3, "c")], "k int, s string")
    once = upsert_on_pk(target, source, ["k"])
    twice = upsert_on_pk(once, source, ["k"])
    assert _sorted_rows(once) == _sorted_rows(twice)


def test_upsert_on_pk_dedups_source(spark):
    target = spark.createDataFrame([(1, "a")], "k int, s string")
    source = spark.createDataFrame([(1, "x"), (1, "z"), (1, "y")], "k int, s string")
    out = upsert_on_pk(target, source, ["k"])
    assert out.count() == 1
    assert out.first()["s"] == "z"  # deterministic max_by rule


def test_upsert_on_hash_preserves_unchanged_target_rows(spark):
    # target rows carry provenance (ingested_at marker); an identical-hash
    # source row must NOT replace the target row (write-skip), a changed
    # hash must, and new keys insert.
    target = spark.createDataFrame(
        [(2020, 1, "h_a", "t_orig"), (2020, 2, "h_b", "t_orig")],
        "year int, page int, h string, marker string",
    )
    source = spark.createDataFrame(
        [(2020, 1, "h_a", "s_new"), (2020, 2, "h_B", "s_new"), (2020, 3, "h_c", "s_new")],
        "year int, page int, h string, marker string",
    )
    out = upsert_on_hash(target, source, ["year", "page"], "h")
    got = {(r["year"], r["page"]): (r["h"], r["marker"]) for r in out.collect()}
    assert got == {
        (2020, 1): ("h_a", "t_orig"),  # unchanged -> skipped, provenance kept
        (2020, 2): ("h_B", "s_new"),  # changed -> rewritten
        (2020, 3): ("h_c", "s_new"),  # new -> inserted
    }


def test_upsert_on_hash_null_safe(spark):
    # NULL hash on both sides compares equal (IS NOT DISTINCT FROM)
    target = spark.createDataFrame([(1, None, "t")], "k int, h string, m string")
    source = spark.createDataFrame([(1, None, "s")], "k int, h string, m string")
    out = upsert_on_hash(target, source, ["k"], "h")
    assert out.first()["m"] == "t"


def test_merged_pk_unique(spark):
    target = spark.createDataFrame([(i, "t") for i in range(100)], "k int, s string")
    source = spark.createDataFrame([(i, "s") for i in range(50, 150)], "k int, s string")
    out = upsert_on_pk(target, source, ["k"])
    assert out.count() == out.select("k").distinct().count() == 150


def test_write_core_touches_only_loaded_years(spark, tmp_path):
    import os

    from ipeds_etl_spark.plans.core_pipeline import map_records, write_core

    def mapped(rows):
        recs = spark.createDataFrame(
            [
                (y, 1, {"unitid": str(u), "year": str(y), "instnm": v, "stabbr": "CA"})
                for u, y, v in rows
            ],
            "page_year int, page_number int, rec map<string,string>",
        )
        return map_records("directory", recs)

    path = str(tmp_path / "core")
    write_core(spark, "directory", mapped([(1, 2020, "a"), (2, 2020, "b"), (3, 2021, "c")]), path)
    files_2021 = set(os.listdir(f"{path}/year=2021"))

    # merge revises 2020 only; 2021's files must be byte-untouched
    write_core(spark, "directory", mapped([(2, 2020, "B"), (4, 2020, "d")]), path)
    assert set(os.listdir(f"{path}/year=2021")) == files_2021

    rows = {(r["unitid"], r["year"]): r["inst_name"] for r in spark.read.parquet(path).collect()}
    assert rows == {(1, 2020): "a", (2, 2020): "B", (3, 2021): "c", (4, 2020): "d"}
