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


def _sorted_rows_nullsafe(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda t: [(v is None, v) for v in t])


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


def _upsert_on_hash_anti_join(target, source, pk, hash_col):
    """The anti-join spelling ``upsert_on_hash`` replaced, kept as the
    reference: the source rows with no target row of the same key and
    a null-safe equal hash, plus the target rows whose key none of
    those rows carries."""
    from ipeds_etl_spark.operators.merge import _dedup_source

    s = _dedup_source(source.select(*target.columns), pk).alias("s")
    t = target.alias("t")
    changed_or_new = s.join(
        t.select(*pk, hash_col),
        on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in pk]
        + [F.col(f"s.{hash_col}").eqNullSafe(F.col(f"t.{hash_col}"))],
        how="left_anti",
    )
    kept = t.join(changed_or_new.select(*pk), on=list(pk), how="left_anti")
    return changed_or_new.unionByName(kept.select(*changed_or_new.columns))


def test_upsert_on_hash_matches_anti_join_reference(spark, jobs_in_group):
    # two-part key (a, b); each key below exercises one case
    schema = "a int, b int, h string, m string"
    target = spark.createDataFrame(
        [
            (1, 1, "x", "t"),  # unchanged: source carries the same hash
            (1, 2, "x", "t"),  # changed: source hash differs
            (1, 3, "x", "t"),  # no source row
            (2, 1, "x", "t1"),  # duplicate target key, source matches one
            (2, 1, "y", "t2"),
            (2, 2, "x", "t1"),  # duplicate target key, source matches none
            (2, 2, "y", "t2"),
            (3, 1, None, "t"),  # NULL hash both sides: unchanged
            (3, 2, None, "t"),  # NULL hash target only: changed
            (3, 3, "x", "t"),  # NULL hash source only: changed
            (None, 1, "x", "t"),  # NULL key part on both sides
            (4, None, "x", "t"),
            (4, None, "x", "t"),
        ],
        schema,
    )
    source = spark.createDataFrame(
        [
            (1, 1, "x", "s"),
            (1, 2, "z", "s"),
            (2, 1, "y", "s"),
            (2, 2, "z", "s"),
            (3, 1, None, "s"),
            (3, 2, "x", "s"),
            (3, 3, None, "s"),
            (None, 1, "x", "s"),
            (4, None, "x", "s"),
            (5, 1, "x", "s1"),  # new key, duplicated in the source
            (5, 1, "x", "s2"),
        ],
        schema,
    )
    # building the merge runs no job; only executing it does
    built = []
    assert jobs_in_group(
        spark, "upsert-on-hash-build",
        lambda: built.append(upsert_on_hash(target, source, ["a", "b"], "h")),
    ) == 0
    got = _sorted_rows_nullsafe(built[0])
    want = _sorted_rows_nullsafe(_upsert_on_hash_anti_join(target, source, ["a", "b"], "h"))
    assert got == want
    # spot checks of the verdicts the reference encodes
    assert (1, 1, "x", "t") in got and (1, 2, "z", "s") in got and (1, 3, "x", "t") in got
    assert (2, 1, "x", "t1") in got and (2, 1, "y", "t2") in got
    assert (2, 2, "z", "s") in got and (2, 2, "x", "t1") not in got
    assert (None, 1, "x", "t") in got and (None, 1, "x", "s") in got
    assert [r for r in got if r[:2] == (5, 1)] == [(5, 1, "x", "s2")]


def test_upsert_on_hash_matches_reference_on_random_frames(spark):
    import random

    rng = random.Random(7)

    def rows(n):
        return [
            (
                rng.choice([None, 0, 1, 2]),
                rng.randrange(4),
                rng.choice([None, "p", "q"]),
                str(i),
            )
            for i in range(n)
        ]

    schema = "a int, b int, h string, m string"
    target = spark.createDataFrame(rows(60), schema)
    source = spark.createDataFrame(rows(30), schema)
    assert _sorted_rows_nullsafe(
        upsert_on_hash(target, source, ["a", "b"], "h")
    ) == _sorted_rows_nullsafe(_upsert_on_hash_anti_join(target, source, ["a", "b"], "h"))
