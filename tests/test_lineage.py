"""``lineage.merge_counts`` against the anti/semi-join definition of
(rows_inserted, rows_updated), the load fold against ``merge_counts``,
and ``load_id`` numbering."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from ipeds_etl_spark import fsutil, lineage

PK = ["unitid", "year"]
SCHEMA = "unitid int, year int, v string"


def _anti_semi(target, source, pk):
    src = source.select(*pk).distinct()
    tgt = target.select(*pk).distinct()
    return src.join(tgt, pk, "left_anti").count(), src.join(tgt, pk, "left_semi").count()


@pytest.mark.parametrize(
    "source, target, want",
    [
        pytest.param(
            [(1, 2020, "a"), (1, 2020, "b"), (2, 2020, "c")],
            [(1, 2020, "x"), (1, 2020, "y")],
            (1, 1),
            id="duplicate-keys",
        ),
        pytest.param(
            [(1, 2020, "a"), (2, 2021, "b")],
            [(1, 2020, "x"), (2, 2021, "y"), (3, 2020, "z")],
            (0, 2),
            id="keys-in-target",
        ),
        pytest.param(
            [(1, None, "a"), (None, 2020, "b"), (None, 2020, "c"), (1, 2020, "d")],
            [(1, None, "x"), (None, 2020, "y"), (1, 2020, "z")],
            (2, 1),
            id="null-pk-component",
        ),
        pytest.param([], [(1, 2020, "x")], (0, 0), id="empty-source"),
    ],
)
def test_merge_counts_matches_anti_semi_definition(spark, source, target, want):
    src = spark.createDataFrame(source, SCHEMA)
    tgt = spark.createDataFrame(target, SCHEMA)
    got = lineage.merge_counts(tgt, src, PK)
    assert got == want == _anti_semi(tgt, src, PK)


@pytest.mark.parametrize(
    "source, target",
    [
        ([(1, 2020, "a"), (1, 2020, "b"), (2, 2020, "c")], [(1, 2020, "x"), (1, 2020, "y")]),
        ([(1, 2020, "a"), (2, 2021, "b")], [(1, 2020, "x"), (2, 2021, "y"), (3, 2020, "z")]),
        (
            [(1, None, "a"), (None, 2020, "b"), (None, 2020, "c"), (1, 2020, "d")],
            [(1, None, "x"), (None, 2020, "y"), (1, 2020, "z")],
        ),
        ([], [(1, 2020, "x")]),
        ([(4, 2019, "a")], []),
    ],
    ids=["duplicate-keys", "keys-in-target", "null-pk-component", "empty-source", "empty-target"],
)
def test_load_counts_agree_with_merge_counts(spark, source, target):
    """The one-action fold of ``run_load`` counts what ``merge_counts``
    defines, plus the source's rows and years."""
    src = spark.createDataFrame(source, SCHEMA)
    tgt = spark.createDataFrame(target, SCHEMA)
    got = lineage.load_counts(tgt, src, PK)
    assert (got.inserted, got.updated) == lineage.merge_counts(tgt, src, PK)
    assert got.rows == len(source)
    assert got.years == tuple(sorted({r[1] for r in source if r[1] is not None}))


def _append(spark, meta: str, started: datetime) -> None:
    load_id = lineage.reserve_load_id(spark, meta)
    lineage.append_load_log(spark, meta, "directory", 2020, 2020, 1, 0, started, load_id)


def _load_ids(spark, meta: str) -> list[int]:
    log = spark.read.schema(lineage.LOAD_LOG_SCHEMA).parquet(f"{meta}/load_log")
    return [r[0] for r in log.orderBy("finished_at").select("load_id").collect()]


def test_load_id_increases_across_runs_and_sessions(spark, tmp_path, jobs_in_group):
    """Three runs over two sessions get load_ids 1, 2, 3 in run order,
    and each run's numbering and append take the one write job: no scan
    of the log numbers a run."""
    meta = str(tmp_path / "meta")
    started = datetime.now(timezone.utc)
    other = spark.newSession()
    for i, session in enumerate((spark, other, spark)):
        assert jobs_in_group(session, f"load-log-{i}", lambda s=session: _append(s, meta, started)) == 1
    assert _load_ids(spark, meta) == [1, 2, 3]


def test_load_id_gap_after_crash_and_legacy_log(spark, tmp_path):
    """A reserved id whose row never landed is skipped, not reused; a
    log written before the counter file existed is numbered on from its
    largest load_id."""
    meta = str(tmp_path / "meta")
    started = datetime.now(timezone.utc)
    _append(spark, meta, started)
    assert lineage.reserve_load_id(spark, meta) == 2  # the run stops here
    _append(spark, meta, started)
    assert _load_ids(spark, meta) == [1, 3]

    fsutil.delete(spark, f"{meta}/load_log/_last_load_id")
    _append(spark, meta, started)
    assert _load_ids(spark, meta) == [1, 3, 4]
