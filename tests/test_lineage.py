"""``lineage.merge_counts`` against the anti/semi-join definition of
(rows_inserted, rows_updated)."""

from __future__ import annotations

import pytest

from ipeds_etl_spark import lineage

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
