"""Warm query builds run no Spark jobs.

Every query of the ``serve_sf0.01`` benchmark list (read from
``perfbench/serve.py``), plus the other readers of the memoized
component labels, is built twice in one session: the first build may
fill the memo store, the second must run 0 jobs — a build that runs
jobs pays executor time on every call, before the query is even
planned."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

from ipeds_etl_spark import queries as Q
from ipeds_etl_spark.operators import indexes as IDX

SF = "/root/testdata/sf0.001"
PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _serve_queries() -> tuple[str, ...]:
    sys.path.insert(0, str(PERFBENCH))
    try:
        return importlib.import_module("serve").QUERIES
    finally:
        sys.path.remove(str(PERFBENCH))


#: the serve list and the label readers outside it
#: (``dedup_bcubed_eval`` is pinned by its predicted side below)
WARM = (*_serve_queries(), "docs_golden_record", "docs_dedup_survivorship")


@pytest.mark.parametrize("name", WARM)
def test_second_build_runs_no_job(spark, jobs_in_group, name):
    build = Q.queries()[name]
    jobs_in_group(spark, f"warm-first-{name}", lambda: build(spark, SF))
    assert jobs_in_group(spark, f"warm-second-{name}", lambda: build(spark, SF)) == 0


def test_bcubed_predicted_labels_build_runs_no_job(spark, jobs_in_group):
    """Only the predicted side of ``dedup_bcubed_eval`` is pinned: its
    truth side labels the exact-Jaccard gold pairs with
    ``dedup_clusters``, a fixpoint that runs its rounds at build time
    over pairs no other query reads, so the query's warm build still
    runs those jobs."""

    def pred():
        return IDX.lsh_doc_components(spark, SF).select("id", "component_id")

    jobs_in_group(spark, "warm-first-bcubed-pred", pred)
    assert jobs_in_group(spark, "warm-second-bcubed-pred", pred) == 0
