"""``bench.time_queries``: the one function that bench.py's children,
``tools/opt_measure.py`` and ``tools/scale_smoke.py`` time registered
queries with. Each row carries the wall-time median and the traced
build and execution fields; a failing query is recorded, not fatal;
and each query's jobs are billed to that query alone."""

from __future__ import annotations

import bench
from ipeds_etl_spark import queries as Q
from perfbench.tracer import Tracer

SF = "/root/testdata/sf0.001"


def _boom(spark, sf_dir):
    raise ValueError("boom: this query always fails")


def test_time_queries_rows_errors_and_job_attribution(spark, monkeypatch):
    Q.queries()  # load the domain modules before adding to the registry
    monkeypatch.setitem(Q.SPARK_QUERIES, "boom", _boom)
    names = ["kpi_yearly", "boom", "dedup_exact"]
    # a query's first build in a session may run jobs (file listing,
    # memo builds); warm both so that every later run bills the same
    bench.time_queries(spark, names, SF, 1)
    before = Tracer(spark).all_job_ids()
    rows, errors = bench.time_queries(spark, names, SF, 2)
    new_jobs = Tracer(spark).all_job_ids() - before

    assert errors == {"boom": "boom: this query always fails"}
    assert set(rows) == {"kpi_yearly", "dedup_exact"}
    for name, row in rows.items():
        assert set(row) == {"wall_s", "samples", *bench.TRACE_FIELDS}, name
        assert row["wall_s"] > 0 and len(row["samples"]) == 2, name
        assert row["exec_jobs"] >= 1 and row["build_jobs"] >= 0, name
        assert 0 < row["build_ms"] <= max(row["samples"]) * 1000, name
        assert row["exec_task_s"] > 0 and row["shuffle_bytes"] > 0, name

    # every job the call ran is billed to exactly one query
    assert 2 * sum(r["build_jobs"] + r["exec_jobs"] for r in rows.values()) == len(new_jobs)
    # and a query's counts are its own: timed alone, it reads the same
    for name, row in rows.items():
        alone, _ = bench.time_queries(spark, [name], SF, 1)
        for field in ("build_jobs", "exec_jobs", "shuffle_bytes"):
            assert alone[name][field] == row[field], (name, field)
