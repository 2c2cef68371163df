"""Spark jobs per ``run_load``, read from the status store by job group
the way ``perfbench/tracer.py`` reads them, for the three loads of a
nightly: a new year, an identical re-send and a one-changed-page
re-run. Also checks that every function the frozen benchmark tracer
wraps still resolves, so it keeps attributing the load's layers."""

from __future__ import annotations

import importlib
import os
from pathlib import Path

from ipeds_etl_spark import pipeline

ENDPOINT = "directory"
PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"

#: jobs per load into a warehouse that holds another year:
#: new year = raw write 2 + source_trace 1 + counts 4 + core write 4
#: + load_log 1; a re-send reads the stored hashes (1) and lands nothing;
#: a changed page adds its raw write and trace back
JOBS = {"new_year": 12, "resend": 10, "changed_page": 13}


def _pages(year: int, changed: bool = False) -> list[list[dict]]:
    pages = [
        [{"unitid": u, "year": year, "inst_name": f"inst {u}"} for u in range(p * 10, p * 10 + 5)]
        for p in range(3)
    ]
    if changed:
        pages[1][0]["inst_name"] = "renamed"
    return pages


def _files(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, names in os.walk(root)
        for f in names
    }


def test_run_load_job_counts(spark, tmp_path, jobs_in_group):
    wh = str(tmp_path)
    pipeline.run_load(spark, ENDPOINT, 2019, _pages(2019), wh)
    raw = f"{wh}/raw/{ENDPOINT}"
    got = {}
    got["new_year"] = jobs_in_group(
        spark, "load-new", lambda: pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020), wh)
    )
    landed = _files(raw)
    got["resend"] = jobs_in_group(
        spark, "load-resend", lambda: pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020), wh)
    )
    assert _files(raw) == landed  # no raw file written
    got["changed_page"] = jobs_in_group(
        spark, "load-changed", lambda: pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    )
    assert got == JOBS


def test_benchmark_wrapped_functions_resolve(monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    etl = importlib.import_module("etl")
    for module, attr, _ in etl._WRAPPED:  # noqa: SLF001
        assert callable(getattr(importlib.import_module(module), attr)), (module, attr)
