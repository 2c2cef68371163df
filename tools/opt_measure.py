#!/usr/bin/env python
"""Optimization measurement harness.

For each named query: ``bench.time_queries`` timings (median of N runs
of build plus noop-sink execution, with the traced build and execution
fields) in one warm session shared by the batch, the in-process A/B
discipline from the verify skill, and optionally the
``explain("formatted")`` plan dumped to
``plans/$OPT_PLAN_ROUND/<query>_<tag>.txt`` (default r14).

Usage:
    python tools/opt_measure.py SF_DIR TAG [--runs N] [--plans] q1 q2 ...

TAG labels the plan files (before/after). Timings print as one JSON
line per query on stdout plus a summary dict at the end; ``--runs 0``
only dumps plans.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    args = sys.argv[1:]
    sf_dir, tag = args[0], args[1]
    rest = args[2:]
    n_runs = 3
    plans = False
    names = []
    i = 0
    while i < len(rest):
        if rest[i] == "--runs":
            n_runs = int(rest[i + 1])
            i += 2
        elif rest[i] == "--plans":
            plans = True
            i += 1
        else:
            names.append(rest[i])
            i += 1

    import bench
    from ipeds_etl_spark import queries as q

    spark = bench._warm_session(sf_dir)
    # consumption-only parity with the bench: prebuild memoized indexes
    bench._build_indexes(spark, sf_dir)

    if plans:
        registered = q.queries()
        plan_dir = REPO / "plans" / os.environ.get("OPT_PLAN_ROUND", "r14")
        plan_dir.mkdir(parents=True, exist_ok=True)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        for name in names:
            df = registered[name](spark, sf_dir)
            plan_txt = df._jdf.queryExecution().explainString(mode)
            (plan_dir / f"{name}_{tag}.txt").write_text(plan_txt)
    if n_runs == 0:
        for name in names:
            print(json.dumps({"query": name, "plan_only": True}), flush=True)
        return 0
    rows, errors = bench.time_queries(spark, names, sf_dir, n_runs)
    for name in names:
        if name in rows:
            row = dict(rows[name])
            print(json.dumps({"query": name, "median": row.pop("wall_s"), **row}))
        else:
            print(json.dumps({"query": name, "error": errors[name]}))
    print("SUMMARY " + json.dumps({n: r["wall_s"] for n, r in rows.items()}))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
