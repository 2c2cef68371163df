#!/usr/bin/env python
"""Optimization measurement harness (rounds 13+).

For each named query: noop-sink timings (median of N runs, one warm
session shared by the batch — the in-process A/B discipline from the
verify skill) and optionally the ``explain("formatted")`` plan dumped
to ``plans/$OPT_PLAN_ROUND/<query>_<tag>.txt`` (default r14).

Usage:
    python tools/opt_measure.py SF_DIR TAG [--runs N] [--plans] q1 q2 ...

TAG labels the plan files (before/after). Timings print as one JSON
line per query on stdout plus a summary dict at the end.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
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

    from ipeds_etl_spark.session import get_spark
    from ipeds_etl_spark import queries as q

    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    # generic warm-up: codegen + parquet reader classpath
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(1).collect()
    # consumption-only parity with the bench: prebuild memoized indexes
    import bench

    bench._build_indexes(spark, sf_dir)

    registered = q.queries()
    import os
    plan_dir = REPO / "plans" / os.environ.get("OPT_PLAN_ROUND", "r14")
    plan_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for name in names:
        fn = registered[name]
        if plans:
            df = fn(spark, sf_dir)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan_txt = df._jdf.queryExecution().explainString(mode)
            (plan_dir / f"{name}_{tag}.txt").write_text(plan_txt)
        if n_runs == 0:
            print(json.dumps({"query": name, "plan_only": True}), flush=True)
            continue
        samples = []
        spark.sparkContext.setJobDescription(f"opt:{name}")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "samples": samples,
        }
        print(json.dumps({"query": name, **out[name]}), flush=True)
    print("SUMMARY " + json.dumps({k: v["median"] for k, v in out.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
