#!/usr/bin/env python
"""Physical-plan audit for every registered query.

For each ``queries()`` entry, prints the plan properties that matter at
100 TB: shuffle (Exchange) count, broadcast vs sort-merge joins,
whole-stage-codegen presence, scanned columns (pruning), and pushed
filters. Pair with SCALE.md — this is the evidence.

Caveat: under AQE the pre-execution plan is an AdaptiveSparkPlan
wrapper, so ``codegen`` only reads ``y`` for non-adaptive (map-only)
plans; Exchange/join/scan counts are reliable either way.

Usage: python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from ipeds_etl_spark.session import get_spark  # noqa: E402


def audit(df) -> dict:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "exchanges": sum(
            line.strip().lstrip("+-:* ").startswith("Exchange") for line in plan.split("\n")
        ),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "python_stages": plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython"),
        "scan_cols": [s.count(",") + 1 if s else 0 for s in scans],
        "pushed_filters": sum(bool(p.strip()) for p in pushed),
        "wholestage": "WholeStageCodegen" in plan or "*(" in plan,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            a = audit(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover - diagnostic path
            print(f"{name:24s} ERROR {str(e).splitlines()[0][:80]}")
            continue
        print(
            f"{name:24s} exchanges={a['exchanges']:2d} bcast={a['broadcast_joins']} "
            f"smj={a['sortmerge_joins']} py={a['python_stages']} "
            f"scan_cols={a['scan_cols']} pushed={a['pushed_filters']} "
            f"codegen={'y' if a['wholestage'] else 'n'}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
