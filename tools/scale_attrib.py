#!/usr/bin/env python
"""Per-stage scaling attribution (VERDICT r13 item 3): where does the
sf1 parallel-efficiency gap (1.85x on 4x cores) come from, per query?

For each named query: run it once (noop sink) in THIS process's session
(UI enabled so the REST status API is available) and attribute its wall
clock from the stage metrics of exactly the stages the run created:

* ``eff``       = sum(executorRunTime) / (wall x cores) — how much of
                  the core-seconds budget actually ran tasks.
* ``driver_gap`` = fraction of wall with NO stage active (union of
                  stage [submission, completion] intervals) — Catalyst
                  planning/codegen, driver-side collects, scheduling.
* per-stage skew = max task duration / median, for the heaviest stages.
* floor stages  = stages with fewer tasks than cores weighted by their
                  share of stage-active time.

Classification (printed per query): DRIVER (driver_gap > 0.4),
SKEW (a stage with >5x max/median owns > 30% of task time),
FLOOR (stages with numTasks < cores own > 40% of stage-active time),
else EXECUTOR (the work itself saturates the cores it gets).

Usage:
    SPARK_GRAFT_CPUS=32 python tools/scale_attrib.py SF_DIR q1 q2 ...

Prints one JSON line per query; paste-ready for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _iso_ms(s: str) -> float:
    # "2026-08-18T05:01:02.345GMT" -> epoch ms
    from datetime import datetime, timezone

    s = s.replace("GMT", "+0000")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000.0


def _interval_union_ms(ivs: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(ivs):
        if cur_lo is None:
            cur_lo, cur_hi = lo, hi
        elif lo <= cur_hi:
            cur_hi = max(cur_hi, hi)
        else:
            total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
    if cur_lo is not None:
        total += cur_hi - cur_lo
    return total


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession

    from ipeds_etl_spark.config import get_settings

    settings = get_settings()
    spark = (
        SparkSession.builder.appName("scale-attrib")
        .config("spark.driver.memory", settings.driver_memory)
        .config("spark.driver.maxResultSize", settings.driver_max_result_size)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(settings.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .master(f"local[{cpus}]")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warm-up + index parity with the bench
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(1).collect()
    import bench

    bench._build_indexes(spark, sf_dir)

    from ipeds_etl_spark import queries as q

    registered = q.queries()
    for name in names:
        fn = registered[name]
        done_before = {s["stageId"] for s in _get(f"{base}/stages")}
        spark.sparkContext.setJobDescription(f"attrib:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall_ms = (time.perf_counter() - t0) * 1000.0
        spark.sparkContext.setJobDescription(None)
        stages = [
            s
            for s in _get(f"{base}/stages?status=complete")
            if s["stageId"] not in done_before
        ]
        task_ms = sum(s["executorRunTime"] for s in stages)
        ivs = [
            (_iso_ms(s["firstTaskLaunchedTime"]), _iso_ms(s["completionTime"]))
            for s in stages
            if s.get("firstTaskLaunchedTime") and s.get("completionTime")
        ]
        active_ms = _interval_union_ms(ivs)
        floor_ms = _interval_union_ms(
            [
                (_iso_ms(s["firstTaskLaunchedTime"]), _iso_ms(s["completionTime"]))
                for s in stages
                if s.get("firstTaskLaunchedTime")
                and s.get("completionTime")
                and s["numTasks"] < cpus
            ]
        )
        # skew of the heaviest stages (top 5 by executorRunTime)
        top = sorted(stages, key=lambda s: -s["executorRunTime"])[:5]
        skews = []
        for s in top:
            try:
                ts = _get(
                    f"{base}/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                    "?quantiles=0.5,1.0"
                )
                med, mx = ts["duration"]
                skews.append(
                    {
                        "stage": s["stageId"],
                        "tasks": s["numTasks"],
                        "task_s": round(s["executorRunTime"] / 1000.0, 1),
                        "med_ms": round(med),
                        "max_ms": round(mx),
                        "skew": round(mx / med, 1) if med else None,
                    }
                )
            except Exception:  # noqa: BLE001 - summary may be evicted
                skews.append({"stage": s["stageId"], "tasks": s["numTasks"]})
        eff = task_ms / (wall_ms * cpus) if wall_ms else None
        driver_gap = 1.0 - active_ms / wall_ms if wall_ms else None
        floor_frac = floor_ms / active_ms if active_ms else None
        heavy_skew = next(
            (
                k
                for k in skews
                if k.get("skew")
                and k["skew"] > 5
                and k["task_s"] > 0.3 * task_ms / 1000.0
            ),
            None,
        )
        if driver_gap is not None and driver_gap > 0.4:
            cls = "DRIVER"
        elif heavy_skew:
            cls = "SKEW"
        elif floor_frac is not None and floor_frac > 0.4:
            cls = "FLOOR"
        else:
            cls = "EXECUTOR"
        print(
            json.dumps(
                {
                    "query": name,
                    "cores": cpus,
                    "wall_s": round(wall_ms / 1000.0, 2),
                    "task_s": round(task_ms / 1000.0, 1),
                    "eff": round(eff, 3),
                    "driver_gap": round(driver_gap, 3),
                    "floor_frac": round(floor_frac, 3)
                    if floor_frac is not None
                    else None,
                    "n_stages": len(stages),
                    "class": cls,
                    "top_stages": skews,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
