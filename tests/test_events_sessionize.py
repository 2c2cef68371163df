"""``events_sessionize`` builds one plan from its inputs: no build-time
probe of the events table, and a plain per-user aggregate even when one
user holds most of the rows (AQE and partial aggregation own skew)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ipeds_etl_spark.queries.events import q_events_sessionize
from ipeds_etl_spark.sources.tables import load_table

GAP_S = 1800


def _events(seed: int = 7, n: int = 3000) -> list[tuple[int, int, int]]:
    """(event_id, user_id, ts seconds); user 1 holds ~60 % of the rows,
    and gaps around the 30-minute threshold split sessions."""
    rnd = random.Random(seed)
    clock = {}
    rows = []
    for event_id in range(n):
        user = 1 if rnd.random() < 0.6 else rnd.randrange(2, 40)
        clock[user] = clock.get(user, 1_700_000_000) + rnd.choice((60, 600, GAP_S, GAP_S + 1, 7200))
        rows.append((event_id, user, clock[user]))
    return rows


def _plain_stats(rows) -> set[tuple[int, int, int, int]]:
    """Per-user (n_sessions, n_events, max_session_events), replayed in
    Python: a new session starts when the gap to the previous event
    (ordered by ts, event_id) exceeds 30 minutes."""
    by_user: dict[int, list[tuple[int, int]]] = {}
    for event_id, user, ts in rows:
        by_user.setdefault(user, []).append((ts, event_id))
    out = set()
    for user, evs in by_user.items():
        sizes, prev = [], None
        for ts, _ in sorted(evs):
            if prev is None or ts - prev > GAP_S:
                sizes.append(0)
            sizes[-1] += 1
            prev = ts
        out.add((user, len(sizes), len(evs), max(sizes)))
    return out


def test_sessionize_build_runs_no_jobs_and_plans_a_plain_agg(spark, tmp_path, jobs_in_group):
    rows = _events()
    sf = str(tmp_path)
    spark.createDataFrame(rows, "event_id long, user_id long, ts_s long").select(
        "event_id", "user_id", F.timestamp_seconds("ts_s").alias("ts")
    ).write.parquet(f"{sf}/events.parquet")
    load_table(spark, sf, "events")  # the table read is the loader's, not the build's

    built = []
    assert jobs_in_group(spark, "sessionize-build", lambda: built.append(q_events_sessionize(spark, sf))) == 0
    df = built[0]
    assert "__salt" not in df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert {tuple(r) for r in df.collect()} == _plain_stats(rows)
