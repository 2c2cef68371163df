"""The load path's driver-built frames: driver-side hashes equal
Spark's, stored instants do not depend on the session, and every frame
plans as a local relation — under the engine session and under a bare
one (Arrow conf off, ANSI on, a non-UTC session time zone)."""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ipeds_etl_spark import lineage, pipeline
from ipeds_etl_spark.localframe import local_frame
from ipeds_etl_spark.sources import raw as raw_io

#: a US daylight-saving switch day, so a zone-shifted instant shows
STAMP = datetime(2024, 3, 10, 9, 30, 15, 123456, tzinfo=timezone.utc)
STAMP_US = int(STAMP.timestamp()) * 1_000_000 + STAMP.microsecond

RECORDS = [
    {"unitid": 1, "inst_name": "École Supérieure — Zürich"},
    {"unitid": 2, "inst_name": "😀 𝔘𝔫𝔦𝔳𝔢𝔯𝔰𝔦𝔱𝔶"},
    {"unitid": 3, "inst_name": 'quote " backslash \\ newline \n tab \t', "x": " \u0001"},
]
#: payload text as stored, not JSON-escaped
PAYLOADS = ["École", "😀𝔘", 'a"b\\n', " \u0001\t", "", "汉字 ✓"]


def _bare(spark):
    """A session with Spark's defaults where the engine session sets its
    own, and a session time zone that is not UTC."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    bare.conf.set("spark.sql.ansi.enabled", "true")
    bare.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    return bare


@pytest.fixture(params=["engine", "bare"])
def session(request, spark):
    return spark if request.param == "engine" else _bare(spark)


class _Frozen(datetime):
    @classmethod
    def now(cls, tz=None):
        return STAMP.astimezone(tz)


def _micros(df, col: str) -> int:
    return df.select(F.unix_micros(col)).first()[0]


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()  # noqa: SLF001
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_driver_hash_equals_spark_sha2(session):
    """The stored raw hashes came from Spark's ``sha2``: a driver-side
    digest that differed would mark every stored page as changed."""
    pages = raw_io.pages_from_fetched(session, 2020, [RECORDS[:2], RECORDS[2:]])
    rows = pages.select("source_hash", F.sha2("payload", 256)).collect()
    assert len(rows) == 2 and all(ours == spark_hash for ours, spark_hash in rows)

    schema = T.StructType([T.StructField("payload", T.StringType())])
    frame = local_frame(session, schema, {"payload": PAYLOADS})
    got = [r[0] for r in frame.select(F.sha2("payload", 256)).collect()]
    assert got == [hashlib.sha256(p.encode("utf-8")).hexdigest() for p in PAYLOADS]


def test_stored_instants_do_not_depend_on_session(session, tmp_path, monkeypatch):
    monkeypatch.setattr(raw_io, "datetime", _Frozen)
    pages = raw_io.pages_from_fetched(session, 2020, [RECORDS])
    trace = lineage.source_trace_rows("directory", pages)
    log = lineage.load_log_row(
        session, 1, "directory", 2020, 2020, 3, 0, STAMP, STAMP + timedelta(seconds=1)
    )
    for name, df in (("pages", pages), ("trace", trace), ("log", log)):
        df.write.parquet(str(tmp_path / name))
    stored = {name: session.read.parquet(str(tmp_path / name)) for name in ("pages", "trace", "log")}
    assert _micros(stored["pages"], "ingested_at") == STAMP_US
    assert _micros(stored["trace"], "ingested_at") == STAMP_US
    assert _micros(stored["log"], "started_at") == STAMP_US
    assert _micros(stored["log"], "finished_at") == STAMP_US + 1_000_000
    # the Python-row frames these replace store the same instant
    rows = session.createDataFrame([(STAMP,)], "t timestamp")
    assert _micros(rows, "t") == STAMP_US


def test_driver_frames_plan_as_local_table_scans(session, tmp_path):
    pages = raw_io.pages_from_fetched(session, 2020, [RECORDS[:1], RECORDS[1:]])
    landed = pages.filter(F.col("page_number") == 2)
    frames = {
        "pages": pages,
        "source_trace": lineage.source_trace_rows("directory", landed),
        "load_log": lineage.load_log_row(session, 1, "directory", 2020, 2020, 3, 0, STAMP, STAMP),
        "first core target": pipeline._core_years(session, "directory", str(tmp_path / "core"), [2020]),  # noqa: SLF001
    }
    for name, df in frames.items():
        assert _leaves(df) == ["LocalTableScan"], name


def test_load_under_bare_session(spark, tmp_path):
    """A new year and a changed re-run, loaded from a bare session: the
    counts, and the load_log instants bracketed by the wall clock."""
    bare = _bare(spark)
    wh = str(tmp_path / "wh")
    before = datetime.now(timezone.utc)
    first = pipeline.run_load(bare, "directory", 2020, [RECORDS], wh)
    changed = [dict(r) for r in RECORDS]
    changed[0]["inst_name"] = "renamed"
    second = pipeline.run_load(bare, "directory", 2020, [changed], wh)
    after = datetime.now(timezone.utc)
    assert (first["rows_inserted"], first["rows_updated"]) == (3, 0)
    assert (second["rows_inserted"], second["rows_updated"]) == (0, 3)
    log = bare.read.parquet(f"{wh}/meta/load_log").select(
        "load_id", F.unix_micros("started_at"), F.unix_micros("finished_at")
    )
    lo = int(before.timestamp() * 1_000_000) - 1
    hi = int(after.timestamp() * 1_000_000) + 1
    rows = sorted(log.collect())
    assert [r[0] for r in rows] == [1, 2]
    assert all(lo <= r[1] <= r[2] <= hi for r in rows)
    raw = bare.read.parquet(f"{wh}/raw/directory").select("source_hash", "ingested_at")
    trace = bare.read.parquet(f"{wh}/meta/source_trace").select("source_hash", "ingested_at")
    assert raw.subtract(trace).count() == 0
