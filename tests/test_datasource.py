"""Spark 4 Python DataSource: distributed paginated ingest (fixture mode)."""

from __future__ import annotations

import json

import pytest

from ipeds_etl_spark.sources.datasource import PaginatedJsonDataSource


@pytest.fixture(scope="module")
def fixture_api(tmp_path_factory):
    root = tmp_path_factory.mktemp("api")
    for year, n_pages in ((2019, 2), (2020, 3), (2021, 1)):
        d = root / str(year)
        d.mkdir()
        for p in range(1, n_pages + 1):
            body = {
                "results": [
                    {"unitid": 100 * year + 10 * p + i, "year": year} for i in range(3)
                ],
                "next": f"?page={p + 1}" if p < n_pages else None,
            }
            (d / f"page{p}.json").write_text(json.dumps(body))
    return str(root)


def test_partition_per_year_read(spark, fixture_api):
    spark.dataSource.register(PaginatedJsonDataSource)
    df = (
        spark.read.format("paginated_json")
        .option("base_url", f"file://{fixture_api}")
        .option("year_start", "2019")
        .option("year_end", "2021")
        .load()
    )
    rows = df.collect()
    # 2+3+1 pages, 3 records each
    assert len(rows) == 6
    by_year = {}
    for r in rows:
        by_year.setdefault(r["year"], []).append(r)
        assert r["record_count"] == 3
        assert json.loads(r["payload"])[0]["year"] == r["year"]
    assert {y: len(v) for y, v in by_year.items()} == {2019: 2, 2020: 3, 2021: 1}
    # parallelism contract: one input partition per year
    assert df.rdd.getNumPartitions() == 3


def test_datasource_feeds_raw_layer(spark, fixture_api, tmp_path):
    from pyspark.sql import functions as F

    from ipeds_etl_spark.sources import raw as raw_io

    spark.dataSource.register(PaginatedJsonDataSource)
    pages = (
        spark.read.format("paginated_json")
        .option("base_url", f"file://{fixture_api}")
        .option("year_start", "2019")
        .option("year_end", "2020")
        .load()
        .select(
            "year",
            "page_number",
            "source_url",
            F.sha2("payload", 256).alias("source_hash"),
            F.current_timestamp().alias("ingested_at"),
            "record_count",
            "payload",
        )
    )
    raw_path = str(tmp_path / "raw")
    raw_io.write_pages(spark, pages, raw_path)
    back = raw_io.scan_records(raw_io.scan_pages(spark, raw_path))
    assert back.count() == (2 + 3) * 3


def test_stream_reader_delivers_every_page_exactly_once(spark, fixture_api, tmp_path):
    """readStream over the paginated source: all 6 pages arrive across
    microbatches with no duplicates, in offset order, and the batch
    read of the same fixture is reproduced exactly."""
    spark.dataSource.register(PaginatedJsonDataSource)
    stream = (
        spark.readStream.format("paginated_json")
        .option("base_url", f"file://{fixture_api}")
        .option("year_start", "2019")
        .option("year_end", "2021")
        .load()
    )
    (
        stream.writeStream.format("memory")
        .queryName("pages_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = [
        (r["year"], r["page_number"], r["record_count"])
        for r in spark.sql(
            "SELECT * FROM pages_stream ORDER BY year, page_number"
        ).collect()
    ]
    want = [
        (r["year"], r["page_number"], r["record_count"])
        for r in spark.read.format("paginated_json")
        .option("base_url", f"file://{fixture_api}")
        .option("year_start", "2019")
        .option("year_end", "2021")
        .load()
        .orderBy("year", "page_number")
        .collect()
    ]
    assert got == want and len(got) == 6


#: the ``User-Agent`` of every request ``live_http_api`` received
USER_AGENTS: list[str] = []


@pytest.fixture(scope="module")
def live_http_api():
    """A 'live' paginated endpoint: every 200 page advertises a ``next``
    link (the server does not know where the data ends) and requests
    past the end answer HTTP 404 — the endpoint shape the stream
    reader's docstring advertises. Pages per year: 2019→2, 2020→1."""
    import json as _json
    import re
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    pages_by_year = {2019: 2, 2020: 1}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            USER_AGENTS.append(self.headers["User-Agent"])
            m = re.match(r"^/api/(\d+)/\?page=(\d+)$", self.path)
            year, page = int(m.group(1)), int(m.group(2))
            if page > pages_by_year.get(year, 0):
                self.send_error(404)
                return
            body = _json.dumps(
                {
                    "results": [
                        {"unitid": 100 * year + 10 * page + i, "year": year}
                        for i in range(3)
                    ],
                    "next": f"?page={page + 1}",  # always present (live server)
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _http_opts(reader, base_url):
    return (
        reader.format("paginated_json")
        .option("base_url", base_url)
        .option("path_template", "api/{year}/")
        .option("year_start", "2019")
        .option("year_end", "2020")
    )


def test_http_transport_404_terminates_batch(spark, live_http_api):
    """Batch read over the live endpoint: the past-the-end 404 is
    end-of-data (the year rolls over), not a retry-exhausted crash."""
    spark.dataSource.register(PaginatedJsonDataSource)
    rows = _http_opts(spark.read, live_http_api).load().collect()
    got = sorted((r["year"], r["page_number"], r["record_count"]) for r in rows)
    assert got == [(2019, 1, 3), (2019, 2, 3), (2020, 1, 3)]


def test_source_and_driver_fetch_send_the_settings_user_agent(spark, live_http_api):
    """Both readers fetch through ``http_ingest``'s one GET, which sends
    ``Settings.user_agent``."""
    from ipeds_etl_spark.sources.http_ingest import get_with_retries

    spark.dataSource.register(PaginatedJsonDataSource)
    USER_AGENTS.clear()
    assert len(_http_opts(spark.read, live_http_api).load().collect()) == 3
    assert USER_AGENTS and set(USER_AGENTS) == {"ipeds-etl-spark/0.2"}
    USER_AGENTS.clear()
    get_with_retries(f"{live_http_api}/api/2019/?page=1")
    assert USER_AGENTS == ["ipeds-etl-spark/0.2"]


def test_http_transport_404_terminates_stream(spark, live_http_api, tmp_path):
    """Stream read over the same live endpoint: pagination ends per
    year via 404 (the reader honors it as end-of-data even though every
    200 page advertises a ``next`` link), all pages arrive once."""
    spark.dataSource.register(PaginatedJsonDataSource)
    (
        _http_opts(spark.readStream, live_http_api)
        .load()
        .writeStream.format("memory")
        .queryName("live_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_live"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = sorted(
        (r["year"], r["page_number"], r["record_count"])
        for r in spark.sql("SELECT * FROM live_stream").collect()
    )
    assert got == [(2019, 1, 3), (2019, 2, 3), (2020, 1, 3)]


def test_stream_reader_honors_next_marker(spark, tmp_path):
    """A 200 page WITHOUT a ``next`` link terminates the year for the
    stream reader exactly as it does for the batch reader — even when
    further page files exist on disk (a server that answers empty/stale
    pages forever must not trap the stream in an endless loop)."""
    root = tmp_path / "api_nonext"
    d = root / "2019"
    d.mkdir(parents=True)
    (d / "page1.json").write_text(
        json.dumps({"results": [{"unitid": 1, "year": 2019}], "next": None})
    )
    # stale/extra page the `next` contract says must never be visited
    (d / "page2.json").write_text(
        json.dumps({"results": [{"unitid": 2, "year": 2019}], "next": None})
    )
    spark.dataSource.register(PaginatedJsonDataSource)
    common = dict(base_url=f"file://{root}", year_start="2019", year_end="2019")
    batch = (
        spark.read.format("paginated_json").options(**common).load().collect()
    )
    (
        spark.readStream.format("paginated_json")
        .options(**common)
        .load()
        .writeStream.format("memory")
        .queryName("nonext_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_nonext"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    stream = spark.sql("SELECT * FROM nonext_stream").collect()
    assert [(r["year"], r["page_number"]) for r in batch] == [(2019, 1)]
    assert [(r["year"], r["page_number"]) for r in stream] == [(2019, 1)]


def test_stream_reader_resumes_from_checkpoint(spark, fixture_api, tmp_path):
    """Restarting against the same checkpoint re-reads NOTHING (the
    offset dict advanced past every page)."""
    spark.dataSource.register(PaginatedJsonDataSource)
    out = str(tmp_path / "pages_out")

    def run():
        (
            spark.readStream.format("paginated_json")
            .option("base_url", f"file://{fixture_api}")
            .option("year_start", "2019")
            .option("year_end", "2021")
            .load()
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    assert spark.read.parquet(out).count() == 6
    run()
    # second run resumes from the committed offset: nothing re-read,
    # nothing duplicated in the sink
    assert spark.read.parquet(out).count() == 6


def test_empty_year_warns_and_strict_404_raises(spark, fixture_api):
    """ADVICE r5: a year with no page 1 (typo'd base_url looks exactly
    like this) must be LOUD — warning by default, error under
    strict_404 — instead of silently yielding an empty dataset."""
    from ipeds_etl_spark.sources.datasource import PaginatedJsonReader

    # 2022 has no fixture directory: page 1 missing
    opts = {
        "base_url": f"file://{fixture_api}",
        "year_start": "2022",
        "year_end": "2022",
    }
    r = PaginatedJsonReader(opts)
    import logging

    with_warning = []

    class Capture(logging.Handler):
        def emit(self, record):
            with_warning.append(record.getMessage())

    h = Capture()
    logging.getLogger("ipeds_etl_spark.sources.datasource").addHandler(h)
    try:
        assert list(r.read(r.partitions()[0])) == []
    finally:
        logging.getLogger("ipeds_etl_spark.sources.datasource").removeHandler(h)
    assert any("terminated on page 1" in m for m in with_warning)

    strict = PaginatedJsonReader({**opts, "strict_404": "true"})
    with pytest.raises(IOError, match="strict_404|terminated on page 1"):
        list(strict.read(strict.partitions()[0]))

    # a year that HAS data is unaffected by strict mode
    ok = PaginatedJsonReader(
        {
            "base_url": f"file://{fixture_api}",
            "year_start": "2021",
            "year_end": "2021",
            "strict_404": "true",
        }
    )
    assert len(list(ok.read(ok.partitions()[0]))) == 1


def test_stream_live_year_holds_offset_and_picks_up_late_publication(
    spark, fixture_api, tmp_path
):
    """ADVICE r6: the NEWEST year's missing page 1 is a normal
    transient state on a live endpoint — the stream must hold its
    offset (no roll-past, no warning storm) and ingest the year once
    it publishes; an OLDER missing year warns once and rolls over."""
    import json as _json
    import logging
    import os

    from ipeds_etl_spark.sources.datasource import PaginatedJsonStreamReader

    r = PaginatedJsonStreamReader(
        {
            "base_url": f"file://{fixture_api}",
            "year_start": "2021",
            "year_end": "2023",  # 2022 older-missing, 2023 live-missing
        }
    )
    msgs = []

    class Capture(logging.Handler):
        def emit(self, record):
            msgs.append(record.getMessage())

    h = Capture()
    log = logging.getLogger("ipeds_etl_spark.sources.datasource")
    log.addHandler(h)
    try:
        rows, off = r.read(r.initialOffset())
        rows = list(rows)
        # 2021's one page read; 2022 warned+rolled; 2023 HELD at page 1
        assert [(x[0], x[1]) for x in rows] == [(2021, 1)]
        assert off == {"year": 2023, "page": 1}
        assert sum("2022" in m and "no page 1" in m for m in msgs) == 1
        assert not any("2023" in m for m in msgs)

        # caught-up poll: empty batch, offset unchanged, NO new warning
        rows2, off2 = r.read(off)
        assert list(rows2) == [] and off2 == off
        assert sum("no page 1" in m for m in msgs) == 1
    finally:
        log.removeHandler(h)

    # 2023 publishes late: the next poll picks it up from the held offset
    d = os.path.join(fixture_api, "2023")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "page1.json"), "w") as f:
        _json.dump(
            {"results": [{"unitid": 1, "year": 2023}], "next": None}, f
        )
    try:
        rows3, off3 = r.read(off)
        rows3 = list(rows3)
        assert [(x[0], x[1]) for x in rows3] == [(2023, 1)]
        # once published, the year's own no-`next` terminator ends it
        assert off3 == {"year": 2024, "page": 1}
    finally:
        import shutil

        shutil.rmtree(d)  # fixture is module-scoped: leave it as found


def test_stream_live_year_truncated_chain_warns_once(
    spark, fixture_api, tmp_path
):
    """ADVICE r8: a live-year page > 1 that goes missing AFTER its
    predecessor advertised `next` (server truncated the chain) holds
    the offset — correct — but must also leave a log signal, exactly
    once per held (year, page), so a permanently stuck stream is
    observable; log volume stays flat across polls."""
    import json as _json
    import logging
    import os
    import shutil

    from ipeds_etl_spark.sources.datasource import PaginatedJsonStreamReader

    d = os.path.join(fixture_api, "2023")
    os.makedirs(d, exist_ok=True)
    # page 1 advertises next, but page 2 is never published
    with open(os.path.join(d, "page1.json"), "w") as f:
        _json.dump(
            {"results": [{"unitid": 1, "year": 2023}], "next": "?page=2"}, f
        )
    msgs = []

    class Capture(logging.Handler):
        def emit(self, record):
            msgs.append(record.getMessage())

    h = Capture()
    log = logging.getLogger("ipeds_etl_spark.sources.datasource")
    log.addHandler(h)
    try:
        r = PaginatedJsonStreamReader(
            {
                "base_url": f"file://{fixture_api}",
                "year_start": "2023",
                "year_end": "2023",
            }
        )
        rows, off = r.read(r.initialOffset())
        assert [(x[0], x[1]) for x in list(rows)] == [(2023, 1)]
        assert off == {"year": 2023, "page": 2}  # held, not rolled over
        held = [m for m in msgs if "holding offset" in m]
        assert len(held) == 1 and "page 2" in held[0]

        # repeated caught-up polls: offset still held, NO warning storm
        for _ in range(3):
            rows2, off2 = r.read(off)
            assert list(rows2) == [] and off2 == off
        assert sum("holding offset" in m for m in msgs) == 1

        # the page finally publishes: stream resumes, year terminates
        with open(os.path.join(d, "page2.json"), "w") as f:
            _json.dump(
                {"results": [{"unitid": 2, "year": 2023}], "next": None}, f
            )
        rows3, off3 = r.read(off)
        assert [(x[0], x[1]) for x in list(rows3)] == [(2023, 2)]
        assert off3 == {"year": 2024, "page": 1}
    finally:
        log.removeHandler(h)
        shutil.rmtree(d)  # fixture is module-scoped: leave it as found


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from ipeds_etl_spark.sources.datasource import PaginatedJsonDataSource

spark.dataSource.register(PaginatedJsonDataSource)
opts = dict(base_url="file://{api}", year_start="2019", year_end="2021")
batch = spark.read.format("paginated_json").options(**opts).load().count()
(
    spark.readStream.format("paginated_json").options(**opts).load()
    .writeStream.format("memory").queryName("pages").outputMode("append")
    .option("checkpointLocation", "ck").trigger(availableNow=True)
    .start().awaitTermination()
)
print(json.dumps([batch, spark.sql("SELECT * FROM pages").count()]))
"""


def test_source_runs_from_foreign_working_directory(fixture_api, tmp_path):
    """The source's batch and stream reads run in a session whose
    Python workers cannot import the package: started from another
    working directory, with the package only on the Spark driver's
    ``sys.path``. The source and what it calls ship by value."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT.format(repo=repo, api=fixture_api)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [6, 6]


def _write_fixture(root, year: int, page_lists: list[list[dict]]) -> None:
    d = root / str(year)
    d.mkdir(parents=True)
    for p, records in enumerate(page_lists, 1):
        nxt = f"?page={p + 1}" if p < len(page_lists) else None
        (d / f"page{p}.json").write_text(json.dumps({"results": records, "next": nxt}))


def _source_pages(spark, root, year: int):
    """The source's rows over ``root`` for ``year``, with the raw
    layer's hash and stamp columns."""
    from pyspark.sql import functions as F

    spark.dataSource.register(PaginatedJsonDataSource)
    return (
        spark.read.format("paginated_json")
        .option("base_url", f"file://{root}")
        .option("year_start", str(year))
        .option("year_end", str(year))
        .load()
        .select(
            "year",
            "page_number",
            "source_url",
            F.sha2("payload", 256).alias("source_hash"),
            F.current_timestamp().alias("ingested_at"),
            "record_count",
            "payload",
        )
    )


def test_source_and_driver_landing_agree_on_payload_and_hash(spark, tmp_path):
    """The same pages, landed by ``raw.pages_from_fetched`` and read by
    the source plus ``sha2(payload)``, carry the same canonical payload
    and content hash, key order, unicode, floats and nulls included."""
    from ipeds_etl_spark.sources import raw as raw_io

    page_lists = [
        [{"z": 1, "a": "é ☃", "m": [1.5, None, {"y": 2, "b": True}]}, {"unitid": 7}],
        [{"b": 1e-7, "a": None}],
    ]
    _write_fixture(tmp_path, 2019, page_lists)

    def by_page(df):
        return {
            r["page_number"]: (r["payload"], r["source_hash"])
            for r in df.select("page_number", "payload", "source_hash").collect()
        }

    driver = by_page(raw_io.pages_from_fetched(spark, 2019, page_lists))
    source = by_page(_source_pages(spark, tmp_path, 2019))
    assert sorted(driver) == [1, 2]
    assert source == driver


def test_source_relanding_a_loaded_year_writes_nothing(spark, tmp_path):
    """The source's rows for a year ``run_load`` landed pass the raw
    hash guard untouched: ``write_pages`` lands nothing."""
    from ipeds_etl_spark import pipeline
    from ipeds_etl_spark.sources import raw as raw_io

    page_lists = [
        [{"unitid": u, "year": 2020, "inst_name": f"inst {u}", "sector": 1} for u in (1, 2, 3)],
        [{"unitid": 4, "year": 2020, "inst_name": "inst 4", "sector": 2}],
    ]
    wh = str(tmp_path / "wh")
    pipeline.run_load(spark, "directory", 2020, page_lists, wh)
    _write_fixture(tmp_path / "api", 2020, page_lists)
    pages = _source_pages(spark, tmp_path / "api", 2020)
    assert raw_io.write_pages(spark, pages, f"{wh}/raw/directory") is None
