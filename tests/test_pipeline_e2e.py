"""End-to-end smoke: fixture JSON pages → raw → core → views.

Mirrors the reference's planned ``test_end_to_end_small.py``
(reference architecture.md:137,173) with the FIXTURES.md F1/F2 value
cases: sentinels, alias fallbacks, malformed casts, year backfill,
hash-guarded page rewrite, and run-twice idempotency.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark import lineage, pipeline, registry
from ipeds_etl_spark.sources import raw as raw_io
from ipeds_etl_spark.sources.http_ingest import fetch_endpoint_pages


def _fixture_pages(year: int) -> list[list[dict]]:
    """Two pages of directory records exercising FIXTURES.md F2 cases."""
    page1 = [
        # clean record
        {"unitid": 101, "year": year, "inst_name": "Alpha University", "sector": 1,
         "latitude": 44.5, "longitude": -122.4, "state_abbr": "OR", "fips": 41},
        # sentinels + alias keys; preferred key sentinel -> fallback wins
        {"unitid": 102, "year": year, "inst_name": "-2", "instnm": "Beta College",
         "stabbr": "CA", "sector": -1, "hbcu": -2, "inst_size": -3, "region": "-1"},
        # malformed casts + whitespace + legit negative
        {"unitid": 103, "year": year, "fips": "abc", "latitude": "12.3.4",
         "county_fips": " 42 ", "region": -4, "inst_alias": "   ", "lon": "-71.1"},
    ]
    page2 = [
        # missing year -> backfilled from page row
        {"unitid": 104, "instnm": "Delta Institute", "control": "2", "iclevel": 1,
         "locale": 11, "zip5": "97201"},
        # decimal-in-int corner + unknown drift field
        {"unitid": 105, "year": year, "region": "12.5", "mystery_col": "?"},
    ]
    return [page1, page2]


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def test_full_load_and_semantics(spark, warehouse):
    metrics = pipeline.run_load(spark, "directory", 2020, _fixture_pages(2020), warehouse)
    assert metrics["records_mapped"] == 5
    assert metrics["rows_inserted"] == 5 and metrics["rows_updated"] == 0
    assert metrics["raw_existing_before"] == 0

    core = spark.read.parquet(f"{warehouse}/core/directory")
    rows = {r["unitid"]: r for r in core.collect()}
    assert set(rows) == {101, 102, 103, 104, 105}

    assert rows[101]["inst_name"] == "Alpha University"
    assert rows[101]["longitude"] == -122.4
    # alias fallback past sentinel preferred key
    assert rows[102]["inst_name"] == "Beta College"
    assert rows[102]["state_abbr"] == "CA"
    assert rows[102]["sector"] is None and rows[102]["hbcu"] is None
    assert rows[102]["region"] is None
    # malformed -> NULL; whitespace int -> parsed; legit negative survives
    assert rows[103]["fips"] is None and rows[103]["latitude"] is None
    assert rows[103]["county_fips"] == 42
    assert rows[103]["region"] == -4
    assert rows[103]["inst_alias"] is None
    assert rows[103]["longitude"] == -71.1
    # year backfill + alias keys
    assert rows[104]["year"] == 2020
    assert rows[104]["inst_name"] == "Delta Institute"
    assert rows[104]["inst_control"] == 2
    assert rows[104]["institution_level"] == 1
    assert rows[104]["urban_centric_locale"] == 11
    assert rows[104]["zip"] == "97201"
    # decimal-in-int -> NULL (Python int('12.5') parity)
    assert rows[105]["region"] is None


def test_first_load_raw_rows_match_source_trace(spark, warehouse):
    """One landing, one time: every raw row of the first load has its
    source_trace row with the same ``ingested_at``."""
    raw = spark.read.parquet(f"{warehouse}/raw/directory")
    trace = spark.read.parquet(f"{warehouse}/meta/source_trace")
    keys = ["year", "source_hash", "ingested_at"]
    assert raw.count() == 2
    assert raw.join(trace, keys, "left_anti").count() == 0


def _trace_rows(spark, warehouse) -> list:
    return spark.read.parquet(f"{warehouse}/meta/source_trace").collect()


def test_rerun_is_idempotent(spark, warehouse):
    before_core = sorted(tuple(r) for r in spark.read.parquet(f"{warehouse}/core/directory").collect())
    before_hashes = {
        (r["year"], r["page_number"]): (r["source_hash"], r["ingested_at"])
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    before_trace = _trace_rows(spark, warehouse)
    metrics = pipeline.run_load(spark, "directory", 2020, _fixture_pages(2020), warehouse)
    # an identical re-send lands no page, so it traces none
    assert sorted(_trace_rows(spark, warehouse)) == sorted(before_trace)
    assert metrics["rows_inserted"] == 0 and metrics["rows_updated"] == 5
    assert metrics["raw_existing_before"] == 1
    after_core = sorted(tuple(r) for r in spark.read.parquet(f"{warehouse}/core/directory").collect())
    assert before_core == after_core
    # hash-guarded raw upsert: unchanged pages keep original ingested_at
    after_hashes = {
        (r["year"], r["page_number"]): (r["source_hash"], r["ingested_at"])
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    assert before_hashes == after_hashes


def test_changed_page_rewrites_only_itself(spark, warehouse):
    pages = _fixture_pages(2020)
    pages[1][1]["region"] = 7  # change one record on page 2
    before_trace = _trace_rows(spark, warehouse)
    pipeline.run_load(spark, "directory", 2020, pages, warehouse)
    raw = {
        r["page_number"]: r
        for r in spark.read.parquet(f"{warehouse}/raw/directory").collect()
    }
    core = {r["unitid"]: r for r in spark.read.parquet(f"{warehouse}/core/directory").collect()}
    assert core[105]["region"] == 7
    assert raw[1]["ingested_at"] < raw[2]["ingested_at"]  # page 1 untouched
    # one trace row, for the one page that landed, stamped as its raw row
    new_trace = _trace_rows(spark, warehouse)
    for row in before_trace:
        new_trace.remove(row)
    assert [(r["year"], r["source_hash"], r["ingested_at"]) for r in new_trace] == [
        (raw[2]["year"], raw[2]["source_hash"], raw[2]["ingested_at"])
    ]


def test_second_year_partition_isolated(spark, warehouse):
    metrics = pipeline.run_load(spark, "directory", 2021, _fixture_pages(2021), warehouse)
    assert metrics["raw_existing_before"] == 0  # new year in an existing table
    core = spark.read.parquet(f"{warehouse}/core/directory")
    assert core.filter(F.col("year") == 2021).count() == 5
    assert core.filter(F.col("year") == 2020).count() == 5
    # partition layout on disk
    import os

    assert os.path.isdir(f"{warehouse}/core/directory/year=2021")


def test_rebuild_gold(spark, warehouse):
    out = pipeline.rebuild_gold(spark, "directory", warehouse)
    latest = spark.read.parquet(f"{warehouse}/vw/directory_institutions_latest")
    # one row per institution, and it is the 2021 vintage (both years loaded)
    assert latest.count() == latest.select("unitid").distinct().count() == 5
    assert {r["year"] for r in latest.collect()} == {2021}
    counts = spark.read.parquet(f"{warehouse}/vw/directory_yearly_counts")
    assert "state_abbr" in counts.columns  # geography slice present for directory
    by_year = {r["year"]: r for r in counts.groupBy("year").agg(
        F.sum("n_rows").alias("n")).collect()}
    assert by_year[2020]["n"] == 5 and by_year[2021]["n"] == 5
    assert out["institutions_latest"] == 5


def test_drift_check(spark, warehouse):
    pages = raw_io.scan_pages(spark, f"{warehouse}/raw/directory", [2020])
    rep = pipeline.drift_check("directory", raw_io.scan_records(pages))
    assert "mystery_col" in rep["unknown_incoming"]


def test_empty_load_is_noop(spark, warehouse):
    """A year with zero fetched pages must not touch existing data and
    must log a 0/0 run (reference: empty API responses are normal for
    pre-coverage years)."""
    before = spark.read.parquet(f"{warehouse}/core/directory").count()
    metrics = pipeline.run_load(spark, "directory", 2019, [], warehouse)
    assert metrics["records_mapped"] == 0
    assert metrics["rows_inserted"] == 0 and metrics["rows_updated"] == 0
    assert spark.read.parquet(f"{warehouse}/core/directory").count() == before


def test_empty_first_load_logs_a_zero_run(spark, tmp_path):
    """An empty year into a new warehouse lands nothing and logs 0/0."""
    metrics = pipeline.run_load(spark, "directory", 2019, [], str(tmp_path))
    assert (metrics["records_mapped"], metrics["rows_inserted"], metrics["rows_updated"]) == (0, 0, 0)
    log = spark.read.parquet(f"{tmp_path}/meta/load_log").collect()
    assert [(r["load_id"], r["rows_inserted"], r["rows_updated"]) for r in log] == [(1, 0, 0)]


def test_record_of_another_year_merges_into_its_partition(spark, tmp_path):
    """A record whose own ``year`` differs from its page's lands in its
    own year's partition: counted against that partition's keys, and
    that partition's other rows are kept."""
    wh = str(tmp_path)
    pipeline.run_load(spark, "directory", 2019, _fixture_pages(2019), wh)
    stray = [[{"unitid": 101, "year": 2019, "inst_name": "Alpha, restated"},
              {"unitid": 201, "year": 2020, "inst_name": "Gamma"}]]
    metrics = pipeline.run_load(spark, "directory", 2020, stray, wh)
    assert (metrics["rows_inserted"], metrics["rows_updated"]) == (1, 1)
    core = spark.read.parquet(f"{wh}/core/directory")
    names = {(r["unitid"], r["year"]): r["inst_name"] for r in core.collect()}
    assert len(names) == 6
    assert names[(101, 2019)] == "Alpha, restated" and names[(201, 2020)] == "Gamma"


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}  # noqa: SLF001


@pytest.mark.parametrize("core_write_fails", [False, True])
def test_run_load_shares_one_persisted_mapped_frame(spark, tmp_path, monkeypatch, core_write_fails):
    """The load counts and the core write read one persisted mapped
    frame, and run_load releases it, also when the core write raises."""
    seen = {}

    def spy(name, fn, pos):
        def wrapped(*args, **kwargs):
            seen[name] = (args[pos], args[pos].is_cached)
            if name == "write_core" and core_write_fails:
                raise RuntimeError("core write failed")
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(lineage, "load_counts", spy("load_counts", lineage.load_counts, 1))
    monkeypatch.setattr(pipeline, "write_core", spy("write_core", pipeline.write_core, 2))
    before = _persistent_rdd_ids(spark)
    args = (spark, "directory", 2020, _fixture_pages(2020), str(tmp_path))
    if core_write_fails:
        with pytest.raises(RuntimeError, match="core write failed"):
            pipeline.run_load(*args)
    else:
        assert pipeline.run_load(*args)["records_mapped"] == 5
    counted, counted_cached = seen["load_counts"]
    written, written_cached = seen["write_core"]
    assert counted is written
    assert counted_cached and written_cached
    assert not written.is_cached
    assert _persistent_rdd_ids(spark) - before == set()


def test_map_from_raw_compiles_without_codegen_fallback(spark, tmp_path):
    """Parse, explode and the full directory mapper compile as whole-
    stage codegen. With fallback off, a stage whose generated code
    outgrows a JVM method (64 KB) raises instead of quietly running
    the slower interpreted plan."""
    from ipeds_etl_spark.plans.core_pipeline import map_from_raw

    keys = registry.candidate_keys("directory")
    page = [{**{k: str(i) for k in keys}, "unitid": i, "year": 2020} for i in (1, 2)]
    raw_path = str(tmp_path / "raw")
    raw_io.write_pages(spark, raw_io.pages_from_fetched(spark, 2020, [page]), raw_path)
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        mapped = map_from_raw(spark, "directory", raw_path, [2020])
        mapped.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set(key, prev)


def test_http_ingest_offline_pagination():
    calls = []

    def fake_transport(url: str) -> str:
        calls.append(url)
        if "page=2" in url:
            return '{"results": [{"unitid": 2}], "next": null}'
        return '{"results": [{"unitid": 1}], "next": "?page=2"}'

    sleeps = []
    pages = fetch_endpoint_pages(
        "https://api.example/v1", "ipeds/directory/{year}/", 2020,
        transport=fake_transport, sleep=sleeps.append,
    )
    assert pages == [[{"unitid": 1}], [{"unitid": 2}]]
    assert len(calls) == 2 and "2020" in calls[0]
    assert sleeps == [0.25]  # 1/4 rps between pages


def test_http_retry_backoff():
    from ipeds_etl_spark.sources.http_ingest import get_with_retries

    attempts = []

    def flaky(url: str) -> str:
        attempts.append(url)
        if len(attempts) < 3:
            raise OSError("boom")
        return "ok"

    sleeps = []
    assert get_with_retries("u", transport=flaky, sleep=sleeps.append) == "ok"
    assert sleeps == [1.0, 2.0]  # exponential backoff

    with pytest.raises(OSError):
        get_with_retries("u", transport=lambda _: (_ for _ in ()).throw(OSError("x")), sleep=lambda s: None)
