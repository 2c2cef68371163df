"""Fault injection between the steps of ``pipeline.run_load``.

A load that crashes after the raw landing, after the ``source_trace``
append, after the core write or before the ``load_log`` append, then
re-runs with the same pages, must leave raw, core, gold, ``load_log``
and ``source_trace`` as one uninterrupted load does, apart from time
stamps.
The crashing load both updates and inserts, so a re-run that counted
its merge against the already-written core would log the wrong
counts. (``tests/test_txn.py`` covers crashes inside one swap.)
"""

from __future__ import annotations

import pytest

from ipeds_etl_spark import lineage, pipeline

ENDPOINT = "directory"


def _pages(year: int, changed: bool) -> list[list[dict]]:
    page1 = [{"unitid": u, "year": year, "inst_name": f"inst {u}", "sector": 1} for u in (1, 2, 3)]
    page2 = [{"unitid": u, "year": year, "inst_name": f"inst {u}", "sector": 2} for u in (4, 5)]
    if changed:
        page2[0]["sector"] = 3
        page2.append({"unitid": 6, "year": year, "inst_name": "inst 6", "sector": 2})
    return [page1, page2]


class Crash(RuntimeError):
    pass


def _raise(*args, **kwargs):
    raise Crash


def _then_raise(fn):
    def wrapped(*args, **kwargs):
        fn(*args, **kwargs)
        raise Crash

    return wrapped


#: where the load stops: (module, attribute, replacement of the original)
CRASHES = {
    "after_raw": (lineage, "append_source_trace", lambda fn: _raise),
    "after_source_trace": (lineage, "append_source_trace", _then_raise),
    "after_core": (pipeline, "write_core", _then_raise),
    "before_load_log": (lineage, "append_load_log", lambda fn: _raise),
}


def _state(spark, wh: str) -> dict:
    """Raw, core, gold, load_log and source_trace without their time stamps."""
    pipeline.rebuild_gold(spark, ENDPOINT, wh)

    def rows(path, drop=()):
        df = spark.read.parquet(f"{wh}/{path}")
        return sorted(tuple(r) for r in df.drop(*drop).collect())

    return {
        "raw": rows(f"raw/{ENDPOINT}", ["ingested_at"]),
        "core": rows(f"core/{ENDPOINT}"),
        "gold": {v: rows(f"vw/{ENDPOINT}_{v}") for v in ("institutions_latest", "yearly_counts")},
        "load_log": rows("meta/load_log", ["started_at", "finished_at"]),
        "source_trace": rows("meta/source_trace", ["ingested_at"]),
    }


def _history(spark, wh: str) -> None:
    pipeline.run_load(spark, ENDPOINT, 2019, _pages(2019, False), wh)
    pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, False), wh)


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("uninterrupted"))
    _history(spark, wh)
    out = pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    assert (out["rows_inserted"], out["rows_updated"]) == (1, 5)
    return out, _state(spark, wh)


@pytest.mark.parametrize("crash_at", list(CRASHES))
def test_rerun_after_crash_equals_uninterrupted_load(spark, tmp_path, monkeypatch, uninterrupted, crash_at):
    want_metrics, want = uninterrupted
    wh = str(tmp_path)
    _history(spark, wh)
    module, attr, replace = CRASHES[crash_at]
    with monkeypatch.context() as m:
        m.setattr(module, attr, replace(getattr(module, attr)))
        with pytest.raises(Crash):
            pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    got_metrics = pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    assert _state(spark, wh) == want
    for key in ("records_mapped", "rows_inserted", "rows_updated"):
        assert got_metrics[key] == want_metrics[key], key


def test_rebuild_gold_reads_core_recovered_after_a_crash_in_its_publish(spark, tmp_path, monkeypatch, uninterrupted):
    """A re-load that crashes inside the core publish, after the commit
    marker, leaves the changed year out of the core directory. A gold
    rebuild before the re-run reads core as the committed generation,
    so its views equal the uninterrupted load's, and the re-run then
    ends where the uninterrupted load does."""
    from ipeds_etl_spark import fsutil

    _, want = uninterrupted
    wh = str(tmp_path)
    core = f"{wh}/core/{ENDPOINT}"
    _history(spark, wh)
    rename = fsutil.rename

    def crash_publishing_core(sp, src, dst):
        if src.startswith(f"{core}/_swap_new_"):  # phase 2: new copy in
            raise Crash
        return rename(sp, src, dst)

    with monkeypatch.context() as m:
        m.setattr(fsutil, "rename", crash_publishing_core)
        with pytest.raises(Crash):
            pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    assert any(n.startswith("_commit_") for n in fsutil.list_names(spark, core))
    assert not fsutil.path_exists(spark, f"{core}/year=2020")

    pipeline.rebuild_gold(spark, ENDPOINT, wh)
    assert _views(spark, wh) == want["gold"]
    pipeline.run_load(spark, ENDPOINT, 2020, _pages(2020, True), wh)
    assert _state(spark, wh) == want


# ---------------------------------------------------------------------------
# The gold refreshes publish both views from staged copies in one commit
# of ``vw/``. A publish that fails or crashes must leave the views
# readable as their old or their new generation, and re-running the
# failed refresh with the same batch must give what one uninterrupted
# refresh gives.
# ---------------------------------------------------------------------------
GOLD_SCHEMA = "unitid int, year int, inst_name string, state_abbr string"
VIEWS = ("institutions_latest", "yearly_counts")


def _gold_warehouse(spark, wh: str) -> None:
    spark.createDataFrame(
        [(1, 2019, "A1", "CA"), (1, 2020, "A2", "CA"), (2, 2020, "B", "NY")], GOLD_SCHEMA
    ).write.parquet(f"{wh}/core/{ENDPOINT}")
    pipeline.rebuild_gold(spark, ENDPOINT, wh)


def _refresh(spark, wh: str):
    delta = spark.createDataFrame([(3, 2020, "C", "TX"), (2, 2020, "B2", "CA")], GOLD_SCHEMA)
    pre = spark.createDataFrame([(2, 2020, "B", "NY")], GOLD_SCHEMA)
    return pipeline.refresh_gold_incremental(spark, ENDPOINT, wh, delta, pre, batch="1:2")


def _staged_view(src: str, wh: str, view: str) -> bool:
    """``src`` is the staged copy of ``view`` that the publish renames in."""
    return src.startswith(f"{wh}/vw/_swap_new_") and src.endswith(f"/{ENDPOINT}_{view}")


def _aside_view(path: str, wh: str, view: str) -> bool:
    """``path`` is the old copy of ``view`` that the publish drops last."""
    return path.startswith(f"{wh}/vw/_swap_old_") and path.endswith(f"/{ENDPOINT}_{view}")


def _views(spark, wh: str) -> dict:
    return {
        v: sorted(tuple(r) for r in spark.read.parquet(f"{wh}/vw/{ENDPOINT}_{v}").collect())
        for v in VIEWS
    }


@pytest.mark.parametrize(
    "view,fault",
    [
        ("institutions_latest", "rename_fails"),
        ("institutions_latest", "crash"),
        ("yearly_counts", "crash"),
        ("yearly_counts", "crash_dropping_old"),
    ],
)
def test_gold_refresh_publish_fault_keeps_views_and_reruns(spark, tmp_path, monkeypatch, view, fault):
    from ipeds_etl_spark import fsutil

    clean = str(tmp_path / "clean")
    _gold_warehouse(spark, clean)
    old = _views(spark, clean)
    _refresh(spark, clean)
    new = _views(spark, clean)
    assert all(new[v] != old[v] for v in VIEWS)

    wh = str(tmp_path / "wh")
    _gold_warehouse(spark, wh)
    rename, delete = fsutil.rename, fsutil.delete

    def faulty(sp, src, dst):
        if _staged_view(src, wh, view):
            if fault == "rename_fails":
                return False
            raise Crash
        return rename(sp, src, dst)

    def faulty_delete(sp, path, recursive=True):
        # the publish's last step, after the new copy is in place
        if _aside_view(path, wh, view) and fsutil.path_exists(sp, path):
            raise Crash
        return delete(sp, path, recursive)

    if fault == "crash_dropping_old":
        monkeypatch.setattr(fsutil, "delete", faulty_delete)
    else:
        monkeypatch.setattr(fsutil, "rename", faulty)
    with pytest.raises(OSError if fault == "rename_fails" else Crash):
        _refresh(spark, wh)
    monkeypatch.setattr(fsutil, "rename", rename)
    monkeypatch.setattr(fsutil, "delete", delete)
    if fault == "rename_fails":  # the old copy was put back
        assert _views(spark, wh) == old

    _refresh(spark, wh)  # the caller re-runs the failed batch
    assert _views(spark, wh) == new


def _swap_entries(spark, wh: str) -> list[str]:
    from ipeds_etl_spark import fsutil

    return [n for n in fsutil.list_names(spark, f"{wh}/vw") if n.startswith(("_stage_", "_swap_", "_commit_"))]


@pytest.mark.parametrize("crash_at", ["before_marker", "after_first_view"])
def test_gold_views_publish_in_one_commit(spark, tmp_path, monkeypatch, crash_at):
    """A refresh that crashes before its commit marker leaves both views
    on the old generation once ``vw/`` is recovered; one that crashes
    after the first view is published leaves both on the new one. No
    staging, swap or marker entry is left in ``vw/``."""
    from ipeds_etl_spark import fsutil
    from ipeds_etl_spark.operators.merge import recover_swaps

    clean = str(tmp_path / "clean")
    _gold_warehouse(spark, clean)
    old = _views(spark, clean)
    _refresh(spark, clean)
    new = _views(spark, clean)

    wh = str(tmp_path / "wh")
    _gold_warehouse(spark, wh)
    assert not _swap_entries(spark, wh)  # what rebuild_gold leaves
    rename, write_text = fsutil.rename, fsutil.write_text

    def crash_on_marker(sp, path, text):
        if path.startswith(f"{wh}/vw/_commit_"):
            raise Crash
        return write_text(sp, path, text)

    def crash_on_counts(sp, src, dst):
        if _staged_view(src, wh, "yearly_counts"):
            raise Crash
        return rename(sp, src, dst)

    with monkeypatch.context() as m:
        if crash_at == "before_marker":
            m.setattr(fsutil, "write_text", crash_on_marker)
        else:
            m.setattr(fsutil, "rename", crash_on_counts)
        with pytest.raises(Crash):
            _refresh(spark, wh)
    if crash_at == "after_first_view":
        latest = spark.read.parquet(f"{wh}/vw/{ENDPOINT}_institutions_latest")
        assert sorted(tuple(r) for r in latest.collect()) == new["institutions_latest"]

    recover_swaps(spark, f"{wh}/vw")
    assert _views(spark, wh) == (old if crash_at == "before_marker" else new)
    assert not _swap_entries(spark, wh)


def test_txn_gold_refresh_rerun_after_a_later_commit_folds_each_change_once(spark, tmp_path, monkeypatch):
    """The txn-diff refresh resolves "latest" again on its re-run. A
    commit that lands between the failure and the re-run must be folded
    once, and the failed batch's changes, already in the published
    counts, must not be folded again."""
    from ipeds_etl_spark import fsutil
    from ipeds_etl_spark.operators import txn

    wh = str(tmp_path)
    core = f"{wh}/core/{ENDPOINT}"

    def commit(rows):
        txn.upsert_into_txn_table(spark, core, spark.createDataFrame(rows, GOLD_SCHEMA), ["unitid", "year"])

    commit([(1, 2019, "A1", "CA"), (1, 2020, "A2", "CA"), (2, 2020, "B", "NY")])
    v1 = txn.latest_version(spark, core)
    pipeline.rebuild_gold(spark, ENDPOINT, wh)
    commit([(3, 2020, "C", "TX"), (2, 2020, "B2", "CA")])
    delete = fsutil.delete

    def faulty_delete(sp, path, recursive=True):
        if _aside_view(path, wh, "yearly_counts") and fsutil.path_exists(sp, path):
            raise Crash
        return delete(sp, path, recursive)

    with monkeypatch.context() as m:
        m.setattr(fsutil, "delete", faulty_delete)
        with pytest.raises(Crash):
            pipeline.refresh_gold_from_txn_diff(spark, ENDPOINT, wh, v_from=v1)
    commit([(4, 2020, "D", "TX")])  # lands before the re-run

    out = pipeline.refresh_gold_from_txn_diff(spark, ENDPOINT, wh, v_from=v1)
    assert out["refreshed_to_version"] == txn.latest_version(spark, core)
    got = _views(spark, wh)
    assert (2020, "TX", 2) in got["yearly_counts"]
    pipeline.rebuild_gold(spark, ENDPOINT, wh)
    assert got == _views(spark, wh)


def test_gold_rebuild_write_fault_keeps_views_and_reruns(spark, tmp_path, monkeypatch):
    """``rebuild_gold`` stages both views before it publishes either:
    when the ``yearly_counts`` write job fails, both views still read as
    their previous generation, and the re-run equals an uninterrupted
    rebuild."""
    from pyspark.sql import functions as F

    new_core = [(1, 2019, "A1", "CA"), (1, 2020, "A2", "CA"), (2, 2020, "B2", "CA"), (3, 2020, "C", "TX")]

    def rebuilt_views(wh: str) -> dict:
        spark.createDataFrame(new_core, GOLD_SCHEMA).write.mode("overwrite").parquet(f"{wh}/core/{ENDPOINT}")
        pipeline.rebuild_gold(spark, ENDPOINT, wh)
        return _views(spark, wh)

    clean = str(tmp_path / "clean")
    _gold_warehouse(spark, clean)
    old = _views(spark, clean)
    new = rebuilt_views(clean)
    assert all(new[v] != old[v] for v in VIEWS)

    wh = str(tmp_path / "wh")
    _gold_warehouse(spark, wh)
    sized = pipeline._sized_coalesce

    def failing_counts(df):
        if "n_rows" in df.columns:  # the yearly_counts frame
            fault = F.raise_error(F.lit("injected write fault"))
            df = df.withColumn("n_rows", F.when(F.col("n_rows") > 0, fault).otherwise(F.col("n_rows")))
        return sized(df)

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_sized_coalesce", failing_counts)
        with pytest.raises(Exception, match="injected write fault"):
            rebuilt_views(wh)
    assert _views(spark, wh) == old

    assert rebuilt_views(wh) == new  # the re-run
