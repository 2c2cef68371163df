"""The engine's memo store (ipeds_etl_spark/memostore.py): built
artifacts are reused within a session for one corpus version, a
rewritten table misses the store, and ``release`` frees every pinned
block and empties the store so the builders rebuild."""

from __future__ import annotations

from ipeds_etl_spark import memostore as MS
from ipeds_etl_spark.operators import indexes as IDX
from ipeds_etl_spark.operators.indexes import ivf_codebook
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _tracked_ids():
    return sorted({rid for (_artifact, ids) in MS._STORE.values() for rid in ids})


def test_build_memoize_release_rebuild(spark):
    MS.release(spark)
    assert not _tracked_ids()

    pairs1 = IDX.lsh_doc_pairs(spark, SF)
    items1 = IDX.basket_items(spark, SF)
    n_pairs, n_items = pairs1.count(), items1.count()
    assert n_items > 0

    # memo hit: same session + same corpus -> the same plan object
    assert IDX.lsh_doc_pairs(spark, SF) is pairs1
    assert IDX.basket_items(spark, SF) is items1

    # build-time tracking recorded the pinned JVM RDD ids, and they are
    # live in the context's persistent-RDD map
    ids = _tracked_ids()
    assert ids
    assert set(ids) <= MS._persistent_ids(spark)

    # release: store cleared, every tracked block unpersisted
    freed = MS.release(spark)
    assert freed == len(ids)
    assert not MS._STORE
    assert not (set(ids) & MS._persistent_ids(spark))

    # rebuild after release works and reproduces the same result sizes
    assert IDX.lsh_doc_pairs(spark, SF).count() == n_pairs
    assert IDX.basket_items(spark, SF).count() == n_items
    MS.release(spark)


def test_release_idempotent_and_empty_safe(spark):
    MS.release(spark)
    assert MS.release(spark) == 0


def test_same_key_returns_same_object_and_builds_once(spark, tmp_path):
    spark.range(3).write.parquet(f"{tmp_path}/t.parquet")
    builds = []

    def build():
        builds.append(1)
        return object()

    key = (MS.corpus_fingerprint(str(tmp_path), "t"), "probe-artifact", 1)
    first = MS.memo(spark, key, build)
    assert MS.memo(spark, key, build) is first
    assert len(builds) == 1
    # different params: a different entry
    assert MS.memo(spark, (key[0], "probe-artifact", 2), build) is not first
    assert len(builds) == 2
    MS.release(spark)


def test_unfingerprintable_path_builds_and_does_not_store(spark, tmp_path):
    assert MS.corpus_fingerprint(str(tmp_path), "absent") is None
    key = (MS.corpus_fingerprint(str(tmp_path), "absent"), "probe-artifact")
    first = MS.memo(spark, key, object)
    assert MS.memo(spark, key, object) is not first
    assert not any(k[1] is None for k in MS._STORE)


def test_rewritten_table_misses_store(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(5).write.parquet(f"{sf}/documents.parquet")
    first = load_table(spark, sf, "documents")
    assert load_table(spark, sf, "documents") is first
    old_fp = MS.corpus_fingerprint(sf, "documents")

    spark.range(9).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    assert MS.corpus_fingerprint(sf, "documents") != old_fp
    second = load_table(spark, sf, "documents")
    assert second is not first
    assert second.count() == 9
    MS.release(spark)


def test_release_frees_every_artifact_kind_and_rebuilds(spark):
    MS.release(spark)
    pairs = sorted(map(tuple, IDX.lsh_doc_pairs(spark, SF).collect()))
    items = sorted(map(tuple, IDX.basket_items(spark, SF).collect()))
    books = ivf_codebook(spark, SF)
    table = load_table(spark, SF, "orders")
    kinds = {key[2] for key in MS._STORE}
    assert {"lsh_doc_pairs", "basket_items", "ivf", "table"} <= kinds

    ids = _tracked_ids()
    assert ids and set(ids) <= MS._persistent_ids(spark)
    assert MS.release(spark) == len(ids)
    assert not MS._STORE
    assert not (set(ids) & MS._persistent_ids(spark))

    # the next call after release rebuilds and gives the same rows
    assert load_table(spark, SF, "orders") is not table
    assert sorted(map(tuple, IDX.lsh_doc_pairs(spark, SF).collect())) == pairs
    assert sorted(map(tuple, IDX.basket_items(spark, SF).collect())) == items
    assert ivf_codebook(spark, SF) == books
    MS.release(spark)


LABEL_READERS = (
    "dedup_components",
    "docs_dedup_resolution",
    "docs_golden_record",
    "docs_dedup_survivorship",
    "dedup_bcubed_eval",
)


def _count_label_builds(monkeypatch) -> list:
    """Record every build of the component-label artifact."""
    builds = []
    real = IDX.memo

    def memo(spark, key, build):
        if key[1] != "lsh_doc_components":
            return real(spark, key, build)

        def counted():
            builds.append(key)
            return build()

        return real(spark, key, counted)

    monkeypatch.setattr(IDX, "memo", memo)
    return builds


def test_label_readers_share_one_build_per_corpus_version(spark, monkeypatch, tmp_path):
    from ipeds_etl_spark import queries as Q

    MS.release(spark)
    builds = _count_label_builds(monkeypatch)
    for name in LABEL_READERS:
        Q.queries()[name](spark, SF)
    assert len(builds) == 1

    # a rewritten documents table is a new corpus version: the store
    # misses and the labels are rebuilt from the new rows
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.parquet(f"{sf}/documents.parquet")
    first = IDX.lsh_doc_components(spark, sf)
    assert IDX.lsh_doc_components(spark, sf) is first
    assert len(builds) == 2
    kept = docs.filter("doc_id % 2 = 0")
    kept.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    second = IDX.lsh_doc_components(spark, sf)
    assert second is not first
    assert len(builds) == 3
    doc_ids = {r[0] for r in kept.select("doc_id").collect()}
    assert {r["id"] for r in second.collect()} <= doc_ids
    MS.release(spark)


def test_release_frees_label_artifact_and_rebuilds_identical_labels(spark):
    from ipeds_etl_spark.operators.components import connected_components

    MS.release(spark)
    labels = sorted(map(tuple, IDX.lsh_doc_components(spark, SF).collect()))
    assert labels
    assert labels == sorted(
        map(tuple, connected_components(IDX.lsh_doc_pairs(spark, SF)).collect())
    )
    ids = {
        rid
        for key, (_artifact, pinned) in MS._STORE.items()
        if key[2] == "lsh_doc_components"
        for rid in pinned
    }
    # the stored labels are pinned blocks, live until release
    assert ids & MS._persistent_ids(spark)
    MS.release(spark)
    assert not MS._STORE
    assert not (ids & MS._persistent_ids(spark))
    assert sorted(map(tuple, IDX.lsh_doc_components(spark, SF).collect())) == labels
    MS.release(spark)
