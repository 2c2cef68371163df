"""Round-4 operators: mergeable KMV sketches, sweep-line interval
counts, algebraic trend slopes, deterministic weighted sampling."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ipeds_etl_spark.operators.sketches import (
    kmv_estimate,
    kmv_estimate_from,
    kmv_merge,
    kmv_sketch,
)
from ipeds_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_kmv_merge_equals_sketch_of_union(spark):
    """The associativity contract: merging per-set sketches must equal
    sketching the union stream directly — this is what lets executors
    build partials independently at 100 TB."""
    e = load_table(spark, SF, "events").select("event_type", "user_id")
    uid = F.col("user_id").cast("string")
    a = e.filter(F.col("event_type") == "view").agg(kmv_sketch(uid).alias("sk"))
    b = e.filter(F.col("event_type") == "purchase").agg(kmv_sketch(uid).alias("sk_b"))
    direct = e.filter(F.col("event_type").isin("view", "purchase")).agg(
        kmv_sketch(uid).alias("sk_u")
    )
    row = (
        a.crossJoin(b)
        .crossJoin(direct)
        .select(
            kmv_merge(F.col("sk"), F.col("sk_b")).alias("merged"),
            "sk_u",
            kmv_estimate_from(kmv_merge(F.col("sk"), F.col("sk_b"))).alias("est_m"),
            kmv_estimate_from(F.col("sk_u")).alias("est_u"),
        )
        .first()
    )
    assert row["merged"] == row["sk_u"]
    assert row["est_m"] == row["est_u"]
    # merge is commutative
    rev = (
        a.crossJoin(b)
        .select(
            (kmv_merge(F.col("sk"), F.col("sk_b")) == kmv_merge(F.col("sk_b"), F.col("sk")))
            .alias("same")
        )
        .first()
    )
    assert rev["same"]


def test_kmv_estimate_exact_below_k(spark):
    df = spark.createDataFrame([(str(i),) for i in range(40)], "v string")
    est = df.agg(kmv_estimate(F.col("v"), 64).alias("e")).first()["e"]
    assert est == 40.0  # < k distinct -> exact fallback


def test_open_interval_counts_match_naive_range_join(spark):
    """The distributed two-phase prefix sum must equal the naive
    count-per-date range join on every boundary date."""
    from ipeds_etl_spark.queries.tpch import q_orders_open_interval_counts

    got = q_orders_open_interval_counts(spark, SF)
    o = load_table(spark, SF, "orders").select(
        F.to_date("o_orderdate").alias("s"),
        (F.col("o_orderkey") % 60 + 1).cast("int").alias("dur"),
    )
    iv = o.select("s", F.expr("date_add(s, dur)").alias("e"))
    dates = got.select(F.to_date("d").alias("d"))
    naive = (
        dates.join(iv, (F.col("s") <= F.col("d")) & (F.col("d") <= F.col("e")), "left")
        .groupBy("d")
        .agg(F.count("s").alias("n_open"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("d"), "n_open")
    )
    diff = got.exceptAll(naive).count() + naive.exceptAll(got).count()
    assert diff == 0


def test_user_trend_slope_matches_numpy(spark):
    from ipeds_etl_spark.queries.events import q_events_user_trend

    import numpy as np

    rows = {r["user_id"]: r for r in q_events_user_trend(spark, SF).collect()}
    assert rows, "no trend rows"
    e = load_table(spark, SF, "events")
    pts = (
        e.select(
            "user_id",
            (F.unix_micros("ts").cast("double") / 1e6).alias("x"),
            (F.floor(F.col("value") * 1e6).cast("double") / 1e6).alias("y"),
        )
        .toPandas()
    )
    checked = 0
    for uid, r in list(rows.items())[:10]:
        g = pts[pts.user_id == uid]
        slope = np.polyfit(g.x.to_numpy(), g.y.to_numpy(), 1)[0]
        assert math.isclose(r["slope"], slope, rel_tol=1e-5), (uid, r["slope"], slope)
        checked += 1
    assert checked > 0


def test_weighted_sample_prefers_heavy_docs(spark):
    """Sequential Poisson sampling: inclusion probability is
    proportional to weight, so the sampled docs' mean weight must
    exceed the corpus mean (statistical sanity at fixed seed-hash —
    deterministic, so no flake), and reruns are identical."""
    from ipeds_etl_spark.queries.curation import q_docs_weighted_sample

    s1 = q_docs_weighted_sample(spark, SF)
    s2 = q_docs_weighted_sample(spark, SF)
    assert s1.exceptAll(s2).count() == 0  # deterministic
    d = load_table(spark, SF, "documents").filter(F.col("n_chars") > 0)
    corpus_mean = d.agg(F.avg("n_chars")).first()[0]
    sample_mean = s1.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)
    # per-stratum size respected
    per = s1.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per)


def test_dq_report_counts_planted_violations(spark):
    from ipeds_etl_spark.operators import quality as DQ

    df = spark.createDataFrame(
        [
            (1, 10.0, "O", "x"),
            (1, -5.0, "F", "y"),      # dup key + negative value
            (None, 3.0, "Z", "x"),    # null key + bad status
            (4, None, "O", "zz"),     # null value ignored by range
        ],
        "k int, v double, s string, tag string",
    )
    ref = spark.createDataFrame([("x",), ("y",)], "t string")
    rep = {
        r["rule"]: (r["violations"], r["total"], r["passed"])
        for r in DQ.dq_report(
            df,
            [
                DQ.not_null("k"),
                DQ.unique("k"),
                DQ.accepted_range("v", lo=0.0),
                DQ.in_set("s", ["O", "F"]),
                DQ.references("tag", ref, "t"),
                DQ.custom("custom_v_gt_9", F.col("v") > 9),
            ],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, 4, False)
    assert rep["unique(k)"] == (2, 4, False)      # both copies of k=1 count
    assert rep["range(v)"] == (1, 4, False)       # -5 only; NULL not range's business
    assert rep["in_set(s)"] == (1, 4, False)      # 'Z'
    assert rep["references(tag)"] == (1, 4, False)  # 'zz'
    assert rep["custom_v_gt_9"] == (1, 4, False)  # 10.0
    # all-clean frame passes everything
    clean = spark.createDataFrame([(1, 1.0, "O", "x")], "k int, v double, s string, tag string")
    out = DQ.dq_report(clean, [DQ.not_null("k"), DQ.unique("k")]).collect()
    assert all(r["passed"] for r in out)


def test_incremental_gold_refresh_converges_to_full_rebuild(spark, tmp_path):
    """IVM contract: full-rebuild(core ∪ batch) == incremental(stored
    views, batch delta, pre-images) — for a batch mixing inserts, an
    update that relocates a row across the count dimension, and an
    update to a latest row."""
    from ipeds_etl_spark import pipeline

    wh = str(tmp_path / "wh")
    core0 = spark.createDataFrame(
        [
            (1, 2019, "A1", "CA"),
            (1, 2020, "A2", "CA"),
            (2, 2020, "B", "NY"),
            (3, 2019, "C", "CA"),
        ],
        "unitid int, year int, inst_name string, state_abbr string",
    )
    core_path = f"{wh}/core/directory"
    core0.write.parquet(core_path)
    full0 = pipeline.rebuild_gold(spark, "directory", wh)
    assert full0["institutions_latest"] == 3

    # merge batch: new entity 4 (insert), update 2/2020 to a new state
    # (relocation), update 1/2020's name (latest-row rewrite)
    delta = spark.createDataFrame(
        [
            (4, 2020, "D", "TX"),
            (2, 2020, "B2", "CA"),
            (1, 2020, "A2x", "CA"),
        ],
        "unitid int, year int, inst_name string, state_abbr string",
    )
    pre = spark.createDataFrame(
        [(2, 2020, "B", "NY"), (1, 2020, "A2", "CA")],
        "unitid int, year int, inst_name string, state_abbr string",
    )
    inc = pipeline.refresh_gold_incremental(spark, "directory", wh, delta, pre, batch="b1")

    # ground truth: rebuild from the post-merge core
    core1 = (
        core0.join(pre, ["unitid", "year"], "left_anti").unionByName(delta)
    )
    wh2 = str(tmp_path / "wh2")
    core1.write.parquet(f"{wh2}/core/directory")
    pipeline.rebuild_gold(spark, "directory", wh2)

    for name in ("institutions_latest", "yearly_counts"):
        got = spark.read.parquet(f"{wh}/vw/directory_{name}")
        want = spark.read.parquet(f"{wh2}/vw/directory_{name}")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), name
    assert inc["institutions_latest"] == 4  # entities 1-4


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------
def test_bloom_probe_no_false_negatives_and_prunes(spark):
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.bloom import bloom_probe, build_bloom

    keys = spark.createDataFrame([(i * 7,) for i in range(200)], ["k"])
    words, n_bits, n_hashes = build_bloom(keys, "k")
    assert n_bits % 64 == 0 and len(words) == n_bits // 64
    # every inserted key must probe positive (no false negatives)
    hits = keys.filter(bloom_probe(F.col("k"), words, n_bits, n_hashes))
    assert hits.count() == 200
    # non-members mostly pruned (fp rate well under 20% at 10 bits/key)
    probe = spark.createDataFrame(
        [(i * 7 + 1,) for i in range(1000)], ["k"]
    ).filter(bloom_probe(F.col("k"), words, n_bits, n_hashes))
    assert probe.count() < 200


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.bloom import bloom_semi_join

    big = spark.createDataFrame(
        [(i % 500, f"v{i}") for i in range(5000)], ["k", "v"]
    )
    small = spark.createDataFrame(
        [(i,) for i in range(0, 500, 3)] + [(None,)], "k2 int"
    )
    got = bloom_semi_join(big, "k", small, "k2")
    want = big.join(
        small.select(F.col("k2").alias("k")).distinct(), "k", "left_semi"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
def test_pii_scrub_masks_and_counts(spark):
    from ipeds_etl_spark.functions.text import pii_counts, pii_scrub

    rows = [
        ("mail bob.smith+x@corp.example.org now",),
        ("call 415-555-0199 or 020-555-0100",),
        ("host 192.168.0.1 and 10.0.0.255",),
        ("nothing sensitive here",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    cnts = pii_counts(F.col("t"))
    out = df.select(
        pii_scrub(F.col("t")).alias("s"),
        *[v.alias(k) for k, v in cnts.items()],
    ).collect()
    assert out[0]["s"] == "mail [EMAIL] now" and out[0]["email"] == 1
    assert out[1]["s"] == "call [PHONE] or [PHONE]" and out[1]["phone"] == 2
    assert out[2]["s"] == "host [IP] and [IP]" and out[2]["ipv4"] == 2
    assert out[3]["s"] == "nothing sensitive here"
    assert out[3]["email"] == out[3]["phone"] == out[3]["ipv4"] == 0


def test_bloom_cross_type_keys_match(spark):
    """int build side + bigint probe side must not produce false
    negatives (hashing canonicalizes the key to string)."""
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.bloom import bloom_semi_join

    big = spark.createDataFrame([(i,) for i in range(100)], "k bigint")
    small = spark.createDataFrame([(i,) for i in range(0, 100, 2)], "k2 int")
    got = bloom_semi_join(big, "k", small, "k2")
    assert got.count() == 50
