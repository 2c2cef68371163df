"""Salted aggregation / join must be result-identical to the plain forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.operators.skew import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # key 'hot' holds ~90% of rows
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, "hot").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed):
    plain = {
        r["k"]: (r["total"], r["n"], r["mx"], r["mean"])
        for r in skewed.groupBy("k")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").alias("n"),
            F.max("v").alias("mx"),
            F.avg("v").alias("mean"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["total"], r["n"], r["mx"], r["mean"])
        for r in salted_agg(
            skewed,
            ["k"],
            {"total": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v"), "mean": ("avg", "v")},
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        pt, pn, pm, pa = plain[k]
        st, sn, sm, sa = salted[k]
        assert (pn, pm) == (sn, sm)
        assert abs(pt - st) < 1e-6 and abs(pa - sa) < 1e-9


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "HOT LABEL")] + [(f"k{i}", f"L{i}") for i in range(0, 10_000, 10)],
        "k string, label string",
    )
    plain = skewed.join(dim, "k").groupBy("k", "label").count()
    salted = salted_join(skewed, dim, ["k"]).groupBy("k", "label").count()
    p = {(r["k"], r["label"]): r["count"] for r in plain.collect()}
    s = {(r["k"], r["label"]): r["count"] for r in salted.collect()}
    assert p == s and len(p) > 0


def test_detect_skew_flags_planted_hot_key(spark):
    from ipeds_etl_spark.operators.skew import agg_with_skew_guard, detect_skew
    import pyspark.sql.functions as SF

    # 60% of rows share one key; the rest spread over 1000 keys
    hot = spark.range(60_000).select(SF.lit(7).alias("k"), SF.col("id").alias("v"))
    cold = spark.range(40_000).select((SF.col("id") % 1000 + 100).alias("k"), SF.col("id").alias("v"))
    df = hot.unionByName(cold)
    stats = detect_skew(df, ["k"], sample_fraction=0.05)
    assert stats["skewed"] and stats["hot_key"] == {"k": 7}
    assert 0.5 < stats["hot_key_share"] < 0.7
    assert stats["recommended_salts"] >= 2

    uniform = spark.range(100_000).select((SF.col("id") % 997).alias("k"), SF.col("id").alias("v"))
    assert not detect_skew(uniform, ["k"], sample_fraction=0.05)["skewed"]

    # guard picks a plan but the numbers are identical either way
    guarded = {
        (r["k"]): (r["total"], r["n"])
        for r in agg_with_skew_guard(df, ["k"], {"total": ("sum", "v"), "n": ("count", "v")}).collect()
    }
    plain = {
        (r["k"]): (r["total"], r["n"])
        for r in df.groupBy("k").agg(SF.sum("v").alias("total"), SF.count("v").alias("n")).collect()
    }
    assert guarded == plain


def _planted_events(spark, hot_share: bool):
    """Synthetic events: user 1 holds ~60% of rows when hot_share."""
    n = 4000
    base = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 40).alias("ts"),
        (
            F.when(F.col("id") % 10 < 6, 1) if hot_share else (F.col("id") % 40)
        ).cast("long").alias("user_id"),
    )
    return base


def test_sessionize_switches_to_salted_plan_under_skew(spark):
    """The registered sessionize path is skew-guarded: a planted hot
    user flips the final agg to the two-phase salted shape (visible as
    the __salt hash in the optimized plan); uniform users keep the
    plain one-shuffle agg. Results are identical between both shapes."""
    from ipeds_etl_spark.queries.events import sessionize_user_stats

    hot = _planted_events(spark, hot_share=True)
    uniform = _planted_events(spark, hot_share=False)

    hot_out = sessionize_user_stats(hot)
    uni_out = sessionize_user_stats(uniform)
    hot_plan = hot_out._jdf.queryExecution().optimizedPlan().toString()
    uni_plan = uni_out._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in hot_plan
    assert "__salt" not in uni_plan

    # salted shape is result-identical to a forced-plain aggregation
    def rows(df):
        return {
            (r["user_id"], r["n_sessions"], r["n_events"], r["max_session_events"])
            for r in df.collect()
        }

    plain = sessionize_user_stats(hot, hot_key_share=1.1)  # never trips
    assert "__salt" not in plain._jdf.queryExecution().optimizedPlan().toString()
    assert rows(hot_out) == rows(plain)


def test_sessionize_reprobes_a_rewritten_events_file(spark, tmp_path):
    """The skew verdict is kept per events FILE VERSION: after the file
    is rewritten with a hot user, the registered query probes again and
    plans the salted agg instead of serving the first, uniform
    verdict."""
    from ipeds_etl_spark.queries.events import q_events_sessionize

    sf = str(tmp_path)

    def plan_after_writing(hot_share: bool) -> str:
        _planted_events(spark, hot_share=hot_share).write.mode("overwrite").parquet(
            f"{sf}/events.parquet"
        )
        df = q_events_sessionize(spark, sf)
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "__salt" not in plan_after_writing(hot_share=False)
    assert "__salt" in plan_after_writing(hot_share=True)


def test_join_with_skew_guard_plans_and_matches(spark, skewed):
    """The guard must (a) produce plan-identical results to a plain
    join under both verdicts and (b) actually switch the physical shape:
    salted form carries the __salt key through the join under a hot
    key; plain form has no salt column anywhere."""
    from ipeds_etl_spark.operators.skew import join_with_skew_guard

    dim = spark.createDataFrame(
        [("hot", "HOT LABEL")] + [(f"k{i}", f"L{i}") for i in range(0, 10_000, 10)],
        "k string, label string",
    )
    plain_ref = {
        (r["k"], r["label"]): r["count"]
        for r in skewed.join(dim, "k").groupBy("k", "label").count().collect()
    }
    hot = join_with_skew_guard(skewed, dim, ["k"])  # planted hot key trips it
    got_hot = {
        (r["k"], r["label"]): r["count"]
        for r in hot.groupBy("k", "label").count().collect()
    }
    assert got_hot == plain_ref and len(got_hot) > 0
    assert "__salt" in hot._jdf.queryExecution().analyzed().toString()

    cold = join_with_skew_guard(skewed, dim, ["k"], hot_key_share=1.1)  # never trips
    got_cold = {
        (r["k"], r["label"]): r["count"]
        for r in cold.groupBy("k", "label").count().collect()
    }
    assert got_cold == plain_ref
    assert "__salt" not in cold._jdf.queryExecution().analyzed().toString()
