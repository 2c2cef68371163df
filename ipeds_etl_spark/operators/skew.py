"""Skew mitigation: salted aggregation and salted join.

AQE's skew-join splitting (on in the engine session) handles most
runtime skew; these operators are for the cases planners can't fix:

* ``salted_agg`` — a groupBy where a handful of hot keys would pin
  single reducers. Phase 1 aggregates on (key, salt) — the hot key's
  rows spread over ``n_salts`` reducers — phase 2 re-aggregates the
  (algebraic) partials on the key alone. For sum/count/min/max the
  two-phase result is exactly the one-phase result; avg is derived as
  sum/count at the end.
* ``salted_join`` — a many-to-one equi-join whose build side is too
  big to broadcast and whose probe side has hot keys: the small side
  is replicated ``n_salts`` times (explode), the big side is salted
  deterministically, and the join key becomes (key, salt) — hot-key
  rows land on ``n_salts`` different reducers.

Salts are deterministic (hash of the whole row, mod n) so results are
reproducible run to run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipeds_etl_spark.memostore import memo

#: aggregate spec name -> (phase-1 fn, phase-2 fn)
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _salt(df: DataFrame, n_salts: int) -> F.Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output column -> (spec, input column) with spec in
    {sum, count, min, max, avg}. Example::

        salted_agg(df, ["k"], {"total": ("sum", "v"), "n": ("count", "v"),
                               "mean": ("avg", "v")})
    """
    needs_avg = {out for out, (spec, _) in aggs.items() if spec == "avg"}
    phase1_specs: dict[str, tuple[str, str]] = {}
    for out, (spec, col) in aggs.items():
        if spec == "avg":
            phase1_specs[f"__{out}_sum"] = ("sum", col)
            phase1_specs[f"__{out}_cnt"] = ("count", col)
        else:
            phase1_specs[out] = (spec, col)

    salted = df.withColumn("__salt", _salt(df, n_salts))
    p1 = salted.groupBy(*keys, "__salt").agg(
        *[_ALGEBRAIC[s][0](c).alias(out) for out, (s, c) in phase1_specs.items()]
    )
    p2 = p1.groupBy(*keys).agg(
        *[_ALGEBRAIC[s][1](out).alias(out) for out, (s, _) in phase1_specs.items()]
    )
    for out in needs_avg:
        p2 = p2.withColumn(out, F.col(f"__{out}_sum") / F.col(f"__{out}_cnt"))
    return p2.drop(*[c for c in p2.columns if c.startswith("__")])


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big (skewed) side salted and the small side
    replicated ``n_salts``×. Output columns = big ∪ (small − keys),
    like a plain ``join(on=...)``.

    Only join types where the replicated small side cannot surface as
    output rows on its own are allowed: under right/full the n_salts
    copies of unmatched small rows would each emit a null-extended
    duplicate."""
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti", "semi", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}, got {how!r}: "
            "right/full would duplicate unmatched small-side rows n_salts times"
        )
    b = big.withColumn("__salt", _salt(big, n_salts))
    s = small.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    out = b.join(s, [*on, "__salt"], how)
    return out.drop("__salt")


def detect_skew(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float = 0.01,
    hot_key_share: float = 0.2,
    min_sample_rows: int = 10_000,
    cache_key: tuple | None = None,
) -> dict:
    """Measure key skew from a cheap Bernoulli sample: one small job,
    returns the hottest key's share of sampled rows and a salt
    recommendation.

    At 100 TB a full groupBy-count just to *decide* a strategy is
    wasted work — a 1% sample bounds the measurement cost while a hot
    key (by definition a large fraction of rows) is reliably visible
    in any sample big enough (``min_sample_rows`` guards tiny inputs
    by lifting the fraction). Sampling is seeded for reproducibility.

    ``cache_key``: the probed data's version — a
    ``memostore.corpus_fingerprint`` — under which the verdict is kept
    in the memo store, so repeated plan builds against the same data
    pay the probe job once per session. None (the default, or a
    non-local table) probes on every call.
    """

    def probe() -> dict:
        sampled = df.select(*keys).sample(fraction=sample_fraction, seed=42)
        counts = sampled.groupBy(*keys).count()
        top = counts.orderBy(F.col("count").desc()).limit(1).collect()
        total = sampled.count()
        if total < min_sample_rows:  # sample too small to judge: resample all
            sampled = df.select(*keys)
            counts = sampled.groupBy(*keys).count()
            top = counts.orderBy(F.col("count").desc()).limit(1).collect()
            total = sampled.count()
        share = (top[0]["count"] / total) if top and total else 0.0
        return {
            "sampled_rows": total,
            "hot_key": {k: top[0][k] for k in keys} if top else None,
            "hot_key_share": share,
            "skewed": share >= hot_key_share,
            # spread the hot key over enough reducers to look like the median
            "recommended_salts": max(2, min(64, int(share * 100))) if share >= hot_key_share else 1,
        }

    key = (cache_key, "skew", tuple(keys), sample_fraction, hot_key_share, min_sample_rows)
    return memo(df.sparkSession, key, probe)


def join_with_skew_guard(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    sample_fraction: float = 0.01,
    hot_key_share: float = 0.2,
    detect_on: DataFrame | None = None,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Stats-driven equi-join planning, symmetric to
    ``agg_with_skew_guard``: probe the BIG side's key distribution on a
    cheap sample; under a hot key use ``salted_join`` (small side
    replicated n_salts×, hot-key rows spread over n_salts reducers),
    otherwise the plain join (salting would only add replication cost).
    Results are identical either way (tested); only the physical plan
    differs. AQE's skew-join split already handles moderate runtime
    skew for sort-merge joins — this guard is for the planner-proof
    cases (e.g. a key so hot one task exceeds memory even after AQE's
    split granularity, or shuffle-hash joins AQE won't split).

    ``detect_on``/``cache_key``: see ``agg_with_skew_guard``."""
    stats = detect_skew(
        detect_on if detect_on is not None else big.select(*on),
        on,
        sample_fraction,
        hot_key_share,
        cache_key=cache_key,
    )
    if stats["skewed"]:
        return salted_join(big, small, on, n_salts=stats["recommended_salts"], how=how)
    return big.join(small, list(on), how)


def agg_with_skew_guard(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    sample_fraction: float = 0.01,
    hot_key_share: float = 0.2,
    detect_on: DataFrame | None = None,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Stats-driven aggregation: measure skew on a sample, then plan
    either the plain one-shuffle groupBy (no hot key — salting would
    only add a second shuffle) or the two-phase ``salted_agg``.
    Results are identical either way (tested); only the physical plan
    differs.

    ``detect_on`` points the skew probe at a CHEAPER frame with the
    same keys (e.g. the raw column-pruned table scan) when ``df``
    itself sits atop an expensive pipeline — probing ``df`` would
    execute that whole upstream once just to pick a plan.

    ``cache_key`` keeps the probe verdict per data version (see
    ``detect_skew``) so rebuilding the same query doesn't pay a probe
    job per build."""
    stats = detect_skew(detect_on if detect_on is not None else df, keys,
                        sample_fraction, hot_key_share, cache_key=cache_key)
    if stats["skewed"]:
        return salted_agg(df, keys, aggs, n_salts=stats["recommended_salts"])
    p1_specs = {}
    for out, (spec, col) in aggs.items():
        if spec == "avg":
            p1_specs[f"__{out}_sum"] = ("sum", col)
            p1_specs[f"__{out}_cnt"] = ("count", col)
        else:
            p1_specs[out] = (spec, col)
    plain = df.groupBy(*keys).agg(
        *[_ALGEBRAIC[s][0](c).alias(out) for out, (s, c) in p1_specs.items()]
    )
    for out, (spec, _) in aggs.items():
        if spec == "avg":
            plain = plain.withColumn(out, F.col(f"__{out}_sum") / F.col(f"__{out}_cnt"))
    return plain.drop(*[c for c in plain.columns if c.startswith("__")])
