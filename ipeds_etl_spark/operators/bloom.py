"""Bloom-filter semi-join pruning: map-side pre-filter of a huge fact
table by a compact bitmap of the qualifying dimension keys.

The 100 TB problem this solves: a semi join (``fact WHERE key IN
(SELECT key FROM dim WHERE ...)``) normally either shuffles the fact
table on the key or broadcast-hash-joins the full qualifying key set.
When the qualifying set is millions of keys, the exact hash set is too
big to broadcast cheaply — but its *Bloom filter* is a few hundred KB
and prunes (1 - fp_rate) of the fact rows before any exchange. The
surviving sliver then goes through the exact join, so false positives
never reach the result: output is IDENTICAL to the plain semi join
(the DuckDB oracle runs the plain form).

This is the same reduction Spark's own runtime row-group filtering
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) performs inside
AQE; here it is an explicit, composable operator — usable across
stages, persistable alongside a snapshot, or probed in a totally
different job than the one that built it.

Positions come from Kirsch-Mitzenmacher double hashing (pos_i = h1 +
i*h2 mod m — one base-hash evaluation instead of k, same asymptotic fp
rate; published construction) over JVM-native ``xxhash64`` with two
seeds: the probe is within noise of a plain scan (no string digest, no
conv). The bitmap itself is driver-side metadata — ``n_bits / 64``
longs, same footprint class as an IVF codebook — and the build is one
partial-aggregated pass over the dim keys. The exact join removes all
false positives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit

#: bits per key the auto-sizer provisions (10 bits + 3 probes ≈ 1.7% fp)
_BITS_PER_KEY = 10
_MIN_BITS = 1 << 10
_MAX_BITS = 1 << 22


def _hash_pair(key: Column) -> tuple[Column, Column]:
    """(h1, h2) base hashes for double hashing: two-seed xxhash64,
    JVM-intrinsic. h2 is forced odd so it is coprime with the
    power-of-two m and the probe sequence never degenerates; h1 is
    folded non-negative (xxhash64 is signed)."""
    # canonicalize to string first: xxhash64 hashes the BINARY type
    # representation, so int-vs-bigint key columns would otherwise
    # produce different bits on the build and probe sides (false
    # negatives).
    key_s = F.coalesce(key.cast("string"), F.lit("\x00null"))
    h1 = F.pmod(F.xxhash64(F.lit("b1"), key_s), F.lit(1 << 40))
    h2 = F.pmod(F.xxhash64(F.lit("b2"), key_s), F.lit(1 << 40)).bitwiseOR(
        F.lit(1).cast("long")
    )
    return h1, h2


def _positions_from(h1: Column, h2: Column, n_bits: int, n_hashes: int) -> list[Column]:
    return [(h1 + i * h2) % n_bits for i in range(n_hashes)]


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    h1, h2 = _hash_pair(key)
    return _positions_from(h1, h2, n_bits, n_hashes)


def suggest_n_bits(n_keys: int) -> int:
    """Power-of-two sizing at ~10 bits/key, clamped to [2^10, 2^22]
    (2^22 bits = 64 KB of longs — still broadcast-trivial)."""
    bits = _MIN_BITS
    while bits < min(_MAX_BITS, max(1, n_keys) * _BITS_PER_KEY):
        bits <<= 1
    return bits


def build_bloom(
    df: DataFrame,
    key_col: str,
    n_bits: int | None = None,
    n_hashes: int = 3,
) -> tuple[list[int], int, int]:
    """One aggregation pass over the qualifying keys -> the filter's
    word array (``n_bits/64`` longs, driver-side metadata).

    Auto-sizes ``n_bits`` from an exact distinct-key count when not
    given. Returns ``(words, n_bits, n_hashes)``.
    """
    # no distinct(): setting the same bits twice is a no-op, so dup
    # keys cost nothing in the agg (map-side bit_or combine) and only
    # inflate the auto-size count (a bigger, never-wrong filter) —
    # cheaper than a dedup shuffle of the key set.
    keys = df.select(F.col(key_col).alias("k"))
    if n_bits is None:
        n_bits = suggest_n_bits(keys.count())
    if n_bits % 64:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    pos = F.explode(
        F.array(*_positions(F.col("k"), n_bits, n_hashes))
    ).alias("pos")
    # PySpark's ``F.shiftleft`` only takes a Python-int shift amount;
    # the SQL form accepts an expression, so the mask goes through expr.
    words_rows = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    words = [0] * (n_bits // 64)
    for r in words_rows:
        words[r["w"]] = r["mask"]
    return words, n_bits, n_hashes


def bloom_probe(
    key: Column,
    words: list[int],
    n_bits: int,
    n_hashes: int,
) -> Column:
    """Pure-codegen membership test: AND over ``n_hashes`` bit lookups
    in the literal word array. No join, no shuffle — a map-side filter
    expression (false positives possible, false negatives never). The
    word array is one constant (``cleaning.array_lit``)."""
    lit_words = array_lit(words).cast("array<bigint>")
    h1, h2 = _hash_pair(key)

    # LET-BINDING via a higher-order function: codegen does NOT share
    # subexpressions across the probe branches, so writing h1/h2 inline
    # evaluates the base hashes once PER PROBE PER LOOKUP. Boxing
    # (h1, h2) in a 1-element array and testing inside an `exists`
    # lambda binds them as lambda variables — evaluated once per row,
    # reused by every probe.
    def _all_probes(s: Column) -> Column:
        cond = None
        for pos in _positions_from(s["h1"], s["h2"], n_bits, n_hashes):
            word = F.element_at(lit_words, ((pos / 64).cast("int") + 1))
            bit = F.getbit(word, (pos % 64).cast("int")) == F.lit(1)
            cond = bit if cond is None else (cond & bit)
        return cond

    boxed = F.array(F.struct(h1.alias("h1"), h2.alias("h2")))
    return F.exists(boxed, _all_probes)


def bloom_semi_join(
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    n_bits: int | None = None,
    n_hashes: int = 3,
) -> DataFrame:
    """Semi join with Bloom pre-pruning: build the filter from
    ``small``'s keys, map-side prune ``big``, then exact
    ``left_semi`` join on the sliver. Result equals
    ``big.join(small, key, 'left_semi')`` exactly — the Bloom stage
    only removes rows the exact join would also remove."""
    words, n_bits, n_hashes = build_bloom(small, small_key, n_bits, n_hashes)
    pruned = big.filter(bloom_probe(F.col(big_key), words, n_bits, n_hashes))
    keys = small.select(F.col(small_key).alias("__bl_k"))
    return pruned.join(
        keys, on=[F.col(big_key) == F.col("__bl_k")], how="left_semi"
    )
