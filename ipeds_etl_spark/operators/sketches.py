"""Deterministic sketches: cardinality estimation that the oracle can
replicate bit-for-bit.

``kmv_distinct`` — K-Minimum-Values estimator (Bar-Yossef et al. 2002):
keep the k smallest values of a uniform hash; estimate distinct count
as ``(k-1) / kth_min_normalized``. Unlike the ENGINE's HLL (whose
register layout is engine-specific, so ``approx_count_distinct`` can
never be oracle-checked across engines), KMV over the engine's
deterministic sha256-prefix hash gives the SAME estimate in Spark and
DuckDB — a verifiable approximate aggregate. A hand-rolled HLL on the
same hash (below) recovers the verifiability the built-in loses.

Scale shape: ``collect_set`` of hashes per group is map-side combined;
for very-high-cardinality groups swap in ``approx_count_distinct``
(unverifiable but constant-space) — the sketch here bounds its state by
deduping first, which is the right trade until group cardinality ≫ k.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import array_lit
from ipeds_etl_spark.functions.hashing import PARITY_HEX_DIGITS, parity_hash

#: hash space size for normalization (40-bit parity hash)
HASH_SPACE = float(1 << (4 * PARITY_HEX_DIGITS))


def kmv_estimate(value_col: Column, k: int = 64) -> Column:
    """Aggregate expression: KMV distinct-count estimate of a column.
    Use inside ``groupBy().agg(...)``. Exact when the group has < k
    distinct values (falls back to the observed count)."""
    mins = F.slice(F.array_sort(F.collect_set(parity_hash(value_col))), 1, k)
    n = F.size(mins)
    kth = F.element_at(mins, n).cast("double") / F.lit(HASH_SPACE)
    return F.when(n < k, n.cast("double")).otherwise((F.lit(k) - 1) / kth)


def kmv_estimate_sql(value_expr: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_estimate``."""
    h = f"CAST(concat('0x', substr(sha256({value_expr}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    mins = f"list_sort(list_distinct(list({h})))[1:{k}]"
    return (
        f"CASE WHEN len({mins}) < {k} THEN CAST(len({mins}) AS DOUBLE) "
        f"ELSE ({k} - 1) / (CAST({mins}[len({mins})] AS DOUBLE) / {HASH_SPACE:.1f}) END"
    )


# ---------------------------------------------------------------------------
# Mergeable sketch state. The property that makes a sketch usable at
# 100 TB is ASSOCIATIVE MERGE: executors build partial sketches over
# their splits, and any tree of merges yields the same state as one
# pass over the union — so set cardinalities across huge streams reduce
# to merging k-element arrays. KMV merges exactly: union the min-hash
# sets, keep the k smallest (Bar-Yossef et al. 2002 §2; same algebra
# Druid/Theta sketches use). Deterministic hash ⇒ DuckDB replays the
# identical merge, so merged estimates stay oracle-checkable.
# ---------------------------------------------------------------------------


def kmv_sketch(value_col: Column, k: int = 64) -> Column:
    """Aggregate: the sketch STATE — sorted array of the ≤k smallest
    distinct hash values. ``collect_set`` map-side combines; state is
    bounded by the group's distinct count and capped at k."""
    return F.slice(F.array_sort(F.collect_set(parity_hash(value_col))), 1, k)


def kmv_merge(a: Column, b: Column, k: int = 64) -> Column:
    """Scalar: merge two sketch states — distinct union, k smallest.
    Associative and commutative; ``kmv_merge(s(A), s(B)) ==
    kmv_sketch(A ∪ B)`` exactly."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def kmv_estimate_from(sketch: Column, k: int = 64) -> Column:
    """Scalar: distinct-count estimate from a sketch state (same
    estimator as ``kmv_estimate``)."""
    n = F.size(sketch)
    kth = F.element_at(sketch, n).cast("double") / F.lit(HASH_SPACE)
    return F.when(n < k, n.cast("double")).otherwise((F.lit(k) - 1) / kth)


def kmv_sketch_sql(value_expr: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_sketch``."""
    h = f"CAST(concat('0x', substr(sha256({value_expr}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    return f"list_sort(list_distinct(list({h})))[1:{k}]"


def kmv_merge_sql(a: str, b: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_merge``."""
    return f"list_sort(list_distinct(list_concat({a}, {b})))[1:{k}]"


def kmv_estimate_from_sql(sketch: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_estimate_from``."""
    return (
        f"CASE WHEN len({sketch}) < {k} THEN CAST(len({sketch}) AS DOUBLE) "
        f"ELSE ({k} - 1) / (CAST({sketch}[len({sketch})] AS DOUBLE) / {HASH_SPACE:.1f}) END"
    )


# ---------------------------------------------------------------------------
# HyperLogLog over the deterministic hash (Flajolet et al. 2007).
# The ENGINE's approx_count_distinct can never be oracle-checked (its
# register layout is engine-private), but an HLL built on the shared
# parity hash can: bucket = h mod m, rho = 1 + leading zeros of the
# remaining 34 bits, register = max(rho) per bucket — every step is
# integer/string arithmetic both engines do identically. The harmonic
# sum Σ 2^-register is EXACT in IEEE double (each term is dyadic with
# rho ≤ 35 and there are ≤ m terms, so no rounding ever occurs and the
# sum is addition-order-independent) — the whole estimate is therefore
# bit-reproducible, unlike textbook HLL implementations that sum
# floating registers in stream order. Registers merge by MAX, the same
# associative algebra the KMV sketch documents above — per-group
# registers ARE the global registers' partial states.
#
# No small-range linear-counting correction on purpose: it needs ln(),
# which is transcendental and engine-specific; the raw estimator plus
# the emitted zero-register count V lets a consumer apply any
# correction downstream. rho is computed by string position over the
# binary expansion (bin → lpad → first '1'), which both engines define
# identically for non-negative integers (parity-probed in round 5).
# ---------------------------------------------------------------------------

#: HLL geometry: m = 64 registers (b = 6 bucket bits of the 40-bit
#: parity hash), leaving 34 bits for the rank; alpha_64 = 0.709
#: (Flajolet et al. 2007, Fig. 3 constants).
HLL_M = 64
HLL_REST_BITS = 40 - 6
_HLL_ALPHA_M2 = 0.709 * HLL_M * HLL_M


def hll_bucket(value_col: Column) -> Column:
    """Bucket index (0..m-1) of a value's parity hash."""
    return parity_hash(value_col) % HLL_M


def hll_rho(value_col: Column) -> Column:
    """Rank ρ = 1 + leading zeros of the 34 rank bits (1..35)."""
    rest = F.shiftright(parity_hash(value_col), 6)
    pos = F.instr(F.lpad(F.bin(rest), HLL_REST_BITS, "0"), "1")
    return F.when(pos == 0, HLL_REST_BITS + 1).otherwise(pos)


def hll_bucket_sql(value_expr: str) -> str:
    h = f"CAST(concat('0x', substr(sha256({value_expr}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    return f"({h} % {HLL_M})"


def hll_rho_sql(value_expr: str) -> str:
    h = f"CAST(concat('0x', substr(sha256({value_expr}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    pos = f"strpos(lpad(bin({h} >> 6), {HLL_REST_BITS}, '0'), '1')"
    return f"(CASE WHEN {pos} = 0 THEN {HLL_REST_BITS + 1} ELSE {pos} END)"


def hll_estimate_from_registers(sum_pow: Column, n_registers: Column) -> Column:
    """Raw HLL estimate from the per-group register aggregate:
    ``sum_pow`` = Σ over PRESENT registers of 2^-register, and
    ``n_registers`` = number of present registers; absent registers
    contribute 2^0 = 1 each. One IEEE division total."""
    denom = sum_pow + (F.lit(HLL_M) - n_registers).cast("double")
    return F.lit(_HLL_ALPHA_M2) / denom


def hll_estimate_from_registers_sql(sum_pow: str, n_registers: str) -> str:
    return f"({_HLL_ALPHA_M2!r} / ({sum_pow} + CAST({HLL_M} - {n_registers} AS DOUBLE)))"


def hll_register_pow(register: Column) -> Column:
    """2^-register as an EXACT double, register ∈ 1..35: a 36-entry
    literal lookup of dyadic doubles (Spark's ``shiftleft`` only takes
    a literal shift amount, and libm ``pow`` is avoided on principle).
    Every entry is exactly representable, so this equals the oracle's
    ``1.0 / (1::BIGINT << r)`` bit-for-bit."""
    table = array_lit([float(2.0 ** -i) for i in range(HLL_REST_BITS + 2)])
    return F.element_at(table, (register + 1).cast("int"))


def hll_register_pow_sql(register: str) -> str:
    return f"(1.0 / CAST(CAST(1 AS BIGINT) << {register} AS DOUBLE))"


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): d independent hash
# rows × w counters; point estimate = min over rows — never an
# underestimate, overestimate bounded by n/w per row. Salted parity
# hashes make the d rows deterministic and engine-portable, so the
# whole sketch (a ≤ d*w-row counts table) and every point estimate are
# oracle-checkable. The build is ONE map-combinable aggregate over the
# d-fold exploded stream; at 100 TB the sketch stays d*w rows no
# matter the input, and probing broadcasts it.
# ---------------------------------------------------------------------------

#: CMS geometry: 4 salted rows × 128 buckets (ε = e/128 ≈ 2.1% of the
#: stream length per row, δ = e^-4).
CMS_D = 4
CMS_W = 128


def cms_bucket(value_col: Column, row: Column) -> Column:
    """Counter index of ``value`` under salted hash row ``row``."""
    salted = F.concat(F.lit("cms"), row.cast("string"), F.lit(":"), value_col.cast("string"))
    return parity_hash(salted) % CMS_W


def cms_bucket_sql(value_expr: str, row_expr: str) -> str:
    salted = f"concat('cms', CAST({row_expr} AS VARCHAR), ':', {value_expr})"
    h = f"CAST(concat('0x', substr(sha256({salted}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"
    return f"({h} % {CMS_W})"
