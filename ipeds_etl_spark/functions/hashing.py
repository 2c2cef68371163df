"""Engine-portable hashing primitives for dedup / fingerprinting.

Design constraint: every hash here must be computable *identically* in
Spark (Column expressions, JVM-side) and in ANSI-ish SQL that DuckDB
can run, because the driver's correctness gate compares value hashes of
both results. Spark's native ``hash``/``xxhash64`` and DuckDB's
``hash`` are different algorithms, so we build on the one primitive
both engines share bit-for-bit: SHA-256 of a UTF-8 string.

* ``content_hash(col)``   — 64-hex-char sha256 (provenance-grade).
* ``parity_hash(col)``    — first 10 hex chars → 40-bit non-negative
  BIGINT. 40 bits keeps every downstream affine permutation
  ``(a*h + b) mod P`` inside signed-64 range (a < 2^20, h < 2^40 ⇒
  product < 2^60 < 2^63), so Spark and DuckDB — both of which do exact
  signed-64 integer arithmetic — agree exactly, with no overflow wrap
  on either side.
* ``minhash_perms(n)``    — deterministic affine permutation family
  for MinHash: h_i(x) = (A_i * x + B_i) mod P, P = 2^61 - 1 (Mersenne
  prime). A_i odd and bounded by 2^20.

DuckDB equivalents (used in oracle SQL):

    parity_hash : CAST(concat('0x', substr(sha256(s), 1, 10)) AS BIGINT)
    perm        : (A * h + B) % 2305843009213693951

The MinHash/SimHash schemes themselves follow the standard published
constructions (Broder 1997; Charikar 2002).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: modulus for affine permutations — Mersenne prime 2^61 - 1
MERSENNE_P = (1 << 61) - 1
#: hex digits of sha256 kept for the integer hash (40 bits)
PARITY_HEX_DIGITS = 10
#: Knuth multiplicative constant, used to scatter the B_i offsets
_KNUTH = 2654435761


def content_hash(c: Column) -> Column:
    """Full sha256 hex digest of a string column (DuckDB: ``sha256``)."""
    return F.sha2(c.cast("string"), 256)


def parity_hash(c: Column) -> Column:
    """40-bit integer hash of a string column, identical in DuckDB via
    ``CAST(concat('0x', substr(sha256(s),1,10)) AS BIGINT)``."""
    return F.conv(F.substring(F.sha2(c.cast("string"), 256), 1, PARITY_HEX_DIGITS), 16, 10).cast(
        "long"
    )


#: hex digits for the wide (56-bit) hash — safe for plain comparisons,
#: shifts, and xor, but NOT for the affine permutations (a*h would
#: overflow signed-64); MinHash must stay on the 40-bit hash.
WIDE_HEX_DIGITS = 14


def parity_hash_wide(c: Column) -> Column:
    """56-bit integer hash (14 sha256 hex digits). Used where hash
    *width* matters (SimHash fingerprint bits) and no multiplication is
    ever applied. DuckDB: ``CAST(concat('0x', substr(sha256(s),1,14)) AS BIGINT)``."""
    return F.conv(F.substring(F.sha2(c.cast("string"), 256), 1, WIDE_HEX_DIGITS), 16, 10).cast(
        "long"
    )


def parity_hash_sql(expr: str) -> str:
    """DuckDB SQL text computing ``parity_hash`` of ``expr``."""
    return f"CAST(concat('0x', substr(sha256({expr}), 1, {PARITY_HEX_DIGITS})) AS BIGINT)"


def minhash_perms(n: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) affine-permutation constants, i < n."""
    return [(2 * i + 1001, (i * _KNUTH) % MERSENNE_P) for i in range(n)]
