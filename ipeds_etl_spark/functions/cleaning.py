"""Sentinel-null cleaning and safe casts — the reference's signature scalar semantics.

Capability parity (behavior, not code) with the reference record mapper:

* ``is_missing`` / ``clean_sentinels``  ≅ reference ``etl/mappers/directory.py:30-52``
  (``_is_missing``): IPEDS sentinel codes -1 (missing), -2 (not
  applicable), -3 (suppressed) — as numbers or as trimmed strings —
  plus NULL and empty/whitespace-only strings all normalize to NULL.
  Policy documented at reference ``architecture.md:178-184``.
* ``safe_int`` ≅ ``_to_int`` (``directory.py:70-87``): int or NULL,
  tolerates surrounding whitespace, malformed input → NULL, never an
  error. Python ``int("12.5")`` raises → reference yields NULL; we
  pin the same behavior with an integer-regex guard (a bare
  ``cast('12.5' as int)`` would give 12 — documented corner, tested).
* ``safe_double`` ≅ ``_to_float`` (``directory.py:89-105``).
* ``safe_str`` ≅ ``_to_str`` (``directory.py:108-119``): trimmed
  string; empty-after-trim → NULL.
* ``coalesce_pick`` ≅ ``_pick`` (``directory.py:55-67``): first
  candidate column whose value is NOT missing — each branch is
  sentinel-cleaned *before* coalescing, so a sentinel in the preferred
  key falls through to a real value in a fallback key.
* ``stable_hash`` ≅ ``_stable_json_hash`` (``etl/raw_io.py:57-70``):
  deterministic content hash of a record built from canonical
  (key-sorted, compact) JSON. The reference uses sha1; DuckDB (our
  correctness oracle) lacks sha1, so the engine standardizes on
  sha2-256 — the semantic contract (stable under field reordering,
  changes iff content changes) is unchanged.

All of these are Column-in/Column-out builders over built-in functions:
they inline into whole-stage codegen and cost nothing extra at 100 TB.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

#: IPEDS sentinel codes meaning missing / not-applicable / suppressed.
#:
#: POLICY DECISION (intentional, pinned by
#: ``tests/test_cleaning.py::test_float_string_sentinel_policy``):
#: the float string forms "-1.0"/"-2.0"/"-3.0" are treated as
#: sentinels, which the reference's *string* branch would not do (its
#: ``_is_missing`` string check is exact-match {"-1","-2","-3"},
#: reference ``etl/mappers/directory.py:46-48``). The reference still
#: nulls a *numeric* -1.0 via its number branch (``v in (-1,-2,-3)``
#: is True for float -1.0, ``directory.py:43-44``). Our raw layer
#: deliberately erases the JSON number/string distinction (every record
#: value is parsed as a string, for schema-drift tolerance), so a
#: JSON numeric ``-1.0`` and a JSON string ``"-1.0"`` both arrive as
#: the string "-1.0" — an expression cannot reproduce the reference's
#: type dispatch. Of the two reachable policies we take the cleaning-
#: safe one: numeric-form sentinel strings are missing. The only
#: behavioral divergence is a *quoted* "-1.0" in source JSON → NULL
#: here vs -1.0 in the reference; real IPEDS payloads use bare
#: numeric sentinels, where both engines agree.
SENTINEL_STRINGS = ("-1", "-2", "-3", "-1.0", "-2.0", "-3.0")

#: Regex accepted by ``safe_int``: optional sign, ASCII digits only.
_INT_RE = r"^[+-]?\d+$"
#: Regexes accepted by ``safe_double``: ASCII decimal/scientific forms
#: plus the inf/nan words Python's float() accepts (case-insensitive).
#: The guard exists because Spark's bare string→double parse is MORE
#: permissive than the reference's Python float() — it accepts Java
#: forms like "1.5f", "1d", and hex floats ("0x1p3"); the reference
#: yields None for those, so we must too.
_DBL_RE = r"(?i)^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|inf(inity)?)$"
_NAN_RE = r"(?i)^[+-]?nan$"

#: Documented deviations from CPython casting, all ASCII-policy driven
#: (the oracle SQL and Spark must agree, and both are ASCII-regex
#: engines by default): Python also accepts underscore separators
#: ("1_000"), non-ASCII unicode digits ("٣"), and unicode whitespace
#: around values; the engine yields NULL for all of those. IPEDS data
#: contains none of them.


#: leading/trailing whitespace — shared by the Column and SQL forms
_WS_EDGE_RE = r"^\s+|\s+$"


def _strip(c: Column) -> Column:
    """Strip leading/trailing ASCII whitespace — Python ``str.strip``
    parity (``F.trim`` removes spaces only, so tab/newline-padded
    values would leak through the sentinel and regex checks)."""
    return F.regexp_replace(c, _WS_EDGE_RE, "")


def is_missing(col: Column) -> Column:
    """Boolean Column: value is missing per IPEDS policy.

    True for NULL, empty/whitespace-only strings, and the sentinel
    codes -1/-2/-3 whether numeric or stringified (stripped).
    Legitimate negatives (e.g. -4, or -122.4 longitude) are NOT missing.
    """
    s = _strip(col.cast("string"))
    return col.isNull() | (s == "") | s.isin(*SENTINEL_STRINGS)


def clean_sentinels(col: Column) -> Column:
    """NULL out missing values, otherwise pass the value through unchanged."""
    return F.when(is_missing(col), F.lit(None)).otherwise(col)


def safe_int(col: Column) -> Column:
    """Sentinel-cleaned integer cast: int or NULL, never an error.

    Matches Python ``int(str)`` strictness: ``" 42 "`` → 42 but
    ``"12.5"``/``"1e3"``/``"abc"`` → NULL. ``try_cast`` makes INT
    overflow NULL (instead of raising) under ANSI sessions too.
    """
    s = _strip(clean_sentinels(col).cast("string"))
    return F.when(s.rlike(_INT_RE), s).otherwise(F.lit(None)).try_cast("int")


def safe_long(col: Column) -> Column:
    """``safe_int`` at BIGINT width."""
    s = _strip(clean_sentinels(col).cast("string"))
    return F.when(s.rlike(_INT_RE), s).otherwise(F.lit(None)).try_cast("bigint")


def safe_double(col: Column) -> Column:
    """Sentinel-cleaned double cast: float or NULL, never an error.

    Guarded by ``_DBL_RE`` so only Python-float()-shaped strings parse
    (see the deviation note above); nan forms are routed explicitly
    because Spark parses ``"NaN"`` but not ``"-nan"`` while Python
    accepts both.
    """
    s = _strip(clean_sentinels(col).cast("string"))
    return (
        F.when(s.rlike(_NAN_RE), F.lit(float("nan")))
        .when(s.rlike(_DBL_RE), s.try_cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


def safe_str(col: Column) -> Column:
    """Sentinel-cleaned stripped string: NULL if empty after strip."""
    return clean_sentinels(_strip(col.cast("string")))


def coalesce_pick(*cols: Column) -> Column:
    """First non-missing candidate, with per-branch sentinel cleaning.

    The cleaning must happen inside each branch: a sentinel value in the
    preferred column is *skipped* and a later real value wins.
    """
    if not cols:
        raise ValueError("coalesce_pick requires at least one candidate column")
    return F.coalesce(*[clean_sentinels(c) for c in cols])


# ---------------------------------------------------------------------------
# SQL-text pieces of the registry mapper's stages (strip, pick, guarded
# cast — see ``registry.mapper_select_stages``).
#
# Why a text form exists: the Column builders cost one Py4J round trip
# PER METHOD CALL at plan-build time. That is invisible for a handful
# of columns but dominated the 102-column generated mapper select —
# ~5s of driver time per build before a single task ran. The pieces
# render the same semantics as SQL text from the same regex/sentinel
# constants; a generated stage then goes through ONE ``selectExpr``
# call and is parsed JVM-side in milliseconds. Parity with the Column
# builders is pinned by test (same input → identical rows) and by the
# registry_mapper oracle row.
# ---------------------------------------------------------------------------


def sql_lit(s: str) -> str:
    """Render a Python string as a Spark SQL string literal (default
    parser: backslash IS an escape character, so double it)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def array_lit(values: list | tuple) -> Column:
    """A Python list as ONE array constant; nested lists stay nested.

    The list travels to the JVM as a single JSON string, and Catalyst
    constant-folds the ``from_json`` over it into a plain array Literal
    at optimize time, so execution never parses JSON. That is one Py4J
    call whatever the length, where ``F.lit(list)`` plans a
    ``CreateArray`` with one child and one Py4J round trip per element
    (an 18k-element vocabulary cost 11.8 s per query against 2.2 s,
    SCALE.md "Vocab apply at production vocab size"). ``json.dumps``
    writes shortest-repr doubles, which the JSON reader parses back
    bit-exactly (NaN and the infinities included).

    Element types are the ones ``F.lit`` gives: ``int`` when every
    integer fits in 32 bits, otherwise ``bigint``; ``double`` when any
    number is a float; ``string``. Unlike ``F.lit``'s, the elements are
    typed nullable. No element reads as NULL: a value that does not
    parse as the element type fails the query (``FAILFAST``)."""
    depth, leaves = _nested_leaves(values)
    ddl = _leaf_type(leaves)
    for _ in range(depth):
        ddl = f"array<{ddl}>"
    return F.from_json(F.lit(json.dumps(values)), ddl, {"mode": "FAILFAST"})


def _nested_leaves(values: list | tuple) -> tuple[int, list]:
    """(nesting depth, flat leaves) of a non-empty, evenly nested list."""
    if not isinstance(values, (list, tuple)) or not values:
        raise ValueError(f"array_lit needs a non-empty list, got {values!r}")
    if not any(isinstance(v, (list, tuple)) for v in values):
        return 1, list(values)
    inner = [_nested_leaves(v) for v in values]
    depths = {d for d, _ in inner}
    if len(depths) != 1:
        raise ValueError(f"array_lit needs evenly nested lists, got depths {sorted(depths)}")
    return depths.pop() + 1, [x for _, xs in inner for x in xs]


def _leaf_type(leaves: list) -> str:
    if all(isinstance(x, str) for x in leaves):
        return "string"
    if not all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in leaves):
        raise TypeError(f"array_lit takes strings, ints or floats, got {leaves[:5]!r}")
    if any(isinstance(x, float) for x in leaves):
        return "double"
    return "int" if all(-(2**31) <= x < 2**31 for x in leaves) else "bigint"


_SENTINEL_LIST_SQL = ", ".join(sql_lit(s) for s in SENTINEL_STRINGS)


def strip_sql(x: str) -> str:
    """SQL twin of ``_strip``."""
    return f"regexp_replace({x}, {sql_lit(_WS_EDGE_RE)}, '')"


def pick_stripped_sql(*ss: str) -> str:
    """First non-missing candidate among ALREADY-STRIPPED string
    candidates — ``coalesce_pick`` followed by the strip, with each
    strip computed once by the caller. A stripped value is NULL iff
    its input is, so the NULL test folds into ``NOT IN`` (NULL there
    is not true). The pick is clean by construction: ``strip(x)`` is
    never empty or a sentinel when ``x`` is not missing, so re-cleaning
    it is a no-op."""
    picks = [f"CASE WHEN {s} NOT IN ('', {_SENTINEL_LIST_SQL}) THEN {s} END" for s in ss]
    return f"coalesce({', '.join(picks)})"


def cast_stripped_sql(s: str, sql_type: str) -> str:
    """Guarded cast of a stripped, sentinel-clean string to ``sql_type``
    (INT, BIGINT, DOUBLE or STRING) — the common tail of the safe casts.
    ``s`` is referenced several times, so pass a column, not a subtree."""
    if sql_type in ("INT", "BIGINT"):
        return f"try_cast(CASE WHEN {s} RLIKE {sql_lit(_INT_RE)} THEN {s} END AS {sql_type})"
    if sql_type == "DOUBLE":
        return (
            f"(CASE WHEN {s} RLIKE {sql_lit(_NAN_RE)} THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {s} RLIKE {sql_lit(_DBL_RE)} THEN try_cast({s} AS DOUBLE) "
            f"ELSE CAST(NULL AS DOUBLE) END)"
        )
    if sql_type == "STRING":
        return s
    raise ValueError(f"no safe cast to {sql_type!r}")


def canonical_json(*cols: Column | str, names: list[str] | None = None) -> Column:
    """Canonical JSON string of a record: fields in sorted-name order.

    ``to_json(struct(...))`` serializes fields in struct order, so we
    sort explicitly — hash stability under input field reordering is
    the contract.
    """
    if names is None:
        names = [c if isinstance(c, str) else str(c) for c in cols]
    pairs = sorted(zip(names, cols), key=lambda kv: kv[0])
    struct = F.struct(*[(F.col(c) if isinstance(c, str) else c).alias(n) for n, c in pairs])
    return F.to_json(struct)


def stable_hash(*cols: Column | str, names: list[str] | None = None) -> Column:
    """Deterministic sha2-256 hex content hash of the named columns.

    Stable under field-order permutation (fields are name-sorted before
    serialization); changes iff any value changes.
    """
    return F.sha2(canonical_json(*cols, names=names), 256)
