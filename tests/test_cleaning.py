"""Sentinel/cast matrix tests — the reference's signature semantics.

Mirrors the documented intent of the reference's planned
``test_casting.py`` (reference architecture.md:134-136,172): sentinel
handling -1/-2/-3, whitespace, empty strings, malformed casts, and the
``"12.5"``-into-int corner, plus coalesce_pick fallback ordering and
stable-hash determinism. ``array_lit`` is checked against ``F.lit`` of
the same list: same values bit for bit, same element types.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import (
    array_lit,
    clean_sentinels,
    coalesce_pick,
    safe_double,
    safe_int,
    safe_str,
    stable_hash,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def _apply_str(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["out"] for r in df.select(fn(F.col("v")).alias("out")).collect()]


def test_safe_int_matrix(spark):
    vals = ["42", " 42 ", "-1", "-2", "-3", " -3 ", "", "   ", None, "abc", "12.5", "1e3", "-4", "+7"]
    expect = [42, 42, None, None, None, None, None, None, None, None, None, None, -4, 7]
    assert _apply_str(spark, safe_int, vals) == expect


def test_safe_int_numeric_sentinels(spark):
    df = spark.createDataFrame([(-1,), (-2,), (-3,), (-4,), (0,), (7,)], "v int")
    out = [r["o"] for r in df.select(safe_int(F.col("v")).alias("o")).collect()]
    assert out == [None, None, None, -4, 0, 7]


def test_safe_double_matrix(spark):
    vals = ["1.5", " 2.25 ", "-122.4", "-1", "12.3.4", "abc", "", None, "1e3"]
    expect = [1.5, 2.25, -122.4, None, None, None, None, None, 1000.0]
    assert _apply_str(spark, safe_double, vals) == expect


def test_safe_str_matrix(spark):
    vals = ["  hi  ", "", "   ", "-1", " -2 ", "-4", None]
    expect = ["hi", None, None, None, None, "-4", None]
    assert _apply_str(spark, safe_str, vals) == expect


def test_float_string_sentinel_policy(spark):
    """Pins the DOCUMENTED DIVERGENCE from the reference on float-form
    sentinel strings (see ``cleaning.SENTINEL_STRINGS``).

    Reference (``etl/mappers/directory.py:43-48``): numeric -1.0 →
    missing (number branch), but the *string* "-1.0" → kept (string
    branch is exact-match "-1"/"-2"/"-3"). Our raw layer transports
    records as ``map<string,string>``, erasing the number/string
    distinction, so both arrive as "-1.0"; the engine takes the
    cleaning-safe policy: missing. Agreements and the one divergence,
    spelled out:

    * numeric -1 / -1.0 → NULL   (both engines agree)
    * string "-1"       → NULL   (both engines agree)
    * string "-1.0"     → NULL here, -1.0 in the reference (DIVERGES —
      intentional; unreachable distinction in our representation)
    * string "-1.00"/"-1.5"/"-10" → kept (both engines agree: not
      sentinel forms)
    """
    # the divergent + boundary string forms
    vals = ["-1.0", "-2.0", "-3.0", "-1.00", "-1.5", "-10", "-1.0e0"]
    expect = [None, None, None, -1.0, -1.5, -10.0, -1.0]
    assert _apply_str(spark, safe_double, vals) == expect
    # numeric doubles: both engines null the sentinel values
    df = spark.createDataFrame([(-1.0,), (-2.0,), (-3.0,), (-1.25,)], "v double")
    out = [r["o"] for r in df.select(safe_double(F.col("v")).alias("o")).collect()]
    assert out == [None, None, None, -1.25]


def test_clean_preserves_type_and_legit_negatives(spark):
    df = spark.createDataFrame([(-122.4,), (-1.0,), (3.5,)], "v double")
    out = [r["o"] for r in df.select(clean_sentinels(F.col("v")).alias("o")).collect()]
    assert out == [-122.4, None, 3.5]


def test_coalesce_pick_skips_sentinel_in_preferred(spark):
    # preferred key holds a sentinel -> fallback's real value wins
    df = spark.createDataFrame(
        [("-2", "State U"), (None, "Fallback U"), ("Real U", "Ignored U"), ("", None)],
        "a string, b string",
    )
    out = [r["o"] for r in df.select(coalesce_pick(F.col("a"), F.col("b")).alias("o")).collect()]
    assert out == ["State U", "Fallback U", "Real U", None]


def test_stable_hash_field_order_invariant(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "a int, b string, c double")
    h1 = df.select(stable_hash("a", "b", "c", names=["a", "b", "c"]).alias("h")).first()["h"]
    h2 = df.select(stable_hash("c", "a", "b", names=["c", "a", "b"]).alias("h")).first()["h"]
    assert h1 == h2 and len(h1) == 64


def test_stable_hash_changes_on_content(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y")], "a int, b string")
    hs = [r["h"] for r in df.select(stable_hash("a", "b", names=["a", "b"]).alias("h")).collect()]
    assert hs[0] != hs[1]


def _py4j_commands(spark, monkeypatch, build) -> int:
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    send, sent = client.send_command, []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        build()
    return len(sent)


def test_array_lit_is_one_folded_constant_whatever_its_length(spark, monkeypatch):
    small, large = [0.5] * 10, [0.5] * 10_000
    assert _py4j_commands(spark, monkeypatch, lambda: array_lit(small)) == _py4j_commands(
        spark, monkeypatch, lambda: array_lit(large)
    )
    df = spark.range(1).select(array_lit(large).alias("v"))
    assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert df.first()["v"] == large


def _bits(v):
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return struct.pack("<d", v) if isinstance(v, float) else v


@pytest.mark.parametrize(
    "values",
    [
        [1 / 3, 1e-300, -1e-300, 5e-324, -2.5, -0.0, 0.1, 1.7976931348623157e308],
        [float(2.0**-i) for i in range(36)],  # sketches.hll_register_pow's table
        [3, 2**40, -(2**40), 2**63 - 1],
        [1, 2.5],
        ["é", "日本語", "😀", 'quote " and \\ backslash'],
        [[1 / 3, -2.0], [1e-300, 4.5]],
    ],
)
def test_array_lit_matches_f_lit(spark, values):
    got = spark.range(1).select(array_lit(values).alias("v"), F.lit(values).alias("w"))
    got_t, want_t = (f.dataType.simpleString() for f in got.schema.fields)
    assert got_t == want_t
    row = got.first()
    assert _bits(row["v"]) == _bits(row["w"])


def test_array_lit_types_like_f_lit(spark):
    for values in ([1, 2], [1, 2**31], [-(2**31) - 1], [1, 2.0], ["a"], [[1], [2**40]]):
        cols = spark.range(1).select(array_lit(values), F.lit(values)).schema.fields
        assert cols[0].dataType.simpleString() == cols[1].dataType.simpleString(), values
    # past 64 bits: the lenient JSON parse would read NULL
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        spark.range(1).select(array_lit([2**63])).collect()
    with pytest.raises(TypeError):
        array_lit([True])
    with pytest.raises(ValueError):
        array_lit([])
    with pytest.raises(ValueError):
        array_lit([[1], [[2]]])
