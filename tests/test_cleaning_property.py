"""Property-based parity: the engine's safe casts vs the reference's
Python casting semantics (reference ``etl/mappers/directory.py:30-119``),
batched — hypothesis generates a corpus of adversarial strings, ONE
Spark job evaluates all of them, and each row is compared against a
Python model of the reference mapper.

The model is CPython ``int()``/``float()``/``strip()`` under the
engine's documented ASCII policy (see ``functions/cleaning.py``):
underscore separators, non-ASCII digits, and unicode whitespace yield
NULL; everything else must match CPython exactly — including tabs,
signs, scientific notation, inf/nan words, and int-width overflow.
"""

from __future__ import annotations

import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.cleaning import safe_double, safe_int, safe_str

SENTINELS = {"-1", "-2", "-3", "-1.0", "-2.0", "-3.0"}
_WS = re.compile(r"^\s+|\s+$", re.ASCII)
_INT = re.compile(r"^[+-]?\d+$", re.ASCII)
_DBL = re.compile(
    r"^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|inf(inity)?|nan)$",
    re.ASCII | re.IGNORECASE,
)


def _stripped(s: str | None) -> str | None:
    if s is None:
        return None
    t = _WS.sub("", s)
    return None if t == "" or t in SENTINELS else t


def model_int(s: str | None) -> int | None:
    t = _stripped(s)
    if t is None or not _INT.fullmatch(t):
        return None
    v = int(t)
    return v if -(2**31) <= v < 2**31 else None


def model_double(s: str | None) -> float | None:
    t = _stripped(s)
    if t is None or not _DBL.fullmatch(t):
        return None
    return float(t)  # CPython parse == JVM parse: correctly-rounded decimal


def model_str(s: str | None) -> str | None:
    return _stripped(s)


adversarial = st.one_of(
    st.none(),
    st.sampled_from(
        ["-1", " -2 ", "-3", "-1.0", "", "   ", "12.5", "1e3", "+7", "-0",
         "007", "abc", "12.3.4", "٣", "1_000", "NaN", "-nan", "inf", "Infinity",
         " 42\t", "\t-3\n", "-2147483649", "2147483648", "9" * 30, "1.5f",
         "0x1p3", "1d", ".5", "5.", "+.5e-3"]
    ),
    st.integers(-(2**35), 2**35).map(str),
    st.floats(allow_nan=False, allow_infinity=False).map(str),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(adversarial, min_size=1, max_size=40))
def test_safe_cast_parity_with_reference_semantics(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = df.select(
        F.col("s"),
        safe_int(F.col("s")).alias("i"),
        safe_double(F.col("s")).alias("d"),
        safe_str(F.col("s")).alias("t"),
    ).collect()
    assert len(got) == len(values)
    for row, v in zip(got, values):
        assert row["i"] == model_int(v), f"safe_int({v!r}): {row['i']} != {model_int(v)}"
        exp = model_double(v)
        if exp is None or math.isnan(exp):
            ok = row["d"] is None if exp is None else (
                row["d"] is not None and math.isnan(row["d"])
            )
            assert ok, f"safe_double({v!r}): {row['d']} != {exp}"
        else:
            assert row["d"] == exp, f"safe_double({v!r}): {row['d']} != {exp}"
        assert row["t"] == model_str(v), f"safe_str({v!r}): {row['t']} != {model_str(v)}"


@settings(max_examples=25, deadline=None)
@given(st.lists(adversarial, min_size=1, max_size=40))
def test_sql_twins_match_column_forms(spark, values):
    """The SQL text the registry mapper runs — strip, then pick, then
    guarded cast, one projection each, as ``registry.mapper_select_stages``
    emits them — must be row-identical to the Column builders
    (``safe_*(coalesce_pick(...))``, as ``registry.mapper_columns``
    builds them) on the same adversarial corpus. The text form exists
    only to kill Py4J build cost; any drift (regex escaping through the
    SQL parser is the risk) is a bug. NaN compares by both-NaN."""
    from ipeds_etl_spark.functions.cleaning import (
        cast_stripped_sql,
        coalesce_pick,
        pick_stripped_sql,
        safe_long,
        strip_sql,
    )

    df = spark.createDataFrame([(v,) for v in values], "s string")
    pick = coalesce_pick(F.col("s"))
    col_form = df.select(
        safe_int(pick).alias("i"),
        safe_long(pick).alias("l"),
        safe_double(pick).alias("d"),
        safe_str(pick).alias("t"),
    ).collect()
    sql_form = (
        df.selectExpr(f"{strip_sql('CAST(s AS STRING)')} AS s0")
        .selectExpr(f"{pick_stripped_sql('s0')} AS p")
        .selectExpr(
            f"{cast_stripped_sql('p', 'INT')} AS i",
            f"{cast_stripped_sql('p', 'BIGINT')} AS l",
            f"{cast_stripped_sql('p', 'DOUBLE')} AS d",
            f"{cast_stripped_sql('p', 'STRING')} AS t",
        )
        .collect()
    )
    for a, b, v in zip(col_form, sql_form, values):
        assert a["i"] == b["i"], f"int({v!r}): {a['i']} != {b['i']}"
        assert a["l"] == b["l"], f"long({v!r}): {a['l']} != {b['l']}"
        if a["d"] is None or b["d"] is None or math.isnan(a["d"]) or math.isnan(b["d"]):
            same = (a["d"] is None and b["d"] is None) or (
                a["d"] is not None and b["d"] is not None
                and math.isnan(a["d"]) and math.isnan(b["d"])
            )
            assert same, f"double({v!r}): {a['d']} != {b['d']}"
        else:
            assert a["d"] == b["d"], f"double({v!r}): {a['d']} != {b['d']}"
        assert a["t"] == b["t"], f"str({v!r}): {a['t']} != {b['t']}"
