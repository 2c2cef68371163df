#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted by stringified values — the same
idea as the driver's value-hash). Exact equality is the bar; on
mismatch the first differing rows are printed side by side.

Each oracle runs under a fixed time budget (``ORACLE_BUDGET_S``): an
oracle still running when it runs out is interrupted and reported as
``FAIL <name>: oracle timeout``, so one runaway oracle cannot stall
the sweep.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import threading
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from ipeds_etl_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


#: Wall-clock budget of one DuckDB oracle, in seconds.
ORACLE_BUDGET_S = 600


def oracle_frame(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame:
    """The oracle's result, or ``TimeoutError`` once it has run for
    ``ORACLE_BUDGET_S`` (the query is interrupted, the connection stays
    usable)."""
    fired = threading.Event()

    def stop() -> None:
        fired.set()
        con.interrupt()

    timer = threading.Timer(ORACLE_BUDGET_S, stop)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.InterruptException as e:
        if fired.is_set():
            raise TimeoutError(sql) from e
        raise
    finally:
        timer.cancel()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("correctness-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}")
            continue
        try:
            odf = oracle_frame(con, oracles[name])
        except TimeoutError:
            print(f"FAIL {name}: oracle timeout")
            failed.append(name)
            continue
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if not problems:
            cs, co = _canon(sdf), _canon(odf)
            if not cs.equals(co):
                neq = (cs != co).any(axis=1)
                ex = pd.concat(
                    [cs[neq].head(3).add_prefix("s_"), co[neq].head(3).add_prefix("o_")], axis=1
                )
                problems.append(f"{int(neq.sum())}/{len(cs)} rows differ\n{ex.to_string()}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(sdf)} rows)")

    print(f"\n{len(failed)} failed / {len([n for n in queries if not only or n in only])} run")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
