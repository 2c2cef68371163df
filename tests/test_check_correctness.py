"""``tools/check_correctness.py`` gives each DuckDB oracle a fixed time
budget: an oracle still running when it runs out is interrupted and
reported as a timeout, and the connection serves the next oracle."""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

import duckdb
import pytest

TOOL = Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py"


def _tool():
    spec = importlib.util.spec_from_file_location("check_correctness", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_oracle_budget_interrupts_a_runaway_oracle(monkeypatch):
    cc = _tool()
    monkeypatch.setattr(cc, "ORACLE_BUDGET_S", 0.5)
    con = duckdb.connect()
    con.execute("SET threads=1")
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        cc.oracle_frame(
            con, "SELECT sum(a.range * b.range) FROM range(1000000) a, range(100000) b"
        )
    assert time.monotonic() - t0 < 30
    assert cc.oracle_frame(con, "SELECT 42 AS x")["x"].tolist() == [42]
