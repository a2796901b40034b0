"""TPC-H q21's <>-correlated EXISTS family under the automatic size gate.

The pinned group collapse (``_try_neq_exists_collapse``) is the only
rewrite of this shape: one per-key aggregate over lineitem answers both
subqueries. Below 1M footer rows the gate stays closed and q21 keeps the
stock semi/anti joins; above it the collapse takes q21 with no env
switch set. Both plans must agree with each other and with DuckDB.
"""

from __future__ import annotations

from tests.conftest import compare_frames
from tests.test_nxc_collapse import Q21, _inflated_engine, _opt


def test_q21_forced_matches_stock_and_oracle(spark, ddb, monkeypatch):
    # ≥10M-row stats force the gate open under the default env
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    eng = _inflated_engine(spark)
    df = eng.query(Q21)
    plan = _opt(df)
    assert "__nxc_" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    stock = eng.query(Q21)
    assert "__nxc_" not in _opt(stock)
    got = df.toPandas()
    compare_frames(got, stock.toPandas(), ordered=True)
    compare_frames(got, ddb.execute(Q21).fetchdf(), ordered=True)


def test_gate_closed_at_test_scale(engine, ddb, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    df = engine.query(Q21)
    plan = _opt(df)
    assert "__nxc_" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    compare_frames(df.toPandas(), ddb.execute(Q21).fetchdf(), ordered=True)
