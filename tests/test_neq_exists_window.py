"""TPC-H q21's <>-correlated EXISTS family never plans a Window.

The collapse answers both subqueries with one hash aggregate keyed on
l_orderkey and the stock plan uses semi/anti joins, so no plan of q21
sorts the fact for a window. These pin that under the default env at
both scales, and that the stock joins still match DuckDB when every
other ≥1M-row gate is open.
"""

from __future__ import annotations

from tests.conftest import compare_frames
from tests.test_nxc_collapse import Q21, _inflated_engine, _opt, _phys


def test_q21_window_matches_stock_and_oracle(spark, ddb, monkeypatch):
    # ≥10M-row stats with the collapse switched off: the stock
    # semi/anti joins, planned beside every other open size gate
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    df = _inflated_engine(spark).query(Q21)
    plan = _opt(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "Window" not in _phys(df)
    compare_frames(df.toPandas(), ddb.execute(Q21).fetchdf(), ordered=True)


def test_q21_window_plan_single_fact_scan(spark, monkeypatch):
    # above the gate the whole EXISTS family costs ONE lineitem scan
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    phys = _phys(_inflated_engine(spark).query(Q21))
    assert phys.count("lineitem.parquet") == 1, phys
    assert "Window" not in phys, phys


def test_window_gate_closed_at_test_scale(engine, monkeypatch):
    # below the gate: one lineitem scan per probe, still no window
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    phys = _phys(engine.query(Q21))
    assert phys.count("lineitem.parquet") == 3, phys
    assert "Window" not in phys, phys
