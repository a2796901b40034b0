"""Shared-tree correlated window decorrelation (r14, the q2 shape):
a WHERE comparison against a correlated MIN/MAX scalar whose FROM tree
is an alias-renamed SUBSET of the outer's own tree compiles to ONE
derived table carrying ``agg() OVER (PARTITION BY key)`` — no second
join tree, no SortMergeJoin.

Soundness corners under test: value equality against the stock
decorrelation (same engine, kill switch), the magic-set partition-key
semi, local inner filters as agg FILTER, and the bails (different
trees, non-min/max aggregates, extra outer filters are fine because
the window input is the DERIVED frame, not the outer frame).
"""

from __future__ import annotations

import pytest

from tests.conftest import compare_frames

Q2_STYLE = """
    SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size = 15
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE l2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 50
"""

LOCAL_FILTER = """
    SELECT count(*) AS n
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        WHERE l2.l_partkey = p.p_partkey AND l2.l_quantity > 10)
"""


def _plan(engine, sql: str) -> str:
    return engine.query(sql)._jdf.queryExecution().executedPlan().toString()


def _ab(engine, sql, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHARED_WINDOW_DECORRELATE", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.delenv("SPARK_GRAFT_SHARED_WINDOW_DECORRELATE")
    rewritten = engine.query(sql).toPandas()
    return stock, rewritten


def test_q2_shape_values_and_plan(engine, monkeypatch, ddb):
    stock, rewritten = _ab(engine, Q2_STYLE, monkeypatch)
    compare_frames(stock, rewritten, ordered=True)
    exp = ddb.execute(Q2_STYLE).df()
    compare_frames(rewritten, exp, ordered=True)
    plan = _plan(engine, Q2_STYLE)
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 1
    assert "__corrwin0" in plan


def test_local_inner_filter_becomes_agg_filter(engine, monkeypatch, ddb):
    stock, rewritten = _ab(engine, LOCAL_FILTER, monkeypatch)
    compare_frames(stock, rewritten, ordered=True)
    exp = ddb.execute(LOCAL_FILTER).df()
    compare_frames(rewritten, exp, ordered=True)
    assert "__corrwin0" in _plan(engine, LOCAL_FILTER)


def test_magic_set_semi_restricts_window_input(engine):
    # p_size = 15 is alias-pure on the extra relation joined on the
    # partition key → the derived WHERE carries a partition-key IN
    # (filtered keys) semi, visible as a LeftSemi below the window
    plan = _plan(engine, Q2_STYLE)
    assert "LeftSemi" in plan, plan


def test_extra_outer_filter_on_shared_column_is_sound(engine, monkeypatch,
                                                      ddb):
    # the outer restricts lineitem (shared) further than the inner does;
    # the window computes on the DERIVED frame (inner semantics), so the
    # scalar must still be the min over ALL rows of the partition, not
    # just the l_quantity-filtered ones
    sql = """
        SELECT count(*) AS n
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 15 AND l.l_quantity > 25
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey)
    """
    stock, rewritten = _ab(engine, sql, monkeypatch)
    compare_frames(stock, rewritten, ordered=True)
    exp = ddb.execute(sql).df()
    compare_frames(rewritten, exp, ordered=True)


def test_sum_aggregate_bails_to_stock(engine):
    # sum is multiplicity-sensitive — extra outer relations could
    # duplicate shared rows, so only min/max rewrite
    sql = """
        SELECT count(*) AS n
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE l.l_extendedprice < (
            SELECT sum(l2.l_extendedprice) FROM lineitem l2
            JOIN part p2 ON p2.p_partkey = l2.l_partkey
            WHERE l2.l_partkey = p.p_partkey)
    """
    assert "__corrwin0" not in _plan(engine, sql)


def test_mismatched_inner_join_bails(engine, monkeypatch, ddb):
    # inner joins supplier on a DIFFERENT key → trees differ → stock path
    sql = """
        SELECT count(*) AS n
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem l2
            JOIN supplier s2 ON s2.s_nationkey = l2.l_linenumber
            WHERE l2.l_partkey = p.p_partkey)
    """
    assert "__corrwin0" not in _plan(engine, sql)
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql).df()
    compare_frames(got, exp, ordered=True)


def test_inequality_comparison_rewrites(engine, monkeypatch, ddb):
    sql = """
        SELECT count(*) AS n
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE l.l_extendedprice > (
            SELECT max(l2.l_extendedprice) * 0.99 FROM lineitem l2
            WHERE l2.l_partkey = p.p_partkey)
    """
    # the scalar item is an expression OVER the aggregate — current
    # rewrite handles bare min/max only; whichever path compiles, the
    # values must match the oracle
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql).df()
    compare_frames(got, exp, ordered=True)
