"""Pinned group collapse of the <>-EXISTS family (r16, TPC-H q21 shape):
when a NEGATED member's inner-local predicates are implied by the outer
fact-local filters, every qualifying fact row of a correlation group
shares one <>-column value, so the fact collapses to ONE row per key
(key, pinned s, qualifying-row count) via a single hash aggregate —
no window sort, no fact join-back — and COUNT(*) becomes SUM(weight).

Gate: automatic at ≥ 1M footer rows; SPARK_GRAFT_NEQ_EXISTS_COLLAPSE
forces (=1) / disables (=0). Every test compares against the stock
semi/anti plan (ground truth) and, for q21, DuckDB.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import compare_frames

Q21 = """
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name
"""


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q21_collapse_matches_stock_and_oracle(engine, ddb, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_WINDOW", "0")
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_AGG", "0")
    stock = engine.query(Q21).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = engine.query(Q21)
    plan = _opt(df)
    assert "__nxc_" in plan, plan
    assert "__nxw_" not in plan and "__nxk_" not in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    compare_frames(df.toPandas(), stock, ordered=True)
    compare_frames(df.toPandas(), ddb.execute(Q21).fetchdf(), ordered=True)


def test_q21_collapse_single_fact_scan_no_window(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    phys = _phys(engine.query(Q21))
    assert phys.count("lineitem.parquet") == 1, phys
    assert "Window" not in phys, phys


def test_collapse_gate_closed_at_test_scale(engine, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    plan = _opt(engine.query(Q21))
    assert "__nxc_" not in plan, plan


@pytest.fixture()
def synth(spark):
    """Synthetic fact + dims with NULL keys, NULL s, weight > 1 groups.

    fact groups (k): 1 → R rows by s=10 (×2: weight 2) + non-R by 20
                         → qualifies, numwait(d10) += 2
                     2 → R by 10 AND R by 20 (two R suppliers) → out
                     3 → R by 10, no other supplier → out (no EXISTS)
                     4 → R by NULL-s + R by 40, non-R by 10:
                         NULL-s rows die at the dim join everywhere;
                         s=40 is the only surviving R supplier → in (w 1)
                     5 → non-R only → out (weight 0)
                     NULL → R by 7 + R by 8: EXISTS fails on NULL key
                         in the original; the collapse drops the rows
    """
    from sql_to_ibis_spark import SqlEngine

    fact = pd.DataFrame({
        "k": [1, 1, 1, 2, 2, 3, 4, 4, 4, 5, 5, None, None],
        "s": [10, 10, 20, 10, 20, 10, None, 40, 10, 10, 20, 7, 8],
        "flag": ["R", "R", "N", "R", "R", "R", "R", "R", "N",
                 "N", "N", "R", "R"],
    }).astype({"k": "Int64", "s": "Int64"})
    dim = pd.DataFrame({
        "ds": [10, 20, 40, 7, 8],
        "dname": ["d10", "d20", "d40", "d7", "d8"],
    }).astype({"ds": "Int64"})
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(fact), "nxc_fact")
    eng.register_temp_table(spark.createDataFrame(dim), "nxc_dim")
    return eng


SYNTH_SQL = """
    SELECT d.dname, count(*) AS n
    FROM nxc_dim d JOIN nxc_fact f ON d.ds = f.s
    WHERE f.flag = 'R'
    AND EXISTS (SELECT 1 FROM nxc_fact f2
                WHERE f2.k = f.k AND f2.s <> f.s)
    AND NOT EXISTS (SELECT 1 FROM nxc_fact f3
                    WHERE f3.k = f.k AND f3.s <> f.s AND f3.flag = 'R')
    GROUP BY d.dname ORDER BY dname
"""


def test_collapse_null_and_weight_semantics(synth, monkeypatch):
    want = {("d10", 2), ("d40", 1)}
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = synth.query(SYNTH_SQL)
    assert "__nxc_" in _opt(df)
    got = {(r.dname, r.n) for r in df.collect()}
    assert got == want, got
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    stock = {(r.dname, r.n) for r in synth.query(SYNTH_SQL).collect()}
    assert stock == want, stock


def test_collapse_having_and_count_in_order_by(synth, monkeypatch):
    sql = SYNTH_SQL.replace("GROUP BY d.dname ORDER BY dname",
                            "GROUP BY d.dname HAVING count(*) > 1 "
                            "ORDER BY count(*) DESC, dname")
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = synth.query(sql)
    assert "__nxc_" in _opt(df)
    got = [(r.dname, r.n) for r in df.collect()]
    assert got == [("d10", 2)], got


def test_collapse_kept_key_filter(synth, monkeypatch):
    # a fact filter on the key/s columns stays ON the collapsed frame
    sql = SYNTH_SQL.replace("WHERE f.flag = 'R'",
                            "WHERE f.flag = 'R' AND f.k < 4")
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = synth.query(sql)
    assert "__nxc_" in _opt(df)
    got = {(r.dname, r.n) for r in df.collect()}
    assert got == {("d10", 2)}, got
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    stock = {(r.dname, r.n)
             for r in synth.query(sql).collect()}
    assert stock == got, stock


@pytest.mark.parametrize("mutate, reason", [
    (lambda s: s.replace("count(*) AS n", "count(*) AS n, sum(f.s) AS t"),
     "non-count aggregate"),
    (lambda s: s.replace("SELECT d.dname, count(*) AS n",
                         "SELECT d.dname, f.flag, count(*) AS n")
               .replace("GROUP BY d.dname", "GROUP BY d.dname, f.flag"),
     "fact column beyond key/s referenced outside EXISTS"),
    (lambda s: s.replace("AND EXISTS (SELECT 1 FROM nxc_fact f2\n"
                         "                WHERE f2.k = f.k AND f2.s <> f.s)",
                         ""),
     "no positive member"),
    (lambda s: s.replace("WHERE f.flag = 'R'", "WHERE 1=1"),
     "outer filters do not imply the negated member's local"),
    (lambda s: s.replace("count(*) AS n", "count(*)"),
     "unaliased COUNT(*) would change the output column name"),
])
def test_collapse_non_candidates_fall_through(synth, monkeypatch,
                                              mutate, reason):
    sql = mutate(SYNTH_SQL)
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = synth.query(sql)
    assert "__nxc_" not in _opt(df), (reason, _opt(df))
    forced = df.toPandas()
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    compare_frames(synth.query(sql).toPandas(), forced)


def test_collapse_bails_on_scalar_subquery_conjunct(engine, ddb,
                                                    monkeypatch):
    # a fact-only conjunct whose scalar subquery correlates to ANOTHER
    # outer relation (o) cannot be recompiled against the bare fact
    sql = Q21.replace(
        "AND l1.l_returnflag = 'R'",
        "AND l1.l_returnflag = 'R' AND l1.l_quantity <= "
        "(SELECT max(l4.l_quantity) FROM lineitem l4 "
        "WHERE l4.l_orderkey = o.o_orderkey)")
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "0")
    stock = engine.query(sql).toPandas()
    assert len(stock), "the scalar conjunct should keep every q21 row"
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = engine.query(sql)
    assert "__nxc_" not in _opt(df)
    compare_frames(df.toPandas(), stock, ordered=True)
    compare_frames(stock, ddb.execute(sql).fetchdf(), ordered=True)


def test_collapse_keeps_ambiguity_error(synth, spark, monkeypatch):
    # `flag` names a column of the fact AND of the dim: ambiguous as
    # written, so the collapse (which narrows the fact to k/s) must not
    # turn the error into a result over the dim's column
    from sql_to_ibis_spark.errors import AmbiguousColumnException

    synth.register_temp_table(spark.createDataFrame(pd.DataFrame({
        "ds": [10, 20, 40], "dname": ["d10", "d20", "d40"],
        "flag": ["x", "y", "z"]})), "nxc_dim")
    sql = (SYNTH_SQL.replace("SELECT d.dname,", "SELECT flag,")
           .replace("GROUP BY d.dname ORDER BY dname",
                    "GROUP BY flag ORDER BY flag"))
    errors = []
    for mode in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", mode)
        with pytest.raises(AmbiguousColumnException) as info:
            synth.query(sql).collect()
        errors.append(str(info.value))
    assert errors[0] == errors[1], errors
