"""Aggregated IN (TPC-H q18 shape): ``WHERE col IN (SELECT k FROM big
GROUP BY k HAVING ...)``.

At scale the eager-aggregation fold takes q18: the subquery's key pass
and the outer fact pass become one lineitem scan, with the HAVING on the
partial aggregate. Every other shape, and q18 below the fold's row gate,
plans Spark's stock left-semi join against the grouped subquery.
"""

from __future__ import annotations

import pytest

from tests.conftest import compare_frames
from tests.test_nxc_collapse import _inflated_engine, _opt, _phys

Q18 = """
    SELECT c_name, o.o_orderkey, o_totalprice,
      CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
    GROUP BY c_name, o.o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100
"""
Q18_ORACLE = Q18.replace("o.o_orderkey,", "o.o_orderkey AS o_orderkey,", 1)


@pytest.fixture(scope="module")
def inflated(spark):
    return _inflated_engine(spark)


def test_q18_forced_matches_stock_and_oracle(inflated, ddb, monkeypatch):
    # ≥ 10M-row stats, default env: the fold reads lineitem once and
    # leaves no semi join; with eager aggregation off the stock plan
    # scans lineitem twice through one LeftSemi. Same rows either way.
    monkeypatch.delenv("SPARK_GRAFT_EAGER_AGG", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EAGER_AGG_FOLD_IN", raising=False)
    folded = inflated.query(Q18)
    plan = _phys(folded)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "LeftSemi" not in plan, plan
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock_df = inflated.query(Q18)
    plan = _phys(stock_df)
    assert plan.count("lineitem.parquet") == 2, plan
    assert plan.count("LeftSemi") == 1, plan
    got = folded.toPandas()
    compare_frames(got, stock_df.toPandas(), ordered=True)
    compare_frames(got, ddb.execute(Q18_ORACLE).fetchdf(), ordered=True)


def test_gate_closed_at_test_scale(engine, monkeypatch):
    # real sf0.001 stats sit far below the fold's row gate: stock plan
    monkeypatch.delenv("SPARK_GRAFT_EAGER_AGG", raising=False)
    assert "LeftSemi" in _opt(engine.query(Q18))


@pytest.mark.parametrize("sql", [
    # NOT IN: three-valued NULL semantics — an anti join
    """SELECT count(*) AS n FROM orders WHERE o_orderkey NOT IN
       (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 200)""",
    # no HAVING: nothing for the fold to put on the partial aggregate
    """SELECT count(*) AS n FROM orders WHERE o_orderkey IN
       (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey)""",
])
def test_non_candidates_untouched(inflated, ddb, monkeypatch, sql):
    # every size gate open, still the stock anti/semi join
    monkeypatch.delenv("SPARK_GRAFT_EAGER_AGG", raising=False)
    df = inflated.query(sql)
    assert ("LeftAnti" if "NOT IN" in sql else "LeftSemi") in _opt(df)
    compare_frames(df.toPandas(), ddb.execute(sql).fetchdf())


def test_correlated_grouped_in_raises_unchanged(engine):
    # correlated + grouped IN is unsupported (decorrelation bails on
    # aggregated subqueries): the outer reference does not resolve
    from sql_to_ibis_spark.errors import ColumnNotFoundError
    sql = """SELECT count(*) AS n FROM orders o WHERE o_orderkey IN
       (SELECT l_orderkey FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        GROUP BY l_orderkey HAVING sum(l_quantity) > 0)"""
    with pytest.raises(ColumnNotFoundError):
        engine.query(sql)


def test_in_over_join_with_equated_keys_matches_oracle(inflated, ddb):
    # d.doc_id ~ e.user_id: the IN operand is equi-connected to a second
    # table, a shape the fold does not take (no fact aggregate)
    sql = """
        SELECT count(*) AS n FROM documents d
        JOIN events e ON d.doc_id = e.user_id
        WHERE d.doc_id IN (SELECT doc_id FROM documents
          GROUP BY doc_id HAVING count(*) >= 1)
    """
    compare_frames(inflated.query(sql).toPandas(), ddb.execute(sql).fetchdf())
