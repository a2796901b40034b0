"""Property-based differential testing over the r14 rewrite surface:
constraint flag rewrites (CASE-position dim predicates → filtered
keyset flag joins + join elimination), shared-tree MIN/MAX window
decorrelation, and the forced total-over-groups pin — all randomized
against DuckDB running the identical statement, with the gates forced
open so every example exercises the rewritten plan."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sql_to_ibis_spark import SqlEngine
from tests.conftest import SF_DIR, compare_frames

FUZZ = settings(max_examples=20, deadline=None,
                suppress_health_check=[
                    HealthCheck.too_slow,
                    HealthCheck.function_scoped_fixture])

TYPES = ["PROMO", "STANDARD", "ECONOMY", "MEDIUM", "LARGE"]
CMPS = ["=", "<>", "<", ">="]


@pytest.fixture(scope="module")
def ceng(spark):
    os.environ["SPARK_GRAFT_CONSTRAINT_REWRITE"] = "1"
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    for t, c in (("part", "p_partkey"), ("supplier", "s_suppkey"),
                 ("orders", "o_orderkey")):
        eng.add_primary_key(t, c)
    for t, c, r in (("lineitem", "l_partkey", "part"),
                    ("lineitem", "l_suppkey", "supplier"),
                    ("lineitem", "l_orderkey", "orders")):
        eng.add_foreign_key(t, c, r)
    yield eng
    os.environ.pop("SPARK_GRAFT_CONSTRAINT_REWRITE", None)


def _check(ceng, ddb, sql):
    got = ceng.query(sql).toPandas()
    exp = ddb.execute(sql).df()
    compare_frames(got, exp, ordered=True)


# ------------------------------------------------ constraint flag rewrite

@given(
    ptype=st.sampled_from(TYPES),
    psize=st.integers(min_value=1, max_value=50),
    cmp=st.sampled_from(CMPS),
    neg=st.booleans(),
    qty=st.integers(min_value=1, max_value=40),
)
@FUZZ
def test_random_case_flag_predicates(ceng, ddb, ptype, psize, cmp, neg,
                                     qty):
    pred = f"p.p_type = '{ptype}' AND p.p_size {cmp} {psize}"
    if neg:
        pred = f"NOT ({pred})"
    sql = f"""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN {pred}
                        THEN l.l_extendedprice ELSE 0.0 END) AS double)
                   AS flagged,
               count(*) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > {qty}
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """
    plan = ceng.query(sql)._jdf.queryExecution().executedPlan().toString()
    assert "__cf0_k0" in plan, plan      # the rewrite actually fired
    _check(ceng, ddb, sql)


@given(
    p1=st.sampled_from(TYPES),
    p2=st.sampled_from(TYPES),
    agg=st.sampled_from(["sum", "count", "max"]),
)
@FUZZ
def test_random_two_distinct_flags(ceng, ddb, p1, p2, agg):
    arg = "l.l_extendedprice" if agg != "count" else "*"
    sql = f"""
        SELECT
          CAST({agg}(CASE WHEN p.p_type = '{p1}' THEN {arg.replace('*',
              '1')} END) AS double) AS a,
          CAST({agg}(CASE WHEN p.p_type = '{p2}' THEN {arg.replace('*',
              '1')} END) AS double) AS b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """
    _check(ceng, ddb, sql)


@given(
    qty=st.integers(min_value=1, max_value=45),
    use_supplier=st.booleans(),
)
@FUZZ
def test_random_dead_join_elimination(ceng, ddb, qty, use_supplier):
    dim = ("JOIN supplier s ON s.s_suppkey = l.l_suppkey" if use_supplier
           else "JOIN part p ON l.l_partkey = p.p_partkey")
    sql = f"""
        SELECT l.l_linestatus, count(*) AS n,
               CAST(sum(l.l_quantity) AS double) AS q
        FROM lineitem l {dim}
        WHERE l.l_quantity <= {qty}
        GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """
    plan = ceng.query(sql)._jdf.queryExecution().executedPlan().toString()
    tbl = "supplier.parquet" if use_supplier else "part.parquet"
    assert tbl not in plan, plan         # the join is gone
    _check(ceng, ddb, sql)


# ------------------------------------- shared-tree window decorrelation

@given(
    aggf=st.sampled_from(["min", "max"]),
    cmp=st.sampled_from(["=", ">", "<="]),
    psize=st.integers(min_value=1, max_value=50),
    local_qty=st.one_of(st.none(), st.integers(min_value=1, max_value=40)),
)
@FUZZ
def test_random_shared_window_decorrelation(engine, ddb, aggf, cmp, psize,
                                            local_qty):
    local = (f"AND l2.l_quantity > {local_qty}"
             if local_qty is not None else "")
    sql = f"""
        SELECT count(*) AS n,
               CAST(sum(l.l_extendedprice) AS double) AS tot
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_size = {psize}
          AND l.l_extendedprice {cmp} (
            SELECT {aggf}(l2.l_extendedprice) FROM lineitem l2
            JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
            WHERE l2.l_partkey = p.p_partkey {local})
    """
    plan = engine.query(sql)._jdf.queryExecution().executedPlan().toString()
    assert "__corrwin0" in plan, plan
    _check(engine, ddb, sql)


# --------------------------------------------- forced total-over-groups pin

@given(
    aggf=st.sampled_from(["sum", "count", "min", "max"]),
    frac=st.floats(min_value=0.0001, max_value=0.2),
    qty=st.integers(min_value=1, max_value=40),
)
@FUZZ
def test_random_total_pin_matches(engine, ddb, monkeypatch, aggf, frac,
                                  qty):
    monkeypatch.setenv("SPARK_GRAFT_TOTAL_PIN", "1")
    arg = "l_extendedprice" if aggf != "count" else "*"
    sql = f"""
        SELECT l_returnflag,
               CAST({aggf}({arg}) AS double) AS v
        FROM lineitem WHERE l_quantity > {qty}
        GROUP BY l_returnflag
        HAVING {aggf}({arg}) > (
          SELECT {aggf}({arg}) * {frac} FROM lineitem
          WHERE l_quantity > {qty})
        ORDER BY l_returnflag
    """
    _check(engine, ddb, sql)
