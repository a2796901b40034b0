"""Star semi-join reduction pass (compiler.py `_plan_semi_reduction`).

Pre-filters large inner-join fact scans with broadcast semi joins against
their (transitively) filtered small dimension chains — the runtime analog
of CBO join reordering (Spark only reorders with ANALYZE stats, which
in-memory DataFrames never have). Sound only for inner joins and
deterministic predicates; these tests pin the gates, the bail-outs, and
result equality with the reduction forced on.
"""

from __future__ import annotations

import pytest

from tests.test_plan_quality import plan_of

Q5 = """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS decimal(18,4))) AS double) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' GROUP BY n.n_name ORDER BY revenue DESC
"""


@pytest.fixture
def forced(monkeypatch):
    """Force the pass on regardless of table size (test data is tiny)."""
    monkeypatch.setenv("SPARK_GRAFT_SEMIJOIN_REDUCTION", "1")


def test_noop_below_size_gates(engine):
    # default gates: 64 MB fact minimum — sf0.001 tables never qualify,
    # so small queries pay zero extra plan nodes
    plan = plan_of(engine.query(Q5), "simple")
    assert "LeftSemi" not in plan


def test_reduction_fires_and_preserves_results(engine, forced, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SEMIJOIN_REDUCTION", "0")
    baseline = sorted(map(tuple, engine.query(Q5).collect()))
    monkeypatch.setenv("SPARK_GRAFT_SEMIJOIN_REDUCTION", "1")
    plan = plan_of(engine.query(Q5), "simple")
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    reduced = sorted(map(tuple, engine.query(Q5).collect()))
    assert reduced == baseline


def test_reduction_results_match_oracle(oracle, forced):
    # full DuckDB comparison with the pass active on every join
    oracle(Q5)
    oracle("""
        SELECT count(*) AS n
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_size = 1
    """)


def test_outer_join_tree_not_reduced(engine, oracle, forced):
    # LEFT JOIN trees must bail: removing right-side rows changes
    # NULL-extension; removing left-side rows loses output rows
    sql = """
        SELECT count(*) AS n, count(s.s_name) AS matched
        FROM supplier s
        LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
            AND n.n_name = 'NATION_1'
    """
    plan = plan_of(engine.query(sql), "simple")
    assert "LeftSemi" not in plan
    oracle(sql)


def test_nondeterministic_predicate_not_used(engine, forced):
    # rand() evaluated twice (reducer + real filter) would diverge — the
    # conjunct must be excluded; with no other filter in the chain the
    # reduction must not fire at all
    sql = """
        SELECT count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE random() < 2.0
    """
    plan = plan_of(engine.query(sql), "simple")
    assert "LeftSemi" not in plan


def test_subquery_predicate_not_used(engine, forced):
    # IN-subquery conjuncts are not semi-reduction inputs (they decorrelate
    # through their own path); chain has no literal filter -> no reduction
    sql = """
        SELECT count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey IN (SELECT n_nationkey FROM nation
                                WHERE n_regionkey = 1)
    """
    plan = plan_of(engine.query(sql), "simple")
    # the IN itself plans a LeftSemi; the reduction must not add more
    assert plan.count("LeftSemi") <= 1


def test_comma_from_where_edges_reduce(engine, oracle, forced):
    # comma-FROM + WHERE equality edges are inner-join semantics; the
    # filtered part table must semi-reduce the lineitem scan
    sql = """
        SELECT count(*) AS n
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_size = 1
    """
    plan = plan_of(engine.query(sql), "simple")
    assert "LeftSemi" in plan
    oracle(sql)


def test_self_join_not_reduced(engine, forced):
    # same-table edges are skipped (trivial self-semi)
    sql = """
        SELECT count(*) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE b.l_quantity > 49
    """
    plan = plan_of(engine.query(sql), "simple")
    assert "LeftSemi" not in plan


def test_quantified_compare_in_or_conjunct_not_reduced(oracle, forced):
    # r7 regression (ADVICE r6 high): the reducer runs BEFORE quantifier
    # lowering, and a conjunct like (dim-local OR x > ANY(sub)) used to be
    # classified dimension-local — compile_expr then crashed on the raw
    # QuantifiedCompare node with the gates open. It must be excluded from
    # the conjunct pool (subquery-bearing) and still evaluate correctly.
    oracle("""
        SELECT n_name, count(*) AS n
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        WHERE (n_regionkey = 1
               OR c_acctbal > ANY (SELECT o_totalprice / 100000 FROM orders))
        GROUP BY n_name ORDER BY n_name
    """)
