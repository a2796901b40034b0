"""First-class bucketed layout (SqlEngine.snapshot_bucketed): the
engine writes a registered table as a bucketed managed table and swaps
the registration, so joins/aggregations on the bucket key skip their
shuffle exchanges. Promoted from an A/B script (measured at sf10,
BASELINE.md: q18 exchanges 3→0, wall −48%).
Tests pin exchange elimination on the q18 shape AND result equality.
"""

from __future__ import annotations

import pytest

from sql_to_ibis_spark import SqlEngine
from tests.conftest import SF_DIR, compare_frames

Q18_SHAPE = """
    SELECT c_name, o.o_orderkey AS okey, o_totalprice,
           CAST(sum(l_quantity) AS double) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c_name, o.o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, okey LIMIT 100
"""


def _exchanges(eng: SqlEngine, sql: str) -> int:
    plan = eng.query(sql)._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


@pytest.fixture(scope="module")
def bucketed_engine(spark):
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    eng.snapshot_bucketed("lineitem", ["l_orderkey"], num_buckets=4)
    eng.snapshot_bucketed("orders", ["o_orderkey"], num_buckets=4)
    return eng


def test_bucketed_join_drops_exchanges(engine, bucketed_engine):
    stock = _exchanges(engine, Q18_SHAPE)
    bucketed = _exchanges(bucketed_engine, Q18_SHAPE)
    assert bucketed < stock, (stock, bucketed)


def test_bucketed_results_identical(engine, bucketed_engine):
    stock = engine.query(Q18_SHAPE).toPandas()
    bucketed = bucketed_engine.query(Q18_SHAPE).toPandas()
    compare_frames(stock, bucketed, ordered=True)


def test_bucketed_groupby_on_key_skips_shuffle(engine, bucketed_engine):
    # aggregation keyed on the bucket column reuses the bucket
    # partitioning — zero hash exchanges below the final collect
    sql = """
        SELECT l_orderkey, CAST(sum(l_quantity) AS double) AS q
        FROM lineitem GROUP BY l_orderkey
    """
    assert _exchanges(bucketed_engine, sql) == 0
    assert _exchanges(engine, sql) >= 1
    compare_frames(engine.query(sql).toPandas(),
                   bucketed_engine.query(sql).toPandas())


def test_snapshot_preserves_stats_for_planners(bucketed_engine):
    # footer stats are re-collected from the snapshot files so the
    # stats-driven rewrites keep their inputs over the new layout
    st = bucketed_engine.catalog.get("lineitem").stats
    assert st is not None and st.rows > 0


def test_bucketed_window_decorrelation_exchange_free(engine,
                                                     bucketed_engine,
                                                     ddb):
    # the q17 shape: window decorrelation partitions by l_orderkey, so
    # the order-key buckets satisfy the window's distribution — zero
    # exchanges (measured sf10: 4.07 → 1.28 s, 3.5× → 1.10× DuckDB)
    sql = """
        SELECT round(CAST(sum(l_extendedprice) AS double) / 7.0, 2)
               AS avg_yearly
        FROM lineitem l1 WHERE l1.l_quantity <
          (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
           WHERE l2.l_orderkey = l1.l_orderkey)
    """
    assert _exchanges(bucketed_engine, sql) == 0
    assert _exchanges(engine, sql) >= 1
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(bucketed_engine.query(sql).toPandas(), oracle,
                   ordered=True)
