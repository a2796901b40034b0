"""CTE-scalar attach (TPC-H q15 shape): a WHERE-position scalar
subquery aggregating a CTE the outer FROM also joins compiles to an
aggregate over the CTE's grouped frame, broadcast-cross-joined back
before the join — ONE execution of the CTE subtree instead of two.
(Measured in BASELINE.md round 7: Spark cannot reuse the shared subplan
across two independent compilations, so without the rewrite the CTE's
whole scan+shuffle runs twice. With the rewrite the grouped frame is
lazily localCheckpoint-ed and both consumers read that one
materialization — since round 9 the merge is a parallel aggregate, not
an unpartitioned single-task window.)

Every rewrite test is a DuckDB oracle comparison plus, where the rewrite
should fire, a runtime plan assertion that the CTE materialized once; the guard tests assert the rewrite does NOT fire (static scan
count stays doubled) and results stay correct.
"""

from __future__ import annotations

import re

from tests.conftest import compare_frames

Q15_STYLE = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(18,4)))
             AS double) AS total_revenue
      FROM lineitem
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
"""


def lineitem_scans(engine, sql: str) -> int:
    plan = engine.query(sql)._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Scan parquet[^\n]*lineitem", plan))


def runtime_single_execution(engine, sql: str) -> bool:
    """The CTE frame is lazily localCheckpoint-ed: its one materialization
    job does the only lineitem scan, and the final plan reads the shared
    RDD for BOTH consumers (frame + scalar total) — zero parquet scans of
    lineitem remain in the main plan."""
    import re
    df = engine.query(sql)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    rdd_reads = final.count("ExistingRDD") + final.count("LogicalRDD")
    return (len(re.findall(r"Scan parquet[^\n]*lineitem", final)) == 0
            and rdd_reads >= 2)


def test_q15_shape_single_cte_execution(engine, oracle):
    assert runtime_single_execution(engine, Q15_STYLE)
    oracle(Q15_STYLE)


def test_rewrite_off_matches(engine, monkeypatch):
    before = engine.query(Q15_STYLE).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_CTE_SCALAR_ATTACH", "0")
    assert lineitem_scans(engine, Q15_STYLE) == 2
    after = engine.query(Q15_STYLE).toPandas()
    compare_frames(before, after, ordered=True)


def test_avg_and_arithmetic_scalar(engine, oracle):
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT r.sk, r.q
        FROM rev r
        WHERE r.q > (SELECT avg(q) FROM rev) * 1.5
        ORDER BY r.sk
    """
    assert runtime_single_execution(engine, sql)
    oracle(sql)


def test_count_star_and_two_scalars(engine, oracle):
    # two qualifying scalars over the same CTE attach as two columns
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT r.sk
        FROM rev r
        WHERE r.q * (SELECT count(*) FROM rev) >
              (SELECT max(q) - min(q) FROM rev)
        ORDER BY r.sk
    """
    assert runtime_single_execution(engine, sql)
    oracle(sql)


def test_guard_null_extended_side_not_rewritten(engine, oracle):
    # revenue on the null-supplying side of a LEFT JOIN: attached column
    # would be NULL on unmatched rows where the true scalar is a constant
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT s.s_suppkey, r.q
        FROM supplier s LEFT JOIN rev r ON s.s_suppkey = r.sk
        WHERE r.q IS NULL OR r.q = (SELECT max(q) FROM rev)
        ORDER BY s.s_suppkey
    """
    assert lineitem_scans(engine, sql) == 2
    oracle(sql)


def test_guard_cte_referenced_twice_not_rewritten(engine, oracle):
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT a.sk AS sk
        FROM rev a JOIN rev b ON a.sk = b.sk
        WHERE a.q = (SELECT max(q) FROM rev)
        ORDER BY a.sk
    """
    # 2 outer occurrences + 1 scalar execution (no attach)
    assert lineitem_scans(engine, sql) == 3
    oracle(sql)


def test_guard_scalar_with_where_not_rewritten(engine, oracle):
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT r.sk
        FROM rev r
        WHERE r.q = (SELECT max(q) FROM rev WHERE sk > 10)
        ORDER BY r.sk
    """
    assert lineitem_scans(engine, sql) == 2
    oracle(sql)


def test_guard_unaggregated_cte_not_rewritten(engine, oracle):
    # CTE output is NOT group-reduced: a global window over it would
    # funnel the raw rows through one task — rewrite must stay off
    sql = """
        WITH li AS (
          SELECT l_suppkey AS sk, l_quantity AS q FROM lineitem)
        SELECT li.sk
        FROM li
        WHERE li.q > (SELECT avg(q) FROM li)
        ORDER BY li.sk LIMIT 20
    """
    assert lineitem_scans(engine, sql) == 2
    oracle(sql)


def test_guard_distinct_agg_not_rewritten(engine, oracle):
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT r.sk
        FROM rev r
        WHERE r.q < (SELECT count(DISTINCT q) FROM rev)
        ORDER BY r.sk
    """
    assert lineitem_scans(engine, sql) == 2
    oracle(sql)


def test_guard_pivot_source_not_rewritten(engine):
    # the CTE also feeds a PIVOT source, which compiles through
    # _compile_relation in the same body: the attach must stay off so the
    # pivot path cannot consume it (and results must still be correct)
    sql = """
        WITH rev AS (
          SELECT l_returnflag AS rf, l_linestatus AS ls,
                 CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_returnflag, l_linestatus)
        SELECT p.rf AS rf
        FROM rev PIVOT (sum(q) FOR ls IN ('F', 'O')) p
        WHERE (SELECT max(q) FROM rev) > 0
        ORDER BY rf
    """
    out = engine.query(sql).toPandas()
    assert len(out) >= 1


def test_select_item_position_untouched(engine, oracle):
    # select-list scalars keep the normal broadcast-join path (a grouped
    # outer would aggregate the attached column away)
    sql = """
        WITH rev AS (
          SELECT l_suppkey AS sk, CAST(sum(l_quantity) AS double) AS q
          FROM lineitem GROUP BY l_suppkey)
        SELECT r.sk, round(r.q / (SELECT sum(q) FROM rev), 8) AS share
        FROM rev r
        ORDER BY r.sk
    """
    oracle(sql)
