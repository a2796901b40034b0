"""Total-over-groups rewrite (TPC-H q11 shape): an uncorrelated scalar
subquery in HAVING / select position that aggregates the SAME FROM+WHERE
as the outer grouped query compiles to a merge re-aggregation of the
outer's own grouped frame, broadcast-cross-joined back — one execution
of the join/scan instead of two.

Every rewrite test is a DuckDB oracle comparison (values must be
identical with and without the rewrite) plus a plan assertion. Since
round 9 the merge is an aggregate over the grouped frame (parallel
partials) instead of an unpartitioned window (single-task funnel), so
the positive pin is RUNTIME exchange reuse: both consumers share the
same grouped subtree, and AQE's ReusedExchange proves the base data was
scanned/shuffled once. Independently compiled outer+subquery pairs
never reuse (canonical matching fails across DeduplicateRelations —
BASELINE.md round-7 investigation), which is what the negative pins
assert.

r14 amendment: that reuse holds only at tiny scale — at sf1+ the final
adaptive plan carries TWO full scans and zero ReusedExchange (AQE's
canonical-stage matching does not unify the consumers), so the merge
now pins the grouped frame (stats-gated localCheckpoint); the pin tests
at the bottom assert the single-materialization plan.
"""

from __future__ import annotations

import pytest

from tests.conftest import compare_frames

Q11_STYLE = """
    SELECT l.l_partkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS decimal(18,4))) AS double) AS part_value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_quantity > 10
    GROUP BY l.l_partkey
    HAVING sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        AS decimal(18,4))) > (
      SELECT sum(CAST(l2.l_extendedprice * (1 - l2.l_discount)
          AS decimal(18,4))) * CAST(0.001 AS double)
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      WHERE l2.l_quantity > 10)
    ORDER BY part_value DESC, l_partkey LIMIT 50
"""

Q11_STRING_KEY = (Q11_STYLE.replace("l.l_partkey", "l.l_returnflag")
                  .replace("l_partkey", "l_returnflag"))


def scan_count(engine, sql: str) -> int:
    """Static physical scans before execution (negative pins only —
    the rewritten positive plans print the shared subtree twice and
    dedupe it at runtime)."""
    df = engine.query(sql)
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Scan parquet")


def runtime_reuses(engine, sql: str) -> int:
    """ReusedExchange count in the final adaptive plan after execution:
    >0 proves the grouped subtree was computed once for both the frame
    and its total."""
    df = engine.query(sql)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ReusedExchange")


def test_q11_shape_with_id_key_rewrites(engine, oracle):
    # numeric ID key (~2M groups at sf10): the round-7 window form was
    # gated OFF here (single-task merge cost more than the scan it
    # saved); the aggregate+broadcast merge wins at any cardinality
    # (measured sf10: 2.1 s vs 5.0 s recomputing) so the gate is gone
    assert runtime_reuses(engine, Q11_STYLE) >= 1
    oracle(Q11_STYLE)


def test_q11_shape_string_key_rewrites_to_single_pass(engine, oracle):
    assert runtime_reuses(engine, Q11_STRING_KEY) >= 1
    oracle(Q11_STRING_KEY)


def test_rewrite_off_matches(engine, monkeypatch):
    before = engine.query(Q11_STRING_KEY).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_GROUP_TOTAL_REWRITE", "0")
    # static double compile: the join tree is scanned twice (4 scans);
    # (runtime may still reuse the small-side BROADCAST exchange, so the
    # negative pin is the static scan count, not reuse absence)
    assert scan_count(engine, Q11_STRING_KEY) == 4
    after = engine.query(Q11_STRING_KEY).toPandas()
    compare_frames(before, after, ordered=True)


def test_share_of_total_in_select_item(engine, oracle):
    sql = """
        SELECT l_returnflag,
               round(CAST(sum(l_extendedprice) AS double)
                     / (SELECT sum(l_extendedprice) FROM lineitem), 6)
                   AS revenue_share
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag
    """
    assert runtime_reuses(engine, sql) >= 1
    oracle(sql)


def test_count_star_total(engine, oracle):
    sql = """
        SELECT l_linestatus, count(*) AS n
        FROM lineitem
        WHERE l_quantity > 25
        GROUP BY l_linestatus
        HAVING count(*) * 10 > (SELECT count(*) FROM lineitem
                                WHERE l_quantity > 25)
        ORDER BY l_linestatus
    """
    assert runtime_reuses(engine, sql) >= 1
    oracle(sql)


def test_no_single_partition_exchange(engine):
    # the scale property the round-9 merge form buys: no group funnel —
    # the only SinglePartition exchange allowed is the 1-row total merge
    # (partials-per-partition), never the grouped frame itself
    df = engine.query(Q11_STYLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_different_where_not_rewritten(engine, oracle):
    # inner WHERE differs → totals over different rows; must NOT rewrite
    sql = """
        SELECT l_linestatus, count(*) AS n
        FROM lineitem
        WHERE l_quantity > 25
        GROUP BY l_linestatus
        HAVING count(*) * 3 > (SELECT count(*) FROM lineitem
                               WHERE l_quantity > 40)
        ORDER BY l_linestatus
    """
    assert scan_count(engine, sql) == 2
    oracle(sql)


def test_min_max_total(engine, oracle):
    sql = """
        SELECT l_returnflag, max(l_extendedprice) AS grp_max
        FROM lineitem
        GROUP BY l_returnflag
        HAVING max(l_extendedprice) = (SELECT max(l_extendedprice)
                                       FROM lineitem)
        ORDER BY l_returnflag
    """
    assert runtime_reuses(engine, sql) >= 1
    oracle(sql)


def test_rollup_not_rewritten(engine, oracle):
    # rollup groups overlap — re-aggregating partials would double count
    sql = """
        SELECT l_returnflag, count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag)
        HAVING count(*) > (SELECT count(*) FROM lineitem) / 10
        ORDER BY l_returnflag
    """
    assert scan_count(engine, sql) == 2
    oracle("""
        SELECT l_returnflag, count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag)
        HAVING count(*) > (SELECT count(*) FROM lineitem) / 10
        ORDER BY l_returnflag
    """)


def test_avg_not_rewritten_but_correct(oracle):
    # avg isn't decomposable by this rewrite — falls back, stays correct
    oracle("""
        SELECT l_returnflag, round(avg(l_quantity), 4) AS aq
        FROM lineitem
        GROUP BY l_returnflag
        HAVING avg(l_quantity) > (SELECT avg(l_quantity) FROM lineitem) - 5
        ORDER BY l_returnflag
    """)


def test_subquery_in_where_not_total_rewritten(oracle):
    # WHERE is pre-aggregation — the rewrite must not fire there
    oracle("""
        SELECT l_returnflag, count(*) AS n
        FROM lineitem
        WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
        GROUP BY l_returnflag ORDER BY l_returnflag
    """)


def test_total_pin_forced_single_scan_and_matches(engine, monkeypatch):
    # r14: AQE canonical-stage matching does NOT unify the two consumers
    # of the grouped frame on this Spark version (sf1+ final plans carry
    # two full scans, zero ReusedExchange), so the merge pins the
    # grouped frame (localCheckpoint) when the stats gate fires. Forced
    # pin: the final plan reads the checkpoint RDD — ZERO parquet scans
    # of the base — and values are identical to the unpinned form.
    unpinned = engine.query(Q11_STRING_KEY).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_TOTAL_PIN", "1")
    df = engine.query(Q11_STRING_KEY)
    pinned = df.toPandas()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    compare_frames(unpinned, pinned, ordered=True)


def test_total_pin_stats_gate(engine, monkeypatch):
    # unset flag → gate keys off base-table row stats: tiny tables don't
    # pin (barrier costs more than the overlapped second execution
    # saves); big tables do (half the work at equal wall)
    from sql_to_ibis_spark.sources.table_stats import TableStats

    monkeypatch.delenv("SPARK_GRAFT_TOTAL_PIN", raising=False)
    entry = engine.catalog.get("lineitem")
    saved = entry.stats
    try:
        plan = engine.explain(Q11_STRING_KEY)
        assert "Scan parquet" in plan        # sf0.001: unpinned
        entry.stats = TableStats(rows=50_000_000)
        df = engine.query(Q11_STRING_KEY)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    finally:
        entry.stats = saved
