"""Plan-quality regression tests: the compiled DataFrame plans must keep the
shapes that make them scale — pushed filters, pruned scans, broadcast dim
joins, partial aggregation, TakeOrderedAndProject top-k, and no Python
row-UDFs in the scalar path. A correctness-preserving change that loses one
of these silently costs 10-100× at 100 TB; these tests make that loud."""

from __future__ import annotations

import contextlib
import io

import pytest


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(engine):
    df = engine.query(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 40")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,40" in plan.replace(" ", "")


def test_column_pruning_reaches_scan(engine):
    df = engine.query("SELECT l_orderkey, l_quantity FROM lineitem")
    plan = plan_of(df)
    # the 11-column table must be read as exactly the 2 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dimension_join_broadcasts(engine):
    df = engine.query(
        "SELECT c.c_name, n.n_name FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregation_is_partial(engine):
    df = engine.query(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag")
    plan = plan_of(df)
    # map-side partial + final: two HashAggregates around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_topk_plans_take_ordered(engine):
    df = engine.query(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC LIMIT 10")
    plan = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in plan


def test_scalar_path_has_no_python_udf(engine):
    df = engine.query(
        "SELECT upper(l_returnflag) AS u, l_quantity * 2 AS q2, "
        "CASE WHEN l_discount > 0.05 THEN 'hi' ELSE 'lo' END AS b "
        "FROM lineitem WHERE l_extendedprice BETWEEN 100 AND 50000")
    plan = plan_of(df, "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # '*(N)' prefixes mark whole-stage-codegen spans in simple mode
    assert "*(1)" in plan


def test_in_subquery_is_semi_join_not_collect(engine):
    df = engine.query(
        "SELECT c_custkey FROM customer WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)")
    plan = plan_of(df, "simple")
    assert "LeftSemi" in plan


def test_correlated_exists_is_semi_join(engine):
    df = engine.query(
        "SELECT o_orderkey FROM orders o WHERE EXISTS "
        "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
        "AND l.l_quantity > 49)")
    plan = plan_of(df, "simple")
    # decorrelated to a hash semi join on the correlation key — the plan
    # must not contain a nested-loop over the outer side
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_subquery_joins_broadcast(engine):
    df = engine.query(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)")
    plan = plan_of(df, "simple")
    # 1-row side broadcast; no shuffle of the outer table for the bind
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_tables_join_without_shuffle(engine, spark):
    """Two tables bucketed the same way on the join key must sort-merge
    join with NO Exchange on either side — the co-location primitive for
    repeated big-big joins at scale (sources/sinks.write_bucketed_table)."""
    from sql_to_ibis_spark.sources import sinks

    orders = engine.query("SELECT o_orderkey, o_totalprice FROM orders")
    items = engine.query(
        "SELECT l_orderkey, l_quantity FROM lineitem")
    try:
        sinks.write_bucketed_table(orders, "b_orders", ["o_orderkey"],
                                   num_buckets=8, sort_cols=["o_orderkey"])
        sinks.write_bucketed_table(items, "b_items", ["l_orderkey"],
                                   num_buckets=8, sort_cols=["l_orderkey"])
        # disable broadcast so the planner actually uses the bucketing (at
        # test scale everything fits the broadcast threshold; at 100 TB the
        # sort-merge path below is what runs)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_items"),
            spark.table("b_orders")["o_orderkey"]
            == spark.table("b_items")["l_orderkey"],
        )
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_explicit_broadcast_hint(engine, spark, monkeypatch):
    """FROM ... JOIN broadcast(t) forces a broadcast join even when the
    planner wouldn't pick one (Spark threshold disabled AND the footer-
    stats planner off — the r7 stats planner would otherwise hint the
    nation side on its own, which is exactly its job)."""
    monkeypatch.setenv("SPARK_GRAFT_STATS_BROADCAST", "0")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted = engine.query(
            "SELECT c.c_name, n.n_name FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey")
        hinted = engine.query(
            "SELECT c.c_name, n.n_name FROM customer c "
            "JOIN broadcast(nation) n ON c.c_nationkey = n.n_nationkey")
        assert "BroadcastHashJoin" not in plan_of(unhinted, "simple")
        assert "BroadcastHashJoin" in plan_of(hinted, "simple")
        assert hinted.count() == unhinted.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_theta_correlated_exists_plans_semi_anti(engine):
    # Q21 shape: EXISTS and NOT EXISTS with non-equality correlation must
    # plan as distributed semi/anti joins on the equality key (theta part
    # rides as a join filter) — never a per-row subquery or collect
    df = engine.query(
        "SELECT count(*) AS n FROM lineitem l1 "
        "WHERE l1.l_returnflag = 'R' "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "            WHERE l2.l_orderkey = l1.l_orderkey "
        "            AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "                WHERE l3.l_orderkey = l1.l_orderkey "
        "                AND l3.l_suppkey <> l1.l_suppkey "
        "                AND l3.l_returnflag = 'R')")
    plan = plan_of(df, "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equality_correlated_scalar_avoids_nested_loop(engine):
    # Q17 shape: equality-correlated scalar must use the groupBy rewrite
    # (hash join on the key), not a nested-loop join
    df = engine.query(
        "SELECT sum(l_extendedprice) AS s FROM lineitem l1 "
        "WHERE l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity) "
        "FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey)")
    plan = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_predicates_pushed_to_scan(engine):
    # Q19 shape: the OR-of-brackets predicate parts referencing only scan
    # columns must reach the parquet scan as pushed filters
    df = engine.query(
        "SELECT count(*) AS n FROM part "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5) "
        "   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10)")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "Or(" in plan


def test_values_relation_is_local_plan(engine):
    # inline VALUES must not scan anything or shuffle
    df = engine.query(
        "SELECT id, name FROM (VALUES (1, 'a'), (2, 'b')) t(id, name)")
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan and "parquet" not in plan.lower()


def test_quantified_correlated_plans_single_shuffle(engine):
    # x >= ALL correlated on the same table lowers to three window
    # aggregates sharing ONE exchange — never a join per aggregate
    df = engine.query(
        "SELECT count(*) AS n FROM lineitem l1 "
        "WHERE l1.l_quantity >= ALL (SELECT l2.l_quantity FROM lineitem l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey)")
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert join not in plan, plan


def test_quantified_ordered_fuses_single_inner_pass(engine):
    # r7: the ordered-form quantifier lowering emits (count, extremum,
    # null-count) as ONE fused aggregation over the inner subquery — one
    # bind join, not three re-runs of the inner GROUP BY+HAVING. Pin the
    # executed-plan exchange count (was 7 pre-fusion; inner groupBy +
    # fused global agg + outer global agg ≈ 4).
    df = engine.query(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > ANY "
        "(SELECT o_totalprice FROM orders GROUP BY o_totalprice "
        "HAVING count(*) > 1)")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 4, plan


def test_grouping_sets_preagg_rewrite(engine, monkeypatch):
    # r7: ROLLUP/CUBE over low-card keys pre-aggregates at the finest key
    # level BEFORE the Expand, so Expand replicates the tiny base instead
    # of every input row (sf10: rollup 2.07→1.09 s, cube 1.23→0.55 s).
    sql = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
           "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS s "
           "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")
    df = engine.query(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    i = plan.find("Expand")
    assert i >= 0, plan
    # the scan-side aggregate sits BELOW the Expand (printed after it) —
    # Expand replicates aggregated rows, not input rows
    assert "HashAggregate" in plan[i:], plan
    assert plan.count("Scan") == 1, plan
    # values must be identical to the Expand plan
    monkeypatch.setenv("SPARK_GRAFT_GROUPING_PREAGG", "0")
    expanded = engine.query(sql)
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    a = sorted(map(tuple, df.collect()), key=key)
    b = sorted(map(tuple, expanded.collect()), key=key)
    assert a == b


def test_partition_complete_filter_below_window_decorrelation(engine):
    # r7: a WHERE conjunct referencing only the window-decorrelated
    # scalar's partition key (q20's part semi-filter) must apply BELOW
    # the window, shrinking the window shuffle (sf10: q20 1.59→0.63 s).
    df = engine.query("""
        SELECT l1.l_suppkey FROM lineitem l1
        WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'part_1%')
        AND l1.l_quantity > (SELECT 0.5 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = l1.l_partkey)
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    i_win = plan.find("Window")
    assert i_win >= 0, plan
    # the semi join prints BELOW (after) the Window operator
    assert "LeftSemi" in plan[i_win:], plan


def test_repetition_signals_single_corpus_exchange(spark):
    # r11: repetition_signals' docpart plan hash-partitions the RAW
    # corpus by doc_id once (each source row is a whole document), so
    # every downstream aggregate is partition-local: exactly ONE shuffle
    # exchange, no joins, no broadcast of a doc-level frame, and one
    # parquet scan (the earlier split plan tokenized the corpus once but
    # paid 3 shuffles + a join; the docpart+split hybrid silently scanned
    # and tokenized the corpus TWICE via broken AQE exchange reuse).
    from sql_to_ibis_spark.operators import text
    from sql_to_ibis_spark.sources.readers import read_parquet

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    df = text.repetition_signals(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial sections; pin the executed (final) one
    plan = plan.split("== Initial Plan ==")[0]
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert len(shuffles) == 1, plan
    assert "REPARTITION_BY_COL" in shuffles[0], plan
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_prepart_agg_gate(engine, monkeypatch):
    # r11: near-unique-key GROUP BY pre-repartition (q18's HAVING
    # aggregate; sf10 end-to-end 5.79 → 4.28 s). Static gate stays
    # closed at test scale (rows << 4M); forced, the plan carries the
    # RepartitionByExpression below the aggregate and results are
    # unchanged; =0 disables even when forced... (=0 wins over =1 by
    # being the explicit kill switch checked first).
    from tests.conftest import compare_frames

    sql = ("SELECT l_orderkey, CAST(sum(l_quantity) AS double) AS s "
           "FROM lineitem GROUP BY l_orderkey "
           "HAVING sum(l_quantity) > 100")
    monkeypatch.delenv("SPARK_GRAFT_PREPART_AGG", raising=False)
    stock_df = engine.query(sql)
    assert "RepartitionByExpression" not in \
        stock_df._jdf.queryExecution().optimizedPlan().toString()
    stock = stock_df.toPandas()
    monkeypatch.setenv("SPARK_GRAFT_PREPART_AGG", "1")
    forced = engine.query(sql)
    assert "RepartitionByExpression" in \
        forced._jdf.queryExecution().optimizedPlan().toString()
    compare_frames(forced.toPandas(), stock)
    monkeypatch.setenv("SPARK_GRAFT_PREPART_AGG", "0")
    assert "RepartitionByExpression" not in \
        engine.query(sql)._jdf.queryExecution().optimizedPlan().toString()
