"""Eager aggregation (group-by pushdown below joins): a grouped
aggregate over fact ⋈ unfiltered dimensions partially aggregates the
fact subtree first (grouped by the dimension attach keys), joins the
dimensions to the partial result, and re-aggregates by the original
keys. The re-aggregation makes the rewrite correct WITHOUT any
dimension-key uniqueness assumption — the duplicate-key test below is
the case that breaks join-then-skip-reagg formulations.

SPARK_GRAFT_EAGER_AGG=1 forces on, =0 forces off; unset → automatic
when catalog stats show the largest retained table ≥
Compiler._EAGER_AGG_FACT_ROWS_MIN rows (200k) and the inner
group columns' NDV product promises ≥2× reduction.
"""

from __future__ import annotations

import pytest

from tests.conftest import compare_frames

Q10_STYLE = """
    SELECT c.c_custkey, c.c_name,
      CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS decimal(18,4))) AS double) AS revenue,
      c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP('1995-01-01')
      AND o.o_orderdate < TIMESTAMP('1995-07-01')
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
"""


def _n_aggregates(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "Aggregate ")


def test_q10_shape_matches_stock_and_oracle(engine, ddb, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(Q10_STYLE)
    assert _n_aggregates(stock) == 1
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(Q10_STYLE)
    # partial aggregate below the dimension join + final re-aggregate
    assert _n_aggregates(eager) == 2
    compare_frames(eager.toPandas(), stock.toPandas(), ordered=True)
    oracle = ddb.execute(Q10_STYLE.replace(
        "TIMESTAMP('1995-01-01')", "TIMESTAMP '1995-01-01'").replace(
        "TIMESTAMP('1995-07-01')", "TIMESTAMP '1995-07-01'")).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)


def test_group_key_without_attach_key(engine, monkeypatch):
    # the group keys do NOT contain the join key — only the final
    # re-aggregation makes this correct
    sql = """
        SELECT n.n_name, count(*) AS orders_cnt,
               CAST(sum(o.o_totalprice) AS double) AS total
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_duplicate_key_dimension(engine, spark, monkeypatch):
    # dimension with DUPLICATE join keys: each fact row matches twice,
    # so every SUM/COUNT doubles — the re-aggregation reproduces that;
    # a rewrite assuming key uniqueness would halve the counts
    dim = spark.createDataFrame(
        [(k, f"tag_{k}_{i}") for k in range(5) for i in range(2)],
        "k int, tag string")
    engine.register_temp_table(dim, "dup_dim")
    fact = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)],
        "id int, k int, v double")
    engine.register_temp_table(fact, "ea_fact")
    bridge = spark.createDataFrame(
        [(i % 5, i % 5) for i in range(5)], "k int, k2 int")
    engine.register_temp_table(bridge, "ea_bridge")
    sql = """
        SELECT d.tag, count(*) AS n, sum(f.v) AS sv,
               min(f.v) AS mn, max(f.v) AS mx
        FROM ea_fact f
        JOIN ea_bridge b ON b.k = f.k
        JOIN dup_dim d ON d.k = b.k2
        GROUP BY d.tag ORDER BY d.tag
    """
    try:
        monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
        stock = engine.query(sql).toPandas()
        monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
        eager = engine.query(sql)
        compare_frames(eager.toPandas(), stock, ordered=True)
        # each fact row matches BOTH duplicate dim rows → 2 × 100 total;
        # a uniqueness-assuming rewrite would report 100
        assert stock["n"].sum() == 200
    finally:
        engine.remove_temp_table("dup_dim")
        engine.remove_temp_table("ea_fact")
        engine.remove_temp_table("ea_bridge")


def test_having_and_expression_group_key(engine, monkeypatch):
    sql = """
        SELECT year(o.o_orderdate) AS yr, n.n_name,
               count(o.o_orderkey) AS cnt
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY year(o.o_orderdate), n.n_name
        HAVING count(o.o_orderkey) > 3
        ORDER BY yr, n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_gate_closed_by_default_at_test_scale(engine):
    # sf0.001 catalog stats are far below the 200k-row fact gate:
    # without the env force the plan must be the stock single aggregate
    assert _n_aggregates(engine.query(Q10_STYLE)) == 1


def test_bails_on_outer_join_and_filtered_dim(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    left = engine.query("""
        SELECT n.n_name, count(*) AS cnt
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    """)
    assert _n_aggregates(left) == 1
    # a WHERE predicate on the would-be dimension retains it: deferring
    # a filtered dim aggregates rows the stock plan filters out first
    filtered = engine.query("""
        SELECT c.c_name, count(*) AS cnt
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE n.n_name = 'NATION_3' AND c.c_acctbal > 0
        GROUP BY c.c_name
    """)
    assert _n_aggregates(filtered) == 1


def test_bails_on_distinct_and_avg(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    for agg in ("count(DISTINCT o.o_orderkey)", "avg(o.o_totalprice)"):
        df = engine.query(f"""
            SELECT n.n_name, {agg} AS x
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY n.n_name
        """)
        assert _n_aggregates(df) == 1


def test_theta_conjunct_between_retained_tables(engine, monkeypatch):
    # r10 regression (ADVICE r9 high): a non-equi ON conjunct between two
    # retained tables (l.l_shipdate > o.o_orderdate) was previously
    # classified "theta forces retention" but never re-emitted — the
    # rewrite fired with the predicate silently dropped, widening the
    # join. It must survive as an inner-node WHERE conjunct (all joins
    # inner, so ON ≡ WHERE) while the rewrite still fires.
    sql = """
        SELECT n.n_name, count(*) AS cnt,
               CAST(sum(l.l_extendedprice) AS double) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
                     AND l.l_shipdate > o.o_orderdate
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2  # rewrite fires, predicate retained
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_expression_equality_conjunct_retained(engine, monkeypatch):
    # expression equality (not ColumnRef=ColumnRef) is not an attach
    # edge; it must be kept as a retained-side predicate, not dropped
    sql = """
        SELECT n.n_name, count(*) AS cnt,
               CAST(sum(l.l_quantity) AS double) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
                     AND l.l_linenumber = o.o_orderkey % 5 + 1
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    compare_frames(eager.toPandas(), stock, ordered=True)


# ---------------------------------------------------------------- IN fold

Q18_SHAPE = """
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


def _n_fact_scans(df, fact: str = "lineitem") -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count(f"/{fact}")


def test_in_fold_single_scan_q18(engine, ddb, monkeypatch):
    # the IN (SELECT k FROM fact GROUP BY k HAVING ...) keyset folds into
    # the eager partial aggregate: ONE fact scan instead of two
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(Q18_SHAPE)
    assert _n_fact_scans(stock) >= 2
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    folded = engine.query(Q18_SHAPE)
    assert _n_fact_scans(folded) == 1
    compare_frames(folded.toPandas(), stock.toPandas(), ordered=True)
    oracle = ddb.execute(Q18_SHAPE).fetchdf()
    compare_frames(folded.toPandas(), oracle, ordered=True)


def test_in_fold_operand_on_fact_itself(engine, monkeypatch):
    # operand is the fact's own key column — equi-closure trivially holds
    sql = Q18_SHAPE.replace("WHERE o.o_orderkey IN",
                            "WHERE l.l_orderkey IN")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    folded = engine.query(sql)
    assert _n_fact_scans(folded) == 1
    compare_frames(folded.toPandas(), stock, ordered=True)


def test_in_fold_bails_on_fact_filter(engine, monkeypatch):
    # an outer filter on the fact makes the partial-aggregate row set
    # differ from the subquery's full scan — the fold (and with it the
    # whole rewrite) must bail to the stock keyset path
    sql = Q18_SHAPE.replace(
        "GROUP BY c_name", "AND l.l_linenumber <= 5 GROUP BY c_name")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    folded = engine.query(sql)
    assert _n_fact_scans(folded) >= 2
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    compare_frames(folded.toPandas(), stock, ordered=True)


def test_in_fold_bails_on_other_table_subquery(engine, monkeypatch):
    # subquery aggregates a DIFFERENT table than the fact — no fold
    sql = Q18_SHAPE.replace(
        "IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
        "HAVING sum(l_quantity) > 200)",
        "IN (SELECT o_orderkey FROM orders GROUP BY o_orderkey "
        "HAVING max(o_totalprice) > 1000)")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    folded = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    compare_frames(folded, stock, ordered=True)


def test_in_fold_disabled_env(engine, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG_FOLD_IN", "0")
    df = engine.query(Q18_SHAPE)
    assert _n_fact_scans(df) >= 2  # fold off → subquery bail → stock


def test_in_fold_count_star_having(engine, ddb, monkeypatch):
    # HAVING over count(*) — evaluated natively per partial group
    sql = Q18_SHAPE.replace("HAVING sum(l_quantity) > 200",
                            "HAVING count(*) > 6")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    folded = engine.query(sql)
    assert _n_fact_scans(folded) == 1
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(folded.toPandas(), oracle, ordered=True)


# -------------------------------------------- CASE decomposition + global

Q14_SHAPE = """
    SELECT 100.0 *
      CAST(sum(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS decimal(18,4))
               ELSE CAST(0 AS decimal(18,4)) END) AS double) /
      CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS decimal(18,4))) AS double) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""

CASE_GROUPED = """
    SELECT n.n_name,
      CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
               THEN l.l_quantity ELSE 0 END) AS double) AS building_qty,
      count(*) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
"""


def test_case_decomposition_global_q14(engine, ddb, monkeypatch):
    # a GLOBAL aggregate whose CASE predicate lives on the dimension:
    # forced → decomposed (partial per partkey below the join); auto →
    # stock (a global agg adds a shuffle it never had)
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(Q14_SHAPE)
    assert _n_aggregates(eager) == 2
    oracle = ddb.execute(Q14_SHAPE).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)
    monkeypatch.delenv("SPARK_GRAFT_EAGER_AGG")
    assert _n_aggregates(engine.query(Q14_SHAPE)) == 1


def test_case_decomposition_grouped(engine, ddb, monkeypatch):
    # grouped: the CASE's fact branch becomes a per-attach-key partial,
    # count(*) merges by summation, the condition re-evaluates over the
    # dimension join
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(CASE_GROUPED).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(CASE_GROUPED)
    assert _n_aggregates(eager) == 2
    compare_frames(eager.toPandas(), stock, ordered=True)
    oracle = ddb.execute(CASE_GROUPED).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)


def test_case_count_min_max_decompose(engine, ddb, monkeypatch):
    # count(CASE) with absent ELSE (NULL-neutral) and max(CASE) with a
    # literal ELSE both distribute over the dimension predicate
    sql = """
        SELECT n.n_name,
          count(CASE WHEN c.c_mktsegment = 'BUILDING'
                THEN l.l_linenumber END) AS building_lines,
          CAST(max(CASE WHEN c.c_mktsegment = 'BUILDING'
               THEN l.l_quantity ELSE 0 END) AS double) AS building_max
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)


def test_case_sum_nonzero_literal_bails(engine, monkeypatch):
    # SUM with a non-neutral constant branch (contributes per ROW) must
    # not decompose; the rewrite treats the CASE argument as plain,
    # which retains the condition's table — results must still match
    sql = CASE_GROUPED.replace("ELSE 0 END", "ELSE 1 END")
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_case_fact_condition_stays_plain(engine, ddb, monkeypatch):
    # condition on the FACT itself: the whole argument is fact-side, so
    # it pushes as a plain partial aggregate (classic eager agg)
    sql = """
        SELECT n.n_name,
          CAST(sum(CASE WHEN l.l_returnflag = 'R'
               THEN l.l_quantity ELSE 0 END) AS double) AS returned_qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)


def test_case_mixed_condition_bails(engine, monkeypatch):
    # condition spanning fact AND dimension cannot sit on either side —
    # the rewrite must leave the stock plan (and stay correct)
    sql = """
        SELECT n.n_name,
          CAST(sum(CASE WHEN c.c_acctbal > l.l_quantity * 100
               THEN l.l_quantity ELSE 0 END) AS double) AS q
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 1  # bailed
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_case_countif_literal_scaling(engine, ddb, monkeypatch):
    # SUM(CASE WHEN dim-pred THEN 1 ELSE 0) — the countif idiom — maps
    # literal branches to c × COUNT(*)-partial (q12 shape; needed-side
    # seeding comes from the group keys when no branch carries a fact
    # expression)
    sql = """
        SELECT l.l_returnflag,
          CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
               OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
               AS BIGINT) AS high_cnt,
          CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT'
               AND o.o_orderpriority <> '2-HIGH' THEN 3 ELSE 0 END)
               AS BIGINT) AS low_x3
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "0")
    stock = engine.query(sql).toPandas()
    compare_frames(eager.toPandas(), stock, ordered=True)


def test_case_count_nonnull_literal(engine, ddb, monkeypatch):
    # COUNT(CASE WHEN p THEN 'hit' END): a non-NULL literal counts every
    # matching-group row — COUNT(*)-partial, not a neutral-literal bail
    sql = """
        SELECT n.n_name,
          count(CASE WHEN c.c_mktsegment = 'BUILDING'
                THEN 'hit' END) AS building_rows
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """
    monkeypatch.setenv("SPARK_GRAFT_EAGER_AGG", "1")
    eager = engine.query(sql)
    assert _n_aggregates(eager) == 2
    oracle = ddb.execute(sql).fetchdf()
    compare_frames(eager.toPandas(), oracle, ordered=True)
