"""Decorrelation rewrites for equality-correlated scalar subqueries.

Two scale rewrites (both absent from the reference, which has no scalar
subqueries at all — SURVEY §2.10):

* **window rewrite** — when the outer FROM is the same single table as the
  inner, ``(SELECT agg(i.x) FROM t i WHERE i.k = o.k)`` is exactly
  ``agg(x) OVER (PARTITION BY k)`` on the outer frame: ONE shuffle instead
  of aggregate-all-groups + shuffle + join-back (at sf10 the join-back plan
  partial-aggregates 60M near-unique keys and sort-merge-joins two 60M-row
  sides — the window plan halves q17's wall time).
* **magic-set restriction** — when outer and inner differ, the inner is
  semi-joined with the DISTINCT correlation keys of the outer *pre-filtered
  by the subquery-free WHERE conjuncts* before aggregating (DuckDB's
  delim-join effect): only groups the filtered outer can request are
  aggregated.

Both must be invisible to results — every test here is a DuckDB oracle
comparison, with NULL correlation keys covered explicitly (a window
partition pools NULL keys; SQL equality correlation gives those rows an
empty group — the rewrite NULL-masks to match).
"""

from __future__ import annotations

import pandas as pd
import pytest

from sql_to_ibis_spark import SqlEngine

from tests.conftest import compare_frames
from tests.test_plan_quality import plan_of


@pytest.fixture(scope="module")
def ceng(spark):
    """Engine over a small table with NULL correlation keys and NULL
    values — the corners the testdata tables (null-free) never exercise."""
    eng = SqlEngine(spark)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": list(range(1, 11)),
                "k": [1, 1, 2, 2, 2, None, None, 3, 4, 4],
                "v": [10.0, 20.0, 5.0, None, 15.0, 7.0, 9.0, 100.0, 1.0,
                      3.0],
                "flag": [True, False, True, True, False, True, False, True,
                         False, True],
            }
        )
    ).coalesce(1)
    eng.register_temp_table(df, "ct")
    yield eng
    eng.remove_temp_table("ct")


@pytest.fixture(scope="module")
def cddb(ceng, ddb, spark):
    pdf = ceng.catalog.get("ct").df.toPandas()
    ddb.register("ct_pdf", pdf)
    ddb.execute("CREATE VIEW ct AS SELECT * FROM ct_pdf")
    yield ddb
    ddb.execute("DROP VIEW ct")
    ddb.unregister("ct_pdf")


def corr_oracle(ceng, cddb, sql: str):
    compare_frames(ceng.query(sql).toPandas(), cddb.execute(sql).fetchdf())


class TestWindowRewriteSemantics:
    """Same-table correlated scalars — the window path — against DuckDB,
    including NULL keys and NULL aggregate inputs."""

    def test_avg_null_keys(self, ceng, cddb):
        # NULL-key outer rows: equality correlation finds no group → scalar
        # NULL → comparison false → rows dropped. A window without the NULL
        # mask would pool them into one partition and keep some.
        corr_oracle(ceng, cddb, """
            SELECT id, v FROM ct o
            WHERE o.v < (SELECT avg(i.v) FROM ct i WHERE i.k = o.k)
        """)

    def test_scalar_in_select_null_keys(self, ceng, cddb):
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT max(i.v) FROM ct i WHERE i.k = o.k) AS grp_max
            FROM ct o
        """)

    def test_count_star_null_key_is_zero(self, ceng, cddb):
        # count(*) over the empty group is 0, not NULL — the window path
        # NULL-masks first, then the coalesce(…, 0) must still fire
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT count(*) FROM ct i WHERE i.k = o.k) AS n_grp
            FROM ct o
        """)

    def test_local_predicate_becomes_filter(self, ceng, cddb):
        # inner-local predicate (i.flag) must restrict the aggregate but
        # not the partition: sum(v) FILTER (WHERE flag) OVER (PARTITION k)
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT sum(i.v) FROM ct i
                    WHERE i.k = o.k AND i.flag) AS s_flagged
            FROM ct o
        """)

    def test_count_with_local_predicate(self, ceng, cddb):
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT count(*) FROM ct i
                    WHERE i.k = o.k AND i.v > 8) AS n_big
            FROM ct o
        """)

    def test_agg_expression_retargeted(self, ceng, cddb):
        # aggregate over an expression of inner columns + outer WHERE mixes
        corr_oracle(ceng, cddb, """
            SELECT id FROM ct o
            WHERE o.v >= (SELECT avg(i.v * 2) / 2 FROM ct i
                          WHERE i.k = o.k)
        """)

    def test_distinct_agg_falls_back_correct(self, ceng, cddb):
        # DISTINCT aggregates have no window form — must fall back to the
        # groupBy rewrite and stay correct
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT count(DISTINCT i.v) FROM ct i
                    WHERE i.k = o.k) AS nd
            FROM ct o
        """)

    def test_different_tables_unaffected(self, oracle):
        # outer != inner: window path must not fire; plain decorrelation
        oracle("""
            SELECT n_name,
                   (SELECT max(c_acctbal) FROM customer c
                    WHERE c.c_nationkey = n.n_nationkey) AS top_bal
            FROM nation n
        """)


class TestMagicSetRestriction:
    """Different-table correlated scalars with selective outer filters —
    the aggregated key set must shrink, results must not change."""

    def test_q17_canonical_shape(self, oracle):
        # the real TPC-H Q17 shape (on the driver's container-less part
        # table: brand+size stand in for brand+container): outer filtered
        # by part attributes; the per-partkey AVG need only cover parts
        # surviving that filter
        oracle("""
            SELECT round(CAST(sum(l_extendedprice) AS double) / 7.0, 2)
                     AS avg_yearly
            FROM lineitem, part
            WHERE p_partkey = l_partkey AND p_size = 1
              AND p_brand LIKE 'Brand#1%'
              AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = lineitem.l_partkey)
        """)

    def test_restriction_with_or_conjunct(self, oracle):
        # OR inside one conjunct still restricts (it's subquery-free)
        oracle("""
            SELECT count(*) AS n FROM orders o
            WHERE (o.o_orderpriority = '1-URGENT' OR o.o_orderstatus = 'F')
              AND o.o_totalprice > (SELECT avg(l.l_extendedprice) * 2
                                    FROM lineitem l
                                    WHERE l.l_orderkey = o.o_orderkey)
        """)

    def test_no_plain_conjunct_no_restriction(self, oracle):
        # WHERE is only the subquery comparison — restriction skipped
        oracle("""
            SELECT count(*) AS n FROM orders o
            WHERE o.o_totalprice > (SELECT sum(l.l_extendedprice)
                                    FROM lineitem l
                                    WHERE l.l_orderkey = o.o_orderkey)
        """)


class TestRewritePlans:
    """Plan pins: the rewrites must actually change the physical plan."""

    Q17_SELF = (
        "SELECT sum(l_extendedprice) AS s FROM lineitem l1 "
        "WHERE l1.l_quantity < (SELECT 0.5 * avg(l2.l_quantity) "
        "FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey)")

    def test_same_table_scalar_plans_window_not_join(self, engine):
        # q17 self-correlation: the plan must contain a Window and NO join
        # of any kind — the whole point of the rewrite
        plan = plan_of(engine.query(self.Q17_SELF), "simple")
        assert "Window" in plan
        for join in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
            assert join not in plan, plan
        # exactly one exchange of the table (the window partition), plus
        # the scalar-agg's single-partition exchange at most
        assert plan.count("Exchange hashpartitioning") == 1, plan

    @pytest.mark.parametrize("switch_off", [False, True],
                             ids=["default", "no_window_decorrelate"])
    def test_window_decorrelate_switch(self, engine, oracle, monkeypatch,
                                       switch_off):
        # SPARK_GRAFT_WINDOW_DECORRELATE=0 turns the window rewrite
        # off for the q17 self-comparison shape: no Window in the plan,
        # and both plans give DuckDB's answer
        if switch_off:
            monkeypatch.setenv("SPARK_GRAFT_WINDOW_DECORRELATE", "0")
        else:
            monkeypatch.delenv("SPARK_GRAFT_WINDOW_DECORRELATE",
                               raising=False)
        plan = plan_of(engine.query(self.Q17_SELF), "simple")
        assert ("Window" in plan) != switch_off, plan
        oracle(self.Q17_SELF)

    def test_magic_set_plans_semi_join(self, engine):
        # different-table scalar with a selective outer filter: the inner
        # aggregation must sit above a LeftSemi against the outer's keys
        df = engine.query(
            "SELECT count(*) AS n FROM orders o "
            "WHERE o.o_orderpriority = '1-URGENT' "
            "AND o.o_totalprice > (SELECT avg(l.l_extendedprice) * 10 "
            "FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)")
        plan = plan_of(df, "simple")
        assert "LeftSemi" in plan, plan


class TestWindowRewriteCte:
    """Same-CTE correlated scalars take the window path too: the window
    aggregates the outer frame itself, so 'same name → same rows' holds by
    construction (the join path would re-execute the CTE body)."""

    def test_cte_outer_window_path(self, oracle, engine):
        sql = """
            WITH big AS (SELECT l_orderkey, l_quantity, l_extendedprice
                         FROM lineitem WHERE l_quantity > 10)
            SELECT count(*) AS n FROM big b1
            WHERE b1.l_quantity < (SELECT avg(b2.l_quantity) FROM big b2
                                   WHERE b2.l_orderkey = b1.l_orderkey)
        """
        oracle(sql)
        plan = plan_of(engine.query(sql), "simple")
        assert "Window" in plan
        for join in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
            assert join not in plan, plan

    def test_cte_with_local_predicate(self, oracle):
        oracle("""
            WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice
                       FROM orders)
            SELECT count(*) AS n FROM o a
            WHERE a.o_totalprice > (SELECT avg(b.o_totalprice) FROM o b
                                    WHERE b.o_custkey = a.o_custkey
                                    AND b.o_orderkey < 5000)
        """)


class TestAdviceRegressionsR7:
    """Round-7 fixes for r6-advisor findings (ADVICE.md)."""

    def test_uncorrelated_then_correlated_scalar_conjuncts(self, ceng, cddb):
        # HIGH: bind() rewrote the uncorrelated conjunct to a ScalarRef in
        # place BEFORE the correlated conjunct triggered _restrict_outer,
        # which then compiled __scalar_N against the pre-join frame →
        # UNRESOLVED_COLUMN. ScalarRef now counts as a subquery marker.
        corr_oracle(ceng, cddb, """
            SELECT id FROM ct o
            WHERE v > (SELECT avg(v) FROM ct)
              AND v < (SELECT max(v) FROM ct i WHERE i.k = o.k)
        """)

    def test_correlated_then_uncorrelated_scalar_conjuncts(self, ceng, cddb):
        # the mirrored order must also hold
        corr_oracle(ceng, cddb, """
            SELECT id FROM ct o
            WHERE v < (SELECT max(v) FROM ct i WHERE i.k = o.k)
              AND v > (SELECT avg(v) FROM ct)
        """)

    def test_two_uncorrelated_one_correlated_in_select(self, ceng, cddb):
        corr_oracle(ceng, cddb, """
            SELECT id,
                   (SELECT min(i.v) FROM ct i WHERE i.k = o.k) AS grp_min
            FROM ct o
            WHERE v >= (SELECT min(v) FROM ct)
              AND v <= (SELECT max(v) FROM ct)
        """)

    def test_quantified_compare_inside_or_conjunct(self, oracle):
        # HIGH: (dim-local OR x > ANY(sub)) was classified dimension-local
        # by the semi-join reducer (which runs before quantifier lowering)
        # and crashed compile_expr with the reducer gates open. Gates here
        # are closed (test scale) — this pins the lowering path; the
        # gates-open variant is pinned in test_semijoin_reduction.
        oracle("""
            SELECT n_name, count(*) AS n
            FROM nation JOIN customer ON c_nationkey = n_nationkey
            WHERE (n_regionkey = 1
                   OR c_acctbal > ANY (SELECT o_totalprice / 100000
                                       FROM orders))
            GROUP BY n_name ORDER BY n_name
        """)

    def test_nondeterministic_conjunct_excluded_from_restriction(self, ceng):
        # LOW: rand() in WHERE must not be re-evaluated inside the
        # magic-set restriction (a diverging sample would silently NULL
        # scalars for keys the real WHERE kept). rand() >= 0 keeps every
        # row, so the result must equal the query without it.
        sql = """
            SELECT id FROM ct o
            WHERE rand() >= 0
              AND v < (SELECT max(v) FROM ct i WHERE i.k = o.k)
        """
        base = """
            SELECT id FROM ct o
            WHERE v < (SELECT max(v) FROM ct i WHERE i.k = o.k)
        """
        compare_frames(ceng.query(sql).toPandas(),
                       ceng.query(base).toPandas())


class TestSingleRelationMagicSet:
    """The TPC-H q2 shape: the outer is a wide join (so the full-outer
    restriction is gated off) and every correlation key comes from ONE
    dimension with its own selective filter. The shared-tree window
    decorrelation claims it; with that rewrite off, the stock grouped
    decorrelation aggregates the inner per key with no semi join. Tests
    give lineitem synthetic stats the way the forced-gate sweep does."""

    Q2ISH = (
        "SELECT DISTINCT s.s_name, p.p_partkey FROM part p "
        "JOIN lineitem l ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
        "WHERE p.p_size = 15 AND l.l_extendedprice = ("
        "  SELECT min(l2.l_extendedprice) FROM lineitem l2 "
        "  WHERE l2.l_partkey = p.p_partkey)"
    )

    @pytest.fixture()
    def big_engine(self, spark):
        from tests.conftest import SF_DIR

        eng = SqlEngine(spark)
        eng.register_dir(SF_DIR)
        st = eng.catalog.get("lineitem").stats
        assert st is not None
        st.rows = 10_000_000
        return eng

    def test_default_path_is_shared_window(self, big_engine, ddb):
        # the shared-tree window decorrelation claims this shape (inner
        # lineitem ⊂ outer tree, MIN aggregate): derived window, no
        # second lineitem tree
        plan = plan_of(big_engine.query(self.Q2ISH), "simple")
        assert "__corrwin0" in plan, plan
        compare_frames(big_engine.query(self.Q2ISH).toPandas(),
                       ddb.execute(self.Q2ISH).fetchdf())

    def test_fires_and_matches_oracle(self, big_engine, ddb, monkeypatch):
        # window rewrite off: the inner is grouped by its correlation key
        # over every part, with no key-set semi join in front of it
        monkeypatch.setenv("SPARK_GRAFT_SHARED_WINDOW_DECORRELATE", "0")
        plan = plan_of(big_engine.query(self.Q2ISH), "simple")
        assert "__corrwin" not in plan, plan
        assert "__ck_" in plan, plan
        assert plan.count("LeftSemi") == 0, plan
        compare_frames(big_engine.query(self.Q2ISH).toPandas(),
                       ddb.execute(self.Q2ISH).fetchdf())

    def test_null_key_dimension_rows(self, spark, monkeypatch):
        # NULL dim keys never equal an inner key: the window and the
        # grouped decorrelation must both drop that row (NULL scalar)
        eng = SqlEngine(spark)
        import pandas as _pd

        dim = spark.createDataFrame(_pd.DataFrame(
            {"dk": _pd.array([1, 2, None, 4], dtype="Int64"),
             "dsize": [15, 15, 15, 99]}))
        fact = spark.createDataFrame(_pd.DataFrame(
            {"fk": [1, 1, 2, 4, 4], "fv": [5.0, 7.0, 3.0, 9.0, 1.0]}))
        other = spark.createDataFrame(_pd.DataFrame(
            {"ok": [1, 2, 4], "oname": ["a", "b", "c"]}))
        eng.register_temp_table(dim, "dim")
        eng.register_temp_table(fact, "fact")
        eng.register_temp_table(other, "oth")
        sql = (
            "SELECT count(*) AS n FROM dim d "
            "JOIN fact f ON f.fk = d.dk "
            "JOIN oth o ON o.ok = f.fk "
            "WHERE d.dsize = 15 AND f.fv = ("
            "  SELECT min(f2.fv) FROM fact f2 WHERE f2.fk = d.dk)")
        window_plan = plan_of(eng.query(sql), "simple")
        got_window = eng.query(sql).collect()
        monkeypatch.setenv("SPARK_GRAFT_SHARED_WINDOW_DECORRELATE", "0")
        grouped_plan = plan_of(eng.query(sql), "simple")
        got_grouped = eng.query(sql).collect()
        assert "__corrwin" in window_plan, window_plan
        assert "__corrwin" not in grouped_plan, grouped_plan
        # dk 1 keeps fv 5 and dk 2 keeps fv 3; the NULL-key row matches
        # no fact row
        assert got_window == got_grouped
        assert got_window[0]["n"] == 2
        for t in ("dim", "fact", "oth"):
            eng.remove_temp_table(t)


def test_correlated_not_in_where_rewrite(spark, engine, ddb):
    # r12: correlated NOT IN in WHERE lowers to the NULL-guarded NOT
    # EXISTS (x = e OR x IS NULL OR e IS NULL) — exact under WHERE's
    # UNKNOWN≡FALSE. Covers: empty sets (row kept even for NULL x),
    # inner NULLs (row dropped), plain mismatch (kept).
    import pandas as pd
    from sql_to_ibis_spark import SqlEngine

    outer = pd.DataFrame({"k": [1, 2, 3, 4, 5],
                          "x": [10, 20, None, 40, 50]}).astype(
        {"k": "int64", "x": "Int64"})
    inner = pd.DataFrame({"k": [1, 1, 2, 3, 5],
                          "e": [10, 11, None, 30, 51]}).astype(
        {"k": "int64", "e": "Int64"})
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(outer), "t_o")
    eng.register_temp_table(spark.createDataFrame(inner), "t_i")
    sql = ("SELECT o.k FROM t_o o WHERE o.x NOT IN "
           "(SELECT i.e FROM t_i i WHERE i.k = o.k) ORDER BY o.k")
    got = [r.k for r in eng.query(sql).collect()]
    # k=1: 10 matches -> drop; k=2: inner {NULL} -> UNKNOWN -> drop;
    # k=3: x NULL, inner {30} -> UNKNOWN -> drop; k=4: empty set -> keep;
    # k=5: {51} no match -> keep
    assert got == [4, 5], got
    # and the <>-ALL spelling lowers to the same path
    sql2 = ("SELECT o.k FROM t_o o WHERE o.x <> ALL "
            "(SELECT i.e FROM t_i i WHERE i.k = o.k) ORDER BY o.k")
    assert [r.k for r in eng.query(sql2).collect()] == [4, 5]
    # TPC-H-shaped differential vs DuckDB on real tables
    sql3 = ("SELECT count(*) AS n FROM orders o WHERE o.o_totalprice NOT IN "
            "(SELECT l.l_extendedprice FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey)")
    from tests.conftest import compare_frames
    compare_frames(engine.query(sql3).toPandas(),
                   ddb.execute(sql3).fetchdf())


def test_not_exists_keys_from_base_single_avg(engine):
    # r12 q22-shape pin: the NOT-EXISTS matched-key set derives from the
    # RAW base table, so the scalar-avg subtree compiles ONCE — before,
    # the keys branch re-executed the filtered outer (avg computed
    # twice, customer scanned 4x). partial_avg appearing once in the
    # physical plan is the signature.
    sql = """
        SELECT cc, count(*) AS n FROM (
          SELECT substring(c_name, 10, 2) AS cc
          FROM customer c
          WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                             WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)) t
        GROUP BY cc ORDER BY cc
    """
    plan = engine.query(sql)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("partial_avg") == 1, plan
