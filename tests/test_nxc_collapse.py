"""Pinned group collapse of the <>-EXISTS family (TPC-H q21 shape):
when a NEGATED member's inner-local predicates are implied by the outer
fact-local filters, every qualifying fact row of a correlation group
shares one <>-column value, so the fact collapses to ONE row per key
(key, pinned s, qualifying-row count) via a single hash aggregate —
no window sort, no fact join-back — and COUNT(*) becomes SUM(weight).

Gate: automatic at ≥ 1M footer rows; SPARK_GRAFT_NEQ_EXISTS_COLLAPSE
forces (=1) / disables (=0). Every test compares against the stock
semi/anti plan (ground truth) and, for q21, DuckDB. Every other
<>-EXISTS shape keeps the stock semi/anti join; the tests at the end
pin its results against hand-computed standard SQL and DuckDB.
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
    stock = engine.query(Q21).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", "1")
    df = engine.query(Q21)
    plan = _opt(df)
    assert "__nxc_" in plan, plan
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
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


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


def _inflated_engine(spark, **bucketed):
    """A fresh engine over the test tables whose footer stats claim
    ≥ 10M rows, so every ≥ 1M-row gate is open under the default env;
    ``bucketed`` (``num_buckets``, ``sort_cols``) first snapshots
    lineitem bucketed on ``l_orderkey``."""
    from sql_to_ibis_spark import SqlEngine
    from tests.conftest import SF_DIR

    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    if bucketed:
        eng.snapshot_bucketed("lineitem", ["l_orderkey"], **bucketed)
    eng.analyze()
    for name in eng.catalog.names():
        st = eng.catalog.get(name).stats
        if st is not None:
            st.rows = max(st.rows, 10_000_000)
    return eng


@pytest.mark.parametrize("sort_cols", [None, ["l_orderkey"]],
                         ids=["unsorted", "sorted"])
def test_q21_collapse_on_key_bucketed_layout(spark, ddb, monkeypatch,
                                             sort_cols):
    # lineitem bucketed on the correlation key: the scan already reports
    # HashPartitioning(l_orderkey), so the collapse aggregate reads the
    # buckets directly — no exchange on l_orderkey below it. The bucket
    # count differs from the shuffle partition count: at equal counts
    # Spark drops a repartition on the bucket key by itself.
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions")) + 1
    eng = _inflated_engine(spark, num_buckets=buckets, sort_cols=sort_cols)
    df = eng.query(Q21)
    assert "__nxc_" in _opt(df)
    lines = _phys(df).splitlines()
    agg = next(i for i, ln in enumerate(lines)
               if "HashAggregate" in ln and "sum(__nxc_wf" in ln
               and "partial_" not in ln)
    depth = len(lines[agg]) - len(lines[agg].lstrip(" +-:"))
    below = []
    for ln in lines[agg + 1:]:
        if len(ln) - len(ln.lstrip(" +-:")) <= depth:
            break
        below.append(ln)
    assert below and not any("Exchange hashpartitioning(l_orderkey" in ln
                             for ln in below), "\n".join(lines)
    compare_frames(df.toPandas(), ddb.execute(Q21).fetchdf(), ordered=True)


@pytest.mark.parametrize("kw, join", [("EXISTS", "LeftSemi"),
                                      ("NOT EXISTS", "LeftAnti")])
def test_lone_neq_exists_keeps_stock_join_at_scale(spark, ddb, monkeypatch,
                                                   kw, join):
    # one self-table <>-EXISTS has no pin member: with every size gate
    # open it still plans as the stock semi/anti join
    monkeypatch.delenv("SPARK_GRAFT_NEQ_EXISTS_COLLAPSE", raising=False)
    sql = (f"SELECT count(*) AS n FROM lineitem l1 WHERE {kw} "
           f"(SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey "
           f"AND l2.l_suppkey <> l1.l_suppkey)")
    df = _inflated_engine(spark).query(sql)
    plan = _opt(df)
    assert "__nxc_" not in plan and join in plan, plan
    compare_frames(df.toPandas(), ddb.execute(sql).fetchdf())


# ---- <>-EXISTS shapes the collapse does not take: stock semi/anti join

def _matrix_rows(eng, sql_tmpl: str) -> dict[str, set]:
    return {neg: {(r.k, r.s) for r in eng.query(
        sql_tmpl.format(neg=neg)).collect()} for neg in ("", "NOT ")}


def test_neq_exists_null_semantics_two_table(spark):
    # NULL s on both sides, empty groups, all-NULL groups — <> is
    # NULL-rejecting, so a NULL outer.s or an all-NULL group means
    # EXISTS is FALSE (standard three-valued logic). The expectation is
    # hand-computed standard SQL, not DuckDB: DuckDB 1.0.0's unnested
    # correlated EXISTS returns TRUE for `i.s <> o.s` when o.s IS NULL,
    # contradicting its own row-level `WHERE i.s <> NULL` (zero rows).
    from sql_to_ibis_spark import SqlEngine

    outer = pd.DataFrame({
        "k": [1, 1, 2, 3, 4, 5],
        "s": [10, 20, 10, None, 10, 10],
    }).astype({"k": "int64", "s": "Int64"})
    inner = pd.DataFrame({
        "k": [1, 1, 2, 3, 3, 5],
        "s": [10, 30, 10, None, 40, None],
    }).astype({"k": "int64", "s": "Int64"})
    # groups: k=1 {10,30}, k=2 {10}, k=3 {NULL,40}, k=5 {NULL}; k=4 absent
    # exists(o) = o.s NOT NULL and group has a non-null value != o.s
    exists_rows = {(1, 10), (1, 20)}        # k=3 o.s NULL -> false
    all_rows = {(1, 10), (1, 20), (2, 10), (3, None), (4, 10), (5, 10)}
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(outer), "t_out")
    eng.register_temp_table(spark.createDataFrame(inner), "t_in")
    got = _matrix_rows(eng, "SELECT o.k, o.s FROM t_out o WHERE {neg}EXISTS "
                            "(SELECT 1 FROM t_in i "
                            "WHERE i.k = o.k AND i.s <> o.s)")
    assert got == {"": exists_rows, "NOT ": all_rows - exists_rows}, got


def test_neq_exists_null_semantics_self_table(spark):
    # self-table matrix with a NULL-key partition: `i.k = o.k` is never
    # satisfied for NULL o.k, so NULL-key rows never see each other's
    # s values (EXISTS false, NOT EXISTS true). Hand-computed standard
    # SQL, for the DuckDB divergence noted above.
    from sql_to_ibis_spark import SqlEngine

    t = pd.DataFrame({
        "k": [1, 1, 2, 3, 3, 5, None, None],
        "s": [10, 30, 10, None, 40, None, 7, 8],
    }).astype({"k": "Int64", "s": "Int64"})
    # groups: k=1 {10,30}, k=2 {10}, k=3 {NULL,40}, k=5 {NULL}
    # exists(o) = o.k NOT NULL, o.s NOT NULL, group has non-null != o.s
    exists_rows = {(1, 10), (1, 30)}
    all_rows = {(1, 10), (1, 30), (2, 10), (3, None), (3, 40),
                (5, None), (None, 7), (None, 8)}
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(t), "t_self")
    got = _matrix_rows(eng, "SELECT o.k, o.s FROM t_self o WHERE {neg}EXISTS "
                            "(SELECT 1 FROM t_self i "
                            "WHERE i.k = o.k AND i.s <> o.s)")
    assert got == {"": exists_rows, "NOT ": all_rows - exists_rows}, got


@pytest.mark.parametrize("sql", [
    # the correlated table on the null-extended side of a LEFT JOIN:
    # null-extended rows have a NULL correlation key → NOT EXISTS true
    """SELECT o.o_orderkey, count(*) AS n
       FROM orders o LEFT JOIN lineitem l1
         ON o.o_orderkey = l1.l_orderkey AND l1.l_quantity > 49
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
       GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 20""",
    # inner local filter; the <> outer side on ANOTHER relation
    """SELECT count(*) AS n
       FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
       WHERE EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                     AND l2.l_suppkey <> s.s_suppkey
                     AND l2.l_quantity > 25)""",
    # inner local filter; correlation written outer-first
    """SELECT count(*) AS n FROM lineitem l1
       WHERE l1.l_returnflag = 'R'
       AND EXISTS (SELECT 1 FROM lineitem l2
                   WHERE l1.l_orderkey = l2.l_orderkey
                   AND l1.l_suppkey <> l2.l_suppkey
                   AND l2.l_quantity > 25)""",
    # two <>-conjuncts
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
        AND l2.l_partkey <> l1.l_partkey)""",
    # no equality correlation
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2
        WHERE l2.l_suppkey <> l1.l_suppkey AND l2.l_orderkey < 10)""",
    # correlated range conjunct alongside (DuckDB 1.0.0 unnests this
    # EXISTS wrongly, 287 rows vs 4325 at sf0.001, so the oracle is its
    # own correlated-count form, which it evaluates correctly)
    ("""SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
        (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
         AND l2.l_suppkey <> l1.l_suppkey
         AND l2.l_quantity > l1.l_quantity)""",
     """SELECT count(*) AS n FROM lineitem l1 WHERE 0 <
        (SELECT count(*) FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
         AND l2.l_suppkey <> l1.l_suppkey
         AND l2.l_quantity > l1.l_quantity)"""),
    # correlation key names differ (l_partkey vs l_orderkey)
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_partkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)""",
    # inner table differs from every outer table
    """SELECT count(*) AS n FROM orders o1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = o1.o_orderkey
        AND l2.l_suppkey <> o1.o_custkey)""",
], ids=["left-join-null-extension", "local-filter-outer-expr",
        "local-filter-reversed-sides", "two-neq", "no-equi-correlation",
        "correlated-range", "key-name-mismatch", "other-inner-table"])
def test_neq_exists_matches_duckdb(engine, ddb, sql):
    sql, oracle = sql if isinstance(sql, tuple) else (sql, sql)
    compare_frames(engine.query(sql).toPandas(),
                   ddb.execute(oracle).fetchdf(), ordered="ORDER BY" in sql)
