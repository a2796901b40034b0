"""Constraint-based join rewrites (r14): informational PK/FK
declarations (SqlEngine.add_primary_key / add_foreign_key, warehouse
RELY-style) let the planner drop row-preserving dimension joins and
shrink dim-predicate builds to filtered keysets.

Soundness contract under test:
- FK here means non-null + matches exactly one ref row, so an inner
  join on exactly the FK→PK pairing preserves probe rows 1:1;
- predicate replacement (P(dim) → key IS NOT NULL against
  ``SELECT pk FROM dim WHERE P``) maps P's NULL to FALSE, which is only
  applied in null-insensitive positions (WHERE/HAVING conjuncts,
  CASE WHEN conditions, aggregate FILTER) — projection-position
  booleans must NOT rewrite;
- any other reference to the dimension (projection, grouping, bare
  names, subquery bodies) keeps the stock join.

Every positive case asserts plan shape AND value equality against the
un-rewritten plan (same engine, SPARK_GRAFT_CONSTRAINT_REWRITE=0).
"""

from __future__ import annotations

import pytest

from sql_to_ibis_spark import SqlEngine
from tests.conftest import SF_DIR, compare_frames

Q14_STYLE = """
    SELECT 100.0 *
        CAST(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0.0 END) AS double) /
        CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS double)
        AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 10
"""

DEAD_JOIN = """
    SELECT CAST(sum(l.l_extendedprice) AS double) AS rev
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""

WHERE_PRED = """
    SELECT count(*) AS n
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_1'
"""


@pytest.fixture(scope="module")
def ceng(spark) -> SqlEngine:
    """A constrained engine over the same testdata (separate instance so
    the shared session fixture's plans stay stock). Both flag-size gates
    are forced open via env — at sf0.001 every dim is tiny, and these
    tests pin the rewrite mechanics, not the profitability gates (which
    test_flag_size_gate covers)."""
    import os

    os.environ["SPARK_GRAFT_CONSTRAINT_REWRITE"] = "1"
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    for t, c in (("part", "p_partkey"), ("supplier", "s_suppkey"),
                 ("nation", "n_nationkey"), ("region", "r_regionkey"),
                 ("customer", "c_custkey"), ("orders", "o_orderkey")):
        eng.add_primary_key(t, c)
    for t, c, r in (("lineitem", "l_partkey", "part"),
                    ("lineitem", "l_suppkey", "supplier"),
                    ("lineitem", "l_orderkey", "orders"),
                    ("supplier", "s_nationkey", "nation"),
                    ("customer", "c_nationkey", "nation"),
                    ("nation", "n_regionkey", "region"),
                    ("orders", "o_custkey", "customer")):
        eng.add_foreign_key(t, c, r)
    yield eng
    os.environ.pop("SPARK_GRAFT_CONSTRAINT_REWRITE", None)


def _plan(eng, sql: str) -> str:
    return eng.query(sql)._jdf.queryExecution().executedPlan().toString()


def _stock(eng, sql, monkeypatch):
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_CONSTRAINT_REWRITE", "0")
        return eng.query(sql).toPandas()


def test_declared_constraints_hold_on_testdata(ceng):
    assert ceng.validate_constraints() == {}


def test_case_predicate_becomes_filtered_keyset(ceng, monkeypatch):
    stock = _stock(ceng, Q14_STYLE, monkeypatch)
    rewritten = ceng.query(Q14_STYLE).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    plan = _plan(ceng, Q14_STYLE)
    # the part side is a filtered keyset under a LEFT join, with the
    # predicate pushed to the scan; p_type never reaches the probe
    assert "__cf0_k0" in plan
    assert "LeftOuter" in plan
    assert "EqualTo(p_type,PROMO)" in plan or "p_type = PROMO" in plan


def test_dead_dim_join_is_eliminated(ceng, monkeypatch):
    stock = _stock(ceng, DEAD_JOIN, monkeypatch)
    rewritten = ceng.query(DEAD_JOIN).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    assert "part.parquet" not in _plan(ceng, DEAD_JOIN)


def test_where_predicate_keeps_join(ceng, monkeypatch):
    # WHERE-conjunct dim predicates deliberately do NOT flag-rewrite:
    # the stats-broadcast + semi-join-reduction machinery owns selective
    # dim filters (flag-rewriting them measured q8 +28%..164%, q5 +224%
    # at sf10); values unchanged either way
    stock = _stock(ceng, WHERE_PRED, monkeypatch)
    rewritten = ceng.query(WHERE_PRED).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    assert "__cf0_k0" not in _plan(ceng, WHERE_PRED)


def test_projection_position_boolean_keeps_join(ceng):
    # SELECT (p.p_type='X') projects the 3-valued boolean — NULL and
    # FALSE differ there, so the rewrite must not fire
    sql = """
        SELECT l.l_orderkey, (p.p_type = 'PROMO') AS is_promo
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ORDER BY l.l_orderkey LIMIT 5
    """
    assert "__cf0_k0" not in _plan(ceng, sql)
    assert "part.parquet" in _plan(ceng, sql)


def test_dim_column_in_group_by_keeps_join(ceng):
    sql = """
        SELECT p.p_type, count(*) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type
    """
    assert "part.parquet" in _plan(ceng, sql)


def test_not_wrapped_predicate_rewrites_whole_subtree(ceng, monkeypatch):
    # NOT(P) is itself alias-pure boolean → replaced as a whole (in a
    # flag position), so the NULL→FALSE mapping happens above the NOT
    sql = """
        SELECT CAST(sum(CASE WHEN NOT (p.p_type = 'PROMO')
                        THEN l.l_extendedprice ELSE 0.0 END) AS double)
               AS nonpromo
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """
    stock = _stock(ceng, sql, monkeypatch)
    rewritten = ceng.query(sql).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    assert "__cf0_k0" in _plan(ceng, sql)


def test_bare_dim_column_name_bails(ceng, monkeypatch):
    # unqualified p_type could belong to either side pre-resolution —
    # the rewrite must bail, and the query still answers correctly
    sql = """
        SELECT count(*) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p_type = 'PROMO'
    """
    stock = _stock(ceng, sql, monkeypatch)
    rewritten = ceng.query(sql).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    assert "__cf0_k0" not in _plan(ceng, sql)


def test_pk_without_fk_keeps_join(spark):
    # PK alone cannot prove row preservation (probe rows may dangle)
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    eng.add_primary_key("part", "p_partkey")
    assert "part.parquet" in _plan(eng, DEAD_JOIN)


def test_unconstrained_engine_unchanged(engine):
    # the shared fixture engine declares nothing — stock plans
    assert "part.parquet" in _plan(engine, DEAD_JOIN)


def test_kill_switch(ceng, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONSTRAINT_REWRITE", "0")
    assert "part.parquet" in _plan(ceng, DEAD_JOIN)


def test_validate_reports_violations(spark):
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    eng.add_primary_key("lineitem", "l_suppkey")   # NOT unique
    out = eng.validate_constraints("lineitem")
    assert "lineitem" in out and "not unique" in out["lineitem"][0]


def test_total_over_groups_fingerprint_survives_rewrite(ceng, monkeypatch):
    # q11 shape on the constrained engine: outer and scalar-subquery
    # FROM+WHERE both carry the nation flag rewrite; the
    # total-over-groups fingerprint must still match (single grouped
    # pass, no independent recompute of the scalar)
    sql = """
        SELECT l.l_partkey,
               CAST(sum(l.l_extendedprice * (1 - l.l_discount))
                    AS double) AS part_value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_1'
        GROUP BY l.l_partkey
        HAVING sum(l.l_extendedprice * (1 - l.l_discount)) > (
          SELECT sum(l2.l_extendedprice * (1 - l2.l_discount)) * 0.001
          FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          WHERE n2.n_name = 'NATION_1')
        ORDER BY part_value DESC, l_partkey LIMIT 20
    """
    stock = _stock(ceng, sql, monkeypatch)
    rewritten = ceng.query(sql).toPandas()
    compare_frames(stock, rewritten, ordered=True)
    plan = _plan(ceng, sql)
    # the total-over-groups marker compiled: the HAVING threshold rides
    # a broadcast cross join of the re-aggregated grouped frame, not an
    # independently compiled second join tree
    assert plan.count("lineitem.parquet") <= 1 or "Cross" in plan


def test_flag_size_gate(spark, monkeypatch):
    # default gate: flag rewrites need a BIG dim (the hash build is the
    # cost); tiny dims keep their scan-filter form so the transitive
    # filtered-dim-chain fact reduction keeps firing (measured sf10:
    # flagging nation/region cost q5 +224%, q8 +147%)
    monkeypatch.delenv("SPARK_GRAFT_CONSTRAINT_REWRITE", raising=False)
    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    eng.add_primary_key("part", "p_partkey")
    eng.add_foreign_key("lineitem", "l_partkey", "part")
    sql = """
        SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice ELSE 0.0 END) AS double)
               AS promo
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """
    # tiny part (sf0.001): no flag
    assert "__cf0_k0" not in _plan(eng, sql)
    # big part with a selective predicate (faked stats): flag fires
    from sql_to_ibis_spark.sources.table_stats import TableStats
    entry = eng.catalog.get("part")
    saved = entry.stats
    try:
        entry.stats = TableStats(rows=5_000_000,
                                 ndv={"p_type": 10.0})   # 500k keys
        assert "__cf0_k0" in _plan(eng, sql)
        # upper gate: an unselective predicate (no NDV → selectivity 1)
        # would materialize a 5M-key broadcast — must NOT flag (measured
        # sf100: the 3.3M-key flag ran +14% vs the stock shuffle join)
        entry.stats = TableStats(rows=5_000_000)
        assert "__cf0_k0" not in _plan(eng, sql)
    finally:
        entry.stats = saved
