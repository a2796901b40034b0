"""COUNT(DISTINCT low-NDV col) → size(collect_set(col)): eliminates the
Expand duplication Spark plans for multiple distinct aggregates. Exact
(both forms ignore NULLs); NDV-gated at ≤10k via analyze(). Measured at
sf10: plan loses its Expand but timing is scan-dominated — the win is
row-multiplication avoidance, which scales with row width and distinct
count, not this entry's 3-column scan.
"""

from __future__ import annotations

from tests.conftest import compare_frames

SQL = """
    SELECT count(*) AS n,
           count(DISTINCT l_returnflag) AS flags,
           count(DISTINCT l_linenumber) AS lines
    FROM lineitem
"""


def test_rewrite_matches_and_drops_expand(engine, monkeypatch):
    engine.analyze()
    assert "Expand" not in engine.explain(SQL)
    on = engine.query(SQL).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_SET_COUNT_DISTINCT", "0")
    assert "Expand" in engine.explain(SQL)
    off = engine.query(SQL).toPandas()
    compare_frames(on, off)


def test_grouped_and_nulls(engine, ddb):
    engine.analyze()
    sql = """
        SELECT l_returnflag, count(DISTINCT l_linestatus) AS s,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql).fetchdf()
    compare_frames(got, exp, ordered=True)


def test_guard_high_ndv_untouched(engine, monkeypatch):
    engine.analyze()
    # l_orderkey NDV is way past 10k at any real scale; at test scale
    # force it high to pin the guard
    entry = engine.catalog.get("lineitem")
    ndv = dict(entry.stats.ndv)
    ndv["l_orderkey"] = 5_000_000.0
    monkeypatch.setitem(entry.stats.__dict__, "ndv", ndv)
    sql = "SELECT count(DISTINCT l_orderkey) AS d FROM lineitem"
    assert "collect_set" not in engine.explain(sql)
