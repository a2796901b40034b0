"""Parse-per-distinct aggregation rewrite: expensive per-row parses
(get_json_object, regexp_extract) of ONE low-cardinality column inside
aggregates re-plan as a two-level aggregation — count by (keys, col),
parse once per DISTINCT value, merge weighted by counts. NDV-gated via
analyze(); measured at sf10 on events_json_extract: 4.34 → 0.59 s
(−86%). Every positive case is a DuckDB oracle comparison plus a plan
pin on the derived two-level alias; guards pin the bail-outs.
"""

from __future__ import annotations

from sql_to_ibis_spark.sources.table_stats import TableStats
from tests.conftest import compare_frames


def open_gate(engine, monkeypatch):
    """The NDV gate correctly refuses test-scale data (800 distinct
    pairs over ~1k rows); stats only pick the PLAN, never the values,
    so tests open it with crafted stats (monkeypatch-scoped — the
    session engine's real stats are restored after each test) and
    verify values against DuckDB on the real rows."""
    engine.analyze()
    entry = engine.catalog.get("events")
    st = entry.stats
    forced = TableStats(rows=10_000_000,
                        col_min=dict(st.col_min), col_max=dict(st.col_max),
                        ndv=dict(st.ndv))
    forced.ndv["props"] = 100.0
    forced.ndv["event_type"] = 10.0
    monkeypatch.setattr(entry, "stats", forced)

JSON_AGG = """
    SELECT event_type,
           CAST(sum(CAST(get_json_object(props, '$.k') AS int)) AS bigint)
               AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
"""

JSON_AGG_ORACLE = JSON_AGG.replace("get_json_object",
                                   "json_extract_string")


def fired(engine, sql: str) -> bool:
    return "__ppd_" in engine.explain(sql)


def test_json_agg_rewrites_and_matches(engine, ddb, monkeypatch):
    open_gate(engine, monkeypatch)
    assert fired(engine, JSON_AGG)
    got = engine.query(JSON_AGG).toPandas()
    exp = ddb.execute(JSON_AGG_ORACLE).fetchdf()
    compare_frames(got, exp, ordered=True)
    monkeypatch.setenv("SPARK_GRAFT_PARSE_PER_DISTINCT", "0")
    assert not fired(engine, JSON_AGG)
    off = engine.query(JSON_AGG).toPandas()
    compare_frames(got, off, ordered=True)


def test_count_min_max_and_having(engine, ddb, monkeypatch):
    open_gate(engine, monkeypatch)
    sql = """
        SELECT event_type,
               count(get_json_object(props, '$.k')) AS nk,
               min(CAST(get_json_object(props, '$.k') AS int)) AS mn,
               max(CAST(get_json_object(props, '$.k') AS int)) AS mx
        FROM events
        WHERE event_type <> 'zzz'
        GROUP BY event_type
        HAVING count(*) > 1
        ORDER BY event_type
    """
    assert fired(engine, sql)
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql.replace("get_json_object",
                                  "json_extract_string")).fetchdf()
    compare_frames(got, exp, ordered=True)


def test_global_aggregate_no_group_by(engine, ddb, monkeypatch):
    open_gate(engine, monkeypatch)
    sql = """
        SELECT CAST(sum(CAST(get_json_object(props, '$.k') AS int))
                    AS bigint) AS s, count(*) AS n
        FROM events
    """
    assert fired(engine, sql)
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql.replace("get_json_object",
                                  "json_extract_string")).fetchdf()
    compare_frames(got, exp)


def test_empty_input_counts_are_zero_not_null(engine, ddb, monkeypatch):
    # COUNT merges as SUM of per-distinct counts; over an empty input
    # (WHERE matches nothing, no GROUP BY) SUM is NULL while COUNT is
    # 0 — the merge must coalesce. Regression: r7/r8 ADVICE silent
    # wrong-result bug.
    open_gate(engine, monkeypatch)
    sql = """
        SELECT count(get_json_object(props, '$.k')) AS nk,
               count(*) AS n,
               CAST(sum(CAST(get_json_object(props, '$.k') AS int))
                    AS bigint) AS s
        FROM events WHERE event_type = 'no_such_type'
    """
    assert fired(engine, sql)
    got = engine.query(sql).toPandas()
    assert got["nk"].iloc[0] == 0 and got["n"].iloc[0] == 0
    exp = ddb.execute(sql.replace("get_json_object",
                                  "json_extract_string")).fetchdf()
    compare_frames(got, exp)


def test_qualified_columns_rewrite_and_match(engine, ddb, monkeypatch):
    # table-qualified refs (t.props / t.event_type) copied into the
    # rewritten outer node must drop the stale qualifier — the outer
    # reads from the __ppd_ subquery, not the original table.
    # Regression: r7/r8 ADVICE ColumnNotFoundError crash.
    open_gate(engine, monkeypatch)
    sql = """
        SELECT t.event_type,
               CAST(sum(CAST(get_json_object(t.props, '$.k') AS int))
                    AS bigint) AS sum_k,
               count(t.props) AS np
        FROM events t
        WHERE t.event_type <> 'zzz'
        GROUP BY t.event_type
        HAVING count(*) > 1
        ORDER BY t.event_type
    """
    assert fired(engine, sql)
    got = engine.query(sql).toPandas()
    exp = ddb.execute(sql.replace("get_json_object",
                                  "json_extract_string")).fetchdf()
    compare_frames(got, exp, ordered=True)
    monkeypatch.setenv("SPARK_GRAFT_PARSE_PER_DISTINCT", "0")
    off = engine.query(sql).toPandas()
    compare_frames(got, off, ordered=True)


def test_guard_no_stats_no_rewrite(engine, monkeypatch):
    # fresh engine without analyze(): NDV unknown → gate closed
    from sql_to_ibis_spark import SqlEngine
    from tests.conftest import SF_DIR
    eng2 = SqlEngine(engine.spark)
    eng2.register_dir(SF_DIR)
    assert "__ppd_" not in eng2.explain(JSON_AGG)


def test_guard_decimal_sum_not_rewritten(engine, monkeypatch):
    open_gate(engine, monkeypatch)
    sql = """
        SELECT event_type,
               sum(CAST(get_json_object(props, '$.k') AS decimal(18,2)))
                   AS s
        FROM events GROUP BY event_type
    """
    assert not fired(engine, sql)


def test_guard_distinct_agg_not_rewritten(engine, monkeypatch):
    open_gate(engine, monkeypatch)
    sql = """
        SELECT event_type,
               count(DISTINCT get_json_object(props, '$.k')) AS d
        FROM events GROUP BY event_type
    """
    assert not fired(engine, sql)


def test_guard_high_cardinality_key_not_rewritten(engine, monkeypatch):
    open_gate(engine, monkeypatch)
    # grouping by the near-unique event_id explodes Π ndv past rows/8
    # (make the crafted stats near-unique at the forced row count)
    engine.catalog.get("events").stats.ndv["event_id"] = 9_000_000.0
    sql = """
        SELECT event_id,
               sum(CAST(get_json_object(props, '$.k') AS int)) AS s
        FROM events GROUP BY event_id
    """
    assert not fired(engine, sql)


def test_guard_second_column_in_agg_not_rewritten(engine, monkeypatch):
    open_gate(engine, monkeypatch)
    # aggregate mixes the parsed column with another per-row column —
    # the v*c merge would be wrong
    sql = """
        SELECT event_type,
               sum(CAST(get_json_object(props, '$.k') AS int)
                   + CAST(value AS int)) AS s
        FROM events GROUP BY event_type
    """
    assert not fired(engine, sql)
