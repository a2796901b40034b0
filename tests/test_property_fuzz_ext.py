"""Property-based differential testing over the r6+ extension surface
(r11 VERDICT mandate 7): ASOF JOIN direction/tolerance matrix, PIVOT /
UNPIVOT with NULL-producing inputs, DISTINCT ON with deterministic
tie-breaks, and quantified comparisons under forced gates — randomized
against DuckDB like the core fuzzers in test_property_fuzz.py.

DuckDB runs the IDENTICAL statement for ASOF/PIVOT/UNPIVOT/DISTINCT ON
(shared dialect), so these fuzz the engine's lowering (union+window asof,
groupBy().pivot(), unpivot(), window tie-break) against a native
implementation of the same semantics.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import compare_frames

FUZZ = settings(max_examples=30, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])

EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]


# --------------------------------------------------------------- ASOF JOIN

@given(
    left_type=st.sampled_from(EVENT_TYPES),
    right_type=st.sampled_from(EVENT_TYPES),
    direction=st.sampled_from([">=", ">", "<=", "<"]),
    kind=st.sampled_from(["ASOF JOIN", "ASOF LEFT JOIN"]),
    mod=st.integers(min_value=2, max_value=7),
)
@FUZZ
def test_random_asof_direction_matches_duckdb(engine, ddb, left_type,
                                              right_type, direction, kind,
                                              mod):
    # direction matrix: backward (>=, >) and forward (<=, <) as-of,
    # inner and left, random equi-key coarsening (user_id % mod) so
    # group sizes vary; aggregate the matched ts so row sets compare
    # deterministically even where several right rows tie
    sql = f"""
        SELECT p.event_id AS pid, min(v.ts) AS lo, max(v.ts) AS hi,
               count(v.event_id) AS matched
        FROM (SELECT * FROM events WHERE event_type = '{left_type}'
              AND event_id % 5 = 0) p
        {kind} (SELECT * FROM events WHERE event_type = '{right_type}') v
          ON p.user_id % {mod} = v.user_id % {mod} AND p.ts {direction} v.ts
        GROUP BY p.event_id ORDER BY pid
    """
    actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)


@given(
    tol_min=st.integers(min_value=1, max_value=240),
    direction=st.sampled_from([">=", "<="]),
)
@FUZZ
def test_random_asof_tolerance_matches_duckdb(engine, ddb, tol_min,
                                              direction):
    # tolerance semantics: the as-of join picks the nearest match, then
    # a WHERE band drops matches farther than the tolerance (unmatched
    # left rows survive via the IS NULL arm) — identical statement on
    # both engines, random tolerance width and direction
    if direction == ">=":
        band = f"v.ts >= p.ts - INTERVAL {tol_min} MINUTE"
    else:
        band = f"v.ts <= p.ts + INTERVAL {tol_min} MINUTE"
    sql = f"""
        SELECT p.event_id AS pid, count(v.event_id) AS matched,
               min(v.event_id) AS vmin
        FROM (SELECT * FROM events WHERE event_type = 'purchase'
              AND event_id % 3 = 0) p
        ASOF LEFT JOIN (SELECT * FROM events
                        WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts {direction} v.ts
        WHERE v.event_id IS NULL OR {band}
        GROUP BY p.event_id ORDER BY pid
    """
    actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)


# ----------------------------------------------------------- PIVOT/UNPIVOT

@given(
    vals=st.lists(st.sampled_from(EVENT_TYPES), min_size=1, max_size=5,
                  unique=True),
    agg=st.sampled_from(["sum", "min", "max", "count"]),
    mod=st.integers(min_value=2, max_value=9),
)
@FUZZ
def test_random_pivot_matches_duckdb(engine, ddb, vals, agg, mod):
    # random value subsets leave whole pivot columns NULL for buckets
    # with no such events — the NULL-fill semantics under test
    inlist = ", ".join(f"'{v}'" for v in vals)
    sql = (f"SELECT * FROM (SELECT user_id % {mod} AS b, event_type, value "
           f"FROM events) PIVOT ({agg}(value) FOR event_type IN ({inlist})) "
           f"ORDER BY b")
    actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)


@given(
    include_nulls=st.booleans(),
    nullify_mod=st.integers(min_value=2, max_value=5),
)
@FUZZ
def test_random_unpivot_nulls_match_duckdb(engine, ddb, include_nulls,
                                           nullify_mod):
    # random NULL-injected measures: NULL value rows drop by default,
    # survive under INCLUDE NULLS — both engines run the same statement
    inc = "INCLUDE NULLS " if include_nulls else ""
    sql = (f"SELECT o_orderkey, k, v FROM "
           f"(SELECT o_orderkey, "
           f" CASE WHEN o_orderkey % {nullify_mod} = 0 THEN NULL "
           f"      ELSE o_totalprice END AS price, "
           f" o_totalprice * 0.1 AS tax_est FROM orders "
           f" WHERE o_orderkey < 2000) t "
           f"UNPIVOT {inc}(v FOR k IN (price, tax_est)) "
           f"ORDER BY o_orderkey, k")
    actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)


# ------------------------------------------------------------- DISTINCT ON

@given(
    mod=st.integers(min_value=2, max_value=11),
    direction=st.sampled_from(["ASC", "DESC"]),
    col=st.sampled_from(["ts", "value"]),
)
@FUZZ
def test_random_distinct_on_matches_duckdb(engine, ddb, mod, direction, col):
    # DISTINCT ON picks one row per key by the ORDER BY; ties broken
    # DETERMINISTICALLY by appending the unique event_id — without it the
    # two engines may legitimately pick different tied rows
    sql = (f"SELECT DISTINCT ON (user_id % {mod}) "
           f"user_id % {mod} AS b, event_id, event_type "
           f"FROM events "
           f"ORDER BY user_id % {mod}, {col} {direction}, event_id "
           f"LIMIT 50")
    actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)


# --------------------------------------- quantified under forced gates

import contextlib
import os


@contextlib.contextmanager
def _forced_env(**pairs):
    # plain context manager instead of monkeypatch: hypothesis runs many
    # examples per test call, so function-scoped fixtures don't reset
    old = {k: os.environ.get(k) for k in pairs}
    os.environ.update(pairs)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


GATE_VARS = ("SPARK_GRAFT_SEMI_BUILD_KEYSET",
             "SPARK_GRAFT_EXISTS_DEDUP_REWRITE",
             "SPARK_GRAFT_EAGER_AGG")


@given(
    q=st.sampled_from(["ANY", "ALL", "SOME"]),
    op=st.sampled_from(["=", "<>", "<", "<=", ">", ">="]),
    pred=st.sampled_from(["l_linenumber > 3", "l_quantity > 45",
                          "l_orderkey % 7 = 0"]),
)
@FUZZ
def test_random_quantified_forced_gates_match_duckdb(engine, ddb, q, op,
                                                     pred):
    # the r6 quantified lowering under every gate-forcing env the
    # forced-oracle sweep uses: gates may only pick the PLAN, never the
    # value (the r7/r8 defects were gate-open-only wrong answers)
    sql = (f"SELECT count(*) AS n FROM orders o WHERE o.o_totalprice "
           f"{op} {q} (SELECT l.l_extendedprice FROM lineitem l "
           f"WHERE l.l_orderkey = o.o_orderkey AND {pred})")
    with _forced_env(**{v: "1" for v in GATE_VARS}):
        actual = engine.query(sql).toPandas()
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected)


NXC_FILTERS = ["l_returnflag = 'R'", "l_quantity > 25", "l_linenumber = 1",
               "l_linestatus = 'F'"]


@given(
    outer=st.lists(st.sampled_from(NXC_FILTERS), min_size=1, max_size=2,
                   unique=True),
    local=st.sampled_from(NXC_FILTERS),
)
@FUZZ
def test_random_neq_exists_collapse_matches_duckdb(engine, ddb, outer,
                                                   local):
    # q21 shape with a random outer fact-local filter set and a random
    # NOT EXISTS local filter, the collapse forced. It takes the query
    # exactly when the outer filters imply the NOT EXISTS local (the
    # pin); every other draw keeps the stock semi/anti joins.
    where = " AND ".join(f"l1.{f}" for f in outer)
    sql = f"""
        SELECT s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F' AND {where}
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.{local})
        GROUP BY s_name ORDER BY numwait DESC, s_name
    """
    with _forced_env(SPARK_GRAFT_NEQ_EXISTS_COLLAPSE="1"):
        df = engine.query(sql)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        actual = df.toPandas()
    assert ("__nxc_" in plan) == (local in outer), plan
    expected = ddb.execute(sql).fetchdf()
    compare_frames(actual, expected, ordered=True)
