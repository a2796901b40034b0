"""Oracle differential run with every stats-dependent gate forced OPEN.

The engine's rewrites (EXISTS dedup, parse-per-distinct, low-NDV
COUNT(DISTINCT) → collect_set, static broadcast hints) are gated on
analyze()/footer stats, so the normal oracle window exercises them only
where real sf0.001 stats happen to open them — the r7/r8 defects
(NULL-vs-0 count, qualifier crash) were gate-open-only failures that the
default window could never see. This module re-runs the gate-sensitive
oracle entries from __spark_entry__ with synthetic stats (rows inflated
to 10M, every NDV clamped to 100) plus __spark_entry__.FORCED_GATE_ENV,
and requires value equality with DuckDB: stats may only ever pick the
PLAN.

scripts/check_oracle.py --force-gates runs the same forcing over the
FULL entry list at any SF.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, compare_frames

# SQL-compiled families whose plans move when gates open; pipeline_*
# operator entries bypass the SQL compiler's gates and are excluded to
# bound runtime.
GATE_PREFIXES = ("tpch_", "agg_", "filter_", "join_", "subquery_",
                 "group_", "events_", "select_distinct", "window_",
                 "order_by", "top_k", "limit_offset")

_qs = entrymod.queries()
_oracles = entrymod.oracle_sql()
GATED = sorted(n for n in _qs
               if n.startswith(GATE_PREFIXES) and n in _oracles)


@pytest.fixture(scope="module")
def forced(spark):
    # the same forcing as scripts/check_oracle.py --force-gates
    with pytest.MonkeyPatch.context() as mp:
        for var, val in entrymod.FORCED_GATE_ENV.items():
            mp.setenv(var, val)
        key = entrymod._engine_key(spark, SF_DIR)
        mp.setitem(entrymod._ENGINES, key,
                   entrymod.forced_gate_engine(spark, SF_DIR))
        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))):
            name = os.path.splitext(os.path.basename(path))[0]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        yield con
        con.close()


def test_gate_families_selected():
    # the sweep must actually cover the rewrite-bearing entries
    assert len(GATED) >= 40
    assert any("events_json" in n for n in GATED)
    assert "subquery_correlated_exists_q4" in GATED
    assert "subquery_correlated_not_exists" in GATED


@pytest.mark.parametrize("name", GATED)
def test_forced_gates_match_oracle(name, spark, forced):
    actual = _qs[name](spark, SF_DIR).toPandas()
    expected = forced.execute(_oracles[name]).fetchdf()
    compare_frames(actual, expected)
