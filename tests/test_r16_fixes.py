"""Round-16 correctness fixes from the r15 ADVICE: the DISTINCT ON
min_by pruning walk must not prune columns referenced only through a
named-window reference or an aggregate FILTER clause, and redact_pii
must preserve NULL text null-propagation into n_redactions."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_to_ibis_spark.operators.text import redact_pii


# ---- DISTINCT ON pruning vs named-window references ----------------------

def test_distinct_on_named_window_ref(engine):
    # r15 ADVICE (medium): WindowSpec.ref is resolved after the pruning
    # walk, so the referenced WINDOW clause's columns (event_type, ts)
    # were pruned out of the min_by struct → UNRESOLVED_COLUMN. The walk
    # must abandon pruning (window fallback) when a ref is present.
    sql = ("SELECT DISTINCT ON (user_id) user_id, event_id, "
           "rank() OVER w AS r FROM events "
           "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id) "
           "ORDER BY user_id, event_id")
    df = engine.query(sql)
    rows = df.toPandas()
    # one row per user_id, and the rank column resolved
    assert rows["user_id"].is_unique
    assert (rows["r"] >= 1).all()


def test_distinct_on_agg_filter_where(engine):
    # FuncCall.filter_where was skipped by _children: a window-function
    # FILTER clause referencing an otherwise-unused column hit the same
    # pruning gap. After the fix the column survives into the struct.
    sql = ("SELECT DISTINCT ON (user_id) user_id, event_id, "
           "count(*) FILTER (WHERE event_type = 'click') "
           "OVER (PARTITION BY user_id) AS clicks "
           "FROM events ORDER BY user_id, event_id")
    df = engine.query(sql)
    rows = df.toPandas()
    assert rows["user_id"].is_unique
    assert (rows["clicks"] >= 0).all()


# ---- redact_pii NULL text null-propagation --------------------------------

def test_redact_pii_null_text_propagates_null(spark):
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(1, "mail me at a@b.com"), (2, None), (3, "no pii here")],
        schema)
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_redactions"] == 1
    assert out[1]["text_redacted"] == "mail me at <EMAIL>"
    # NULL text: both outputs stay NULL (oracle parity: DuckDB's
    # len(regexp_extract_all(NULL, ...)) null-propagates)
    assert out[2]["n_redactions"] is None
    assert out[2]["text_redacted"] is None
    assert out[3]["n_redactions"] == 0


# ---- DISTINCT ON aggregate arm: heap-pressure gate (r16) -----------------

def test_distinct_on_agg_heap_gate(spark, monkeypatch):
    """Footer stats certifying an oversized per-task SortAggregate buffer
    must push DISTINCT ON back to the window form (graceful spill); small
    inputs keep the single-shuffle aggregate."""
    from sql_to_ibis_spark import SqlEngine

    eng = SqlEngine(spark)
    eng.register_dir("/root/testdata/sf0.001", ["events"])
    eng.analyze()
    sql = ("SELECT DISTINCT ON (user_id) user_id, event_id "
           "FROM events ORDER BY user_id, ts DESC")
    plan = eng.query(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" in plan, plan
    # inflate rows so rows*width/partitions exceeds any sane budget
    st = eng.catalog.get("events").stats
    st.rows = 100_000_000_000
    plan = eng.query(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in plan and "row_number" in plan, plan
    # forcing the aggregate arm skips the gate
    monkeypatch.setenv("SPARK_GRAFT_DISTINCT_ON_AGG", "1")
    plan = eng.query(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" in plan, plan
    # switched off, small stats keep the window form too
    st.rows = 1_000
    monkeypatch.setenv("SPARK_GRAFT_DISTINCT_ON_AGG", "0")
    plan = eng.query(sql)._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in plan and "row_number" in plan, plan
