"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps every
implemented operator (SURVEY.md §2 + extensions) to a callable
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB-equivalent
SQL for the correctness gate. Column names are aliased identically on both
sides; float aggregates are made hash-stable via DECIMAL-exact sums or
explicit rounding.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sql_to_ibis_spark.plans.options import env_name, gate_fields

_ENGINES: dict = {}

# The TPC-H-ish testdata's real key structure, declared RELY-style as a
# warehouse deployment would (verified once by
# engine.validate_constraints at sf0.01 — zero violations).
PRIMARY_KEYS = (("part", "p_partkey"), ("supplier", "s_suppkey"),
                ("nation", "n_nationkey"), ("region", "r_regionkey"),
                ("customer", "c_custkey"), ("orders", "o_orderkey"))
FOREIGN_KEYS = (("lineitem", "l_partkey", "part"),
                ("lineitem", "l_suppkey", "supplier"),
                ("lineitem", "l_orderkey", "orders"),
                ("supplier", "s_nationkey", "nation"),
                ("customer", "c_nationkey", "nation"),
                ("nation", "n_regionkey", "region"),
                ("orders", "o_custkey", "customer"))

# Forced-gates mode (scripts/check_oracle.py --force-gates and
# tests/test_forced_gate_oracle.py): every stats-gated rewrite opens, so
# the oracle differential checks each rewrite's plan at test scale —
# stats may only ever pick the plan, never the answer. forced_gate_engine
# inflates the stats, which opens the row-count gates; these switches
# open the gates that inflation cannot open or closes.
FORCED_GATE_ENV = {
    "SPARK_GRAFT_EXISTS_DEDUP_REWRITE": "1",
    # eager aggregation's NDV-product profitability gate
    "SPARK_GRAFT_EAGER_AGG": "1",
    # LEFT-join fact aggregation's reduction-ratio gate
    "SPARK_GRAFT_LEFT_FACT_AGG": "1",
    # NDV clamping CLOSES the near-unique-key prepartition gate
    "SPARK_GRAFT_PREPART_AGG": "1",
    # build-side keyset reduction's multiplicity gate
    "SPARK_GRAFT_SEMI_BUILD_KEYSET": "1",
    # both size gates of the constraint flag-join rewrite
    "SPARK_GRAFT_CONSTRAINT_REWRITE": "1",
    "SPARK_GRAFT_TOTAL_PIN": "1",
    # both size gates of the star semi reduction: they read Catalyst's
    # file-size estimate, which inflated stats cannot move
    "SPARK_GRAFT_SEMIJOIN_REDUCTION": "1",
}

# Gates-off mode (scripts/check_oracle.py --gates-off): every rewrite
# switch set to "0", so each entry runs the plan with no rewrite pass.
OFF_GATE_ENV = {env_name(f): "0" for f in gate_fields()}


def declare_constraints(eng) -> None:
    for t, c in PRIMARY_KEYS:
        eng.add_primary_key(t, c)
    for t, c, r in FOREIGN_KEYS:
        eng.add_foreign_key(t, c, r)


def inflate_stats(eng, rows: int = 10_000_000, ndv: float = 100.0) -> None:
    """Make every table's stats claim at least ``rows`` rows and at most
    ``ndv`` distinct values per column: opens every row-count gate."""
    for name in eng.catalog.names():
        st = eng.catalog.get(name).stats
        if st is None:
            continue
        st.rows = max(st.rows, rows)
        st.ndv = {c: min(v, ndv) for c, v in st.ndv.items()}


def forced_gate_engine(spark: SparkSession, sf_dir: str):
    """A fresh engine over ``sf_dir`` for forced-gates mode: analyzed,
    keys declared, stats inflated. Its plans are forced only while
    FORCED_GATE_ENV is in ``os.environ``; register it under
    ``_engine_key(spark, sf_dir)`` so ``queries()`` entries run on it."""
    from sql_to_ibis_spark import SqlEngine

    eng = SqlEngine(spark)
    eng.register_dir(sf_dir)
    eng.analyze()
    declare_constraints(eng)
    inflate_stats(eng)
    return eng


def _engine_key(spark: SparkSession, sf_dir: str) -> tuple:
    # the layout flag is part of the cache key so one session can hold
    # BOTH a stock and a bucketed-facts engine (bench.py's dual-layout
    # block interleaves them for a fair same-session A/B); scripts that
    # inject a pre-built engine (check_oracle, forced-gate tests) use
    # this helper so their key always matches _engine_for's lookup
    bucketed = os.environ.get("SPARK_GRAFT_BUCKETED_FACTS") == "1"
    return (id(spark), sf_dir, bucketed)


def _engine_for(spark: SparkSession, sf_dir: str):
    key = _engine_key(spark, sf_dir)
    if key not in _ENGINES:
        from sql_to_ibis_spark import SqlEngine

        # runtime-settable confs the driver's plain session may lack
        for conf, val in [
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.sql.adaptive.enabled", "true"),
            # static 10m / adaptive 64m: see session.py — 64m static lets the
            # column-pruned fact table broadcast off a bad size estimate
            ("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold",
             str(64 * 1024 * 1024)),
            # one-file-per-bucket sorted snapshots report their ordering
            # (see session.py) — lets window/merge plans on the bucket
            # key elide their sorts
            ("spark.sql.legacy.bucketedTableScan.outputOrdering", "true"),
        ]:
            try:
                spark.conf.set(conf, val)
            except Exception:
                pass
        eng = SqlEngine(spark)
        eng.register_dir(sf_dir)
        # warehouse-ANALYZE analog: one approx_count_distinct pass per
        # table upgrades the footer stats with NDV, letting the static
        # broadcast planner price equality predicates as 1/NDV (q3's
        # filtered orders side then broadcasts BEFORE the 30M-row fact
        # shuffle is planned). One-time per session/sf; DuckDB collects
        # the equivalent statistics automatically during its own scans.
        # A failure here raises: planning on without stats would pick
        # other plans silently, and nothing is cached for this key.
        eng.analyze()
        # Informational constraints (r14, PRIMARY_KEYS/FOREIGN_KEYS).
        # The planner uses them for constraint join rewrites: dropping
        # row-preserving dim joins and shrinking dim-predicate builds to
        # filtered keysets (q14 at sf10: 1.28 -> 0.46 s).
        # SPARK_GRAFT_CONSTRAINT_REWRITE=0 disables the rewrite.
        declare_constraints(eng)
        # Opt-in bucketed fact layout (SPARK_GRAFT_BUCKETED_FACTS=1):
        # snapshot lineitem/orders as managed tables bucketed on the
        # order key — the layout an order-grain deployment would choose.
        # Joins and aggregations on the key then plan with ZERO fact
        # exchanges (measured sf10 interleaved: q18 −48% r9, q21 4.11 →
        # 2.66 s r12). One-time per session (the in-memory catalog does
        # not persist managed-table metadata across sessions); stats are
        # preserved by snapshot_bucketed so the gate planners are
        # unaffected. Default OFF so driver CORRECTNESS/BENCH runs stay
        # on the raw parquet the oracles read.
        if os.environ.get("SPARK_GRAFT_BUCKETED_FACTS") == "1":
            # r14: the table/key choices come from the layout ADVISOR
            # over the real entry workload, not a hardcoded list — the
            # SQL entries vote with their join/group keys, and the
            # extra_keys hint carries the non-SQL pipeline operators'
            # access pattern (repetition/dedup/token ops group on
            # documents.doc_id). On this corpus the advisor lands on
            # exactly the r13 set: lineitem(l_orderkey),
            # orders(o_orderkey), documents(doc_id). Sorted buckets:
            # one file per bucket, so scans REPORT the ordering and
            # window/merge plans on the key elide their sorts (the q21
            # collapse aggregate needs no exchange on l_orderkey:
            # sf10 bucketed 4.09 -> 2.49 s, OPTIMIZATION_r16.md).
            advice = eng.advise_layout(
                {n: s for n, (s, _) in _PAIRS.items()},
                num_buckets=32,
                extra_keys=[("documents", "doc_id"),
                            ("documents", "doc_id")],
            )
            # this flag means BUCKETED facts: drop the advisor's
            # cluster (zorder) recommendations — those are the
            # cold-scan layout, measured wall-neutral warm (r10)
            eng.apply_layout([a for a in advice if a["kind"] == "bucket"])
        _ENGINES[key] = eng
    return _ENGINES[key]


def _sql(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine_for(spark, sf_dir).query(sql)

    return run


# TPC-H-style Q1: the flagship (scan → filter → groupBy partial-agg → sort;
# whole plan stays in whole-stage codegen, aggregation is map-side partial)
FLAGSHIP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP('1998-09-02')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

FLAGSHIP_ORACLE = FLAGSHIP_SQL.replace("TIMESTAMP('1998-09-02')",
                                       "TIMESTAMP '1998-09-02'")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _engine_for(spark, "/root/testdata/sf0.001").query(FLAGSHIP_SQL)


# --------------------------------------------------------------------------
# Query inventory. _PAIRS: name -> (engine_sql, oracle_sql_or_None_if_same).
# Non-SQL operators (dedup/similarity/...) are added programmatically below.
# --------------------------------------------------------------------------

_PAIRS: dict[str, tuple[str, str | None]] = {
    # ---- §2.2 projection / filtering / predicates ----
    "select_project": (
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem", None),
    "select_star": ("SELECT * FROM nation", None),
    "select_alias_expr": (
        "SELECT o_orderkey AS okey, o_totalprice * 1.1 AS gross, 42 AS answer "
        "FROM orders", None),
    "select_distinct": (
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem", None),
    "filter_compare": (
        "SELECT l_orderkey, l_quantity FROM lineitem "
        "WHERE l_quantity > 30 AND l_discount <= 0.05 AND NOT l_returnflag = 'A'",
        None),
    "filter_between_in": (
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 "
        "AND l_returnflag IN ('A', 'R') AND l_linenumber NOT IN (6, 7)", None),
    "filter_is_null": (
        "SELECT count(*) AS n_null, count(ln) AS n_notnull FROM "
        "(SELECT NULLIF(l_linenumber, 1) AS ln FROM lineitem) t", None),
    "filter_like": (
        "SELECT count(*) AS n FROM part WHERE p_name LIKE 'part_1%'", None),
    "case_when": (
        "SELECT l_orderkey, CASE WHEN l_quantity > 30 THEN 'high' "
        "WHEN l_quantity > 10 THEN 'mid' ELSE 'low' END AS bucket FROM lineitem",
        None),
    "cast_types": (
        "SELECT CAST(l_quantity AS int) AS qi, CAST(l_orderkey AS string) AS ks, "
        "CAST(l_linenumber AS double) AS ld FROM lineitem",
        "SELECT CAST(l_quantity AS int) AS qi, CAST(l_orderkey AS varchar) AS ks, "
        "CAST(l_linenumber AS double) AS ld FROM lineitem"),
    "coalesce_nullif": (
        "SELECT COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag, count(*) AS n "
        "FROM lineitem GROUP BY COALESCE(NULLIF(l_returnflag, 'N'), 'none')",
        None),
    "arithmetic": (
        "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net, "
        "l_quantity + 1 AS q1, l_linenumber % 3 AS m3, -l_tax AS neg_tax "
        "FROM lineitem", None),
    "string_functions": (
        "SELECT upper(r_name) AS up, lower(r_name) AS lo, length(r_name) AS len, "
        "substring(r_name, 1, 3) AS pre, r_name || '!' AS bang FROM region", None),
    "string_ansi_forms": (
        "SELECT SUBSTRING(r_name FROM 2 FOR 3) AS mid, "
        "POSITION('A' IN r_name) AS pos_a, "
        "TRIM(LEADING 'A' FROM r_name) AS no_lead_a FROM region", None),
    "date_extract": (
        "SELECT EXTRACT(year FROM o_orderdate) AS y, "
        "EXTRACT(quarter FROM o_orderdate) AS q, count(*) AS n "
        "FROM orders GROUP BY ALL",
        "SELECT EXTRACT(year FROM o_orderdate) AS y, "
        "EXTRACT(quarter FROM o_orderdate) AS q, count(*) AS n "
        "FROM orders GROUP BY 1, 2"),
    "date_functions": (
        "SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, "
        "day(o_orderdate) AS d, count(*) AS n FROM orders "
        "GROUP BY year(o_orderdate), month(o_orderdate), day(o_orderdate)", None),
    # ---- §2.3 joins ----
    "join_inner": (
        "SELECT c.c_name, n.n_name FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey", None),
    "join_left": (
        "SELECT n.n_name, r.r_name FROM nation n "
        "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey", None),
    "join_right": (
        "SELECT n.n_name, c.c_name FROM customer c "
        "RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey", None),
    "join_full_outer": (
        "SELECT a.k AS left_k, b.k AS right_k FROM "
        "(SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey < 20) a "
        "FULL OUTER JOIN "
        "(SELECT o_orderkey AS k FROM orders WHERE o_orderkey BETWEEN 10 AND 30) b "
        "ON a.k = b.k", None),
    "join_cross": (
        "SELECT r1.r_name AS name1, r2.r_name AS name2 "
        "FROM region r1 CROSS JOIN region r2", None),
    "join_comma_implicit_cross": (
        "SELECT r.r_name, n.n_name FROM region r, nation n "
        "WHERE r.r_regionkey = n.n_regionkey", None),
    "join_multiway": (
        "SELECT n.n_name, o.o_orderkey, c.c_name FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_totalprice > 300000", None),
    "join_theta": (
        "SELECT l.l_orderkey, l.l_linenumber FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_quantity > 45",
        None),
    "join_semi_in_subquery": (
        "SELECT c_custkey, c_name FROM customer WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)", None),
    "join_anti_not_in_subquery": (
        "SELECT c_custkey, c_name FROM customer WHERE c_nationkey NOT IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)", None),
    # ---- §2.4 aggregation ----
    "agg_global": (
        "SELECT CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS s, "
        "round(avg(l_quantity), 4) AS a, min(l_quantity) AS mn, "
        "max(l_quantity) AS mx, count(l_quantity) AS c FROM lineitem", None),
    "agg_count_star_distinct": (
        "SELECT count(*) AS n, count(DISTINCT l_returnflag) AS flags, "
        "count(DISTINCT l_linenumber) AS lines FROM lineitem", None),
    "agg_group_by": (
        "SELECT o_orderpriority, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS total "
        "FROM orders GROUP BY o_orderpriority", None),
    "agg_having": (
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey "
        "HAVING count(*) > 12", None),
    "agg_having_hidden_agg": (
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag "
        "HAVING sum(l_quantity) > 10000", None),
    "agg_having_global": (
        "SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem "
        "HAVING count(*) > 0", None),
    "agg_groupby_no_agg_distinct": (
        "SELECT l_returnflag, l_linestatus FROM lineitem "
        "GROUP BY l_returnflag, l_linestatus", None),
    "agg_group_key_dropped": (
        "SELECT count(*) AS n FROM lineitem GROUP BY l_returnflag", None),
    "agg_group_by_ordinal": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n "
        "FROM lineitem GROUP BY 1, 2", None),
    "agg_expression_mix": (
        "SELECT l_returnflag, "
        "CAST(sum(CAST(l_extendedprice AS decimal(18,2))) AS double) / count(*) "
        "AS avg_price_manual, count(*) + 0 AS n FROM lineitem "
        "GROUP BY l_returnflag", None),
    "agg_extended_stats": (
        "SELECT round(stddev(l_quantity), 4) AS sd, "
        "round(var_pop(l_quantity), 4) AS vp, median(l_quantity) AS md "
        "FROM lineitem", None),
    # ---- §2.5 windows ----
    "window_cumulative_default_frame": (
        "SELECT o_orderkey, round(sum(o_totalprice) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS running FROM orders",
        None),
    "window_partition_only": (
        "SELECT o_orderkey, round(sum(o_totalprice) OVER "
        "(PARTITION BY o_custkey), 2) AS tot FROM orders", None),
    # hash-stable framed avg: decimal-exact framed sum / framed count — the
    # division of identical doubles is IEEE-deterministic on both engines
    # (round(avg(double),2) differed at half-boundaries between engines)
    "window_rows_frame": (
        "SELECT o_orderkey, CAST(sum(CAST(o_totalprice AS decimal(18,2))) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderkey "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS double) / "
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mavg FROM orders", None),
    # CAST AS BIGINT both sides: Spark sum(int)->BIGINT, DuckDB->HUGEINT
    "window_range_frame": (
        "SELECT l_orderkey, l_linenumber, CAST(sum(l_linenumber) OVER "
        "(PARTITION BY l_orderkey ORDER BY l_linenumber "
        "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s FROM lineitem",
        None),
    "window_rank_dense_rank": (
        "SELECT o_orderkey, "
        "rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk, "
        "dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk "
        "FROM orders", None),
    "window_row_number": (
        "SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn "
        "FROM orders", None),
    "window_lag_lead": (
        "SELECT o_orderkey, "
        "lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_k, "
        "lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_k "
        "FROM orders", None),
    "window_ntile": (
        "SELECT o_orderkey, ntile(4) OVER (ORDER BY o_orderkey) AS quartile "
        "FROM orders", None),
    "window_in_expression": (
        "SELECT o_orderkey, round(o_totalprice / sum(o_totalprice) OVER "
        "(PARTITION BY o_custkey), 6) AS share FROM orders", None),
    # ---- §2.6 sort / limit / top-k ----
    "order_by_multi_key": (
        "SELECT l_orderkey, l_linenumber FROM lineitem "
        "ORDER BY l_orderkey DESC, l_linenumber ASC LIMIT 100", None),
    "top_k": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", None),
    "limit_offset": (
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 40",
        None),
    # ---- §2.7 set operations ----
    "union_distinct": (
        "SELECT c_nationkey AS k FROM customer UNION "
        "SELECT s_nationkey AS k FROM supplier", None),
    "union_all": (
        "SELECT c_nationkey AS k FROM customer UNION ALL "
        "SELECT s_nationkey AS k FROM supplier", None),
    "intersect": (
        "SELECT c_nationkey AS k FROM customer INTERSECT "
        "SELECT s_nationkey AS k FROM supplier", None),
    "except_distinct": (
        "SELECT c_nationkey AS k FROM customer EXCEPT "
        "SELECT s_nationkey AS k FROM supplier", None),
    "except_all": (
        "SELECT l_linenumber AS k FROM lineitem WHERE l_orderkey < 100 EXCEPT ALL "
        "SELECT l_linenumber AS k FROM lineitem WHERE l_orderkey < 50", None),
    "intersect_all": (
        "SELECT l_linenumber AS k FROM lineitem WHERE l_orderkey < 100 INTERSECT ALL "
        "SELECT l_linenumber AS k FROM lineitem WHERE l_orderkey < 50", None),
    # ---- §2.10 subqueries ----
    "subquery_from_nested": (
        "SELECT k, n FROM (SELECT o_custkey AS k, count(*) AS n FROM "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 100000) t "
        "GROUP BY o_custkey) s WHERE n > 5", None),
    "subquery_join": (
        "SELECT a.o_custkey, a.cnt, b.c_name FROM "
        "(SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) a "
        "JOIN (SELECT c_custkey, c_name FROM customer) b "
        "ON a.o_custkey = b.c_custkey", None),
    # ---- TPC-H-style composites (headline/bench queries) ----
    "tpch_q18_large_volume_customer": (
        "SELECT c_name, o.o_orderkey, o_totalprice, "
        "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS total_qty "
        "FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 200) "
        "GROUP BY c_name, o.o_orderkey, o_totalprice "
        "ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100",
        "SELECT c_name, o.o_orderkey AS o_orderkey, o_totalprice, "
        "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS total_qty "
        "FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 200) "
        "GROUP BY c_name, o.o_orderkey, o_totalprice "
        "ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100"),
    "agg_approx_count_distinct": (
        # At the tiny fixed cardinalities here (3 flags / 7 lines / 2
        # statuses) Spark's HyperLogLogPlusPlus estimate lands on the exact
        # count — deterministic for this value set (fixed hashing +
        # small-range estimation) and verified empirically by the r05 hash
        # match, NOT a structural exactness guarantee (Spark's HLL++ has no
        # sparse mode; changing rsd or the data may break equality). The
        # entry stays hash-checkable while exercising the sketch path (the
        # scale story: one pass, fixed memory, no exact distinct shuffle).
        "SELECT l_returnflag, "
        "CAST(approx_count_distinct(l_linenumber) AS BIGINT) AS approx_lines, "
        "CAST(approx_count_distinct(l_linestatus) AS BIGINT) AS approx_status "
        "FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, "
        "CAST(count(DISTINCT l_linenumber) AS BIGINT) AS approx_lines, "
        "CAST(count(DISTINCT l_linestatus) AS BIGINT) AS approx_status "
        "FROM lineitem GROUP BY l_returnflag"),

    "agg_percentile": (
        "SELECT l_returnflag, "
        "round(percentile(l_extendedprice, 0.5), 2) AS p50, "
        "round(percentile(l_extendedprice, 0.95), 2) AS p95 "
        "FROM lineitem GROUP BY l_returnflag",
        # Spark percentile() is exact interpolated = ANSI percentile_cont =
        # DuckDB quantile_cont; approx_percentile/percentile_approx are the
        # sketch-based scale path (tested with tolerance in tests/)
        "SELECT l_returnflag, "
        "round(quantile_cont(l_extendedprice, 0.5), 2) AS p50, "
        "round(quantile_cont(l_extendedprice, 0.95), 2) AS p95 "
        "FROM lineitem GROUP BY l_returnflag"),

    "tpch_q1_pricing_summary": (FLAGSHIP_SQL, FLAGSHIP_ORACLE),
    "tpch_q3_shipping_priority": (
        "SELECT l.l_orderkey, "
        "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) AS double) AS revenue, "
        "o.o_orderdate FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP('1995-03-15') "
        "AND l.l_shipdate > TIMESTAMP('1995-03-15') "
        "GROUP BY l.l_orderkey, o.o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10",
        "SELECT l.l_orderkey, "
        "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) AS double) AS revenue, "
        "o.o_orderdate FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15' "
        "AND l.l_shipdate > TIMESTAMP '1995-03-15' "
        "GROUP BY l.l_orderkey, o.o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"),
    "tpch_q5_local_supplier_volume": (
        "SELECT n.n_name, "
        "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) AS double) AS revenue "
        "FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "WHERE r.r_name = 'ASIA' GROUP BY n.n_name ORDER BY revenue DESC", None),
    "tpch_q6_forecast_revenue": (
        "SELECT CAST(sum(CAST(l_extendedprice * l_discount AS decimal(18,4))) AS double) "
        "AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP('1994-01-01') "
        "AND l_shipdate < TIMESTAMP('1995-01-01') "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
        "SELECT CAST(sum(CAST(l_extendedprice * l_discount AS decimal(18,4))) AS double) "
        "AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1994-01-01' "
        "AND l_shipdate < TIMESTAMP '1995-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    # ---- events: time-series analytics over the stream-shaped table ----
    "events_tumbling_window": (
        "SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n, "
        "round(sum(value), 4) AS total FROM events "
        "GROUP BY date_trunc('hour', ts), event_type", None),
    "events_user_daily": (
        "SELECT user_id, date_trunc('day', ts) AS d, count(*) AS n_events, "
        "count(DISTINCT event_type) AS kinds FROM events "
        "GROUP BY user_id, date_trunc('day', ts)", None),
    "events_funnel_share": (
        "SELECT event_type, count(*) AS n, "
        "round(count(*) / (SELECT count(*) FROM events) , 6) AS share "
        "FROM events GROUP BY event_type", None),
}

# events_funnel_share uses a scalar subquery — not supported by design; swap
# for a window formulation both engines accept.
_PAIRS["cte_chained"] = (
    "WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 400000), "
    "cnt AS (SELECT o_custkey, count(*) AS n FROM big GROUP BY o_custkey) "
    "SELECT n, count(*) AS n_customers FROM cnt GROUP BY n", None)
_PAIRS["group_rollup"] = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS s "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)", None)
_PAIRS["group_cube_grouping"] = (
    "SELECT l_returnflag, l_linestatus, grouping(l_returnflag) AS gf, "
    "grouping(l_linestatus) AS gs, count(*) AS n "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)", None)
_PAIRS["group_grouping_sets"] = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())", None)
_PAIRS["window_named"] = (
    "SELECT l_orderkey, l_linenumber, "
    "CAST(sum(CAST(l_quantity AS decimal(18,2))) OVER w AS double) AS cum_qty, "
    "rank() OVER w AS rk FROM lineitem "
    "WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)", None)
_PAIRS["subquery_scalar"] = (
    "SELECT l_returnflag, "
    "round(avg(l_quantity) - (SELECT avg(l_quantity) FROM lineitem), 4) AS delta "
    "FROM lineitem GROUP BY l_returnflag", None)

_PAIRS["window_percent_cume"] = (
    "SELECT o_orderkey, "
    "percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS pr, "
    "cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS cd "
    "FROM orders", None)

# time-based RANGE frame (the common event-pipeline window form): engine
# maps it to unix_micros ordering + numeric rangeBetween, all JVM-side
_PAIRS["window_range_interval"] = (
    "SELECT event_id, count(*) OVER "
    "(PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) "
    "AS n_last_hour FROM events", None)

# value functions are frame-sensitive: default frame for fv (RANGE UP..CR),
# explicit full frame for lv/nv — matches DuckDB semantics exactly
_PAIRS["window_first_last_value"] = (
    "SELECT o_orderkey, "
    "first_value(o_totalprice) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderkey) AS fv, "
    "last_value(o_totalprice) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv, "
    "nth_value(o_totalprice, 2) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv "
    "FROM orders", None)

_PAIRS["group_by_all"] = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS s "
    "FROM lineitem GROUP BY ALL", None)
_PAIRS["window_qualify_topn"] = (
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "QUALIFY row_number() OVER (PARTITION BY l_orderkey "
    "ORDER BY l_quantity DESC, l_linenumber) <= 2", None)

_PAIRS["subquery_correlated_exists_q4"] = (
    "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP('1995-01-01') "
    "AND o_orderdate < TIMESTAMP('1995-04-01') "
    "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate) "
    "GROUP BY o_orderpriority",
    "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
    "AND o_orderdate < TIMESTAMP '1995-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate) "
    "GROUP BY o_orderpriority")
# r13: large-outer semi against a high-multiplicity inner key — the
# build-side keyset reduction's certified niche (compiler.py
# _maybe_reduce_semi_build: distinct the inner to the referenced key
# columns + broadcast when ndv-certified; measured −60% vs the stock
# SortMergeJoin at sf10)
_PAIRS["subquery_exists_build_keyset"] = (
    "SELECT count(*) AS n FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_suppkey = o.o_custkey AND l.l_quantity > 25)",
    "SELECT count(*) AS n FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_suppkey = o.o_custkey AND l.l_quantity > 25)")
_PAIRS["subquery_correlated_not_exists"] = (
    "SELECT count(*) AS n FROM orders o "
    "WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')", None)
_PAIRS["subquery_correlated_scalar_q17"] = (
    "SELECT round(CAST(sum(l_extendedprice) AS double) / 7.0, 2) AS avg_yearly "
    "FROM lineitem l1 WHERE l1.l_quantity < "
    "(SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2 "
    "WHERE l2.l_orderkey = l1.l_orderkey)", None)

# Q7 shape: two-nation shipping volume — dual nation join + OR of ANDs +
# year() bucketing over a FROM-subquery
_PAIRS["tpch_q7_volume_shipping"] = (
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(sum(CAST(volume AS decimal(18,4))) AS double) AS revenue FROM ("
    "  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "         year(l.l_shipdate) AS l_year, "
    "         l.l_extendedprice * (1 - l.l_discount) AS volume "
    "  FROM supplier s "
    "  JOIN lineitem l ON s.s_suppkey = l.l_suppkey "
    "  JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "  JOIN customer c ON c.c_custkey = o.o_custkey "
    "  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
    "  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
    "  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "  AND l.l_shipdate BETWEEN TIMESTAMP('1995-01-01') "
    "                       AND TIMESTAMP('1997-12-31')) shipping "
    "GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year",
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(sum(CAST(volume AS decimal(18,4))) AS double) AS revenue FROM ("
    "  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "         year(l.l_shipdate) AS l_year, "
    "         l.l_extendedprice * (1 - l.l_discount) AS volume "
    "  FROM supplier s "
    "  JOIN lineitem l ON s.s_suppkey = l.l_suppkey "
    "  JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "  JOIN customer c ON c.c_custkey = o.o_custkey "
    "  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
    "  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
    "  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "  AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' "
    "                       AND TIMESTAMP '1997-12-31') shipping "
    "GROUP BY supp_nation, cust_nation, l_year "
    "ORDER BY supp_nation, cust_nation, l_year")

# Q8 shape: market share — conditional aggregation ratio (identical-double
# division is hash-exact; decimal sums keep both operands exact)
_PAIRS["tpch_q8_market_share"] = (
    "SELECT o_year, "
    "CAST(sum(CASE WHEN nation = 'NATION_5' THEN CAST(volume AS decimal(18,4)) "
    "         ELSE CAST(0 AS decimal(18,4)) END) AS double) / "
    "CAST(sum(CAST(volume AS decimal(18,4))) AS double) AS mkt_share FROM ("
    "  SELECT year(o.o_orderdate) AS o_year, "
    "         l.l_extendedprice * (1 - l.l_discount) AS volume, "
    "         n1.n_name AS nation "
    "  FROM part p "
    "  JOIN lineitem l ON p.p_partkey = l.l_partkey "
    "  JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "  JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "  JOIN customer c ON o.o_custkey = c.c_custkey "
    "  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
    "  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
    "  JOIN region r ON n2.n_regionkey = r.r_regionkey "
    "  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO') all_nations "
    "GROUP BY o_year ORDER BY o_year", None)

# Q10 shape: returned-item reporting — 4-way join, group incl. measure
# columns, revenue top-20
_PAIRS["tpch_q10_returned_items"] = (
    "SELECT c.c_custkey, c.c_name, "
    "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) "
    "AS double) AS revenue, c.c_acctbal, n.n_name "
    "FROM customer c "
    "JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderdate >= TIMESTAMP('1995-01-01') "
    "AND o.o_orderdate < TIMESTAMP('1995-07-01') "
    "AND l.l_returnflag = 'R' "
    "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name "
    "ORDER BY revenue DESC, c.c_custkey LIMIT 20",
    "SELECT c.c_custkey, c.c_name, "
    "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) "
    "AS double) AS revenue, c.c_acctbal, n.n_name "
    "FROM customer c "
    "JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderdate >= TIMESTAMP '1995-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1995-07-01' "
    "AND l.l_returnflag = 'R' "
    "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name "
    "ORDER BY revenue DESC, c.c_custkey LIMIT 20")

# Q14 shape: promo revenue share — CASE-conditional aggregate ratio
_PAIRS["tpch_q14_promo_effect"] = (
    "SELECT 100.0 * "
    "CAST(sum(CASE WHEN p.p_type = 'PROMO' "
    "         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4)) "
    "         ELSE CAST(0 AS decimal(18,4)) END) AS double) / "
    "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) "
    "AS double) AS promo_revenue "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE l.l_shipdate >= TIMESTAMP('1995-09-01') "
    "AND l.l_shipdate < TIMESTAMP('1995-10-01')",
    "SELECT 100.0 * "
    "CAST(sum(CASE WHEN p.p_type = 'PROMO' "
    "         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4)) "
    "         ELSE CAST(0 AS decimal(18,4)) END) AS double) / "
    "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS decimal(18,4))) "
    "AS double) AS promo_revenue "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1995-09-01' "
    "AND l.l_shipdate < TIMESTAMP '1995-10-01'")

# Q9 shape: product-type profit by nation/year (5-way join, derived amount,
# LIKE filter; p_retailprice*quantity stands in for ps_supplycost)
_PAIRS["tpch_q9_product_profit"] = (
    "SELECT nation, o_year, "
    "CAST(sum(CAST(amount AS decimal(18,4))) AS double) AS sum_profit FROM ("
    "  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year, "
    "         l.l_extendedprice * (1 - l.l_discount) "
    "         - 0.1 * p.p_retailprice * l.l_quantity AS amount "
    "  FROM part p "
    "  JOIN lineitem l ON p.p_partkey = l.l_partkey "
    "  JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "  JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "  JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "  WHERE p.p_name LIKE '%5%') profit "
    "GROUP BY nation, o_year ORDER BY nation, o_year DESC", None)

# Q12 shape: shipping-priority line counts — join + dual conditional sums
_PAIRS["tpch_q12_shipmode_priority"] = (
    "SELECT l.l_returnflag, "
    "CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' "
    "         OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS high_line_count, "
    "CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT' "
    "         AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS low_line_count "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "WHERE l.l_shipdate >= TIMESTAMP('1996-01-01') "
    "AND l.l_shipdate < TIMESTAMP('1997-01-01') "
    "GROUP BY l.l_returnflag ORDER BY l.l_returnflag",
    "SELECT l.l_returnflag, "
    "CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' "
    "         OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS high_line_count, "
    "CAST(sum(CASE WHEN o.o_orderpriority <> '1-URGENT' "
    "         AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS low_line_count "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l.l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY l.l_returnflag ORDER BY l.l_returnflag")

# Q16 shape: supplier count per part attribute — NOT IN subquery +
# COUNT(DISTINCT) + multi-key group (lineitem stands in for partsupp)
_PAIRS["tpch_q16_parts_supplier_relationship"] = (
    "SELECT p.p_brand, p.p_type, p.p_size, "
    "count(DISTINCT l.l_suppkey) AS supplier_cnt "
    "FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey "
    "WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9) "
    "AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier "
    "                        WHERE s_acctbal < 0.0) "
    "GROUP BY p.p_brand, p.p_type, p.p_size "
    "ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size", None)

# Q13 shape: customer order-count distribution — LEFT JOIN with an extra
# non-key ON predicate, then aggregate-of-aggregate
_PAIRS["tpch_q13_customer_distribution"] = (
    "SELECT c_count, count(*) AS custdist FROM ("
    "  SELECT c.c_custkey, count(o.o_orderkey) AS c_count "
    "  FROM customer c "
    "  LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
    "   AND o.o_orderpriority <> '1-URGENT' "
    "  GROUP BY c.c_custkey) t "
    "GROUP BY c_count ORDER BY custdist DESC, c_count DESC", None)

# Q15 shape: top supplier by revenue — CTE referenced twice (join side +
# scalar MAX subquery over the same CTE)
_PAIRS["tpch_q15_top_supplier"] = (
    "WITH revenue AS ("
    "  SELECT l_suppkey AS supplier_no, "
    "  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(18,4))) "
    "  AS double) AS total_revenue "
    "  FROM lineitem "
    "  WHERE l_shipdate >= TIMESTAMP('1996-01-01') "
    "  AND l_shipdate < TIMESTAMP('1996-04-01') "
    "  GROUP BY l_suppkey) "
    "SELECT s.s_suppkey, s.s_name, r.total_revenue "
    "FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no "
    "WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue) "
    "ORDER BY s.s_suppkey",
    "WITH revenue AS ("
    "  SELECT l_suppkey AS supplier_no, "
    "  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(18,4))) "
    "  AS double) AS total_revenue "
    "  FROM lineitem "
    "  WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "  AND l_shipdate < TIMESTAMP '1996-04-01' "
    "  GROUP BY l_suppkey) "
    "SELECT s.s_suppkey, s.s_name, r.total_revenue "
    "FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no "
    "WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue) "
    "ORDER BY s.s_suppkey")

# Q19 shape: discounted revenue over OR'd bracket predicates (join + complex
# disjunctive pushdown)
_PAIRS["tpch_q19_discounted_revenue"] = (
    "SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) "
    "AS decimal(18,4))) AS double) AS revenue "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5 "
    "       AND l.l_quantity BETWEEN 1 AND 11) "
    "   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10 "
    "       AND l.l_quantity BETWEEN 10 AND 20) "
    "   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 "
    "       AND l.l_quantity BETWEEN 20 AND 30)", None)

# ---- TPC-H Q20/Q21/Q22 shapes, adapted to the driver testdata schema
# (no partsupp/l_receiptdate/c_phone columns; same decorrelation structure)

# Q20 shape: IN-subquery whose body nests another IN plus a correlated
# scalar aggregate (0.5*avg) — exercises nested decorrelation
_PAIRS["tpch_q20_potential_part_promotion"] = (
    "SELECT s_name, s_acctbal FROM supplier "
    "WHERE s_suppkey IN ("
    "  SELECT l1.l_suppkey FROM lineitem l1 "
    "  WHERE l1.l_partkey IN (SELECT p_partkey FROM part "
    "                         WHERE p_name LIKE 'part_1%') "
    "  AND l1.l_quantity > (SELECT 0.5 * avg(l2.l_quantity) "
    "                       FROM lineitem l2 "
    "                       WHERE l2.l_partkey = l1.l_partkey)) "
    "ORDER BY s_name", None)

# Q21 shape: EXISTS + NOT EXISTS, both with a NON-equality correlated
# predicate (l2.l_suppkey <> l1.l_suppkey) — mixed equi/theta semi joins
_PAIRS["tpch_q21_suppliers_kept_waiting"] = (
    "SELECT s_name, count(*) AS numwait "
    "FROM supplier s "
    "JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey "
    "JOIN orders o ON o.o_orderkey = l1.l_orderkey "
    "WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 "
    "            WHERE l2.l_orderkey = l1.l_orderkey "
    "            AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
    "                WHERE l3.l_orderkey = l1.l_orderkey "
    "                AND l3.l_suppkey <> l1.l_suppkey "
    "                AND l3.l_returnflag = 'R') "
    "GROUP BY s_name ORDER BY numwait DESC, s_name", None)

# Q22 shape: FROM-subquery with an uncorrelated scalar-aggregate filter and
# a correlated NOT EXISTS (customers with no orders), re-aggregated on top
_PAIRS["tpch_q22_global_sales_opportunity"] = (
    "SELECT cntrycode, count(*) AS numcust, "
    "CAST(sum(CAST(c_acctbal AS decimal(18,2))) AS double) AS totacctbal "
    "FROM ("
    "  SELECT substring(c_name, 10, 2) AS cntrycode, c_acctbal "
    "  FROM customer c "
    "  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer "
    "                     WHERE c_acctbal > 0.0) "
    "  AND NOT EXISTS (SELECT 1 FROM orders o "
    "                  WHERE o.o_custkey = c.c_custkey)) t "
    "GROUP BY cntrycode ORDER BY cntrycode", None)

# UNNEST lateral array expansion over the embeddings table
_PAIRS["embeddings_unnest_dims"] = (
    "SELECT vec_id, count(*) AS dim FROM embeddings e, "
    "UNNEST(e.embedding) AS u(x) GROUP BY vec_id",
    "SELECT vec_id, count(*) AS dim FROM "
    "(SELECT vec_id, unnest(embedding) AS x FROM embeddings) t "
    "GROUP BY vec_id")

_PAIRS["events_json_extract"] = (
    "SELECT event_type, "
    "CAST(sum(CAST(get_json_object(props, '$.k') AS int)) AS bigint) AS sum_k, "
    "count(*) AS n FROM events GROUP BY event_type",
    "SELECT event_type, "
    "CAST(sum(CAST(json_extract_string(props, '$.k') AS int)) AS bigint) AS sum_k, "
    "count(*) AS n FROM events GROUP BY event_type",
)

# Q2 shape (adapted: the corpus has no partsupp table, so lineitem serves as
# the part↔supplier cost relation): minimum-cost supplier per part in one
# region — a correlated scalar MIN over a 4-way join inside the predicate,
# exercising the decorrelator over a multi-join inner (compiler.py
# _bind_correlated_scalar; generalizes subquery_correlated_scalar_q17)
_PAIRS["tpch_q2_minimum_cost_supplier"] = (
    "SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand "
    "FROM part p "
    "JOIN lineitem l ON l.l_partkey = p.p_partkey "
    "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE p.p_size = 15 AND r.r_name = 'EUROPE' "
    "AND l.l_extendedprice = ("
    "  SELECT min(l2.l_extendedprice) FROM lineitem l2 "
    "  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey "
    "  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey "
    "  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey "
    "  WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE') "
    "ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey "
    "LIMIT 100", None)

# Q11 shape (adapted, same partsupp substitution): important part value in
# one nation — grouped HAVING against an uncorrelated scalar aggregate
# share-of-total projection: the scalar total aggregates the same
# FROM+WHERE as the outer grouped query → compiled by the r7
# total-over-groups rewrite as a window total over the grouped frame
# (ONE lineitem pass; the naive plan scans twice)
_PAIRS["agg_share_of_total"] = (
    "SELECT l_returnflag, "
    "round(CAST(sum(l_extendedprice) AS double) "
    "      / (SELECT sum(l_extendedprice) FROM lineitem), 6) "
    "  AS revenue_share "
    "FROM lineitem GROUP BY l_returnflag", None)

_PAIRS["tpch_q11_important_stock"] = (
    "SELECT l.l_partkey, "
    "CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) "
    "    AS decimal(18,4))) AS double) AS part_value "
    "FROM lineitem l "
    "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "WHERE n.n_name = 'NATION_1' "
    "GROUP BY l.l_partkey "
    "HAVING sum(CAST(l.l_extendedprice * (1 - l.l_discount) "
    "    AS decimal(18,4))) > ("
    "  SELECT sum(CAST(l2.l_extendedprice * (1 - l2.l_discount) "
    "      AS decimal(18,4))) * CAST(0.001 AS double) "
    "  FROM lineitem l2 "
    "  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey "
    "  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey "
    "  WHERE n2.n_name = 'NATION_1') "
    "ORDER BY part_value DESC, l.l_partkey", None)

_PAIRS["events_funnel_share"] = (
    "SELECT event_type, n, round(n / sum(n) OVER (), 6) AS share FROM "
    "(SELECT event_type, CAST(count(*) AS double) AS n FROM events "
    "GROUP BY event_type) t",
    None,
)

# DISTINCT ON (r6): Postgres/DuckDB first-row-per-group; lowered to a
# row_number window (one shuffle on the group exprs), identical statement
# runs on both engines
_PAIRS["distinct_on_latest_event"] = (
    "SELECT DISTINCT ON (user_id) user_id, event_id, ts, value "
    "FROM events ORDER BY user_id, ts DESC",
    None,
)

# PIVOT / UNPIVOT relation postfixes (r6): SQL-standard form, identical
# statement runs on both engines. PIVOT plans as one partial-agg shuffle
# (groupBy + pivot with explicit values); UNPIVOT is map-side only.
_PAIRS["pivot_event_type"] = (
    "SELECT * FROM (SELECT user_id % 3 AS user_bucket, event_type, value "
    "FROM events) "
    "PIVOT (sum(value) FOR event_type IN "
    "('click', 'view', 'error', 'purchase', 'signup'))",
    None,
)
_PAIRS["unpivot_order_measures"] = (
    "SELECT o_orderkey, k, v FROM "
    "(SELECT o_orderkey, o_totalprice AS price, "
    "o_totalprice * 0.1 AS tax_est FROM orders) t "
    "UNPIVOT (v FOR k IN (price, tax_est))",
    None,
)

# ASOF JOIN on the SQL surface (r6): DuckDB-compatible syntax, so the SAME
# statement runs on both engines — the oracle is DuckDB's native ASOF JOIN
# planner against this engine's union+window lowering (plans/compiler.py
# _compile_asof_join; single shuffle, never join-all-candidates)
_PAIRS["join_asof_sql"] = (
    "SELECT p.event_id AS pid, p.ts AS pts, p.user_id AS uid, "
    "v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value "
    "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
    "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v "
    "ON p.user_id = v.user_id AND p.ts >= v.ts",
    None,
)


# Quantified comparisons (r6): x <op> ANY/ALL/SOME (subquery) — identical
# statement runs on both engines. Equality forms lower to IN/NOT IN;
# ordered forms lower to count/extremum/null-count aggregate scalar
# subqueries (plans/compiler.py _lower_quantified), so the correlated form
# below rides the window-decorrelation path (one shuffle, zero joins).
_PAIRS["subquery_quantified_all_correlated"] = (
    "SELECT count(*) AS n_line_max FROM lineitem l1 "
    "WHERE l1.l_quantity >= ALL (SELECT l2.l_quantity FROM lineitem l2 "
    "WHERE l2.l_orderkey = l1.l_orderkey)",
    None,
)
# two-column statistical aggregates (r6): corr/covar/regr family — the
# same statement runs on both engines; rounded for float stability
# LEFT-join fact rollup (r12): the supplier→lineitem shape whose
# reduction ratio (~600 rows/key) opens the LEFT-fact aggregation
# pushdown gate at sf1+ — pre-aggregate lineitem by l_suppkey, LEFT-join
# the partials, merge count as coalesce(sum, 0) so supplier rows with no
# lines still count 0 (measured sf10: 2.80 → 1.01 s). At driver
# correctness SF the gate stays shut and the stock plan answers; the
# forced-gate sweeps pin the rewritten plan against the same oracle.
_PAIRS["agg_left_fact_rollup"] = (
    "SELECT s.s_name, count(l.l_orderkey) AS n_lines, "
    "CAST(sum(CAST(l.l_quantity AS decimal(18,2))) AS double) AS qty, "
    "CAST(max(l.l_extendedprice) AS double) AS max_price "
    "FROM supplier s LEFT JOIN lineitem l ON s.s_suppkey = l.l_suppkey "
    "AND l.l_returnflag <> 'R' "
    "GROUP BY s.s_name ORDER BY s.s_name", None)

_PAIRS["agg_corr_regr"] = (
    "SELECT l_returnflag, "
    "round(corr(l_quantity, l_extendedprice), 6) AS c, "
    "round(covar_samp(l_quantity, l_extendedprice), 4) AS cs, "
    "round(regr_slope(l_extendedprice, l_quantity), 4) AS m, "
    "round(regr_r2(l_extendedprice, l_quantity), 6) AS r2, "
    "CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n "
    "FROM lineitem GROUP BY l_returnflag",
    None,
)

# EXISTS in the SELECT list (r6): lowered to (SELECT count(*) ...) > 0;
# the correlated count rides the scalar decorrelation machinery, so this
# plans as one grouped count + broadcast join, never a per-row probe
_PAIRS["subquery_exists_in_select"] = (
    "SELECT n_name, "
    "EXISTS (SELECT 1 FROM customer c "
    "WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000) "
    "AS has_rich FROM nation n ORDER BY n_name",
    None,
)

_PAIRS["subquery_quantified_any_grouped"] = (
    "SELECT count(*) AS n FROM orders "
    "WHERE o_totalprice > ANY (SELECT o_totalprice FROM orders "
    "GROUP BY o_totalprice HAVING count(*) > 1)",
    None,
)

# NOW()/TODAY() under a pinned clock (sql_to_ibis_spark.set_fixed_clock):
# the reference maps them to the wall clock at query build time
# (parsing/transformers.py:371-387), which is correct but unhashable; the
# injectable clock makes both surfaces oracle-checkable. The clock is pinned
# only around compile (the literal is baked into the plan), so these entries
# don't leak a fixed clock into other queries.
_CLOCK_TS = "1995-06-17 12:34:56"
_CLOCK_PAIRS: dict[str, tuple[str, str]] = {
    # result columns stay TIMESTAMP (a bare DATE crosses toPandas as python
    # date objects on Spark but datetime64 on DuckDB — a representation
    # mismatch, not a value one); the predicate still exercises TODAY()
    "scalar_today_pinned_filter": (
        "SELECT count(*) AS n_shipped, max(l_shipdate) AS last_ship "
        "FROM lineitem WHERE l_shipdate <= today()",
        "SELECT count(*) AS n_shipped, max(l_shipdate) AS last_ship "
        f"FROM lineitem WHERE l_shipdate <= DATE '{_CLOCK_TS[:10]}'",
    ),
    "scalar_now_today_projection": (
        "SELECT r_name, now() AS computed_at, "
        "CAST(today() AS TIMESTAMP) AS as_of FROM region ORDER BY r_name",
        f"SELECT r_name, TIMESTAMP '{_CLOCK_TS}' AS computed_at, "
        f"TIMESTAMP '{_CLOCK_TS[:10]} 00:00:00' AS as_of "
        "FROM region ORDER BY r_name",
    ),
}


def _clock_pinned(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sql_to_ibis_spark import set_fixed_clock

        set_fixed_clock(_CLOCK_TS)
        try:
            return _engine_for(spark, sf_dir).query(sql)
        finally:
            set_fixed_clock(None)

    return run


# The driver's correctness gate only records the FIRST 50 queries() entries
# (dict order). ROTATION POLICY (r7+): each round the window leads with
# entries whose PLANS changed since their last driver record, then the
# longest-stale remainder (last-record round computed from
# CORRECTNESS_r0*.json). The full local oracle run over every entry
# (162 at r13; scripts/check_oracle.py, recorded per-round) is the
# safety net for everything past position 50.
_PRIORITY: list[str] = [
    # --- driver window (50), r16 rotation ---
    # Leads with the one r16-touched plan (tpch_q21: the <>-EXISTS
    # pinned group collapse — the new path gates at ≥1M footer rows, so
    # the driver SFs exercise the unchanged window/stock plans, but the
    # rotation policy still fronts every touched entry), then the
    # COMPLETE r12 tier (23 entries — the oldest latest-record tier
    # after r15, including group_by_all which r15 rotated out and
    # VERDICT r15 item 8 asked to lead with), then the r13 tier
    # alphabetically up to 50. After this window no entry's latest
    # driver record predates r13 (the two-tier staleness invariant:
    # window round minus 3).
    "tpch_q21_suppliers_kept_waiting",
    "group_by_all",
    "intersect",
    "intersect_all",
    "pipeline_multimodal_decode_images",
    "pipeline_multimodal_decode_jpeg",
    "pipeline_multimodal_decode_jpeg_cmyk",
    "pipeline_multimodal_decode_jpeg_color",
    "pipeline_multimodal_decode_jpeg_lossless",
    "pipeline_multimodal_decode_jpeg_progressive",
    "subquery_from_nested",
    "subquery_join",
    "subquery_quantified_all_correlated",
    "subquery_quantified_any_grouped",
    "tpch_q18_large_volume_customer",
    "tpch_q22_global_sales_opportunity",
    "tpch_q7_volume_shipping",
    "tpch_q9_product_profit",
    "unpivot_order_measures",
    "window_named",
    "window_ntile",
    "window_qualify_topn",
    "window_rank_dense_rank",
    "window_row_number",
    # r13 tier, alphabetical fill to 50
    "agg_percentile",
    "events_funnel_share",
    "events_json_extract",
    "events_user_daily",
    "join_anti_not_in_subquery",
    "join_comma_implicit_cross",
    "join_cross",
    "join_full_outer",
    "join_inner",
    "join_left",
    "join_multiway",
    "join_right",
    "join_semi_in_subquery",
    "join_theta",
    "limit_offset",
    "order_by_multi_key",
    "pipeline_ann_cosine_topk",
    "pipeline_dedup_clusters",
    "pipeline_doc_fingerprint",
    "pipeline_multimodal_audio_rms",
    "pipeline_multimodal_blob_dedup",
    "pipeline_multimodal_blob_metadata",
    "pipeline_multimodal_decode_bmp",
    "pipeline_multimodal_decode_error_accounting",
    "pipeline_multimodal_decode_stub",
    "pipeline_sample_stratified",
]


def _reorder(d: dict) -> dict:
    out = {name: d[name] for name in _PRIORITY if name in d}
    out.update((name, v) for name, v in d.items() if name not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (engine_sql, _) in _PAIRS.items():
        out[name] = _sql(engine_sql)
    for name, (engine_sql, _) in _CLOCK_PAIRS.items():
        out[name] = _clock_pinned(engine_sql)
    _add_pipeline_operators(out)
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable equivalents; keys match queries()."""
    if not _PIPELINE_ORACLES:
        # populate the pipeline oracle map even if queries() wasn't called
        _add_pipeline_operators({})
    out: dict[str, str] = {}
    for name, (engine_sql, oracle) in _PAIRS.items():
        out[name] = oracle if oracle is not None else engine_sql
    for name, (_, oracle) in _CLOCK_PAIRS.items():
        out[name] = oracle
    out.update(_PIPELINE_ORACLES)
    return _reorder(out)


# --------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text analysis) — these
# exercise the operators/ package rather than the SQL surface.
# --------------------------------------------------------------------------

_PIPELINE_ORACLES: dict[str, str] = {}

# Exhaustive ground-truth near-dup pairs, shared by the dedup oracles: the
# engine's hashed-shingle Jaccard (operators/dedup.py _shingle_hashes) equals
# string-shingle Jaccard up to ~2^-31 hash collisions, so DuckDB can recompute
# it directly on word 5-gram shingle SETS. Candidate blocking via an inverted
# index on shingles (a pair with J > 0 must share a shingle) keeps the oracle
# O(shared-shingle pairs), not O(n²) — it IS the exhaustive answer, not an
# approximation.
_SHINGLE_PAIRS_TEMPLATE = r"""
  s AS (
    SELECT doc_id,
           string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                        ' ') AS toks
    FROM {src}
  ), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, greatest(len(toks) - 4, 1) + 1),
             i -> array_to_string(toks[i:i+4], ' '))) AS shingles
    FROM s
  ), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM (SELECT doc_id, unnest(shingles) AS sg FROM sh) a
    JOIN (SELECT doc_id, unnest(shingles) AS sg FROM sh) b
      ON a.sg = b.sg AND a.doc_id < b.doc_id
  ), pairs AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.id_a
    JOIN sh y ON y.doc_id = c.id_b
  )
"""

_SHINGLE_PAIRS_CTE = _SHINGLE_PAIRS_TEMPLATE.format(src="documents")


def _add_pipeline_operators(out: dict) -> None:
    from sql_to_ibis_spark.operators import dedup, multimodal, similarity, text
    from sql_to_ibis_spark.sources.readers import read_parquet

    def _docs(spark, sf_dir):
        return read_parquet(spark, f"{sf_dir}/documents.parquet")

    def _embs(spark, sf_dir):
        return read_parquet(spark, f"{sf_dir}/embeddings.parquet")

    # exact dedup on normalized text (oracle: row_number window)
    def dedup_exact(spark, sf_dir):
        _engine_for(spark, sf_dir)  # ensures session confs
        out = dedup.exact_dedup(_docs(spark, sf_dir), key_cols=["text_norm"],
                                order_col="doc_id", normalize_col="text")
        return out.select("doc_id", "lang", "source", "n_chars")

    out["pipeline_dedup_exact"] = dedup_exact
    _PIPELINE_ORACLES["pipeline_dedup_exact"] = """
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT *, row_number() OVER (
            PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
          FROM documents) t WHERE rn = 1
    """

    # token counting + quality stats (oracle-able text analysis)
    def text_stats(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.token_stats(_docs(spark, sf_dir))

    out["pipeline_text_token_stats"] = text_stats
    _PIPELINE_ORACLES["pipeline_text_token_stats"] = """
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(text) AS n_chars_actual,
               round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS double)
                     / NULLIF(length(text), 0), 6) AS alpha_ratio
        FROM documents
    """

    # corpus-level line dedup (C4/Dolma boilerplate removal): drop lines in
    # more than max_doc_freq distinct docs, rebuild docs in line order.
    # The synthetic docs are single-line, so max_doc_freq=1 makes the
    # duplicate texts (the planted exact-dup group) blank out — the oracle
    # reproduces posexplode/anti-join/ordered-rebuild with WITH ORDINALITY
    def line_dedup(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return dedup.dedup_lines(_docs(spark, sf_dir), max_doc_freq=1)

    out["pipeline_dedup_lines"] = line_dedup
    _PIPELINE_ORACLES["pipeline_dedup_lines"] = """
        WITH parts AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
        ), lines AS (
          SELECT p.doc_id, p.ls[t.i] AS line, t.i AS pos
          FROM parts p, LATERAL (
            SELECT unnest(generate_series(1, len(p.ls))) AS i) t
          WHERE trim(p.ls[t.i]) != ''
        ), common AS (
          SELECT line FROM lines GROUP BY line
          HAVING count(DISTINCT doc_id) > 1
        ), kept AS (
          SELECT * FROM lines
          WHERE line NOT IN (SELECT line FROM common)
        )
        SELECT d.doc_id,
               coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '')
                 AS text
        FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        GROUP BY d.doc_id
    """

    # global token-budget curation: fill a fixed token budget with the
    # longest documents first (n_chars as the ranking; ties by doc_id).
    # The ordered prefix sum runs as the two-pass distributed scan — the
    # oracle is a plain window cumsum, which only matches if the
    # partition-base bookkeeping is exact
    def token_budget(spark, sf_dir):
        from sql_to_ibis_spark.operators import sampling

        _engine_for(spark, sf_dir)
        return sampling.take_token_budget(
            _docs(spark, sf_dir), budget_tokens=5000, order_col="n_chars")

    out["pipeline_take_token_budget"] = token_budget
    _PIPELINE_ORACLES["pipeline_take_token_budget"] = r"""
        WITH tok AS (
          SELECT doc_id, n_chars,
                 CAST(len(string_split(lower(trim(regexp_replace(
                   text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens AS BIGINT) AS tokens_before
          FROM tok
        )
        SELECT doc_id, n_tokens, tokens_before FROM c
        WHERE tokens_before < 5000
    """

    def term_freq(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.term_frequencies(_docs(spark, sf_dir), top_k=50)

    out["pipeline_text_term_frequencies"] = term_freq
    _PIPELINE_ORACLES["pipeline_text_term_frequencies"] = r"""
        SELECT term, count(*) AS n FROM (
          SELECT unnest(regexp_split_to_array(
            lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
          FROM documents) t
        WHERE term != ''
        GROUP BY term ORDER BY n DESC, term LIMIT 50
    """

    # real BPE (r14): the word-histogram pass (BPE training's only
    # distributed step) is SQL-expressible — hash-exact oracle; the
    # trained-merges token count is NOT (merge selection is inherently
    # iterative), so that entry is rows-only and exactness is pinned by
    # tests/test_tokenize.py's hand-computed fixtures.
    def bpe_histogram(spark, sf_dir):
        from sql_to_ibis_spark.operators import tokenize

        _engine_for(spark, sf_dir)
        return tokenize.word_histogram(_docs(spark, sf_dir))

    out["pipeline_bpe_word_histogram"] = bpe_histogram
    # the oracle regex is the ENGINE's pre-token pattern verbatim (an
    # explicit Unicode-whitespace class, r15 — see tokenize._WS_CLASS):
    # importing it here means Java, Python, and RE2 pre-tokenize the
    # same stream by construction and the oracle can't drift
    from sql_to_ibis_spark.operators.tokenize import _PRETOKEN_PATTERN
    _PIPELINE_ORACLES["pipeline_bpe_word_histogram"] = f"""
        SELECT word, count(*) AS cnt FROM (
          SELECT unnest(regexp_extract_all(
            lower(text), '{_PRETOKEN_PATTERN}')) AS word
          FROM documents WHERE text IS NOT NULL) t
        GROUP BY word
    """

    def bpe_count(spark, sf_dir):
        from sql_to_ibis_spark.operators import tokenize

        _engine_for(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        merges = tokenize.train_bpe_merges(docs, num_merges=50,
                                           max_words=5000)
        return tokenize.bpe_token_count(docs, merges)

    out["pipeline_bpe_token_count"] = bpe_count
    # no oracle entry: rows-only by design (see comment above)

    def doc_fingerprint(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.fingerprint(_docs(spark, sf_dir))

    out["pipeline_doc_fingerprint"] = doc_fingerprint
    _PIPELINE_ORACLES["pipeline_doc_fingerprint"] = """
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    """

    # brute-force cosine top-k against a fixed query vector (vec_id = 0)
    def ann_topk(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return similarity.cosine_topk_vs_query(_embs(spark, sf_dir),
                                               query_vec_id=0, k=10)

    out["pipeline_ann_cosine_topk"] = ann_topk
    _PIPELINE_ORACLES["pipeline_ann_cosine_topk"] = """
        SELECT e.vec_id,
               round(list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS sim
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id != 0
        ORDER BY sim DESC, e.vec_id LIMIT 10
    """

    # IVF ANN (probe-all config → exhaustive → same oracle as brute force;
    # nprobe < nlist is the production scale dial, tested separately)
    def ann_ivf(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return similarity.ivf_ann_topk(_embs(spark, sf_dir), query_vec_id=0,
                                       k=10, nlist=4, nprobe=4) \
            .select("vec_id", "sim")

    out["pipeline_ann_ivf"] = ann_ivf
    _PIPELINE_ORACLES["pipeline_ann_ivf"] = \
        _PIPELINE_ORACLES["pipeline_ann_cosine_topk"]

    # production IVF config (nprobe < nlist) with planted ground truth:
    # each query's identical twin shares its coarse cell (identical
    # normalized vector → same nearest centroid), and the query's own cell
    # is always rank-1 probed — so batched top-1 must return exactly the
    # twin at sim 1.0 for every query, regardless of how k-means carved the
    # space. Recall at production nprobe over natural neighbors stays gated
    # in tests/test_quality_gates.py::test_ivf_recall_at_production_nprobe.
    def ann_ivf_nprobe(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return similarity.ivf_ann_topk_batch(
            _planted_embs(spark, sf_dir),
            query_vec_ids=[0, 50, 100, 150, 200],
            k=1, nlist=8, nprobe=2,
        ).select("query_id", "vec_id", "sim")

    out["pipeline_ann_ivf_nprobe"] = ann_ivf_nprobe
    _PIPELINE_ORACLES["pipeline_ann_ivf_nprobe"] = """
        SELECT vec_id AS query_id, vec_id + 1000000000 AS vec_id, 1.0 AS sim
        FROM embeddings WHERE vec_id IN (0, 50, 100, 150, 200)
    """

    # minhash-LSH near-dup pairs, screened by the signature estimate. The
    # oracle recomputes ground truth EXHAUSTIVELY (inverted-index-blocked
    # all-pairs string-shingle Jaccard): at sf0.01 every true pair has
    # J ≥ 0.875 and nothing else exceeds 0.3, so banded LSH (16×4) recall
    # is 1.0 with miss probability < 1e-6 per pair — the hash-exact match
    # proves candidate generation catches every real pair and the estimate
    # screen (est ≥ 0.5 vs true est ≈ J⁴-safe margins) kills band-collision
    # noise.
    def dedup_minhash(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        return (
            dedup.minhash_lsh_candidates(_docs(spark, sf_dir))
            .filter(F.col("est_jaccard") >= 0.5)
            .select("id_a", "id_b")
        )

    out["pipeline_dedup_minhash_lsh"] = dedup_minhash
    _PIPELINE_ORACLES["pipeline_dedup_minhash_lsh"] = (
        "WITH " + _SHINGLE_PAIRS_CTE
        + " SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.7"
    )

    # end-to-end curation composition (quality gate → exact dedup →
    # near-dup collapse → token accounting). Oracle: the full pipeline
    # recomputed in SQL from the already-proven hash-exact fragments
    # (quality_score + language_id formulas) plus the exhaustive Jaccard
    # edge set over the post-filter survivors and a recursive-CTE
    # transitive closure — every stage of the composition is verified.
    def curate_docs(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.operators import curate

        out_df = curate.curate_documents(_docs(spark, sf_dir),
                                         min_quality=0.4,
                                         jaccard_threshold=0.7)
        return out_df.select("doc_id", "lang_pred", "quality_score",
                             "n_tokens")

    out["pipeline_curate_documents"] = curate_docs
    _PIPELINE_ORACLES["pipeline_curate_documents"] = (
        r"""WITH RECURSIVE qb AS (
          SELECT doc_id, text,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt,
                 length(text) AS nc
          FROM documents
        ), qc AS (
          SELECT doc_id, text, nt, nc,
                 string_split(nt, ' ') AS toks,
                 len(string_split(nt, ' ')) AS n_toks
          FROM qb
        ), qr AS (
          SELECT doc_id, n_toks,
            CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS double)
              / nullif(nc, 0) AS punct_ratio,
            CAST(len(list_intersect(toks, ['the','and','of','to','a','in','is','it','for','that'])) AS double)
              / CAST(nullif(n_toks, 0) AS double) AS stop_ratio,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double)
              / nullif(nc, 0) AS alpha_ratio
          FROM qc
        ), q AS (
          SELECT doc_id,
            floor((CASE WHEN n_toks >= 10 AND n_toks <= 100000
                        THEN 1.0 ELSE 0.3 END * 0.3
                   + least(alpha_ratio / 0.6, 1.0) * 0.3
                   + greatest(0.0, least(1.0, (0.5 - punct_ratio) / 0.4)) * 0.25
                   + least(stop_ratio / 0.04, 1.0) * 0.15) * 1e4) / 1e4
              AS quality_score
          FROM qr
        ), lsc AS (
          SELECT doc_id, text,
            len(list_intersect(toks, ['the','and','of','to','a','in','is','it','for','that'])) AS s_en,
            len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) AS s_de,
            len(list_intersect(toks, ['le','la','les','et','est','pas','un','une','pour','dans'])) AS s_fr,
            len(list_intersect(toks, ['el','la','los','y','es','no','un','una','para','con'])) AS s_es
          FROM qc
        ), lg AS (
          SELECT doc_id,
            CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                 WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                 WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                 WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                 ELSE 'unknown' END AS lang_pred
          FROM lsc
        ), base AS (
          SELECT d.doc_id, d.text
          FROM documents d JOIN q ON q.doc_id = d.doc_id
          WHERE q.quality_score >= 0.4
        ), ex AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER (
              PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
              ORDER BY doc_id) AS rn
            FROM base) t WHERE rn = 1
        ),"""
        + _SHINGLE_PAIRS_TEMPLATE.format(src="ex")
        + """, edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs WHERE round(jaccard, 4) >= 0.7
            UNION ALL
            SELECT id_b, id_a FROM pairs WHERE round(jaccard, 4) >= 0.7
          ), reach(src, dst) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
          ), losers AS (
            SELECT src FROM reach GROUP BY src HAVING min(dst) != src
          )
          SELECT e.doc_id, lg.lang_pred, q.quality_score,
                 CAST(len(regexp_split_to_array(trim(e.text), '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM ex e
          LEFT JOIN losers l ON e.doc_id = l.src
          JOIN q ON q.doc_id = e.doc_id
          JOIN lg ON lg.doc_id = e.doc_id
          WHERE l.src IS NULL"""
    )

    # full near-dup collapse: LSH candidates → Jaccard verify → connected
    # components → one surviving row (min id) per cluster. Oracle: exhaustive
    # ground-truth edge set (J ≥ 0.7) + a recursive-CTE transitive closure —
    # DuckDB independently computes min-reachable-id components, so the
    # Spark-side pointer-jumping label propagation is verified end-to-end.
    def dedup_clusters(spark, sf_dir):
        _engine_for(spark, sf_dir)
        out_df = dedup.dedup_clusters(_docs(spark, sf_dir),
                                      jaccard_threshold=0.7)
        return out_df.select("doc_id", "lang", "source")

    out["pipeline_dedup_clusters"] = dedup_clusters
    _PIPELINE_ORACLES["pipeline_dedup_clusters"] = (
        "WITH RECURSIVE " + _SHINGLE_PAIRS_CTE
        + """, edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs WHERE round(jaccard, 4) >= 0.7
            UNION ALL
            SELECT id_b, id_a FROM pairs WHERE round(jaccard, 4) >= 0.7
          ), reach(src, dst) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
          ), losers AS (
            SELECT src FROM reach GROUP BY src HAVING min(dst) != src
          )
          SELECT d.doc_id, d.lang, d.source
          FROM documents d LEFT JOIN losers l ON d.doc_id = l.src
          WHERE l.src IS NULL"""
    )

    # SimHash with planted ground truth: 100 exact copies (doc_id + 1000000000)
    # are injected; identical text ⇒ identical 64-bit signature ⇒ Hamming 0
    # and a guaranteed collision in all four 16-bit bands. Restricting the
    # output to the planted join (id_b = id_a + 1000000000) makes the expected
    # set closed-form: any missed pair (signature nondeterminism, banding
    # bug) or spurious hamming ≠ 0 breaks the hash match. Full-corpus
    # candidate mining stays covered by recall gates in
    # tests/test_quality_gates.py.
    def dedup_simhash(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        plants = docs.filter(F.col("doc_id") < 100) \
                     .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
        return (
            dedup.simhash_buckets(docs.unionByName(plants))
            .filter(F.col("id_b") == F.col("id_a") + 1_000_000_000)
            .select("id_a", "id_b",
                    F.col("hamming").cast("int").alias("hamming"))
        )

    out["pipeline_dedup_simhash"] = dedup_simhash
    _PIPELINE_ORACLES["pipeline_dedup_simhash"] = """
        SELECT doc_id AS id_a, doc_id + 1000000000 AS id_b,
               CAST(0 AS INT) AS hamming
        FROM documents WHERE doc_id < 100
    """

    def lang_id(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.language_id(_docs(spark, sf_dir))

    out["pipeline_text_language_id"] = lang_id
    # hash-exact oracle: the heuristic is pure set/regex algebra, so DuckDB
    # reproduces it (list_intersect ≡ array_intersect, both distinct-set).
    # CASE order must match the engine's when-chain: zh, en, de, fr, es.
    _PIPELINE_ORACLES["pipeline_text_language_id"] = r"""
        WITH s AS (
          SELECT doc_id, lang, text,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                              ' ') AS toks
          FROM documents
        ), sc AS (
          SELECT doc_id, lang, text,
            len(list_intersect(toks, ['the','and','of','to','a','in','is','it','for','that'])) AS s_en,
            len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) AS s_de,
            len(list_intersect(toks, ['le','la','les','et','est','pas','un','une','pour','dans'])) AS s_fr,
            len(list_intersect(toks, ['el','la','los','y','es','no','un','una','para','con'])) AS s_es
          FROM s
        )
        SELECT doc_id,
          CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
               WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
               WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
               WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
               ELSE 'unknown' END AS lang_pred,
          lang
        FROM sc
    """

    def text_quality(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.quality_score(_docs(spark, sf_dir))

    out["pipeline_text_quality_score"] = text_quality
    # hash-exact oracle: every ratio is exact-int division and every output
    # is floor-truncated (see text._trunc) — IEEE-identical across engines,
    # unlike round() whose half-boundary behavior differs. Java \p{Punct}
    # == RE2 [[:punct:]] (both ASCII-only POSIX punct).
    _PIPELINE_ORACLES["pipeline_text_quality_score"] = r"""
        WITH b AS (
          SELECT doc_id, text,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt,
                 length(text) AS nc
          FROM documents
        ), c AS (
          SELECT doc_id, text, nt, nc,
                 string_split(nt, ' ') AS toks,
                 len(string_split(nt, ' ')) AS n_tokens
          FROM b
        ), r AS (
          SELECT doc_id, n_tokens,
            CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS double)
              / nullif(nc, 0) AS punct_ratio,
            CAST(len(list_intersect(toks, ['the','and','of','to','a','in','is','it','for','that'])) AS double)
              / CAST(nullif(n_tokens, 0) AS double) AS stop_ratio,
            CAST(length(replace(nt, ' ', '')) AS double)
              / nullif(n_tokens, 0) AS mean_word_len,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double)
              / nullif(nc, 0) AS alpha_ratio
          FROM c
        )
        SELECT doc_id, n_tokens,
          floor(punct_ratio * 1e6) / 1e6 AS punct_ratio,
          floor(stop_ratio * 1e6) / 1e6 AS stopword_ratio,
          floor(mean_word_len * 1e4) / 1e4 AS mean_word_len,
          floor((CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                      THEN 1.0 ELSE 0.3 END * 0.3
                 + least(alpha_ratio / 0.6, 1.0) * 0.3
                 + greatest(0.0, least(1.0, (0.5 - punct_ratio) / 0.4)) * 0.25
                 + least(stop_ratio / 0.04, 1.0) * 0.15) * 1e4) / 1e4
            AS quality_score
        FROM r
    """

    # BPE-ish sub-word token counting (oracle: regexp_extract_all)
    def bpe_tokens(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.bpe_ish_token_count(_docs(spark, sf_dir))

    out["pipeline_text_bpe_tokens"] = bpe_tokens
    _PIPELINE_ORACLES["pipeline_text_bpe_tokens"] = r"""
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS word_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
                 AS bpe_ish_tokens
        FROM documents
    """

    # character chunking with overlap (context-window prep): map-side only
    def chunk_docs(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.chunk_documents(_docs(spark, sf_dir), chunk_chars=512,
                                    overlap=64)

    out["pipeline_text_chunk_documents"] = chunk_docs
    _PIPELINE_ORACLES["pipeline_text_chunk_documents"] = """
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
                    AS int) AS chunk_idx,
               substring(text, CAST(s AS int), 512) AS chunk_text
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1,
                        greatest(length(text) - 64, 1), 448)) AS s
              FROM documents) t
    """

    # PII redaction (emails/URLs/phones/SSNs → typed tokens), pure regex
    def redact(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.redact_pii(_docs(spark, sf_dir))

    out["pipeline_text_redact_pii"] = redact
    _EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _URL = r"https?://[^\s]+"
    _PHONE = r"\b(?:\+?\d{1,3}[-. ])?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b"
    _SSN = r"\b\d{3}-\d{2}-\d{4}\b"
    _PIPELINE_ORACLES["pipeline_text_redact_pii"] = f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 text, '{_EMAIL}', '<EMAIL>', 'g'),
                 '{_URL}', '<URL>', 'g'),
                 '{_PHONE}', '<PHONE>', 'g'),
                 '{_SSN}', '<SSN>', 'g') AS text_redacted,
               CAST(len(regexp_extract_all(text, '{_EMAIL}'))
                  + len(regexp_extract_all(text, '{_URL}'))
                  + len(regexp_extract_all(text, '{_PHONE}'))
                  + len(regexp_extract_all(text, '{_SSN}')) AS int)
                 AS n_redactions
        FROM documents
    """

    # n-gram Jaccard verification of LSH candidates. Oracle: the same
    # exhaustive all-pairs ground truth — verified LSH output ≥ 0.5 must
    # equal ALL pairs with true J ≥ 0.5 (recall argument above), and the
    # engine's hashed-set Jaccard VALUE must equal DuckDB's string-set
    # Jaccard bit-for-bit (same int division, same round).
    def ngram_jaccard(spark, sf_dir):
        _engine_for(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        cands = dedup.minhash_lsh_candidates(docs).select("id_a", "id_b")
        return dedup.ngram_jaccard_verify(docs, cands, threshold=0.5)

    out["pipeline_dedup_ngram_jaccard"] = ngram_jaccard
    _PIPELINE_ORACLES["pipeline_dedup_ngram_jaccard"] = (
        "WITH " + _SHINGLE_PAIRS_CTE
        + " SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM pairs "
          "WHERE round(jaccard, 4) >= 0.5"
    )

    # incremental / cross-corpus dedup (r14): a NEW shard (doc_id % 7 = 0)
    # deduped AGAINST the frozen remainder via the banded index —
    # production pipelines dedup each incoming shard against the existing
    # corpus, not the corpus against itself. Candidates come from ONE
    # (band, bh) equi join (index side shuffle-free when snapshot-bucketed
    # on the band key — tests/test_against_index.py pins that plan), then
    # exact shingle-Jaccard verification on candidates only. Oracle: the
    # exhaustive cross-subset Jaccard in SQL.
    def dedup_against_index(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        new = docs.filter(F.col("doc_id") % 7 == 0)
        frozen = docs.filter(F.col("doc_id") % 7 != 0)
        index = dedup.build_minhash_index(frozen)
        cands = dedup.against_index(new, index).select("id_a", "id_b")
        return dedup.ngram_jaccard_verify(docs, cands, threshold=0.5)

    out["pipeline_dedup_against_index"] = dedup_against_index
    _PIPELINE_ORACLES["pipeline_dedup_against_index"] = (
        "WITH " + _SHINGLE_PAIRS_TEMPLATE.format(src="documents").replace(
            "ON a.sg = b.sg AND a.doc_id < b.doc_id",
            "ON a.sg = b.sg AND a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0 "
            "AND a.doc_id <> b.doc_id")
        + " SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM pairs "
          "WHERE round(jaccard, 4) >= 0.5"
    )

    # ingestion filter (r14): the batch face of
    # streaming.ingest_dedup_stream's per-micro-batch verified-drop mode —
    # shard docs SURVIVE unless an exact-Jaccard-verified near-dup exists
    # in the frozen corpus (candidates from the banded index, verify on
    # candidates only, then one left-anti join). Oracle: NOT IN over the
    # exhaustive cross-subset Jaccard. The streaming parity
    # (stream survivors == this batch composition) is pinned by
    # tests/test_streaming.py::test_ingest_dedup_stream_equals_batch.
    def dedup_ingest_filter(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        new = docs.filter(F.col("doc_id") % 7 == 0)
        frozen = docs.filter(F.col("doc_id") % 7 != 0)
        index = dedup.build_minhash_index(frozen)
        cands = dedup.against_index(new, index).select("id_a", "id_b")
        matched = (dedup.ngram_jaccard_verify(docs, cands, threshold=0.5)
                   .select(F.col("id_a").alias("doc_id")).distinct())
        # matched ⊆ the shard's ids → bounded by shard size; the hint
        # removes the survivor anti-join's SortMergeJoin (the suite's
        # last SMJ at r14), mirroring streaming/ops.py's ingest path
        return (new.join(F.broadcast(matched), on="doc_id",
                         how="left_anti")
                .select("doc_id"))

    out["pipeline_dedup_ingest_filter"] = dedup_ingest_filter
    _PIPELINE_ORACLES["pipeline_dedup_ingest_filter"] = (
        "WITH " + _SHINGLE_PAIRS_TEMPLATE.format(src="documents").replace(
            "ON a.sg = b.sg AND a.doc_id < b.doc_id",
            "ON a.sg = b.sg AND a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0 "
            "AND a.doc_id <> b.doc_id")
        + " SELECT d.doc_id FROM documents d WHERE d.doc_id % 7 = 0 "
          "AND d.doc_id NOT IN (SELECT id_a FROM pairs "
          "WHERE round(jaccard, 4) >= 0.5)"
    )

    # Planted identical-twin vectors make the ANN/near-dup ground truth
    # closed-form: a copy of every 50th vector is injected as vec_id+1000000000.
    # An identical vector is guaranteed its twin's LSH bucket (identical
    # sign signature) and cosine exactly 1.0 (round-4), while the natural
    # corpus is near-orthogonal (max pairwise cosine ≈ 0.5), so with a 0.9
    # threshold the expected output is precisely the planted pair list.
    def _planted_embs(spark, sf_dir):
        from pyspark.sql import functions as F

        embs = _embs(spark, sf_dir)
        twins = embs.filter(F.col("vec_id") % 50 == 0) \
                    .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000_000))
        return embs.unionByName(twins)

    # LSH-bucketed ANN evaluated on the planted queries: each twin's top-1
    # neighbor must be its original at sim 1.0 — verifies bucketing,
    # in-bucket ranking, and the cosine itself. (Full-corpus k-NN mining is
    # approximate by design; its recall floor is gated in
    # tests/test_quality_gates.py.)
    def ann_lsh(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        return (
            similarity.lsh_ann_candidates(_planted_embs(spark, sf_dir), k=1)
            .filter(F.col("query_id") >= 1_000_000_000)
            .select("query_id", "neighbor_id", "sim")
        )

    out["pipeline_ann_lsh_bucketed"] = ann_lsh
    _PIPELINE_ORACLES["pipeline_ann_lsh_bucketed"] = """
        SELECT vec_id + 1000000000 AS query_id, vec_id AS neighbor_id,
               1.0 AS sim
        FROM embeddings WHERE vec_id % 50 = 0
    """

    # embedding-cosine near-dup pairs over the planted corpus: expected
    # output = exactly the ten (original, twin, 1.0) pairs
    def emb_near_dup(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return similarity.embedding_near_duplicates(
            _planted_embs(spark, sf_dir), threshold=0.9)

    out["pipeline_embedding_near_dup"] = emb_near_dup
    _PIPELINE_ORACLES["pipeline_embedding_near_dup"] = """
        SELECT vec_id AS id_a, vec_id + 1000000000 AS id_b, 1.0 AS sim
        FROM embeddings WHERE vec_id % 50 = 0
    """

    # multimodal: documents.text encoded to a binary blob column exercises
    # the real schema/plumbing; metadata + exact blob dedup are oracle-able
    def _blobs(spark, sf_dir):
        from pyspark.sql import functions as F

        return _docs(spark, sf_dir).select(
            "doc_id", F.encode("text", "UTF-8").alias("blob"))

    def blob_metadata(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return multimodal.attach_blob_metadata(_blobs(spark, sf_dir)) \
            .select("doc_id", "blob_bytes", "blob_sha")

    out["pipeline_multimodal_blob_metadata"] = blob_metadata
    _PIPELINE_ORACLES["pipeline_multimodal_blob_metadata"] = """
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blob_bytes,
               sha256(text) AS blob_sha
        FROM documents
    """

    def blob_dedup(spark, sf_dir):
        _engine_for(spark, sf_dir)
        out_df = multimodal.exact_blob_dedup(_blobs(spark, sf_dir))
        return out_df.select("doc_id")

    out["pipeline_multimodal_blob_dedup"] = blob_dedup
    _PIPELINE_ORACLES["pipeline_multimodal_blob_dedup"] = """
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
            PARTITION BY sha256(text) ORDER BY doc_id) AS rn
          FROM documents) t WHERE rn = 1
    """

    # REAL image decode: synthesize an actual PNG per doc_id (deterministic
    # closed form — solid color id%256, per-row filter type id%3 so the
    # DEFLATE + un-filter path does real work; odd ids are Adam7-interlaced
    # since r12 so the seven-pass lattice is oracle-covered too) and decode
    # it with the pure-stdlib zlib decoder. The oracle recomputes the
    # closed form, so any inflate / filter / stride / pass bug breaks the
    # hash.
    def decode_images(spark, sf_dir):
        _engine_for(spark, sf_dir)
        blobs = multimodal.synthesize_png_blobs(_docs(spark, sf_dir))
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_images"] = decode_images
    _PIPELINE_ORACLES["pipeline_multimodal_decode_images"] = """
        SELECT doc_id,
               CAST(4 + doc_id % 16 AS INT) AS width,
               CAST(4 + (doc_id // 16) % 16 AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(doc_id % 256 AS DOUBLE) AS mean_pixel
        FROM documents
    """

    # stub decoder path (exotic codecs): deterministic length-derived fake
    # with a CLOSED-FORM oracle (r7: was the only rows-only entry). The
    # 'stub:' prefix pins blobs away from the BMP/PNG magic bytes so every
    # row takes the stub branch; the mapInPandas plumbing (schema, Arrow
    # batching, blob column) is the same real path the codec decoders use.
    def decode_stub(spark, sf_dir):
        from pyspark.sql import functions as F

        _engine_for(spark, sf_dir)
        blobs = _docs(spark, sf_dir).select(
            "doc_id",
            F.encode(F.concat(F.lit("stub:"), F.col("text")), "UTF-8")
            .alias("blob"))
        return multimodal.decode_images(blobs, use_stub_decoder=True)

    out["pipeline_multimodal_decode_stub"] = decode_stub
    _PIPELINE_ORACLES["pipeline_multimodal_decode_stub"] = """
        SELECT doc_id,
               CAST(16 + (L % 64) AS INT) AS width,
               CAST(16 + ((L // 64) % 64) AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(L % 251 AS DOUBLE) / 7 AS mean_pixel
        FROM (SELECT doc_id, 5 + octet_length(encode(text)) AS L
              FROM documents) t
    """

    # REAL decode path: synthesize an actual 24bpp BMP per doc_id
    # (deterministic closed form), decode it with the real header+numpy
    # parser — the oracle recomputes the closed form, so a decode bug
    # (stride, padding, offset) breaks the hash match
    def decode_bmp_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        blobs = multimodal.synthesize_bmp_blobs(_docs(spark, sf_dir))
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_bmp"] = decode_bmp_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_bmp"] = """
        SELECT doc_id,
               CAST(4 + doc_id % 16 AS int) AS width,
               CAST(4 + (doc_id // 16) % 16 AS int) AS height,
               3 AS channels,
               CAST(doc_id % 256 AS double) AS mean_pixel
        FROM documents
    """

    # REAL baseline-JPEG decode path (r10): synthesize an actual
    # grayscale baseline-DCT JPEG per doc_id (Annex-K Huffman + quant
    # tables, constant blocks with even level-shifted values quantize
    # losslessly), decode through the full marker-parse + Huffman +
    # dequantize + IDCT pipeline — the oracle recomputes the closed
    # form, so a bit-reader, zigzag, or IDCT bug breaks the hash match
    def decode_jpeg_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        # FIXED fixture corpus (r12): the decode is deliberately
        # codec-bound (pure-Python JPEG), so 5k synthetic docs pin the
        # algorithm and the mapInPandas plumbing identically to 500k —
        # and a cap at or below every benched SF's corpus makes the
        # entry SF-INVARIANT, so cross-round/cross-SF BENCH deltas
        # measure the ENGINE, never the fixture count (the r11 25k cap
        # was half the sf0.1 corpus and 21% of the headline wall)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_blobs(docs)
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_jpeg"] = decode_jpeg_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_jpeg"] = """
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 4) AS int) AS width,
               CAST(8 * (1 + (doc_id // 4) % 4) AS int) AS height,
               1 AS channels,
               CAST(2 * (doc_id % 64) + 128 AS double) AS mean_pixel
        FROM documents WHERE doc_id < 5000
    """

    # REAL progressive (SOF2) JPEG decode path (r12): same closed-form
    # grayscale fixtures as the baseline entry but encoded with the
    # 6-scan progressive script (DC successive approximation + spectral
    # AC bands + refinements), so the hash match pins the multi-scan
    # coefficient accumulation end to end — and progressive/baseline
    # encodings of the same pixels must decode identically
    def decode_jpeg_progressive_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_progressive_blobs(docs)
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_jpeg_progressive"] = \
        decode_jpeg_progressive_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_jpeg_progressive"] = """
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 4) AS int) AS width,
               CAST(8 * (1 + (doc_id // 4) % 4) AS int) AS height,
               1 AS channels,
               CAST(2 * (doc_id % 64) + 128 AS double) AS mean_pixel
        FROM documents WHERE doc_id < 5000
    """

    # Corpus-scale decode ERROR ACCOUNTING (r12): planted corruption
    # (every doc_id % 7 == 3 truncated mid-tables) through
    # decode_images(on_error="null") — failed rows survive with NULL
    # metrics and a decode_error; the closed-form oracle pins exactly
    # which rows fail and that successes keep their exact values. At
    # 100 TB this is the difference between a decode pass that dies on
    # blob 40 billion and one that reports "0.4% undecodable".
    def decode_error_accounting_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_blobs_with_corruption(docs)
        out = multimodal.decode_images(blobs, on_error="null")
        return out.select(
            "doc_id", "width", "height", "channels", "mean_pixel",
            F.col("decode_error").isNotNull().alias("failed"))

    out["pipeline_multimodal_decode_error_accounting"] = \
        decode_error_accounting_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_error_accounting"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 3 THEN NULL
                    ELSE CAST(8 * (1 + doc_id % 4) AS int) END AS width,
               CASE WHEN doc_id % 7 = 3 THEN NULL
                    ELSE CAST(8 * (1 + (doc_id // 4) % 4) AS int)
                    END AS height,
               CASE WHEN doc_id % 7 = 3 THEN NULL ELSE 1 END AS channels,
               CASE WHEN doc_id % 7 = 3 THEN NULL
                    ELSE CAST(2 * (doc_id % 64) + 128 AS double)
                    END AS mean_pixel,
               (doc_id % 7 = 3) AS failed
        FROM documents WHERE doc_id < 5000
    """

    # REAL baseline COLOR JPEG decode path (r11): synthesize an actual
    # 4:2:0 YCbCr baseline JPEG per doc_id (constant even-shifted
    # planes quantize losslessly, never clip, never hit a rounding
    # half-boundary — brute-force verified), decode through the full
    # interleaved-MCU + chroma-upsample + YCbCr→RGB pipeline; the
    # oracle recomputes the closed form, so a sampling, interleave, or
    # color-transform bug breaks the hash match
    def decode_jpeg_color_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        # same fixed 5k fixture as the grayscale entry (codec-bound,
        # SF-invariant)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_color_blobs(docs)
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_jpeg_color"] = decode_jpeg_color_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_jpeg_color"] = """
        SELECT doc_id,
               CAST(16 * (1 + doc_id % 3) AS int) AS width,
               CAST(16 * (1 + (doc_id // 3) % 3) AS int) AS height,
               3 AS channels,
               CAST((ROUND(y + 1.402 * dcr)
                     + ROUND(y - 0.344136 * dcb - 0.714136 * dcr)
                     + ROUND(y + 1.772 * dcb)) / 3.0 AS double)
                   AS mean_pixel
        FROM (SELECT doc_id,
                     CAST(128 + 2 * (doc_id % 32) AS double) AS y,
                     CAST(2 * ((doc_id // 7) % 21 - 10) AS double) AS dcb,
                     CAST(2 * ((doc_id // 11) % 21 - 10) AS double) AS dcr
              FROM documents WHERE doc_id < 5000)
    """

    # 4-component CMYK/YCCK JPEG decode (r12; closed the last common-
    # format plug point): solid odd-ink fixtures quantize losslessly,
    # even ids plain inverted CMYK (APP14 transform 0, independent
    # inks), odd ids YCCK (transform 2, equal C=M=Y — the only YCCK
    # fixture exact under quantization); the oracle recomputes the ink
    # average, so APP14 parsing, Adobe inversion, the YCCK transform,
    # or 4-component MCU interleave going wrong breaks the hash
    def decode_jpeg_cmyk_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_cmyk_blobs(docs)
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_jpeg_cmyk"] = decode_jpeg_cmyk_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_jpeg_cmyk"] = """
        SELECT doc_id,
               CAST(8 * (1 + doc_id % 3) AS int) AS width,
               CAST(8 * (1 + (doc_id // 3) % 3) AS int) AS height,
               4 AS channels,
               CAST(CASE WHEN doc_id % 2 = 0 THEN
                      (2 * (doc_id % 127) + 1
                       + 2 * ((doc_id // 3) % 127) + 1
                       + 2 * ((doc_id // 7) % 127) + 1
                       + 2 * ((doc_id // 11) % 127) + 1) / 4.0
                    ELSE
                      (3 * (2 * (doc_id % 127) + 1)
                       + 2 * ((doc_id // 11) % 127) + 1) / 4.0
                    END AS double) AS mean_pixel
        FROM documents WHERE doc_id < 5000
    """

    # lossless (SOF3) JPEG decode (r12): Annex H predictive coding is
    # exact for ANY content, so a gradient fixture (which exercises
    # every predictor and the first-line/first-sample rules) carries a
    # closed-form mean — any prediction, extend, or SSSS bug breaks it
    def decode_jpeg_lossless_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        # the 5k fixture reads as ONE file split, which would run the
        # whole Python codec chain on a single core (r13 fix of the r12
        # "per-doc cost grew" anomaly: the wall was a 1-core measurement)
        # — repartition to the session's parallelism like any real blob
        # corpus would naturally be
        docs = (_docs(spark, sf_dir).filter(F.col("doc_id") < 5000)
                .repartition(spark.sparkContext.defaultParallelism))
        blobs = multimodal.synthesize_jpeg_lossless_blobs(docs)
        return multimodal.decode_images(blobs)

    out["pipeline_multimodal_decode_jpeg_lossless"] = \
        decode_jpeg_lossless_entry
    _PIPELINE_ORACLES["pipeline_multimodal_decode_jpeg_lossless"] = """
        SELECT doc_id,
               CAST(4 + doc_id % 16 AS int) AS width,
               CAST(4 + (doc_id // 16) % 16 AS int) AS height,
               1 AS channels,
               CAST(doc_id % 200
                    + (4 + doc_id % 16 - 1) / 2.0
                    + (4 + (doc_id // 16) % 16 - 1) / 2.0
                    AS double) AS mean_pixel
        FROM documents WHERE doc_id < 5000
    """

    # REAL audio decode path: synthesized constant-amplitude PCM WAV per
    # doc_id → RIFF parse + per-frame RMS; RMS of constant amplitude a is
    # exactly a, so the oracle is closed-form
    def audio_rms_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        blobs = multimodal.synthesize_wav_blobs(_docs(spark, sf_dir))
        return multimodal.sample_audio_frames(blobs, frames=2)

    out["pipeline_multimodal_audio_rms"] = audio_rms_entry
    _PIPELINE_ORACLES["pipeline_multimodal_audio_rms"] = """
        SELECT doc_id, f.frame_idx, CAST(doc_id % 1000 AS double) AS rms
        FROM documents, (VALUES (0), (1)) f(frame_idx)
    """

    # sampling / dataset-split operators: deterministic, engine-portable
    # (md5-bucket membership — identical result in DuckDB)
    def split_train_eval_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.operators import sampling

        return sampling.tag_split(_docs(spark, sf_dir), "doc_id",
                                  eval_per_mille=50) \
            .select("doc_id", "split")

    out["pipeline_split_train_eval"] = split_train_eval_entry
    _PIPELINE_ORACLES["pipeline_split_train_eval"] = """
        SELECT doc_id,
               CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000 < 50
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
    """

    def top_n_per_key_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.operators import sampling

        return sampling.top_n_per_key(_docs(spark, sf_dir), "lang", 20,
                                      "doc_id").select("doc_id", "lang")

    out["pipeline_sample_top_n_per_key"] = top_n_per_key_entry
    _PIPELINE_ORACLES["pipeline_sample_top_n_per_key"] = """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang, row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR) || 'sample'), doc_id) AS rn
          FROM documents) t WHERE rn <= 20
    """

    # deterministic stratified sampling: membership = pure function of
    # (doc_id, salt) via md5 thresholds, so DuckDB reproduces the EXACT
    # same sample (the Bernoulli sampleBy variant stays available as
    # sampling.stratified_sample for callers who want cheap RNG).
    def stratified_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.operators import sampling

        docs = _docs(spark, sf_dir)
        fractions = {"en": 0.1, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.5}
        return sampling.stratified_sample_deterministic(
            docs, "lang", fractions, id_col="doc_id"
        ).select("doc_id", "lang")

    out["pipeline_sample_stratified"] = stratified_entry
    # thresholds: format(int(frac * 16**8), "08x") — en 0.1 → 19999999,
    # others 0.5 → 80000000; lowercase-hex string order == numeric order
    _PIPELINE_ORACLES["pipeline_sample_stratified"] = """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'strat'), 1, 8) <
              CASE lang WHEN 'en' THEN '19999999'
                        WHEN 'de' THEN '80000000'
                        WHEN 'fr' THEN '80000000'
                        WHEN 'es' THEN '80000000'
                        WHEN 'zh' THEN '80000000' END
    """

    # streaming operators, batch-parity path (identical expressions run on
    # readStream frames with watermarks; see streaming/ops.py + tests)
    def streaming_tumbling(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        from sql_to_ibis_spark.streaming import tumbling_counts

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        out_df = tumbling_counts(ev, window_duration="1 hour")
        return out_df.select("window_start", "window_end", "event_type", "n",
                             F.round("total_value", 4).alias("total_value"))

    out["pipeline_streaming_tumbling"] = streaming_tumbling
    _PIPELINE_ORACLES["pipeline_streaming_tumbling"] = """
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, count(*) AS n,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2, 3
    """

    def streaming_sliding(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.streaming.ops import sliding_counts

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        return sliding_counts(ev, window_duration="1 hour",
                              slide="30 minutes")

    out["pipeline_streaming_sliding"] = streaming_sliding
    # each event lands in exactly two 1h/30m sliding windows: the one
    # starting at its 30-minute bucket and the one 30 minutes earlier
    _PIPELINE_ORACLES["pipeline_streaming_sliding"] = """
        SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
               event_type, count(*) AS n
        FROM (SELECT event_type,
                     unnest([time_bucket(INTERVAL '30 minutes', ts),
                             time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL '30 minutes']) AS ws
              FROM events) t
        GROUP BY ws, event_type
    """

    def streaming_sessionize(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.streaming import sessionize

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        return sessionize(ev, gap="30 minutes")

    out["pipeline_streaming_sessionize"] = streaming_sessionize
    _PIPELINE_ORACLES["pipeline_streaming_sessionize"] = """
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                      ELSE 0 END AS new_s
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
          SELECT user_id, ts,
                 CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
          FROM marked
        )
        SELECT user_id, session_id, min(ts) AS session_start,
               max(ts) AS session_end, count(*) AS n_events
        FROM sess GROUP BY user_id, session_id
    """

    # skew-mitigation: two-phase salted aggregation must equal the plain
    # aggregate (salting changes physical distribution only)
    def skew_salted_count(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.operators import skew

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        return skew.skewed_group_count(ev, "user_id", salt=8)

    out["pipeline_skew_salted_count"] = skew_salted_count
    _PIPELINE_ORACLES["pipeline_skew_salted_count"] = \
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id"

    # salted JOIN must equal the plain join (salting redistributes the
    # shuffle only); events.user_id joined to a per-user dim built from
    # customer keys
    def skew_salted_join(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        from sql_to_ibis_spark.operators import skew

        ev = read_parquet(spark, f"{sf_dir}/events.parquet") \
            .select("event_id", "user_id")
        dim = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"))
        return skew.salted_join(ev, dim, on="user_id", salt=8)

    out["pipeline_skew_salted_join"] = skew_salted_join
    _PIPELINE_ORACLES["pipeline_skew_salted_join"] = """
        SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """

    # custom stateful operator (applyInPandasWithState on streams; this
    # entry exercises the batch-fallback path — first row per key — over a
    # deliberately duplicated input)
    def stateful_dedup(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from sql_to_ibis_spark.streaming import stateful_dedup_stream

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        doubled = ev.union(ev)
        return stateful_dedup_stream(doubled).select("event_id")

    out["pipeline_stateful_dedup"] = stateful_dedup
    _PIPELINE_ORACLES["pipeline_stateful_dedup"] = \
        "SELECT DISTINCT event_id FROM events"

    # temporal joins (operators Spark lacks as primitives; the oracle for
    # as-of is DuckDB's NATIVE `ASOF JOIN` — the engine's union+window
    # composition must reproduce it row-for-row). Backward inclusive: each
    # purchase gets the latest view by the same user at-or-before its ts.
    def temporal_asof(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        from sql_to_ibis_spark.operators import temporal

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id", "value")
        views = ev.filter(F.col("event_type") == "view")
        return temporal.asof_join(
            purchases, views, by="user_id", left_ts="ts", right_ts="ts",
            right_cols=["event_id", "ts", "value"])

    out["pipeline_temporal_asof_join"] = temporal_asof
    _PIPELINE_ORACLES["pipeline_temporal_asof_join"] = """
        SELECT p.event_id, p.ts, p.user_id, p.value,
               v.event_id AS matched_event_id, v.ts AS matched_ts,
               v.value AS matched_value
        FROM (SELECT event_id, ts, user_id, value FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """

    # range join: clicks inside any same-user [error_ts, error_ts + 2h]
    # window, executed as a binned equi-join (never a nested-loop join)
    def temporal_range(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        from sql_to_ibis_spark.operators import temporal

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id", "value")
        errors = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_event_id"),
            F.col("user_id"),
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"))
        return temporal.range_join(
            clicks, errors, point_ts="ts", start_ts="win_start",
            end_ts="win_end", by="user_id", bin_seconds=7200,
            point_cols=["event_id", "ts", "user_id", "value"],
            interval_cols=["error_event_id"])

    # asymmetric containment (A's shingles ⊂ B's): inverted-index block
    # join with a df-cap on boilerplate shingles; DuckDB recomputes on
    # string shingles (same clip, same cap — hash-collision device as above)
    def containment_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return dedup.containment_candidates(
            _docs(spark, sf_dir), shingle_size=5, threshold=0.6, df_cap=100)

    out["pipeline_containment"] = containment_entry
    _PIPELINE_ORACLES["pipeline_containment"] = r"""
        WITH s AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' ') AS toks
          FROM documents
        ), e AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 4, 1) + 1),
                   i -> array_to_string(toks[i:i+4], ' ')))) AS sg
          FROM s
        ), keep AS (
          SELECT sg FROM e GROUP BY sg HAVING count(*) <= 100
        ), ek AS (
          SELECT e.doc_id, e.sg FROM e JOIN keep USING (sg)
        ), sizes AS (
          SELECT doc_id, count(*) AS n_a FROM ek GROUP BY doc_id
        ), shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM ek a JOIN ek b ON a.sg = b.sg AND a.doc_id != b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, shared, n_a,
               shared / n_a AS containment
        FROM shared JOIN sizes ON sizes.doc_id = shared.id_a
        WHERE shared / n_a >= 0.6
    """

    # CCNet-style unigram-LM quality proxy: mean token log-probability
    # under the corpus unigram distribution, recomputed end-to-end by DuckDB
    def unigram_lm_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.unigram_logprob_score(_docs(spark, sf_dir))

    out["pipeline_text_unigram_logprob"] = unigram_lm_entry
    _PIPELINE_ORACLES["pipeline_text_unigram_logprob"] = r"""
        WITH terms AS (
          SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(
            text, '\s+', ' ', 'g'))), ' ')) AS term
          FROM documents
        ), t AS (
          SELECT doc_id, term FROM terms WHERE term != ''
        ), vocab AS (
          SELECT term, CAST(count(*) AS DOUBLE) AS cnt FROM t GROUP BY term
        ), tot AS (
          SELECT sum(cnt) AS total FROM vocab
        )
        SELECT doc_id, count(*) AS n_tokens,
               floor(avg(ln(cnt / total)) * 1000000.0) / 1000000.0
                 AS mean_token_logprob
        FROM t JOIN vocab USING (term), tot
        GROUP BY doc_id
    """

    # GPT-style sequence packing (concat-and-chunk): the engine's two-pass
    # distributed prefix sum must equal DuckDB's single global window scan
    def pack_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.pack_sequences(_docs(spark, sf_dir), ctx_tokens=512)

    out["pipeline_pack_sequences"] = pack_entry
    _PIPELINE_ORACLES["pipeline_pack_sequences"] = r"""
        WITH tok AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(trim(regexp_replace(
                   text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens AS before_toks
          FROM tok
        )
        SELECT doc_id, n_tokens,
               CAST(before_toks // 512 AS BIGINT) AS start_window,
               CAST((before_toks + n_tokens - 1) // 512 AS BIGINT)
                 AS end_window,
               CAST(before_toks % 512 AS BIGINT) AS offset_in_window
        FROM c
    """

    # stream-stream interval join, exercised on its batch-parity path (the
    # streaming execution with watermarked state is pinned by
    # tests/test_streaming.py::test_interval_join_streaming_equals_batch):
    # clicks in the 30 minutes before each purchase by the same user
    def streaming_interval_join(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        from sql_to_ibis_spark.streaming import interval_join

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id")
        return interval_join(
            purchases, clicks, by="user_id",
            lower_offset="-30 minutes", upper_offset="0 seconds",
        ).select("event_id", "ts", "user_id", "r_event_id", "r_ts")

    out["pipeline_streaming_interval_join"] = streaming_interval_join
    _PIPELINE_ORACLES["pipeline_streaming_interval_join"] = """
        SELECT p.event_id, p.ts, p.user_id,
               c.event_id AS r_event_id, c.ts AS r_ts
        FROM events p JOIN events c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """

    # Okapi BM25 against a fixed 3-term query, recomputed end-to-end by
    # DuckDB (same idf variant, same op order, floor-truncated to 6dp)
    def bm25_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        return text.bm25_scores(_docs(spark, sf_dir),
                                ["spark", "query", "table"])

    out["pipeline_text_bm25"] = bm25_entry
    _PIPELINE_ORACLES["pipeline_text_bm25"] = r"""
        WITH d AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' ') AS toks
          FROM documents
        ), dl AS (
          SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM d
        ), st AS (
          SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM (
            SELECT doc_id, dl, unnest(toks) AS term FROM dl) t
          WHERE term IN ('spark', 'query', 'table')
          GROUP BY 1, 2, 3
        ), dfq AS (
          SELECT term, CAST(count(*) AS DOUBLE) AS dfr FROM tf GROUP BY 1
        ), idf AS (
          SELECT term, ln((n - dfr + 0.5) / (dfr + 0.5) + 1.0) AS idf, avgdl
          FROM dfq, st
        ), sc AS (
          SELECT doc_id,
                 idf.idf * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
          FROM tf JOIN idf USING (term)
        )
        SELECT doc_id,
               floor(sum(s) * 1000000.0) / 1000000.0 AS bm25,
               count(*) AS n_terms_matched
        FROM sc GROUP BY doc_id
    """

    # train/eval decontamination: docs from source 'src0' play the benchmark
    # set; every other doc is train. Oracle recomputes the shared-8-gram
    # counts on string shingles (engine uses the polynomial shingle hashes —
    # identical counts up to ~2^-31 collisions, same device as the Jaccard
    # oracles above).
    def decontaminate_entry(spark, sf_dir):
        _engine_for(spark, sf_dir)
        from pyspark.sql import functions as F

        docs = _docs(spark, sf_dir)
        ev = docs.filter(F.col("source") == "src0")
        tr = docs.filter(F.col("source") != "src0")
        return dedup.decontaminate(tr, ev, shingle_size=8)

    out["pipeline_decontaminate"] = decontaminate_entry
    _PIPELINE_ORACLES["pipeline_decontaminate"] = r"""
        WITH s AS (
          SELECT doc_id, source,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' ') AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - 7, 1) + 1),
                   i -> array_to_string(toks[i:i+7], ' '))) AS shingles
          FROM s
        ), ev AS (
          SELECT DISTINCT unnest(shingles) AS sg FROM sh
          WHERE source = 'src0'
        ), tr AS (
          SELECT doc_id, unnest(shingles) AS sg FROM sh
          WHERE source != 'src0'
        ), hits AS (
          SELECT tr.doc_id, count(*) AS n_contaminated_ngrams
          FROM tr JOIN ev ON tr.sg = ev.sg GROUP BY tr.doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_contaminated_ngrams, 0) AS n_contaminated_ngrams,
               coalesce(h.n_contaminated_ngrams, 0) >= 1 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE source != 'src0') d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
    """

    # Gopher/MassiveText repetition filters: top-2-gram char fraction +
    # duplicate-3-gram fraction, recomputed exactly by DuckDB from the
    # published definitions (same truncation, same tie-break)
    def text_repetition(spark, sf_dir):
        eng = _engine_for(spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_BUCKETED_FACTS") == "1":
            # documents snapshot is bucketed on doc_id (engine layout
            # branch): the scan reports the partitioning, so the
            # nopart plan runs the whole operator exchange-free
            # (sf100 8GB heap: −48% wall, 0 shuffle; BASELINE.md r13)
            return text.repetition_signals(
                eng.catalog.get("documents").df, plan="nopart")
        return text.repetition_signals(_docs(spark, sf_dir))

    out["pipeline_text_repetition_signals"] = text_repetition
    _PIPELINE_ORACLES["pipeline_text_repetition_signals"] = r"""
        WITH s AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' ') AS toks,
                 length(lower(trim(regexp_replace(text, '\s+', ' ',
                                                  'g')))) AS nchars
          FROM documents
        ), bic AS (
          SELECT doc_id, nchars, ngram, count(*) AS cnt FROM (
            SELECT doc_id, nchars, unnest(list_transform(
                range(1, greatest(len(toks) - 1, 0) + 1),
                i -> array_to_string(toks[i:i+1], ' '))) AS ngram
            FROM s) t
          GROUP BY 1, 2, 3
        ), topbi AS (
          SELECT doc_id, ngram AS top_bigram,
                 floor((cnt * length(ngram) / nullif(nchars, 0))
                       * 1000000.0) / 1000000.0 AS top_bigram_char_frac
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY cnt DESC, ngram DESC) AS rn
                FROM bic) r
          WHERE rn = 1
        ), tridup AS (
          SELECT doc_id,
                 floor(((sum(cnt) - count(*)) / nullif(sum(cnt), 0))
                       * 1000000.0) / 1000000.0 AS dup_trigram_frac
          FROM (
            SELECT doc_id, ngram, count(*) AS cnt FROM (
              SELECT doc_id, unnest(list_transform(
                  range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS ngram
              FROM s) t
            GROUP BY 1, 2) c
          GROUP BY doc_id
        )
        SELECT d.doc_id, t.top_bigram,
               coalesce(t.top_bigram_char_frac, 0.0) AS top_bigram_char_frac,
               coalesce(r.dup_trigram_frac, 0.0) AS dup_trigram_frac
        FROM documents d
        LEFT JOIN topbi t ON d.doc_id = t.doc_id
        LEFT JOIN tridup r ON d.doc_id = r.doc_id
    """

    out["pipeline_temporal_range_join"] = temporal_range
    _PIPELINE_ORACLES["pipeline_temporal_range_join"] = """
        SELECT c.event_id, c.ts, c.user_id, c.value,
               e.event_id AS error_event_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'error') e
          ON c.user_id = e.user_id
         AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
    """
