"""Public engine facade.

Same three-call surface as the reference (``sql_to_ibis/__init__.py:6`` —
``register_temp_table`` / ``remove_temp_table`` / ``query``) but
instance-scoped: an :class:`SqlEngine` owns its catalog, so independent
engines never share state (the reference's class-level ``TableInfo`` globals
required deepcopies and reset hooks — ``sql_select_query.py:131-136``).

``query()`` returns a *lazy* :class:`pyspark.sql.DataFrame` — the logical
plan enters Catalyst and nothing executes until an action, exactly like the
reference returning an unexecuted ibis ``TableExpr``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from sql_to_ibis_spark.catalog import Catalog
from sql_to_ibis_spark.errors import (ColumnNotFoundError,
                                      InvalidQueryException)
from sql_to_ibis_spark.plans.compiler import Compiler
from sql_to_ibis_spark.plans.options import PlannerOptions
from sql_to_ibis_spark.plans.parser import parse


class SqlEngine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or SparkSession.builder.getOrCreate()
        self.catalog = Catalog()
        self.functions: dict[str, object] = {}   # user scalar fns, lowercased
        self.aggregates: dict[str, object] = {}  # user aggregate fns (UDAFs)
        self.table_functions: dict[str, object] = {}  # user UDTFs
        # frames persisted by the compiler's _pin in
        # SPARK_GRAFT_PIN_MODE=persist — released at the next query()
        # (see release_pinned)
        self._pinned_frames: list[DataFrame] = []

    # -- user-defined functions --------------------------------------------

    def register_function(self, name: str, fn, return_type,
                          vectorized: bool = True) -> None:
        """Register a Python function as a SQL-callable scalar function.

        Keep the default ``vectorized=True``: it wraps ``fn`` as an
        Arrow-batched pandas UDF (``fn(pd.Series, ...) -> pd.Series``),
        ~10-100× faster than row-at-a-time and the only variant that
        belongs in a hot path at scale. ``vectorized=False`` registers a
        plain row-wise UDF (``fn(value, ...) -> value``) — an explicit
        opt-out for quick prototypes or functions that genuinely can't be
        expressed over Series; expect per-row Python/JVM serialization
        cost. The reference has no UDF surface at all (SURVEY §2.9) — this
        is a Spark-native extension.
        """
        from pyspark.sql import functions as F

        udf = (F.pandas_udf(fn, return_type) if vectorized
               else F.udf(fn, return_type))
        self.functions[name.lower()] = udf

    def remove_function(self, name: str) -> None:
        del self.functions[name.lower()]

    def register_aggregate(self, name: str, fn, return_type) -> None:
        """Register a Python function as a SQL-callable aggregate (UDAF).

        ``fn`` takes one or more ``pd.Series`` covering a whole group and
        returns a scalar; it executes as an Arrow-batched grouped-agg pandas
        UDF, so partial data never round-trips per row. Usable anywhere a
        built-in aggregate is: GROUP BY select lists and HAVING. Spark
        constraint: within one query's aggregation, UDAFs can't mix with
        JVM aggregates (Spark raises INVALID_PANDAS_UDF_PLACEMENT). The
        reference has no UDAF surface (SURVEY §2.9).
        """
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        udaf = pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)
        self.aggregates[name.lower()] = udaf

    def remove_aggregate(self, name: str) -> None:
        del self.aggregates[name.lower()]

    def register_table_function(self, name: str, cls, return_type) -> None:
        """Register a Python UDTF class as a FROM-clause table function:
        ``SELECT * FROM my_fn(1, 10)``. ``cls`` defines
        ``eval(self, *args)`` yielding output tuples; ``return_type`` is the
        output schema (e.g. ``"n: int, label: string"``). Executes
        Arrow-batched on executors. The reference has no UDTF surface
        (SURVEY §2.9); a builtin ``range(end)`` is always available.
        """
        from pyspark.sql.functions import udtf

        self.table_functions[name.lower()] = udtf(cls, returnType=return_type)

    def remove_table_function(self, name: str) -> None:
        del self.table_functions[name.lower()]

    # -- catalog ------------------------------------------------------------

    def register_temp_table(self, df: DataFrame, table_name: str) -> None:
        """Register a DataFrame under a case-insensitive name."""
        self.catalog.register(table_name, df)

    def remove_temp_table(self, table_name: str) -> None:
        self.catalog.remove(table_name)

    def register_parquet(self, table_name: str, path: str) -> DataFrame:
        """Convenience: register a parquet-backed table (columnar scan with
        predicate pushdown / column pruning for free)."""
        from sql_to_ibis_spark.sources.readers import read_parquet
        from sql_to_ibis_spark.sources.table_stats import parquet_stats

        df = read_parquet(self.spark, path)
        self.catalog.register(table_name, df, stats=parquet_stats(path))
        return df

    def register_csv(self, table_name: str, path: str, **options) -> DataFrame:
        """Register a CSV-backed table (header + schema inference on by
        default; pass Spark reader options to override)."""
        from sql_to_ibis_spark.sources.readers import read_csv

        df = read_csv(self.spark, path, **options)
        self.catalog.register(table_name, df)
        return df

    def register_json(self, table_name: str, path: str, **options) -> DataFrame:
        from sql_to_ibis_spark.sources.readers import read_json

        df = read_json(self.spark, path, **options)
        self.catalog.register(table_name, df)
        return df

    def register_orc(self, table_name: str, path: str, **options) -> DataFrame:
        from sql_to_ibis_spark.sources.readers import read_orc

        df = read_orc(self.spark, path, **options)
        self.catalog.register(table_name, df)
        return df

    def snapshot_bucketed(
        self,
        table_name: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
        snapshot_name: str | None = None,
        refresh: bool = False,
    ) -> None:
        """Materialize a registered table as a BUCKETED managed table and
        swap the registration to read from it — the first-class deployment
        path for the co-located-join layout (measured at sf10, BASELINE.md:
        q18 exchanges 3→0, −48%; q4 −46%; q21 −20%).

        Joins and aggregations keyed on ``bucket_cols`` between tables
        bucketed the same way (same cols, same ``num_buckets``) skip their
        shuffle exchanges entirely: Spark's scan reports the bucket
        partitioning, so ``groupBy(key)`` and co-bucketed joins reuse it.
        At 100 TB this is THE lever for a fact table that is repeatedly
        joined on its grain key — pay one shuffle at snapshot time, never
        again per query.

        The snapshot is a managed table in ``spark.sql.warehouse.dir``
        (reused across sessions when ``snapshot_name`` is stable; pass
        ``refresh=True`` to rewrite). Parquet footer stats are re-collected
        from the snapshot files so the stats-driven planners keep working
        over the new layout. The logical schema and row set are identical —
        only the physical layout changes."""
        from sql_to_ibis_spark.sources import sinks
        from sql_to_ibis_spark.sources.table_stats import parquet_stats

        entry = self.catalog.get(table_name)
        snapshot_name = snapshot_name or (
            f"bucketed_{table_name.lower()}_"
            + "_".join(c.lower() for c in bucket_cols)
            + f"_{num_buckets}"
            # sorted and unsorted layouts are different physical tables —
            # the name must distinguish them or a stale unsorted snapshot
            # would be silently reused for a sorted request
            + ("_s_" + "_".join(c.lower() for c in sort_cols)
               if sort_cols else ""))
        if refresh or not self.spark.catalog.tableExists(snapshot_name):
            if not self.spark.catalog.tableExists(snapshot_name):
                # the default in-memory metastore forgets tables between
                # sessions while their warehouse directories persist —
                # an orphaned location blocks the managed-table write
                import shutil
                wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
                if wh.startswith("file:"):
                    wh = wh[len("file:"):]
                orphan = os.path.join(wh, snapshot_name.lower())
                if wh and os.path.isdir(orphan):
                    shutil.rmtree(orphan)
            sinks.write_bucketed_table(
                entry.df, snapshot_name, bucket_cols,
                num_buckets=num_buckets, sort_cols=sort_cols)
        df = self.spark.table(snapshot_name)
        stats = None
        try:
            loc = self.spark.sql(
                f"DESCRIBE FORMATTED {snapshot_name}"
            ).filter("col_name = 'Location'").collect()[0][1]
            if loc.startswith("file:"):
                stats = parquet_stats(loc[len("file:"):])
        except Exception:
            stats = None
        if stats is not None and entry.stats is not None:
            # the snapshot holds the SAME row set — analyzed NDV (which
            # footers can't provide) carries over, so layout advice and
            # the NDV-priced gates keep working after apply_layout
            stats.ndv = dict(entry.stats.ndv)
        self.catalog.register(table_name, df, stats=stats or entry.stats)

    def snapshot_zordered(
        self,
        table_name: str,
        cols: list[str],
        target_files: int = 64,
        bits_per_col: int = 8,
        snapshot_name: str | None = None,
        refresh: bool = False,
    ) -> None:
        """Materialize a registered table Z-ORDER-clustered on ``cols`` and
        swap the registration — the scan-side layout lever, complementing
        ``snapshot_bucketed`` (the shuffle-side one).

        After the snapshot, every file's parquet footer is min/max-tight on
        ALL of ``cols`` simultaneously, so selective predicates on any of
        them skip most files (Spark's scan prunes row groups from the same
        stats, and the engine's estimator reads the same footers). Pay one
        shuffle + sort at snapshot time; win every selective scan after.
        Row set and logical schema are identical — layout only.

        The snapshot is a plain parquet directory under the warehouse dir
        (no managed-table metadata needed, unlike bucketing); a stable
        ``snapshot_name`` is reused across sessions unless ``refresh``.
        """
        from sql_to_ibis_spark.sources import layout
        from sql_to_ibis_spark.sources.readers import read_parquet
        from sql_to_ibis_spark.sources.table_stats import parquet_stats

        entry = self.catalog.get(table_name)
        snapshot_name = snapshot_name or (
            f"zorder_{table_name.lower()}_"
            + "_".join(c.lower() for c in cols) + f"_{target_files}")
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if wh.startswith("file:"):
            wh = wh[len("file:"):]
        path = os.path.join(wh or "spark-warehouse", snapshot_name)
        if refresh or not os.path.isdir(path):
            layout.write_zordered(entry.df, path, cols,
                                  target_files=target_files,
                                  bits_per_col=bits_per_col)
        df = read_parquet(self.spark, path)
        stats = parquet_stats(path)
        if stats is not None and entry.stats is not None:
            # same row set: analyzed NDV survives the layout swap
            stats.ndv = dict(entry.stats.ndv)
        self.catalog.register(table_name, df, stats=stats or entry.stats)

    def analyze(self, table_name: str | None = None) -> None:
        """Collect per-column NDV statistics (the warehouse ``ANALYZE``
        analog): ONE ``approx_count_distinct`` aggregation job per table,
        upgrading the registration-time footer stats so the broadcast
        planner can price equality predicates as 1/NDV instead of a
        conservative constant. This is the explicit opt-in, exactly like
        ANALYZE TABLE in any warehouse. Analyzing all tables at sf10
        (60M-row lineitem) costs a few seconds once per session.

        Set-up runs its per-table work concurrently: ``register_dir``'s
        reads (Spark's parquet schema inference is a job per file) and
        this method's aggregations, one thread per table, each inheriting
        the caller's job group, tags and scheduler pool. When a table's
        job fails, every other table still gets its stats, then the first
        failure (in catalog order) is raised as a :class:`SqlEngineError`
        naming the table."""
        from sql_to_ibis_spark.errors import SqlEngineError
        from sql_to_ibis_spark.plans.compiler import _bq
        from sql_to_ibis_spark.session import map_concurrently
        from sql_to_ibis_spark.sources.table_stats import TableStats

        from pyspark.sql import types as T

        orderable = (T.NumericType, T.DateType, T.TimestampType,
                     T.TimestampNTZType, T.BooleanType)

        def hashable(dt: T.DataType) -> bool:
            # approx_count_distinct raises AnalysisException on MAP
            # (unhashable per Spark) anywhere in the type — skip those
            # columns rather than losing the whole table's stats
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return hashable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(hashable(f.dataType) for f in dt.fields)
            return True

        def aggregate(name: str) -> tuple:
            entry = self.catalog.get(name)
            cols = [f.name for f in entry.df.schema.fields
                    if hashable(f.dataType)]
            bounded = [f.name for f in entry.df.schema.fields
                       if isinstance(f.dataType, orderable)]
            # SQL text, not Column objects: building runs in this thread
            # before the jobs start, and a Column costs several Py4J
            # round trips where a string costs one
            aggs = [f"approx_count_distinct({_bq(c)}) AS n{i}"
                    for i, c in enumerate(cols)]
            # exact min/max in the SAME pass: footer stats are absent
            # for INT96 timestamps (no statistics by parquet spec) and
            # for non-parquet sources — analyze fills them everywhere
            aggs += [f"min({_bq(c)}) AS lo{i}" for i, c in enumerate(bounded)]
            aggs += [f"max({_bq(c)}) AS hi{i}" for i, c in enumerate(bounded)]
            aggs.append("count(1) AS __rows")
            return entry, cols, bounded, entry.df.selectExpr(*aggs)

        def collect(job: tuple) -> None:
            entry, cols, bounded, agg = job
            try:
                row = agg.collect()[0]
            except Exception as exc:
                raise SqlEngineError(
                    f"analyze failed for table '{entry.name}'") from exc
            st = entry.stats or TableStats(rows=int(row["__rows"]))
            st.rows = int(row["__rows"])
            st.ndv = {c.lower(): float(row[f"n{i}"])
                      for i, c in enumerate(cols)}
            for i, c in enumerate(bounded):
                if row[f"lo{i}"] is not None:
                    st.col_min[c.lower()] = row[f"lo{i}"]
                    st.col_max[c.lower()] = row[f"hi{i}"]
            entry.stats = st

        # the aggregates are built here, the jobs run one per thread
        names = [table_name] if table_name else self.catalog.names()
        map_concurrently(self.spark, collect, [aggregate(n) for n in names])

    # -- layout advisor -------------------------------------------------------

    def advise_layout(self, workload, num_buckets: int = 32,
                      fact_fraction: float = 0.05,
                      min_rows: int = 1_000,
                      min_uses: int = 2,
                      extra_keys=()) -> list:
        """Recommend per-table bucket layouts from the catalog's footer
        stats and a query workload (r14, the first-class form of the
        bucketed-facts story).

        ``workload`` is a list of SQL strings or a ``{name: sql}`` dict.
        For every equality join conjunct and GROUP BY key the advisor
        attributes the column to its table (aliases resolved per query;
        bare names by unique schema ownership) and counts usages — each
        usage is one exchange a bucketed layout can elide. A table
        qualifies as a FACT when its footer row count reaches
        ``min_rows`` AND its estimated bytes (rows × measured column
        widths) reach ``fact_fraction`` of the largest table (small
        tables broadcast; bucketing them buys nothing). Candidate keys
        need analyzed NDV ≥ 16 × ``num_buckets`` when NDV stats exist —
        a low-cardinality key fills a handful of skewed buckets. The
        winning key is the most-used column with at least ``min_uses``
        usages; sort
        columns mirror the bucket key (one sorted file per bucket lets
        scans REPORT ordering, so window/merge plans on the key elide
        their sorts — measured q21 window path 1.78 s vs 2.21 s at
        sf10).

        ``extra_keys`` is the operator-workload channel: (table, column)
        pairs for non-SQL pipeline operators (e.g. the repetition /
        dedup family groups on documents.doc_id), each counted as one
        usage.

        Besides bucket advice (``kind: "bucket"``), the advisor counts
        literal-bounded RANGE predicates (``< <= > >= BETWEEN``) per
        (table, column) and emits ``kind: "cluster"`` advice for the
        most-range-filtered orderable column of each fact table —
        the scan-side layout (:meth:`snapshot_zordered`): clustered
        files carry tight footer min/max, so selective scans admit
        ~the predicate's fraction of files/row groups instead of all
        of them (measured at sf10: one-month probe footer admission
        1.00 → 0.02, BASELINE.md §r10 — the dominant cost at cold
        100 TB even though warm local decode hides it). Cluster advice
        carries ``best_admission``: the smallest footer-estimated
        admitted fraction among the workload's predicates on that
        column — the upper bound on what clustering can skip.

        Returns a list of advice dicts, strongest first:
        ``{kind, table, bucket_cols|cluster_cols, sort_cols,
        num_buckets|target_files, rows, bytes, uses, queries}`` where
        ``uses`` maps column → usage count and ``queries`` names the
        workload entries that hit the chosen key. Feed it to
        :meth:`apply_layout` to materialize; unparseable workload
        entries are skipped (they contribute no counts).
        """
        from sql_to_ibis_spark.plans import ast as _ast
        from sql_to_ibis_spark.plans.estimator import (_as_number,
                                                       _literal_value)
        from sql_to_ibis_spark.plans.parser import parse as _parse

        if isinstance(workload, dict):
            items = list(workload.items())
        else:
            items = [(f"q{i}", q) for i, q in enumerate(workload)]
        # (table, col) -> {"count": n, "queries": set}
        usage: dict[tuple, dict] = {}
        # (table, col) -> {"count", "queries", "admission": best (lowest)
        # footer-estimated admitted fraction among the predicates seen}
        range_usage: dict[tuple, dict] = {}

        def bump(table: str, col: str, qname: str) -> None:
            rec = usage.setdefault((table.lower(), col.lower()),
                                   {"count": 0, "queries": set()})
            rec["count"] += 1
            rec["queries"].add(qname)

        def bump_range(table: str, col: str, qname: str,
                       admission: float | None) -> None:
            rec = range_usage.setdefault(
                (table.lower(), col.lower()),
                {"count": 0, "queries": set(), "admission": None})
            rec["count"] += 1
            rec["queries"].add(qname)
            if admission is not None:
                cur = rec["admission"]
                rec["admission"] = (admission if cur is None
                                    else min(cur, admission))

        def walk_node(q, qname: str) -> None:
            if isinstance(q, _ast.SetOpNode):
                walk_node(q.left, qname)
                walk_node(q.right, qname)
                return
            if not isinstance(q, _ast.SelectNode):
                return
            amap: dict[str, str] = {}     # alias -> table name
            conds: list = []

            def rel(r) -> None:
                if isinstance(r, _ast.TableRef):
                    amap[(r.alias or r.name).lower()] = r.name.lower()
                elif isinstance(r, _ast.Join):
                    rel(r.left)
                    rel(r.right)
                    if r.condition is not None:
                        conds.append(r.condition)
                elif isinstance(r, _ast.SubqueryRef):
                    walk_node(r.query, qname)
            for r in q.relations:
                rel(r)
            # bare-name ownership: unique across this query's tables
            owner: dict[str, str | None] = {}
            for t in set(amap.values()):
                if t not in self.catalog:
                    continue
                for c in self.catalog.get(t).df.columns:
                    cl = c.lower()
                    owner[cl] = None if cl in owner else t

            def attribute(ref) -> tuple | None:
                if not isinstance(ref, _ast.ColumnRef):
                    return None
                if ref.table is not None:
                    t = amap.get(ref.table.lower())
                    return (t, ref.name.lower()) if t else None
                t = owner.get(ref.name.lower())
                return (t, ref.name.lower()) if t else None

            def eqs(e) -> None:
                if isinstance(e, _ast.BinaryOp):
                    if e.op == "and":
                        eqs(e.left)
                        eqs(e.right)
                        return
                    if e.op == "=":
                        a, b = attribute(e.left), attribute(e.right)
                        if a and b and a[0] != b[0]:
                            bump(*a, qname)
                            bump(*b, qname)

            def frac_below(table: str, col: str, lit) -> float | None:
                # position of ``lit`` inside the column's footer
                # min/max domain — the same zonemap math the estimator
                # prices ranges with, over the catalog's stats
                if table not in self.catalog:
                    return None
                st = self.catalog.get(table).stats
                if st is None:
                    return None
                lo = _as_number(st.col_min.get(col))
                hi = _as_number(st.col_max.get(col))
                v = _as_number(lit)
                if lo is None or hi is None or v is None or hi <= lo:
                    return None
                return min(max((v - lo) / (hi - lo), 0.0), 1.0)

            _FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            # (table, col) -> [count, glb_frac, lub_frac] for THIS query:
            # AND-conjuncts on the same column form one interval (a
            # one-month window is `>= lo AND < hi` — its admission is
            # below(hi) − below(lo), not either bound's alone)
            local: dict[tuple, list] = {}

            def note(a: tuple, op: str, lit, w: int = 1) -> None:
                rec = local.setdefault(a, [0, 0.0, 1.0])
                rec[0] += w
                b = frac_below(a[0], a[1], lit)
                if b is None:
                    return
                if op in ("<", "<="):
                    rec[2] = min(rec[2], b)
                else:
                    rec[1] = max(rec[1], b)

            def rngs(e) -> None:
                # AND-conjunct walk for literal-bounded range predicates:
                # each is one scan a clustered layout can footer-prune
                if isinstance(e, _ast.BinaryOp):
                    if e.op == "and":
                        rngs(e.left)
                        rngs(e.right)
                        return
                    if e.op in _FLIP:
                        a, lit, op = attribute(e.left), \
                            _literal_value(e.right), e.op
                        if a is None:
                            a, lit = attribute(e.right), \
                                _literal_value(e.left)
                            op = _FLIP[op]
                        if a and lit is not None:
                            note(a, op, lit)
                elif isinstance(e, _ast.Between) and not e.negated:
                    a = attribute(e.operand)
                    lo, hi = _literal_value(e.low), _literal_value(e.high)
                    if a and lo is not None and hi is not None:
                        # one predicate, two bounds: a single vote
                        note(a, ">=", lo)
                        note(a, "<=", hi, w=0)
            for c in conds:
                eqs(c)
                rngs(c)
            if q.where is not None:
                eqs(q.where)
                rngs(q.where)
            for a, (n, glb, lub) in local.items():
                adm = max(lub - glb, 0.0) if (glb, lub) != (0.0, 1.0) \
                    else None
                for _ in range(n):
                    bump_range(*a, qname, adm)
            # subqueries inside WHERE (IN/EXISTS/scalar): walked exactly
            # once per SelectNode — NOT per attributable range predicate
            # (an r14 bug nested this in the local.items() loop, so
            # subquery join/group keys were skipped when a query had no
            # range predicate and multiply-counted otherwise)
            if q.where is not None:
                for x in _walk_where_subqueries(q.where):
                    walk_node(x, qname)
            for g in q.group_by:
                a = attribute(g)
                if a:
                    bump(*a, qname)

        def _walk_where_subqueries(e):
            stack, out = [e], []
            while stack:
                x = stack.pop()
                sq = getattr(x, "subquery", None)
                if sq is not None and not isinstance(sq, _ast.Expr):
                    out.append(sq)
                for f in getattr(x, "__dict__", {}).values():
                    if isinstance(f, _ast.Expr):
                        stack.append(f)
                    elif isinstance(f, (list, tuple)):
                        stack.extend(y for y in f
                                     if isinstance(y, _ast.Expr))
            return out

        for qname, sql in items:
            try:
                walk_node(_parse(sql), qname)
            except Exception:
                continue
        for t, c in extra_keys:
            bump(t, c, "extra_keys")

        # fact gate by estimated BYTES, not rows: a 5k-row documents
        # table of 10kB texts weighs like a 600k-row lineitem — and it's
        # bytes that flow through the exchanges bucketing elides
        size_by_table: dict[str, tuple[int, int]] = {}   # name -> (bytes, rows)
        for name in self.catalog.names():
            st = self.catalog.get(name).stats
            if st is None:
                continue
            rows = int(st.rows)
            width = sum((st.col_bytes or {}).values()) or 64.0
            size_by_table[name.lower()] = (int(rows * width), rows)
        biggest = max((b for b, _ in size_by_table.values()), default=0)
        out: list[dict] = []
        for tname, (tbytes, rows) in size_by_table.items():
            if rows < min_rows or tbytes < fact_fraction * biggest:
                continue
            st = self.catalog.get(tname).stats
            ndv = (st.ndv or {}) if st is not None else {}
            cols = {}
            for (t, c), rec in usage.items():
                if t != tname:
                    continue
                # bucket keys need cardinality: a 3-value flag column
                # fills 3 buckets and skews everything — require the
                # analyzed NDV to cover the buckets comfortably, OR be
                # near-unique for the table (a per-row id is a fine key
                # at any absolute count; un-analyzed catalogs pass)
                n = ndv.get(c)
                if n is not None and n < 16 * num_buckets \
                        and n < 0.5 * rows:
                    continue
                cols[c] = rec
            if not cols:
                continue
            best = max(sorted(cols), key=lambda c: cols[c]["count"])
            if cols[best]["count"] < min_uses:
                continue
            out.append({
                "kind": "bucket",
                "table": tname,
                "bucket_cols": [best],
                "sort_cols": [best],
                "num_buckets": num_buckets,
                "rows": rows,
                "bytes": tbytes,
                "uses": {c: rec["count"] for c, rec in sorted(cols.items())},
                "queries": sorted(cols[best]["queries"]),
            })
        # cluster advice: per fact table, the most-range-filtered
        # ORDERABLE column (clustering a string column is unsafe —
        # parquet truncates string bounds, and the zorder path itself
        # requires orderable quantiles)
        import pyspark.sql.types as _T
        orderable = (_T.NumericType, _T.DateType, _T.TimestampType,
                     _T.TimestampNTZType)
        for tname, (tbytes, rows) in size_by_table.items():
            if rows < min_rows or tbytes < fact_fraction * biggest:
                continue
            fields = {f.name.lower(): f.dataType
                      for f in self.catalog.get(tname).df.schema.fields}
            cols = {c: rec for (t, c), rec in range_usage.items()
                    if t == tname
                    and isinstance(fields.get(c), orderable)}
            if not cols:
                continue
            best = max(sorted(cols), key=lambda c: cols[c]["count"])
            if cols[best]["count"] < min_uses:
                continue
            out.append({
                "kind": "cluster",
                "table": tname,
                "cluster_cols": [best],
                "target_files": 64,
                "rows": rows,
                "bytes": tbytes,
                "uses": {c: rec["count"] for c, rec in sorted(cols.items())},
                "best_admission": cols[best]["admission"],
                "queries": sorted(cols[best]["queries"]),
            })

        def _key_col(a: dict) -> str:
            return (a.get("bucket_cols") or a["cluster_cols"])[0]

        # bucket before cluster on usage ties: exchange elision is the
        # measured warm-wall win, clustering pays off on cold scans
        out.sort(key=lambda a: (-a["uses"][_key_col(a)],
                                a["kind"] != "bucket", a["table"]))
        return out

    def apply_layout(self, advice, refresh: bool = False) -> None:
        """Materialize :meth:`advise_layout` recommendations:
        ``kind: "bucket"`` → :meth:`snapshot_bucketed`,
        ``kind: "cluster"`` → :meth:`snapshot_zordered` (stats
        preserved, registration swapped either way).

        A table has ONE physical layout: when the advice lists several
        entries for the same table (e.g. a bucket key and a cluster
        key), the first — strongest, per the advisor's ranking — wins
        and the rest are skipped. Pass a filtered list to choose
        otherwise."""
        done: set[str] = set()
        for a in advice:
            if a["table"] in done:
                continue
            done.add(a["table"])
            if a.get("kind", "bucket") == "cluster":
                self.snapshot_zordered(a["table"], list(a["cluster_cols"]),
                                       target_files=int(a["target_files"]),
                                       refresh=refresh)
            else:
                self.snapshot_bucketed(a["table"], list(a["bucket_cols"]),
                                       num_buckets=int(a["num_buckets"]),
                                       sort_cols=list(a["sort_cols"]),
                                       refresh=refresh)

    # -- informational constraints (RELY-style) ------------------------------

    def add_primary_key(self, table: str, *cols: str) -> None:
        """Declare ``cols`` jointly UNIQUE and NON-NULL on ``table``.

        Informational, warehouse RELY-style: the planner TRUSTS it for
        join rewrites (a join on a full primary key matches at most one
        build row) and nothing enforces it at write time — declare only
        keys that hold, or run :meth:`validate_constraints` to check.
        """
        entry = self.catalog.get(table)
        names = {f.name.lower() for f in entry.df.schema.fields}
        key = tuple(c.lower() for c in cols)
        missing = [c for c in key if c not in names]
        if not key or missing:
            raise ColumnNotFoundError(
                f"primary key columns {missing or list(cols)} not in "
                f"'{table}'")
        entry.primary_key = key

    def add_foreign_key(self, table: str, cols, ref_table: str,
                        ref_cols=None) -> None:
        """Declare that every ``table`` row's ``cols`` are NON-NULL and
        match EXACTLY ONE ``ref_table`` row on ``ref_cols`` (default: the
        ref table's declared primary key).

        Stricter than SQL's FOREIGN KEY (which permits NULLs): the
        planner uses it as a row-preservation guarantee — an inner join
        from ``table`` to ``ref_table`` on exactly these columns keeps
        every ``table`` row exactly once — enabling join elimination.
        Informational only; :meth:`validate_constraints` runs the real
        checks on demand.
        """
        if isinstance(cols, str):
            cols = (cols,)
        entry = self.catalog.get(table)
        ref = self.catalog.get(ref_table)
        if ref_cols is None:
            if ref.primary_key is None:
                raise InvalidQueryException(
                    f"'{ref_table}' has no declared primary key; pass "
                    f"ref_cols or declare one with add_primary_key")
            ref_cols = ref.primary_key
        elif isinstance(ref_cols, str):
            ref_cols = (ref_cols,)
        names = {f.name.lower() for f in entry.df.schema.fields}
        rnames = {f.name.lower() for f in ref.df.schema.fields}
        key = tuple(c.lower() for c in cols)
        rkey = tuple(c.lower() for c in ref_cols)
        if len(key) != len(rkey) or not key:
            raise InvalidQueryException(
                "foreign key and referenced columns must pair 1:1")
        missing = [c for c in key if c not in names] \
            + [c for c in rkey if c not in rnames]
        if missing:
            raise ColumnNotFoundError(
                f"foreign key columns {missing} not found")
        fk = (key, ref.name.lower(), rkey)
        if fk not in entry.foreign_keys:
            entry.foreign_keys.append(fk)

    def validate_constraints(self, table: str | None = None) -> dict:
        """Run the REAL checks behind the declared constraints; returns
        ``{table: [violation message, ...]}`` (empty dict = all hold).
        One aggregation job per primary key, one anti-join count per
        foreign key — distributed, no driver-side data."""
        from pyspark.sql import functions as F

        out: dict[str, list[str]] = {}
        names = [table] if table else self.catalog.names()
        for name in names:
            entry = self.catalog.get(name)
            probs: list[str] = []
            if entry.primary_key:
                pk = list(entry.primary_key)
                row = entry.df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(*[F.col(c) for c in pk]).alias("d"),
                    *[F.sum(F.col(c).isNull().cast("long")).alias(f"z{i}")
                      for i, c in enumerate(pk)]).collect()[0]
                if any(row[f"z{i}"] for i in range(len(pk))):
                    probs.append(f"primary key {pk} has NULLs")
                if row["n"] != row["d"]:
                    probs.append(
                        f"primary key {pk} not unique "
                        f"({row['n']} rows, {row['d']} distinct)")
            for cols, ref_name, ref_cols in entry.foreign_keys:
                ref = self.catalog.get(ref_name)
                # the declared contract is "matches exactly ONE ref row":
                # ref-side uniqueness over ref_cols must hold regardless
                # of whether ref_cols is the ref table's declared PK or
                # whether that table is in this validation run — duplicate
                # ref rows make the inner join row-multiplying, silently
                # invalidating join elimination (r14 ADVICE)
                nn = None
                for c in ref_cols:
                    piece = F.col(c).isNotNull()
                    nn = piece if nn is None else (nn & piece)
                rrow = ref.df.where(nn).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(
                        *[F.col(c) for c in ref_cols]).alias("d")
                ).collect()[0]
                if rrow["n"] != rrow["d"]:
                    probs.append(
                        f"foreign key {list(cols)} -> {ref_name}"
                        f"{list(ref_cols)}: referenced columns not "
                        f"unique ({rrow['n']} rows, {rrow['d']} "
                        f"distinct) — join elimination unsound")
                cond = None
                for c in cols:
                    piece = F.col(c).isNull()
                    cond = piece if cond is None else (cond | piece)
                n_null = entry.df.where(cond).count()
                if n_null:
                    probs.append(f"foreign key {list(cols)} has "
                                 f"{n_null} NULL rows")
                probe = entry.df.select(
                    *[F.col(c).alias(f"__f{i}")
                      for i, c in enumerate(cols)])
                build = ref.df.select(
                    *[F.col(c).alias(f"__r{i}")
                      for i, c in enumerate(ref_cols)])
                jc = None
                for i in range(len(cols)):
                    piece = F.col(f"__f{i}") == F.col(f"__r{i}")
                    jc = piece if jc is None else (jc & piece)
                orphans = probe.join(build, jc, "left_anti").count()
                if orphans:
                    probs.append(
                        f"foreign key {list(cols)} -> {ref_name}"
                        f"{list(ref_cols)}: {orphans} unmatched rows")
            if probs:
                out[entry.name] = probs
        return out

    def register_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        """Register every ``<name>.parquet`` in a directory (the layout of
        the test data's ``sf*`` directories). The files are read
        concurrently, then registered in name order."""
        from sql_to_ibis_spark.sources.readers import read_table_dir
        from sql_to_ibis_spark.sources.table_stats import parquet_stats

        for name, df in read_table_dir(self.spark, sf_dir, tables).items():
            self.catalog.register(
                name, df,
                stats=parquet_stats(os.path.join(sf_dir, f"{name}.parquet")))

    # -- query --------------------------------------------------------------

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """Compile and return the physical plan string — the feedback loop
        for plan-shape review (pushdown, pruning, join strategy, codegen
        spans) without executing anything."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.query(sql).explain(mode)
        return buf.getvalue()

    def query(self, sql: str) -> DataFrame:
        """Compile SQL to a lazy DataFrame (logical plan into Catalyst).

        Works identically over streaming relations: register a
        ``readStream`` DataFrame as a table and the compiled plan is a
        streaming DataFrame ready for ``writeStream`` (Structured
        Streaming's unified model — the compiler emits only declarative
        ops, so batch/stream is an input property, not a dialect).

        In ``SPARK_GRAFT_PIN_MODE=persist``, frames the compiler pinned
        for the PREVIOUS query are unpersisted here (their action has
        either run by now or will correctly recompute from lineage), so
        a long-lived session holds at most one query's pins instead of
        accumulating until the ContextCleaner notices. Call
        ``release_pinned()`` to drop them eagerly. Checkpoint mode
        (default) needs no tracking — localCheckpoint blocks belong to
        the ContextCleaner."""
        self.release_pinned()
        node = parse(sql)
        # switches are parsed per query, not per engine
        return Compiler(self.catalog, self.spark,
                        user_functions=self.functions,
                        user_aggregates=self.aggregates,
                        user_table_functions=self.table_functions,
                        pin_registry=self._pinned_frames,
                        opts=PlannerOptions.from_env()).compile(node)

    def release_pinned(self) -> None:
        """Unpersist frames pinned (persist mode) by earlier queries.
        Safe at any time: an unpersisted frame recomputes from lineage."""
        for f in self._pinned_frames:
            try:
                f.unpersist(False)
            except Exception:
                pass
        self._pinned_frames.clear()


# ---------------------------------------------------------------------------
# Module-level convenience API mirroring the reference's exact signatures
# (``sql_to_ibis.register_temp_table(table, table_name)`` etc.) for drop-in
# migration. Backed by one default engine instance.

_default_engine: SqlEngine | None = None


def _engine() -> SqlEngine:
    global _default_engine
    if _default_engine is None:
        _default_engine = SqlEngine()
    return _default_engine


def register_temp_table(table: DataFrame, table_name: str) -> None:
    _engine().register_temp_table(table, table_name)


def remove_temp_table(table_name: str) -> None:
    _engine().remove_temp_table(table_name)


def query(sql: str) -> DataFrame:
    return _engine().query(sql)
