"""AST → PySpark DataFrame compiler.

This is the engine core: it lowers the logical AST (``plans/ast.py``) into a
*declarative* chain of DataFrame operations — ``filter → select → groupBy/agg
→ distinct → orderBy → offset/limit`` with joins and set ops — and lets
Catalyst do all optimization (predicate pushdown, column pruning, join
selection, partial aggregation, whole-stage codegen, AQE). No RDDs, no
collect(), no Python UDFs anywhere in this path: every expression compiles to
``pyspark.sql.Column`` trees that execute JVM-side.

Semantics replicated from the reference (citations are to files under
``/root/reference/sql_to_ibis``):

* case-insensitive table/column resolution with query-written output casing
  (``parsing/transformers.py:167-193``; ``tests/.../test_select.py:104-111``
  pins that ``select rh`` relabels column ``RH`` → ``rh``)
* ``_colN`` / ``_literalN`` auto-names for unaliased expressions/literals
  (``sql/sql_value_objects.py:214-221,277-291``), instance-scoped per query
* WHERE evaluated against the pre-projection relation
  (``parsing/sql_parser.py:730-735``)
* GROUP BY without aggregates → DISTINCT (``parsing/sql_parser.py:444-450``)
* group keys not in SELECT are dropped post-aggregation; selecting a
  non-grouped non-aggregated column raises (``sql_parser.py:461-467,710-717``)
* duplicate column renaming ``<table>.<col>`` on star-joins
  (``sql/sql_value_objects.py:430-443``, ``sql_parser.py:513-547``)
* IN (subquery) → left-semi join (``parsing/transformers.py:716-729``);
  NOT IN additionally gets SQL-correct NULL semantics (the reference's pandas
  backend glosses over them)
* window default frame = RANGE UNBOUNDED PRECEDING → CURRENT ROW, whole
  partition when no ORDER BY (``sql/sql_clause_objects.py:53-72``)

Deliberate fixes over the reference: OFFSET works, boolean literals work,
EXCEPT follows standard set semantics (validated against the DuckDB oracle).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_to_ibis_spark.catalog import Catalog
from sql_to_ibis_spark.errors import (
    AmbiguousColumnException,
    ColumnNotFoundError,
    InvalidQueryException,
    NeedsAggOrGroupQueryException,
    UnsupportedColumnOperation,
)
from sql_to_ibis_spark.functions.registry import (
    AGGREGATE_FUNCTIONS,
    FRAME_SENSITIVE_VALUE_FUNCTIONS,
    NUMERIC_ONLY_AGGREGATES,
    RANKING_FUNCTIONS,
    SCALAR_FUNCTIONS,
    spark_type_for,
)
from sql_to_ibis_spark.plans import ast
from sql_to_ibis_spark.plans.options import PlannerOptions


def _bq(name: str) -> str:
    """Backtick-quote an identifier for use in F.col strings."""
    return "`" + name.replace("`", "``") + "`"


# Aggregates whose default evaluation does NOT skip NULL inputs. For
# FILTER (WHERE ...) / IGNORE NULLS these need explicit ignorenulls=True:
# the NULL-masking trick is only equivalent to row filtering when the
# aggregate skips NULLs.
_NULL_KEEPING_AGGREGATES = {
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "any_value": lambda c: F.any_value(c, ignoreNulls=True),
}

# rank-family functions widened to BIGINT after .over() — Spark returns INT,
# ANSI engines (DuckDB/Postgres window conventions) return int64
_BIGINT_RANKING = {"rank", "dense_rank", "row_number", "ntile"}


@dataclass
class RelationInfo:
    """One FROM-clause relation in scope."""

    qualifier: str           # unique Spark alias (used in df.alias / F.col)
    display: str             # user-visible name: alias or table name
    columns: list[str]       # true column names, schema order
    types: dict[str, T.DataType] = field(default_factory=dict)
    # the RAW catalog frame behind this relation (None for derived
    # tables/CTEs/VALUES): rewrites that only need a SUPERSET of the
    # relation's key values (the NOT-EXISTS matched-key set) can read it
    # directly instead of re-executing the filtered/joined outer subtree
    base_df: "DataFrame | None" = None

    def __post_init__(self) -> None:
        self.colmap = {c.lower(): c for c in self.columns}

    def col(self, true_name: str) -> Column:
        return F.col(f"{_bq(self.qualifier)}.{_bq(true_name)}")


def _collect_column_refs(node, out: list) -> None:
    """Generic AST walk collecting every ColumnRef under ``node``."""
    import dataclasses as dc

    if isinstance(node, ast.ColumnRef):
        out.append(node)
    elif dc.is_dataclass(node) and not isinstance(node, type):
        for f in dc.fields(node):
            _collect_column_refs(getattr(node, f.name), out)
    elif isinstance(node, (list, tuple)):
        for x in node:
            _collect_column_refs(x, out)


class _RemappedRelationInfo(RelationInfo):
    """RelationInfo over a reconstructed frame (ASOF JOIN lowers to a
    union+window plan, losing the per-side alias lineage): resolution keeps
    the original display/column names, but ``col()`` maps each original
    column to its flat unique physical name in the rebuilt frame."""

    def __init__(self, qualifier: str, display: str, columns: list[str],
                 types: dict, flatmap: dict[str, str]):
        super().__init__(qualifier=qualifier, display=display,
                         columns=columns, types=types)
        self.flatmap = flatmap

    def col(self, true_name: str) -> Column:
        return F.col(
            f"{_bq(self.qualifier)}.{_bq(self.flatmap[true_name.lower()])}")


class Scope:
    """Column/table resolution over the FROM-clause relations of one SELECT."""

    def __init__(self, relations: list[RelationInfo]):
        self.relations = relations

    def resolve(self, name: str, qualifier: str | None = None) -> tuple[RelationInfo, str]:
        low = name.lower()
        if qualifier is not None:
            qlow = qualifier.lower()
            for rel in self.relations:
                if rel.display.lower() == qlow or rel.qualifier.lower() == qlow:
                    if low in rel.colmap:
                        return rel, rel.colmap[low]
                    raise ColumnNotFoundError(name, [rel.display],
                                              known_columns=rel.columns)
            raise ColumnNotFoundError(f"{qualifier}.{name}",
                                      [r.display for r in self.relations])
        owners = [(rel, rel.colmap[low]) for rel in self.relations if low in rel.colmap]
        if not owners:
            raise ColumnNotFoundError(
                name, [r.display for r in self.relations],
                known_columns=[c for r in self.relations for c in r.columns])
        if len(owners) > 1:
            raise AmbiguousColumnException(name, {r.display for r, _ in owners})
        return owners[0]

    def duplicated_names(self) -> set[str]:
        """Lowercase column names owned by more than one relation in scope."""
        seen: dict[str, int] = {}
        for rel in self.relations:
            for low in rel.colmap:
                seen[low] = seen.get(low, 0) + 1
        return {low for low, cnt in seen.items() if cnt > 1}


class ChainScope(Scope):
    """Two-level resolution for correlated subqueries: the inner (subquery)
    scope wins for unqualified names, outer references fall through —
    SQL's innermost-scope-first rule."""

    def __init__(self, inner: Scope, outer: Scope):
        super().__init__(inner.relations + outer.relations)
        self.inner = inner
        self.outer = outer

    def resolve(self, name: str, qualifier: str | None = None):
        try:
            return self.inner.resolve(name, qualifier)
        except ColumnNotFoundError:
            return self.outer.resolve(name, qualifier)


class Compiler:
    """Compiles one parsed statement; instance-scoped naming counters
    (the reference used class-level globals with reset hooks —
    ``parsing/sql_parser.py:818-826`` — we deliberately don't)."""

    def __init__(self, catalog: Catalog, spark: SparkSession,
                 user_functions: dict[str, object] | None = None,
                 user_aggregates: dict[str, object] | None = None,
                 user_table_functions: dict[str, object] | None = None,
                 pin_registry: list | None = None,
                 opts: PlannerOptions = PlannerOptions()):
        self.catalog = catalog
        self.spark = spark
        # the rewrite switches, parsed once per query by the engine
        self.opts = opts
        # engine-owned list collecting frames persisted by _pin (persist
        # mode only) so the engine can unpersist them between queries —
        # without it a long-lived session accumulates cached grouped/CTE
        # frames until the ContextCleaner happens to reclaim them
        self._pin_registry = pin_registry
        self.user_functions = user_functions or {}
        self.user_aggregates = user_aggregates or {}
        self.user_table_functions = user_table_functions or {}
        self._col_counter = itertools.count()
        self._literal_counter = itertools.count()
        self._rel_counter = itertools.count()
        self._tmp_counter = itertools.count()
        self._cte_frames: dict[str, DataFrame] = {}
        # name → the CTE's output is group-reduced (one row per group key /
        # single global-agg row) — gates the CTE-scalar window attach
        self._cte_reduced: dict[str, bool] = {}
        # name → the CTE's AST (r15: lets stats-driven gates see through
        # WHERE-only single-table CTEs, e.g. the near-unique-key
        # prepartition gate on an aggregation over a filtered CTE)
        self._cte_asts: dict[str, ast.SelectNode] = {}
        # name → [(tmp col, window Column)] pending attachment when the
        # outer FROM compiles that CTE reference (see
        # _plan_cte_scalar_attach); scoped per select body
        self._cte_attach: dict[str, list] = {}
        self._window_defs: dict[str, ast.WindowSpec] = {}
        # set (scoped) by _compile_aggregation while compiling aggregate
        # items; gates the decimal-sum limb fast path
        self._agg_low_card_groups = False
        # per-select-body plans, keyed by id() of the body's AST relations:
        # broadcast semi reducers (_plan_semi_reduction) and static
        # broadcast sides (_plan_stats_broadcasts); saved and restored
        # around every nested body
        self._semi_plan: dict[
            int, list[tuple[list[tuple[str, str]], DataFrame]]] = {}
        self._bcast_hints: dict[int, str] = {}
        # nesting depth of compile(); the top-level call's exit drops the
        # synthetic collapsed-frame CTEs listed in _nxc_frames
        self._compile_depth = 0
        self._nxc_frames: list[str] = []

    # ------------------------------------------------------------- top level

    def compile(
        self, node: ast.SelectNode | ast.SetOpNode | ast.WithNode
    ) -> DataFrame:
        self._compile_depth += 1
        try:
            return self._compile_dispatch(node)
        finally:
            self._compile_depth -= 1
            if self._compile_depth == 0:
                # synthetic collapsed-frame CTE registrations are scoped
                # to one top-level compile (names are unique, so this is
                # a footprint bound, not a correctness need)
                for nm in self._nxc_frames:
                    self._cte_frames.pop(nm, None)
                    self._cte_reduced.pop(nm, None)
                self._nxc_frames = []

    def _pin(self, df: DataFrame) -> DataFrame:
        """Pin a bounded intermediate frame for reuse across plan branches.

        ``opts.pin_mode`` (``SPARK_GRAFT_PIN_MODE``) selects the
        durability contract:

        - ``checkpoint`` (default): ``localCheckpoint(eager=False)`` —
          truncates lineage so AQE canonical-plan matching reuses ONE
          materialization across branches; blocks live on executor-local
          storage, so losing an executor mid-query fails the query rather
          than recomputing.
        - ``persist``: ``persist(MEMORY_AND_DISK)`` — keeps lineage (an
          executor loss recomputes the lost partitions), at the cost of
          AQE exchange reuse below the persist point (the CTE-attach
          subtree may execute twice).

        Every caller pins a group-reduced frame that two plan branches
        read: the CTE under a CTE-scalar attach, and the grouped frame
        under a total-over-groups scalar (gated by _total_pin_wanted).
        """
        if self.opts.pin_mode == "persist":
            from pyspark import StorageLevel

            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            if self._pin_registry is not None:
                # the engine unpersists these at the NEXT query() (the
                # action for THIS query hasn't run yet at compile time,
                # so release must be deferred; see SqlEngine.query /
                # release_pinned). Checkpoint mode needs no tracking —
                # localCheckpoint blocks are owned by the ContextCleaner.
                self._pin_registry.append(out)
            return out
        return df.localCheckpoint(eager=False)

    def _compile_dispatch(
        self, node: ast.SelectNode | ast.SetOpNode | ast.WithNode
    ) -> DataFrame:
        if isinstance(node, ast.ShowTablesNode):
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.catalog.names())],
                "table_name: string")
        if isinstance(node, ast.DescribeNode):
            entry = self.catalog.get(node.table)
            return self.spark.createDataFrame(
                [(f.name, f.dataType.simpleString(), f.nullable)
                 for f in entry.df.schema.fields],
                "col_name: string, data_type: string, nullable: boolean")
        if isinstance(node, ast.ExplainNode):
            import contextlib
            import io

            inner = self.compile(node.query)
            header = ""
            if node.mode == "analyze":
                # EXPLAIN ANALYZE: execute the query's own plan distributed
                # (RDD count over the executed plan — no row transfer to the
                # driver), so the plan below is the AQE-FINALIZED one
                # (isFinalPlan=true: runtime-chosen join strategies,
                # coalesced shuffle partitions), not the static estimate
                import time

                if inner.isStreaming:
                    raise InvalidQueryException(
                        "EXPLAIN ANALYZE is not supported for streaming "
                        "queries")
                t0 = time.perf_counter()
                n_rows = inner._jdf.queryExecution().executedPlan() \
                    .execute().count()
                wall = time.perf_counter() - t0
                header = (f"== Executed ==\nrows: {n_rows}\n"
                          f"wall: {wall:.4f} s\n\n")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                inner.explain("formatted" if node.mode == "analyze"
                              else node.mode)
            return self.spark.createDataFrame(
                [(header + buf.getvalue(),)], "plan: string")
        if isinstance(node, ast.WithNode):
            return self._compile_with(node)
        if isinstance(node, ast.SetOpNode):
            return self._compile_setop(node)
        return self._compile_select(node)

    def _compile_with(self, node: ast.WithNode) -> DataFrame:
        """CTEs compile to lazy DataFrames registered under their name for
        the body's scope — Catalyst shares/reuses the subplan; later CTEs
        may reference earlier ones."""
        saved = dict(self._cte_frames)
        saved_reduced = dict(self._cte_reduced)
        saved_asts = dict(self._cte_asts)
        try:
            for name, query in node.ctes:
                self._cte_frames[name.lower()] = self.compile(query)
                self._cte_reduced[name.lower()] = \
                    self._select_is_group_reduced(query)
                if isinstance(query, ast.SelectNode):
                    self._cte_asts[name.lower()] = query
            return self.compile(node.body)
        finally:
            self._cte_frames = saved
            self._cte_reduced = saved_reduced
            self._cte_asts = saved_asts

    def _select_is_group_reduced(self, q) -> bool:
        """True when the query's output is one row per group key (GROUP BY
        without rollup/cube) or a single global-aggregate row — the shapes
        whose output the CTE-scalar attach may run an unpartitioned window
        over."""
        if isinstance(q, ast.WithNode):
            return self._select_is_group_reduced(q.body)
        if not isinstance(q, ast.SelectNode):
            return False
        if q.group_mode is not None:
            return False
        if q.group_by or q.group_by_all:
            return True
        return any(
            not isinstance(i.expr, ast.Star)
            and self._contains_aggregate(i.expr) for i in q.items)

    def _compile_setop(self, node: ast.SetOpNode) -> DataFrame:
        left = self.compile(node.left)
        right = self.compile(node.right)
        if len(left.columns) != len(right.columns):
            raise InvalidQueryException(
                f"Set operation requires equal column counts "
                f"({len(left.columns)} vs {len(right.columns)})"
            )
        if node.op == "union_all":
            df = left.union(right)
        elif node.op == "union":
            df = left.union(right).distinct()
        elif node.op == "intersect":
            df = left.intersect(right)
        elif node.op == "intersect_all":
            df = left.intersectAll(right)
        elif node.op == "except":
            # standard SQL set semantics (validated against DuckDB); the
            # reference's difference().distinct() differs — documented in
            # SURVEY §2.7
            df = left.subtract(right)
        elif node.op == "except_all":
            df = left.exceptAll(right)
        else:  # pragma: no cover
            raise InvalidQueryException(f"Unknown set operation {node.op}")
        df = self._apply_order_by(df, node.order_by)
        return self._apply_limit_offset(df, node.limit, node.offset)

    # ----------------------------------------------------------- SELECT body

    def _compile_select(self, node: ast.SelectNode) -> DataFrame:
        saved_windows = self._window_defs
        if node.windows:
            self._window_defs = {**saved_windows, **node.windows}
        try:
            return self._compile_select_body(node)
        finally:
            self._window_defs = saved_windows

    def _compile_select_body(self, node: ast.SelectNode) -> DataFrame:
        for _ in range(5):  # nested derived tables merge inside-out
            rewritten = self._try_view_merge(node)
            if rewritten is None:
                break
            node = rewritten
        # shared-window decorrelation must see the ORIGINAL join chains
        # (the constraint rewrite after it replaces dims with flag joins,
        # which would break the inner↔outer tree match)
        for rewrite in (self._try_shared_window_decorrelate,
                        self._try_constraint_join_rewrites,
                        self._try_parse_per_distinct,
                        self._try_neq_exists_collapse,
                        self._try_eager_aggregation,
                        self._try_left_fact_agg):
            node = rewrite(node) or node
        self._rewrite_low_ndv_count_distinct(node)
        if node.relations:
            df: DataFrame | None = None
            rels: list[RelationInfo] = []
            saved_semi = self._semi_plan
            saved_attach = self._cte_attach
            # runs BEFORE semi-reduction planning: the rewritten conjunct
            # carries a ScalarRef, which the reducer already excludes
            self._cte_attach = self._plan_cte_scalar_attach(node)
            self._semi_plan = self._plan_semi_reduction(node)
            saved_bcast = self._bcast_hints
            self._bcast_hints = self._plan_stats_broadcasts(node)
            try:
                for rel_ast in node.relations:
                    if isinstance(rel_ast, ast.UnnestRef):
                        # lateral: explode over the frame built so far — the
                        # argument may reference earlier FROM relations
                        if df is None:
                            df = self.spark.range(1).drop("id")
                        col = self.compile_expr(rel_ast.expr, Scope(rels))
                        out = (rel_ast.columns[0] if rel_ast.columns
                               else rel_ast.alias)
                        df = df.withColumn(out, F.explode(col))
                        rels.append(RelationInfo(qualifier="",
                                                 display=rel_ast.alias,
                                                 columns=[out]))
                        continue
                    rel_df, rel_infos = self._compile_relation(rel_ast, rels)
                    # comma-separated FROM list → chained cross joins
                    # (reference: parsing/sql_parser.py:674-693)
                    df = rel_df if df is None else df.crossJoin(rel_df)
                    rels.extend(rel_infos)
                assert not self._cte_attach, (
                    "CTE scalar attachments not consumed: "
                    f"{list(self._cte_attach)}")
            finally:
                self._semi_plan = saved_semi
                self._cte_attach = saved_attach
                self._bcast_hints = saved_bcast
            scope = Scope(rels)
        else:
            df = self.spark.range(1)
            scope = Scope([])

        self._lower_expr_subqueries_in_node(node)
        df = self._bind_scalar_subqueries(df, node, scope)

        if node.group_by_all:
            # GROUP BY ALL: keys are every non-aggregate select item
            # (modern convenience; DuckDB-compatible)
            for item in node.items:
                if isinstance(item.expr, ast.Star):
                    raise InvalidQueryException(
                        "GROUP BY ALL cannot be combined with *")
                if not self._contains_aggregate(item.expr):
                    node.group_by.append(item.expr)

        if node.where is not None:
            df = self._apply_where(df, node.where, scope, select_node=node)

        if node.distinct_on:
            df = self._apply_distinct_on(df, node, scope)

        has_aggregate = (
            bool(node.group_by)
            or any(self._contains_aggregate(i.expr) for i in node.items)
            or (node.having is not None and self._contains_aggregate(node.having))
        )

        if has_aggregate:
            if node.qualify is not None:
                raise InvalidQueryException(
                    "QUALIFY combined with GROUP BY aggregation is not "
                    "supported")
            df = self._compile_aggregation(df, node, scope)
        elif node.qualify is not None:
            # QUALIFY: filter on window-function results post-projection
            # (windows can't appear in WHERE; QUALIFY is the standard-ish
            # escape hatch, DuckDB-compatible)
            pairs = self._select_list(node, scope)
            qname = f"__qualify_{next(self._tmp_counter)}"
            qcol = self.compile_expr(node.qualify, scope)
            df = (df.select(*[c.alias(n) for c, n in pairs],
                            qcol.alias(qname))
                  .filter(F.col(qname)).drop(qname))
        else:
            if node.having is not None:
                raise NeedsAggOrGroupQueryException("HAVING")
            pre_projection = df
            # compile the select list ONCE: the hidden-sort path reuses these
            # pairs so _colN/_literalN counters advance exactly once per item
            pairs = self._select_list(node, scope)
            df = pre_projection.select(*[c.alias(n) for c, n in pairs])
            if node.order_by and not node.distinct:
                # ORDER BY may reference non-selected input columns
                # (reference sorts against the parent table,
                # sql_parser.py:748-750; `select wind … order by temp`):
                # carry hidden sort columns through the projection, sort,
                # drop them after limit/offset
                out = self._order_by_with_hidden(
                    pre_projection, df, node, scope, pairs)
                if out is not None:
                    return out

        if node.distinct:
            df = df.distinct()
        df = self._apply_order_by(df, node.order_by)
        return self._apply_limit_offset(df, node.limit, node.offset)

    def _order_by_with_hidden(
        self, pre_df: DataFrame, projected: DataFrame,
        node: ast.SelectNode, scope: Scope,
        pairs: list[tuple[Column, str]],
    ) -> DataFrame | None:
        """Handle ORDER BY expressions not resolvable against the projected
        output. Returns None when plain output-level ordering suffices."""
        out_cols = {c.lower() for c in projected.columns}

        def resolvable_in_output(item: ast.OrderItem) -> bool:
            e = item.expr
            if isinstance(e, ast.ColumnRef):
                if e.table is not None and \
                        f"{e.table}.{e.name}".lower() in out_cols:
                    return True
                return e.name.lower() in out_cols
            if isinstance(e, ast.NumberLit):
                return True  # ordinal
            # expression: output-resolvable only if every embedded column
            # reference survives the projection (ORDER BY user_id % 2
            # after SELECT user_id % 2 AS b must take the hidden path —
            # the source column is gone from the output)
            refs: list[ast.ColumnRef] = []
            _collect_column_refs(e, refs)
            for r in refs:
                if r.table is not None and \
                        f"{r.table}.{r.name}".lower() in out_cols:
                    continue
                if r.name.lower() not in out_cols:
                    return False
            return True

        if all(resolvable_in_output(i) for i in node.order_by):
            return None
        hidden: list[tuple[Column, str]] = []
        sort_cols: list[Column] = []
        for item in node.order_by:
            if resolvable_in_output(item):
                col = self._resolve_output_expr(
                    item.expr, projected,
                    Scope([RelationInfo(qualifier="", display="",
                                        columns=list(projected.columns))]))
            else:
                name = f"__sort_{next(self._tmp_counter)}"
                hidden.append((self.compile_expr(item.expr, scope), name))
                col = F.col(name)
            sort_cols.append(_directed(col, item))
        df = pre_df.select(*[c.alias(n) for c, n in pairs],
                           *[c.alias(n) for c, n in hidden])
        df = df.orderBy(*sort_cols)
        df = self._apply_limit_offset(df, node.limit, node.offset)
        return df.drop(*[n for _, n in hidden])

    # ----------------------------------------------------- scalar subqueries

    def _bind_scalar_subqueries(
        self, df: DataFrame, node: ast.SelectNode, scope: Scope
    ) -> DataFrame:
        """Rewrite scalar subqueries into joins (``ScalarRef`` columns).

        Uncorrelated: broadcast left join of the 1-row side — lazy and
        distributed, no collect. Takes the first row if the subquery yields
        several (use an aggregate for deterministic results).

        Correlated (equality correlation + aggregate select, the TPC-H
        Q2/Q17 shape): classic decorrelation — aggregate the inner relation
        grouped by its correlation keys, left-join on them. One shuffle on
        the keys instead of a per-outer-row subquery.

        Non-equality correlation ("magic set" decorrelation): the scalar
        value depends only on the outer columns referenced by the
        correlation predicates, so aggregate once per DISTINCT outer key
        tuple (keys ⋈ inner on the full predicate, grouped by keys) and
        join the results back on null-safe key equality — a range/theta
        join over the small distinct-keys side instead of a per-row
        subquery.

        Both correlated paths aggregate the inner restricted to the DISTINCT
        keys the *filtered* outer can actually request (the subquery-free
        WHERE conjuncts are applied to the outer first). At scale this is
        the difference between aggregating every group in the inner fact
        table and aggregating only the filtered outer's key set — on TPC-H
        Q17 the brand/container filter cuts the per-partkey AVG from all
        parts to ~0.1% of them. DuckDB gets the same effect from its
        delim-join; the reference (single-threaded pandas backend) has no
        analog."""
        joins: list[tuple[DataFrame, Column | None]] = []
        # (name, window Column, partition-key exprs) per window-decorrelated
        # scalar — the keys drive the partition-complete WHERE pushdown
        wincols: list[tuple[str, Column, list[ast.Expr]]] = []
        restricted_cache: list[DataFrame | None] = []
        outer_single: tuple[str, str] | None = None
        if len(node.relations) == 1 and isinstance(node.relations[0],
                                                   ast.TableRef):
            outer_single = (node.relations[0].name.lower(),
                            node.relations[0].alias or node.relations[0].name)

        def restricted() -> DataFrame | None:
            # computed lazily: only queries that actually contain a
            # correlated scalar pay for compiling the WHERE conjuncts twice
            if not restricted_cache:
                restricted_cache.append(
                    self._restrict_outer(df, node, scope))
            return restricted_cache[0]

        # multi-column scalar subqueries (quantified-comparison lowering):
        # every ScalarSubqueryField sharing one subquery object binds to
        # ONE aggregation pass + ONE join — memoized by body identity
        msq_refs: dict[int, list[ast.Expr]] = {}

        def bind_multi(sq) -> list[ast.Expr]:
            key = id(sq)
            if key in msq_refs:
                return msq_refs[key]
            if self._is_correlated(sq, scope):
                r = restricted()
                refs = self._bind_correlated_scalar(
                    sq, scope, joins, r if r is not None else df,
                    r is not None, outer_single, wincols, multi=True)
            else:
                sub = self.compile(sq)
                names = [f"__scalar_{next(self._tmp_counter)}"
                         for _ in sub.columns]
                joins.append((
                    sub.select(*[F.col(_bq(c)).alias(n)
                                 for c, n in zip(sub.columns, names)])
                    .limit(1),
                    None,
                ))
                refs = [ast.ScalarRef(name=n) for n in names]
            msq_refs[key] = refs
            return refs

        # total-over-groups rewrite is only sound in post-aggregation
        # positions (select items / HAVING); WHERE binds with it off
        allow_total = [False]

        def bind(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ScalarSubqueryField):
                return bind_multi(e.subquery)[e.index]
            if not isinstance(e, ast.ScalarSubquery):
                return e
            if self._is_correlated(e.subquery, scope):
                r = restricted()
                return self._bind_correlated_scalar(e.subquery, scope, joins,
                                                    r if r is not None else df,
                                                    r is not None,
                                                    outer_single, wincols)
            if allow_total[0]:
                marker = self._try_total_over_groups(e.subquery, node,
                                                     scope)
                if marker is not None:
                    return marker
            sub = self.compile(e.subquery)
            if len(sub.columns) != 1:
                raise InvalidQueryException(
                    f"scalar subquery must return exactly 1 column, "
                    f"got {len(sub.columns)}"
                )
            name = f"__scalar_{next(self._tmp_counter)}"
            joins.append((
                sub.select(F.col(_bq(sub.columns[0])).alias(name)).limit(1),
                None,
            ))
            return ast.ScalarRef(name=name)

        if node.where is not None:
            node.where = _transform_expr(node.where, bind)
        allow_total[0] = True
        for item in node.items:
            if not isinstance(item.expr, ast.Star):
                item.expr = _transform_expr(item.expr, bind)
        if node.having is not None:
            node.having = _transform_expr(node.having, bind)
        if wincols and node.where is not None:
            # partition-complete pushdown: WHERE conjuncts that reference
            # only columns in EVERY window's partition keys remove whole
            # partitions, so applying them BELOW the windows cannot change
            # any surviving row's scalar. This is what lets q20's part
            # semi-filter run before the 60M-row window shuffle instead of
            # after it. Uncorrelated [NOT] IN conjuncts on a partition key
            # qualify (they lower to semi/anti joins that preserve the
            # frame's schema); nondeterministic conjuncts never do.
            allowed: set | None = None
            for _n, _c, pkeys in wincols:
                idents = set()
                complete = True
                for k in pkeys:
                    try:
                        idents.add(self._canon(k, scope))
                    except Exception:
                        complete = False
                if not complete:
                    allowed = set()
                    break
                allowed = idents if allowed is None else (allowed & idents)
            pre: list[ast.Expr] = []
            keep: list[ast.Expr] = []
            for c in self._split_conjuncts(node.where):
                if allowed and self._partition_complete(c, allowed, scope):
                    pre.append(c)
                else:
                    keep.append(c)
            if pre:
                pre_expr = pre[0]
                for c in pre[1:]:
                    pre_expr = ast.BinaryOp(op="and", left=pre_expr, right=c)
                df = self._apply_where(df, pre_expr, scope)
                if keep:
                    kept = keep[0]
                    for c in keep[1:]:
                        kept = ast.BinaryOp(op="and", left=kept, right=c)
                    node.where = kept
                else:
                    node.where = None
        for wname, wcol, _pk in wincols:
            df = df.withColumn(wname, wcol)
        for sub, cond in joins:
            if cond is None:
                # left join (not inner cross join) so an empty subquery
                # yields NULL, matching SQL scalar-subquery semantics
                df = df.join(F.broadcast(sub), F.lit(True), "left")
            else:
                df = df.join(sub, cond, "left")
        return df

    # ------------------------------------------- quantified comparisons

    def _lower_expr_subqueries_in_node(self, node: ast.SelectNode) -> None:
        """Pre-binding rewrites of subquery predicates in EXPRESSION
        position:

        * ``x <op> ANY/ALL (sub)`` — equality forms map to IN / NOT IN
          (identical semantics, incl. NOT IN's NULL behavior); ordered
          forms become three aggregate scalar subqueries (count,
          min-or-max extremum, null count) combined in a CASE that
          reproduces SQL's three-valued quantifier semantics.
        * ``EXISTS (sub)`` anywhere an expression is allowed (SELECT list,
          OR branches, CASE, HAVING) — lowered to
          ``(SELECT count(*) …) > 0``. Correlated bodies ride the scalar
          decorrelation machinery (groupBy / window rewrite / magic set).
        * ``x IN (sub)`` in expression position — lowered to
          hit-count / null-count / total-count scalar subqueries with
          full three-valued semantics.

        Top-level WHERE conjuncts whose core is IN/EXISTS are left alone —
        the semi/anti-join path in ``_apply_where`` is the scalable plan
        for them; this rewrite only covers positions that previously
        raised "only supported as top-level AND-conjuncts"."""

        def lower(e: ast.Expr) -> ast.Expr:
            # iterate: "= ANY" lowers to an IN node that (in expression
            # position) must lower again to the count form
            for _ in range(4):
                if isinstance(e, ast.QuantifiedCompare):
                    e = self._lower_quantified(e)
                elif isinstance(e, ast.ExistsSubquery):
                    e = self._lower_exists_expr(e)
                elif isinstance(e, ast.InSubquery):
                    e = self._lower_in_expr(e)
                else:
                    return e
            return e

        def lower_interior_only(conjunct: ast.Expr) -> ast.Expr:
            # keep the semi/anti path for [NOT]* (IN|EXISTS) conjuncts —
            # including the equality quantifier forms that lower to IN
            nots = 0
            core = conjunct
            while isinstance(core, ast.UnaryOp) and core.op == "not":
                nots += 1
                core = core.operand
            if isinstance(core, ast.QuantifiedCompare):
                low = self._lower_quantified(core)
                if isinstance(low, ast.InSubquery):
                    for _ in range(nots):
                        low = ast.UnaryOp(op="not", operand=low)
                    return low
            if isinstance(core, (ast.InSubquery, ast.ExistsSubquery)):
                return conjunct
            return _transform_expr(conjunct, lower)

        for item in node.items:
            if not isinstance(item.expr, ast.Star):
                item.expr = _transform_expr(item.expr, lower)
        if node.where is not None:
            conjs = [lower_interior_only(c)
                     for c in self._split_conjuncts(node.where)]
            out = conjs[0]
            for c in conjs[1:]:
                out = ast.BinaryOp(op="and", left=out, right=c)
            node.where = out
        if node.having is not None:
            node.having = _transform_expr(node.having, lower)

    def _lower_exists_expr(self, e: ast.ExistsSubquery) -> ast.Expr:
        """EXISTS in expression position → ``(SELECT count(*) …) > 0``
        (count coalesces to 0 through the correlated binder, so empty
        groups read FALSE — EXISTS is never NULL)."""
        import copy

        sub = e.subquery
        plain = (isinstance(sub, ast.SelectNode)
                 and not sub.group_by and not sub.group_by_all
                 and sub.having is None and not sub.distinct
                 and not sub.distinct_on and sub.limit is None
                 and sub.offset is None and sub.qualify is None
                 and not any(not isinstance(i.expr, ast.Star)
                             and self._contains_aggregate(i.expr)
                             for i in sub.items))
        if plain:
            cnt = copy.deepcopy(sub)
            cnt.items = [ast.SelectItem(
                expr=ast.FuncCall(name="count", is_star=True))]
        else:
            cnt = ast.SelectNode(
                items=[ast.SelectItem(
                    expr=ast.FuncCall(name="count", is_star=True))],
                relations=[ast.SubqueryRef(
                    query=copy.deepcopy(sub),
                    alias=f"__q_{next(self._tmp_counter)}")])
        op = "=" if e.negated else ">"
        return ast.BinaryOp(op=op,
                            left=ast.ScalarSubquery(subquery=cnt),
                            right=ast.NumberLit(value=0))

    def _lower_in_expr(self, e: ast.InSubquery) -> ast.Expr:
        """IN in expression position → hit/null/total count scalar
        subqueries with SQL's three-valued result: TRUE on a match, NULL
        when undecided only because of NULLs (NULL operand over a
        non-empty set, or no match but NULL elements), FALSE otherwise
        (including every operand over the empty set)."""
        import copy

        sub = e.subquery
        col = f"__qv_{next(self._tmp_counter)}"

        def wrapped(where: ast.Expr | None) -> ast.ScalarSubquery:
            return ast.ScalarSubquery(subquery=ast.SelectNode(
                items=[ast.SelectItem(
                    expr=ast.FuncCall(name="count", is_star=True))],
                relations=[ast.SubqueryRef(
                    query=copy.deepcopy(sub),
                    alias=f"__q_{next(self._tmp_counter)}",
                    columns=[col])],
                where=where))

        hits = wrapped(ast.BinaryOp(op="=",
                                    left=ast.ColumnRef(name=col),
                                    right=_copy_expr(e.operand)))
        nulls = wrapped(ast.IsNull(operand=ast.ColumnRef(name=col)))
        total = wrapped(None)
        core: ast.Expr = ast.Case(whens=[
            (ast.BinaryOp(op=">", left=hits, right=ast.NumberLit(value=0)),
             ast.BoolLit(value=True)),
            (ast.BinaryOp(
                op="and",
                left=ast.IsNull(operand=_copy_expr(e.operand)),
                right=ast.BinaryOp(op=">", left=total,
                                   right=ast.NumberLit(value=0))),
             ast.NullLit()),
            (ast.BinaryOp(op=">", left=nulls, right=ast.NumberLit(value=0)),
             ast.NullLit()),
        ], else_=ast.BoolLit(value=False))
        if e.negated:
            core = ast.UnaryOp(op="not", operand=core)
        return core

    def _lower_quantified(self, qc: ast.QuantifiedCompare) -> ast.Expr:
        import copy

        op, quant, sub = qc.op, qc.quantifier, qc.subquery
        if op == "=" and quant == "any":
            return ast.InSubquery(operand=qc.operand, subquery=sub)
        if op == "!=" and quant == "all":
            return ast.InSubquery(operand=qc.operand, subquery=sub,
                                  negated=True)
        if op == "=" and quant == "all":
            # x = ALL(S)  ⟺  x >= ALL(S) AND x <= ALL(S) (3VL-composable)
            return ast.BinaryOp(
                op="and",
                left=self._lower_quantified(ast.QuantifiedCompare(
                    op=">=", operand=_copy_expr(qc.operand),
                    quantifier="all", subquery=copy.deepcopy(sub))),
                right=self._lower_quantified(ast.QuantifiedCompare(
                    op="<=", operand=_copy_expr(qc.operand),
                    quantifier="all", subquery=copy.deepcopy(sub))))
        if op == "!=" and quant == "any":
            # x != ANY(S)  ⟺  NOT (x = ALL(S))
            return ast.UnaryOp(op="not", operand=self._lower_quantified(
                ast.QuantifiedCompare(op="=", operand=qc.operand,
                                      quantifier="all", subquery=sub)))
        if op not in (">", ">=", "<", "<="):
            raise InvalidQueryException(
                f"unsupported quantified comparison operator {op!r}")

        # ordered forms: extremum choice makes  x op ext  ⟺
        # exists/forall over the non-null elements
        want_min = (op in (">", ">=")) == (quant == "any")
        ext_fn = "min" if want_min else "max"
        n_sq, ext_sq, nulls_sq = self._quantifier_aggregates(sub, ext_fn)

        x = qc.operand
        n0 = ast.BinaryOp(op="=", left=n_sq, right=ast.NumberLit(value=0))
        cmp_ext = ast.BinaryOp(op=op, left=_copy_expr(x), right=ext_sq)
        unknown = ast.BinaryOp(
            op="or",
            left=ast.BinaryOp(op=">", left=nulls_sq,
                              right=ast.NumberLit(value=0)),
            right=ast.IsNull(operand=_copy_expr(x)))
        if quant == "any":
            # FALSE on empty; TRUE if some non-null element satisfies;
            # NULL if undecided only because of NULLs; else FALSE
            return ast.Case(whens=[
                (n0, ast.BoolLit(value=False)),
                (cmp_ext, ast.BoolLit(value=True)),
                (unknown, ast.NullLit()),
            ], else_=ast.BoolLit(value=False))
        # ALL: TRUE on empty; FALSE if some non-null element violates;
        # NULL if undecided only because of NULLs; else TRUE
        violation = ast.UnaryOp(op="not", operand=cmp_ext)
        return ast.Case(whens=[
            (n0, ast.BoolLit(value=True)),
            (violation, ast.BoolLit(value=False)),
            (unknown, ast.NullLit()),
        ], else_=ast.BoolLit(value=True))

    def _quantifier_aggregates(
        self, sub, ext_fn: str
    ) -> tuple[ast.Expr, ast.Expr, ast.Expr]:
        """(count(*), min/max(v), count of NULL v) over ``sub``'s rows as
        three ``ScalarSubqueryField``s of ONE fused subquery — a single
        aggregation pass over the inner relation and a single bind/join,
        where r6 emitted three separate scalar subqueries that re-ran the
        inner (7 shuffles on the grouped-inner entry; ~3 suffice). Plain
        single-item SELECTs swap the items in place (preserving
        correlation); aggregated/limited/set-op bodies wrap as a derived
        table (uncorrelated only — a correlated ref inside the wrap fails
        resolution loudly, not silently)."""
        import copy

        plain = (isinstance(sub, ast.SelectNode)
                 and len(sub.items) == 1
                 and not isinstance(sub.items[0].expr, ast.Star)
                 and not sub.group_by and not sub.group_by_all
                 and sub.having is None and not sub.distinct
                 and not sub.distinct_on and sub.limit is None
                 and sub.offset is None and sub.qualify is None
                 and not self._contains_aggregate(sub.items[0].expr))
        if plain:
            fused = copy.deepcopy(sub)
            v = fused.items[0].expr
            fused.items = [
                ast.SelectItem(expr=ast.FuncCall(name="count", is_star=True)),
                ast.SelectItem(expr=ast.FuncCall(name=ext_fn,
                                                 args=[_copy_expr(v)])),
                ast.SelectItem(expr=ast.FuncCall(
                    name="count", is_star=True,
                    filter_where=ast.IsNull(operand=_copy_expr(v)))),
            ]
        else:
            if isinstance(sub, ast.SelectNode) and (
                    len(sub.items) != 1
                    or isinstance(sub.items[0].expr, ast.Star)):
                raise InvalidQueryException(
                    "quantified comparison subquery must return exactly "
                    "1 column")
            col = f"__qv_{next(self._tmp_counter)}"
            vref = lambda: ast.ColumnRef(name=col)  # noqa: E731
            fused = ast.SelectNode(
                items=[
                    ast.SelectItem(expr=ast.FuncCall(name="count",
                                                     is_star=True)),
                    ast.SelectItem(expr=ast.FuncCall(name=ext_fn,
                                                     args=[vref()])),
                    ast.SelectItem(expr=ast.FuncCall(
                        name="count", is_star=True,
                        filter_where=ast.IsNull(operand=vref()))),
                ],
                relations=[ast.SubqueryRef(
                    query=copy.deepcopy(sub),
                    alias=f"__q_{next(self._tmp_counter)}",
                    columns=[col])])
        return (ast.ScalarSubqueryField(subquery=fused, index=0),
                ast.ScalarSubqueryField(subquery=fused, index=1),
                ast.ScalarSubqueryField(subquery=fused, index=2))

    def _rewrite_low_ndv_count_distinct(self, node: ast.SelectNode) -> None:
        """``COUNT(DISTINCT col)`` on an analyze()-certified low-NDV
        column rewrites to ``size(collect_set(col))`` in place. Spark
        plans multiple distinct aggregates through Expand — every input
        row duplicated once per distinct group (the sf10 table's
        "two-phase distinct agg" 11× on agg_count_star_distinct, whose
        distinct columns have NDV 3 and 7). collect_set partial-
        aggregates map-side to ≤NDV elements, so the plan collapses to
        ONE ordinary aggregation pass. NULL semantics match exactly:
        both COUNT(DISTINCT) and collect_set ignore NULLs. Gated at
        NDV ≤ 10k per column (collect_set buffers stay tiny even per
        group); approximate NDV's ±3% error is irrelevant at that
        margin. ``SPARK_GRAFT_SET_COUNT_DISTINCT=0`` disables."""
        if self.opts.set_count_distinct is False:
            return
        if (len(node.relations) != 1
                or not isinstance(node.relations[0], ast.TableRef)
                or node.relations[0].name.lower() in self._cte_frames):
            return
        try:
            entry = self.catalog.get(node.relations[0].name)
        except Exception:
            return
        st = entry.stats
        if st is None or not getattr(st, "ndv", None):
            return
        alias = (node.relations[0].alias
                 or node.relations[0].name).lower()

        def rewrite(e: ast.Expr) -> ast.Expr:
            if (isinstance(e, ast.FuncCall) and e.name == "count"
                    and e.distinct and len(e.args) == 1
                    and e.filter_where is None
                    and isinstance(e.args[0], ast.ColumnRef)):
                cr = e.args[0]
                if cr.table is not None and cr.table.lower() != alias:
                    return e
                n = st.ndv.get(cr.name.lower())
                if n and n <= 10_000:
                    return ast.Cast(
                        operand=ast.FuncCall(name="size", args=[
                            ast.FuncCall(name="collect_set", args=[cr])]),
                        type_name="bigint")
            return e

        for item in node.items:
            if not isinstance(item.expr, ast.Star):
                item.expr = _transform_expr(item.expr, rewrite)
        if node.having is not None:
            node.having = _transform_expr(node.having, rewrite)
        for o in node.order_by:
            o.expr = _transform_expr(o.expr, rewrite)

    _EXPENSIVE_PER_ROW_FNS = {"get_json_object", "from_json", "json_tuple",
                              "regexp_extract", "regexp_extract_all",
                              "schema_of_json", "xpath_string"}

    def _try_parse_per_distinct(
        self, node: ast.SelectNode
    ) -> "ast.SelectNode | None":
        """Parse-per-distinct aggregation rewrite (the r6 events_json
        finding, now NDV-gated): an aggregation whose aggregate inputs
        are expensive per-row parses of ONE low-cardinality column
        (``sum(get_json_object(props, …)) GROUP BY event_type`` over 10M
        rows with 100 distinct props) re-plans as a two-level
        aggregation — count by (keys…, col) first, parse once per
        DISTINCT value, then merge weighted by the counts. DuckDB gets
        the same effect from dictionary-encoded execution; Spark
        evaluates the parse per row. r6 measured the rewrite winning
        here but rejected it stats-blind (it regresses on
        high-cardinality JSON); analyze()'s NDV makes it gateable:
        requires Π ndv(keys…, col) ≤ rows/8 and ≤ 2M.

        Soundness: the parse is a deterministic function of the column,
        so per-distinct evaluation is exact; SUM merges as Σ v·c, COUNT
        as Σ c over non-null v, COUNT(*) as Σ c, MIN/MAX directly.
        DISTINCT/FILTER aggregates, decimal sums (precision widening
        under v·c would drift the result type), window functions,
        subqueries, and nondeterminism all bail.
        ``SPARK_GRAFT_PARSE_PER_DISTINCT=0`` disables."""
        if self.opts.parse_per_distinct is False:
            return None
        if (len(node.relations) != 1
                or not isinstance(node.relations[0], ast.TableRef)
                or node.distinct or node.distinct_on or node.qualify
                or node.windows or node.group_mode is not None
                or node.group_by_all):
            return None
        rel = node.relations[0]
        if rel.name.lower() in self._cte_frames:
            return None
        try:
            entry = self.catalog.get(rel.name)
        except Exception:
            return None
        st = entry.stats
        if st is None or not getattr(st, "ndv", None):
            return None
        cols = {c.lower(): c for c in entry.df.columns}
        alias = (rel.alias or rel.name).lower()

        exprs = [i.expr for i in node.items
                 if not isinstance(i.expr, ast.Star)]
        if node.having is not None:
            exprs.append(node.having)
        exprs += [o.expr for o in node.order_by]
        for e in exprs + list(node.group_by):
            if self._contains_any_subquery(e) \
                    or self._contains_nondeterministic(e):
                return None
            if any(isinstance(x, ast.WindowFunc)
                   for x in _walk_all(e)):
                return None
        if node.where is not None and (
                self._contains_any_subquery(node.where)
                or self._contains_nondeterministic(node.where)):
            return None

        # group keys must be plain columns of the table
        keys: list[str] = []
        for g in node.group_by:
            if not isinstance(g, ast.ColumnRef) \
                    or (g.table is not None and g.table.lower() != alias) \
                    or g.name.lower() not in cols:
                return None
            keys.append(g.name.lower())

        # find the single expensive column and validate every aggregate
        target = [None]
        ok = [True]
        aggs: list[ast.FuncCall] = []

        def scan(e, inside_agg=False) -> None:
            if not ok[0]:
                return
            if isinstance(e, ast.FuncCall):
                if self._is_agg_name(e.name) or e.is_star:
                    if inside_agg or e.distinct \
                            or e.filter_where is not None \
                            or e.name in self.user_aggregates:
                        ok[0] = False
                        return
                    if not e.is_star and e.name not in (
                            "count", "sum", "min", "minimum",
                            "max", "maximum"):
                        ok[0] = False
                        return
                    aggs.append(e)
                    for a in e.args:
                        scan(a, True)
                    return
                if e.name in self._EXPENSIVE_PER_ROW_FNS and e.args \
                        and isinstance(e.args[0], ast.ColumnRef):
                    c = e.args[0].name.lower()
                    if target[0] is None:
                        target[0] = c
                    elif target[0] != c:
                        ok[0] = False
                        return
            if isinstance(e, ast.ColumnRef) and inside_agg:
                if (e.table is not None and e.table.lower() != alias) \
                        or e.name.lower() not in cols:
                    ok[0] = False
                    return
            for c in _children(e):
                scan(c, inside_agg)

        for e in exprs:
            scan(e)
        col = target[0]
        if not ok[0] or col is None or col in keys:
            return None
        for agg in aggs:
            # every aggregate input may reference ONLY the parsed column
            refs = [x for x in _walk_all(agg)
                    if isinstance(x, ast.ColumnRef)]
            if any(r.name.lower() != col for r in refs):
                return None
            if agg.name == "sum":
                # decimal sums widen differently under v·c — bail
                if any(isinstance(x, ast.Cast)
                       and "dec" in x.type_name.lower()
                       for x in _walk_all(agg)):
                    return None
        if not any(fn for a in aggs for fn in _walk_all(a)
                   if isinstance(fn, ast.FuncCall)
                   and fn.name in self._EXPENSIVE_PER_ROW_FNS):
            return None

        # NDV gate
        rows = st.rows or 0
        prod = st.ndv.get(col)
        if not prod:
            return None
        for k in keys:
            n = st.ndv.get(k)
            if not n:
                return None
            prod *= n
        if rows < 8 or prod > rows / 8 or prod > 2_000_000:
            return None

        # ---- build the two-level form ----
        n_ = next(self._tmp_counter)
        pcol, ccol = f"__ppd_p_{n_}", f"__ppd_c_{n_}"
        inner = ast.SelectNode(
            items=[ast.SelectItem(expr=ast.ColumnRef(name=cols[k]))
                   for k in keys]
            + [ast.SelectItem(expr=ast.ColumnRef(name=cols[col]),
                              alias=pcol),
               ast.SelectItem(expr=ast.FuncCall(name="count", is_star=True),
                              alias=ccol)],
            relations=[rel],
            where=node.where,
            group_by=[ast.ColumnRef(name=cols[k]) for k in keys]
            + [ast.ColumnRef(name=cols[col])],
        )

        def retarget(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and e.name.lower() == col:
                return ast.ColumnRef(name=pcol)
            return e

        def merge_agg(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                cref = ast.ColumnRef(name=ccol)
                if e.is_star:
                    # COUNT merges as SUM of the per-distinct counts,
                    # but SUM over an empty input is NULL while COUNT
                    # is 0 — the global-aggregate (no GROUP BY) form
                    # hits that when WHERE matches nothing, so every
                    # COUNT merge is wrapped in coalesce(..., 0).
                    return ast.FuncCall(name="coalesce", args=[
                        ast.FuncCall(name="sum", args=[cref]),
                        ast.NumberLit(value=0)])
                arg = _transform_expr(_copy_expr(e.args[0]), retarget)
                if e.name == "count":
                    return ast.FuncCall(name="coalesce", args=[
                        ast.FuncCall(name="sum", args=[ast.Case(
                            whens=[(ast.IsNull(operand=arg, negated=True),
                                    cref)],
                            else_=ast.NumberLit(value=0))]),
                        ast.NumberLit(value=0)])
                if e.name == "sum":
                    return ast.FuncCall(name="sum", args=[ast.BinaryOp(
                        op="*", left=arg, right=cref)])
                return ast.FuncCall(name=e.name, args=[arg])
            return e

        def strip_qual(e: ast.Expr) -> ast.Expr:
            # refs copied from the original node may carry the source
            # table's qualifier (``t.event_type``); the outer node reads
            # from the __ppd_ subquery, so that qualifier no longer
            # resolves — drop it.
            if (isinstance(e, ast.ColumnRef) and e.table is not None
                    and e.table.lower() == alias):
                return ast.ColumnRef(name=e.name)
            return e

        def xf(e: ast.Expr) -> ast.Expr:
            return _transform_expr(
                _transform_expr(_copy_expr(e), merge_agg), strip_qual)

        outer = ast.SelectNode(
            items=[ast.SelectItem(
                expr=(i.expr if isinstance(i.expr, ast.Star)
                      else xf(i.expr)),
                alias=i.alias) for i in node.items],
            relations=[ast.SubqueryRef(query=inner, alias=f"__ppd_{n_}")],
            group_by=[xf(g) for g in node.group_by],
            having=(None if node.having is None else xf(node.having)),
            order_by=[ast.OrderItem(
                expr=xf(o.expr),
                ascending=o.ascending, nulls_first=o.nulls_first)
                for o in node.order_by],
            limit=node.limit, offset=node.offset,
        )
        return outer

    _EAGER_AGG_FNS = {"sum", "count", "min", "minimum", "max", "maximum"}

    def _try_view_merge(self, node: ast.SelectNode) -> "ast.SelectNode | None":
        """Derived-table merge (view merging): ``SELECT ... FROM (SELECT
        <plain projection> FROM <tree> WHERE w) a ...`` inlines the
        inner query into the outer — outer references to ``a.<out>``
        substitute the inner item expressions, the inner WHERE conjoins
        the outer one, and the outer sees the inner join tree directly.

        Why: the derived table is an optimization FENCE. The q7/q8/q9
        family wraps its join in a projection (year(...), price*(1-disc)
        AS volume) and aggregates outside; without merging, the eager-
        aggregation pushdown (and the stats-broadcast planner's join
        sizing) see only an opaque subquery. Catalyst collapses the
        projection at the logical level, but OUR compile-time rewrites
        run on the AST, before Catalyst exists.

        Sound only for pure row-wise projections, so it bails on: inner
        aggregation/grouping/having, DISTINCT, windows/QUALIFY,
        LIMIT/OFFSET, ORDER BY, set ops, stars on either side,
        nondeterminism or subqueries in the inner items (substitution
        duplicates expressions), subqueries anywhere in the outer
        (their bodies are compiled in their own scope and may reference
        the merged-away alias), and any outer column that does not
        resolve to an inner output. SPARK_GRAFT_VIEW_MERGE=0 disables."""
        if self.opts.view_merge is False:
            return None
        if len(node.relations) != 1 \
                or not isinstance(node.relations[0], ast.SubqueryRef):
            return None
        ref = node.relations[0]
        sub = ref.query
        if not isinstance(sub, ast.SelectNode):
            return None
        if (sub.group_by or sub.group_mode is not None or sub.group_by_all
                or sub.having is not None or sub.qualify is not None
                or sub.windows or sub.distinct or sub.distinct_on
                or sub.limit is not None or sub.offset is not None
                or sub.order_by or not sub.items or not sub.relations):
            return None

        # inner outputs: alias, or the written name of a plain column;
        # t(a, b) derived-column lists override positionally
        out_map: dict[str, ast.Expr] = {}
        for i, item in enumerate(sub.items):
            if isinstance(item.expr, ast.Star):
                return None
            if ref.columns is not None:
                if i >= len(ref.columns):
                    return None
                name = ref.columns[i]
            elif item.alias is not None:
                name = item.alias
            elif isinstance(item.expr, ast.ColumnRef):
                name = item.expr.name
            else:
                return None
            if name.lower() in out_map:
                return None  # duplicate output name — ambiguous
            out_map[name.lower()] = item.expr
            if self._contains_any_subquery(item.expr) \
                    or self._contains_nondeterministic(item.expr):
                return None
            for x in _walk_all(item.expr):
                if isinstance(x, (ast.WindowFunc, ast.GroupTotalSubquery)):
                    return None
                if isinstance(x, ast.FuncCall) and (
                        self._is_agg_name(x.name) or x.is_star
                        or x.name in self.user_aggregates):
                    return None

        alias_l = ref.alias.lower()
        parent_aliases = {(i.alias or (i.expr.name if isinstance(
            i.expr, ast.ColumnRef) else "")).lower() for i in node.items}

        outer_exprs: list[ast.Expr] = [i.expr for i in node.items]
        outer_exprs += list(node.group_by)
        outer_exprs += [g for s in node.grouping_sets for g in s]
        outer_exprs += list(node.distinct_on)
        for w in node.windows.values():
            outer_exprs += list(w.partition_by)
            outer_exprs += [o.expr for o in w.order_by]
        if node.where is not None:
            outer_exprs.append(node.where)
        if node.having is not None:
            outer_exprs.append(node.having)
        if node.qualify is not None:
            outer_exprs.append(node.qualify)
        outer_exprs += [o.expr for o in node.order_by]
        for e in outer_exprs:
            if self._contains_any_subquery(e):
                return None  # bodies compile in their own scope
            for x in _walk_all(e):
                if isinstance(x, ast.Star):
                    if x.table is not None \
                            and x.table.lower() != alias_l:
                        return None
                    return None  # star expansion over the view — leave
                if not isinstance(x, ast.ColumnRef):
                    continue
                if x.table is not None:
                    if x.table.lower() != alias_l \
                            or x.name.lower() not in out_map:
                        return None
                elif x.name.lower() not in out_map \
                        and x.name.lower() not in parent_aliases:
                    return None

        def subst(e: ast.Expr, keep_output_aliases: bool = False) -> ast.Expr:
            def rep(x: ast.Expr) -> ast.Expr:
                if isinstance(x, ast.ColumnRef) and (
                        x.table is None
                        or x.table.lower() == alias_l) \
                        and x.name.lower() in out_map:
                    if keep_output_aliases and x.table is None \
                            and x.name.lower() in parent_aliases:
                        # ORDER BY <output alias> resolves against the
                        # outer projection, not the merged FROM — leave
                        return x
                    return _copy_expr(out_map[x.name.lower()])
                return x
            return _transform_expr(_copy_expr(e), rep)

        def out_name(item: ast.SelectItem) -> "str | None":
            if item.alias is not None:
                return item.alias
            if isinstance(item.expr, ast.ColumnRef):
                return item.expr.name  # preserve the pre-merge casing
            return None

        new_where = _copy_expr(sub.where) if sub.where is not None else None
        if node.where is not None:
            w = subst(node.where)
            new_where = w if new_where is None else ast.BinaryOp(
                op="and", left=new_where, right=w)
        merged = ast.SelectNode(
            items=[ast.SelectItem(expr=subst(i.expr),
                                  alias=i.alias or out_name(i))
                   for i in node.items],
            relations=[_copy_expr(r) for r in sub.relations],
            where=new_where,
            group_by=[subst(g) for g in node.group_by],
            group_mode=node.group_mode,
            grouping_sets=[[subst(g) for g in s]
                           for s in node.grouping_sets],
            group_by_all=node.group_by_all,
            having=(subst(node.having) if node.having is not None
                    else None),
            qualify=(subst(node.qualify) if node.qualify is not None
                     else None),
            order_by=[ast.OrderItem(expr=subst(o.expr,
                                               keep_output_aliases=True),
                                    ascending=o.ascending,
                                    nulls_first=o.nulls_first)
                      for o in node.order_by],
            limit=node.limit, offset=node.offset,
            distinct=node.distinct,
            distinct_on=[subst(d) for d in node.distinct_on],
            windows={k: ast.WindowSpec(
                partition_by=[subst(p) for p in w.partition_by],
                order_by=[ast.OrderItem(expr=subst(o.expr),
                                        ascending=o.ascending,
                                        nulls_first=o.nulls_first)
                          for o in w.order_by],
                frame_type=w.frame_type,
                frame_start=w.frame_start, frame_end=w.frame_end,
                ref=w.ref)
                for k, w in node.windows.items()},
        )
        return merged

    # --------------------------- shared-tree correlated window decorrelation

    def _try_shared_window_decorrelate(
        self, node: ast.SelectNode
    ) -> "ast.SelectNode | None":
        """TPC-H q2-shape decorrelation: a WHERE comparison against a
        correlated MIN/MAX scalar whose FROM tree is (alias-renamed) a
        SUBSET of the outer's own FROM tree.

            ... FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
                JOIN supplier s ... JOIN region r ...
            WHERE r.r_name = 'EUROPE' AND p.p_size = 15
              AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                    FROM lineitem l2 JOIN supplier s2 ... JOIN region r2 ...
                    WHERE l2.l_partkey = p.p_partkey AND r2.r_name='EUROPE')

        The stock plan re-executes the whole shared join tree for the
        subquery (the repo's only SortMergeJoin). Rewritten, the shared
        relations move into ONE derived table computing
        ``agg(x) OVER (PARTITION BY key)`` — SQL evaluates window
        functions after WHERE, so the derived WHERE (the shared
        conjuncts) restricts the window input exactly like the inner
        tree did — and the outer keeps only its EXTRA relations joined
        to the derived table, with the scalar comparison now a plain
        column comparison. Measured q2 at sf10: 1.95 s → the hand-built
        equivalent runs 0.83 s (DuckDB 0.39).

        Soundness gates (each bail keeps the stock decorrelation):
        - aggregate is MIN/MAX only — multiplicity-insensitive, so extra
          outer relations may duplicate shared rows freely;
        - inner tables map 1:1 by name onto a subset of outer tables
          (no self-joins on either side among the mapped set);
        - every inner JOIN conjunct matches an outer conjunct under the
          alias mapping (same canonical form) — the shared frame is
          structurally identical;
        - matched inner WHERE conjuncts go INSIDE the derived WHERE
          (the outer's own copies, remapped, stay above — redundant but
          harmless); unmatched inner-local conjuncts become agg
          FILTER (WHERE ...) so they restrict accumulation only;
        - every correlation conjunct is inner.col = outer.col equality,
          and the outer side sits in the same outer equality class as
          the mapped inner column — so each outer row's partition IS its
          correlation group (and no surviving outer row has a NULL key:
          the class equality already holds as TRUE on every frame row);
        - all outer references to shared aliases are plain qualified
          column refs outside subquery bodies (remapped to the derived
          alias; bare names that could belong to a shared table bail);
        - magic-set restriction: an extra relation joined to the key
          class by one equality and carrying alias-pure deterministic
          filters contributes ``key IN (SELECT rc FROM R WHERE filters)``
          to the derived WHERE — whole partitions drop (partition-key
          semi), shrinking the window input by the extra relation's
          selectivity (q2: part p_size=15 → 1/50 of partitions).

        ``SPARK_GRAFT_SHARED_WINDOW_DECORRELATE=0`` disables.
        """
        if self.opts.shared_window_decorrelate is False:
            return None
        if node.where is None or len(node.relations) != 1 \
                or not isinstance(node.relations[0], ast.Join):
            return None
        conjuncts = self._split_conjuncts(node.where)
        target = None
        for c in conjuncts:
            if isinstance(c, ast.BinaryOp) \
                    and c.op in ("=", "<", ">", "<=", ">=", "!=", "<>"):
                for side in (c.left, c.right):
                    if isinstance(side, ast.ScalarSubquery) \
                            and isinstance(side.subquery, ast.SelectNode):
                        if target is not None:
                            return None      # one scalar at a time
                        target = (c, side)
        if target is None:
            return None
        comp, scalar = target
        sub = scalar.subquery
        # inner shape: single MIN/MAX item, no grouping machinery
        if (len(sub.items) != 1 or sub.group_by or sub.group_by_all
                or sub.group_mode or sub.having is not None or sub.distinct
                or sub.distinct_on or sub.limit is not None
                or sub.offset is not None or sub.qualify is not None
                or sub.windows or sub.order_by):
            return None
        item = sub.items[0].expr
        if not (isinstance(item, ast.FuncCall)
                and item.name in ("min", "minimum", "max", "maximum")
                and not item.distinct and not item.is_star
                and item.filter_where is None and len(item.args) == 1):
            return None
        # no other subqueries anywhere in either tree
        import copy as _copy

        def any_subquery(e) -> bool:
            return any(getattr(x, "subquery", None) is not None
                       and not isinstance(getattr(x, "subquery"), ast.Expr)
                       for x in _walk_all(e))

        for c in conjuncts:
            if c is not comp and any_subquery(c):
                return None
        for it in node.items:
            if isinstance(it.expr, ast.Star) or any_subquery(it.expr):
                return None
        if node.having is not None or node.qualify is not None:
            return None
        if any_subquery(comp.left is scalar and comp.right or comp.left):
            return None

        def flatten(r, chain, joined) -> bool:
            if isinstance(r, ast.TableRef):
                chain.append(r)
                return True
            if isinstance(r, ast.Join) and r.kind == "inner" \
                    and r.condition is not None:
                if not flatten(r.left, chain, joined):
                    return False
                if not isinstance(r.right, ast.TableRef):
                    return False
                chain.append(r.right)
                joined.extend(self._split_conjuncts(r.condition))
                return True
            return False

        ochain: list[ast.TableRef] = []
        ojoin: list[ast.Expr] = []
        if not flatten(node.relations[0], ochain, ojoin):
            return None
        ichain: list[ast.TableRef] = []
        ijoin: list[ast.Expr] = []
        if len(sub.relations) != 1 \
                or not flatten(sub.relations[0], ichain, ijoin) \
                or len(ichain) < 1:
            return None
        for t in ochain + ichain:
            if t.name.lower() in self._cte_frames \
                    or t.name.lower() not in self.catalog:
                return None
        # alias mapping by table name, unique on both sides
        oby: dict[str, str] = {}
        for t in ochain:
            nm = t.name.lower()
            if nm in oby:
                return None
            oby[nm] = (t.alias or t.name).lower()
        imap: dict[str, str] = {}       # inner alias -> outer alias
        seen_inner: set[str] = set()
        for t in ichain:
            nm = t.name.lower()
            if nm in seen_inner or nm not in oby:
                return None
            seen_inner.add(nm)
            imap[(t.alias or t.name).lower()] = oby[nm]
        shared_aliases = set(imap.values())
        extra_tables = [t for t in ochain
                        if (t.alias or t.name).lower() not in shared_aliases]
        if not extra_tables:
            return None      # fully-shared trees ride the q17 machinery

        # canonical conjunct rendering under an alias substitution
        def canon(e, amap) -> str | None:
            if isinstance(e, ast.ColumnRef):
                if e.table is None:
                    return None
                t = e.table.lower()
                return f"C:{amap.get(t, t)}.{e.name.lower()}"
            if isinstance(e, ast.NumberLit):
                return f"N:{e.value}"
            if isinstance(e, ast.StringLit):
                return f"S:{e.value!r}"
            if isinstance(e, ast.BoolLit):
                return f"B:{e.value}"
            if isinstance(e, ast.NullLit):
                return "NULL"
            if isinstance(e, ast.BinaryOp):
                l, r = canon(e.left, amap), canon(e.right, amap)
                if l is None or r is None:
                    return None
                if e.op in ("=", "!=", "<>", "and", "or", "+", "*"):
                    l, r = sorted((l, r))   # commutative normalization
                return f"({l}{e.op}{r})"
            if isinstance(e, ast.UnaryOp):
                v = canon(e.operand, amap)
                return None if v is None else f"({e.op} {v})"
            if isinstance(e, ast.IsNull):
                v = canon(e.operand, amap)
                return None if v is None else f"isnull{e.negated}({v})"
            if isinstance(e, ast.Between):
                p = [canon(x, amap) for x in (e.operand, e.low, e.high)]
                return None if None in p else f"btw{e.negated}({p})"
            if isinstance(e, ast.InList):
                p = [canon(e.operand, amap)] \
                    + sorted(str(canon(i, amap)) for i in e.items)
                return None if p[0] is None else f"in{e.negated}({p})"
            if isinstance(e, ast.Like):
                p = [canon(e.operand, amap), canon(e.pattern, amap)]
                return None if None in p else \
                    f"like{e.negated}{e.case_insensitive}{e.regexp}({p})"
            if isinstance(e, ast.Cast):
                v = canon(e.operand, amap)
                return None if v is None else f"cast({v}:{e.type_name})"
            if isinstance(e, ast.FuncCall):
                if (e.is_star or e.distinct or e.filter_where is not None
                        or e.name in self._NONDETERMINISTIC_FNS
                        or e.name in self.user_functions
                        or self._is_agg_name(e.name)):
                    return None
                p = [canon(a, amap) for a in e.args]
                return None if None in p else f"{e.name}({','.join(p)})"
            return None

        def alias_set(e) -> set[str]:
            return {(x.table or "").lower() for x in _walk_all(e)
                    if isinstance(x, ast.ColumnRef)}

        # inner WHERE: correlated vs local
        inner_aliases = set(imap.keys())
        iwhere = self._split_conjuncts(sub.where) \
            if sub.where is not None else []
        corr: list[tuple[ast.ColumnRef, ast.ColumnRef]] = []
        ilocal: list[ast.Expr] = []
        for c in iwhere:
            tabs = alias_set(c)
            if "" in tabs:
                return None               # bare names — can't attribute
            if tabs <= inner_aliases:
                ilocal.append(c)
                continue
            # correlated: inner.col = outer.col, both plain refs
            if not (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)):
                return None
            lt = (c.left.table or "").lower()
            if lt in inner_aliases:
                corr.append((c.left, c.right))
            elif (c.right.table or "").lower() in inner_aliases:
                corr.append((c.right, c.left))
            else:
                return None
        if not corr:
            return None
        for c in ijoin:
            tabs = alias_set(c)
            if "" in tabs or not tabs <= inner_aliases:
                return None

        ocanon = {}
        for c in ojoin + [x for x in conjuncts if x is not comp]:
            k = canon(c, {})
            if k is not None:
                ocanon.setdefault(k, c)
        # every inner JOIN conjunct must match an outer conjunct
        for c in ijoin:
            k = canon(c, imap)
            if k is None or k not in ocanon:
                return None
        matched_local: list[ast.Expr] = []
        filter_local: list[ast.Expr] = []
        for c in ilocal:
            k = canon(c, imap)
            if k is not None and k in ocanon:
                matched_local.append(c)
            else:
                filter_local.append(c)
        # FILTER conjuncts must be deterministic + canonicalizable
        for c in filter_local:
            if canon(c, imap) is None:
                return None

        # outer equality classes (over ALL outer conjuncts)
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a: str, b: str) -> None:
            parent[find(a)] = find(b)

        def colkey(e) -> str | None:
            if isinstance(e, ast.ColumnRef) and e.table is not None:
                return f"{e.table.lower()}.{e.name.lower()}"
            return None

        for c in ojoin + [x for x in conjuncts if x is not comp]:
            if isinstance(c, ast.BinaryOp) and c.op == "=":
                a, b = colkey(c.left), colkey(c.right)
                if a and b:
                    union(a, b)
        part_keys: list[ast.ColumnRef] = []
        for inner_ref, outer_ref in corr:
            mapped = ast.ColumnRef(name=inner_ref.name,
                                   table=imap[inner_ref.table.lower()])
            ok_ = colkey(outer_ref)
            mk = colkey(mapped)
            if ok_ is None or mk is None:
                return None
            if (outer_ref.table or "").lower() in shared_aliases:
                # outer side inside the shared set: must be the same col
                if ok_ != mk:
                    return None
            elif find(ok_) != find(mk):
                return None
            part_keys.append(mapped)

        # collect every outer reference to a shared alias; bail on bare
        # names owned by shared tables and refs in positions we can't
        # remap (none exist: items/where/group/order/windows all remap)
        shared_cols: dict[str, set[str]] = {a: set() for a in shared_aliases}
        shared_schemas: dict[str, set[str]] = {}
        for t in ochain:
            a = (t.alias or t.name).lower()
            if a in shared_aliases:
                shared_schemas[a] = {
                    c.lower() for c in self.catalog.get(t.name).df.columns}
        all_shared_colnames: set[str] = set()
        for s in shared_schemas.values():
            all_shared_colnames |= s

        def collect_refs(e) -> bool:
            for x in _walk_all(e):
                if not isinstance(x, ast.ColumnRef):
                    continue
                if x.table is None:
                    if x.name.lower() in all_shared_colnames:
                        return False
                    continue
                a = x.table.lower()
                if a in shared_aliases:
                    shared_cols[a].add(x.name.lower())
            return True

        regions: list[ast.Expr] = [it.expr for it in node.items]
        regions += [c for c in conjuncts if c is not comp]
        regions += [comp.left if comp.right is scalar else comp.right]
        regions += list(node.group_by) + [o.expr for o in node.order_by]
        regions += list(node.distinct_on)
        for gs in node.grouping_sets:
            regions += gs
        for w in (node.windows or {}).values():
            regions += list(w.partition_by) + [o.expr for o in w.order_by]
        for c in ojoin:
            # fully-shared join conjuncts move INSIDE the derived table —
            # their columns need no slot in its output
            if not alias_set(c) <= shared_aliases:
                regions.append(c)
        for e in regions:
            if not collect_refs(e):
                return None
        # column name collisions across shared relations break the flat
        # derived output — bail
        needed: list[tuple[str, str]] = []
        seen_names: set[str] = set()
        for a in sorted(shared_aliases):
            for col in sorted(shared_cols[a]
                              | {k.name.lower() for k in part_keys
                                 if k.table.lower() == a}):
                if col in seen_names:
                    return None
                seen_names.add(col)
                needed.append((a, col))
        # the window's input column
        argref_ok = collect_refs(item.args[0])
        if not argref_ok:
            return None

        # ---- build the derived node
        dalias = "__corrw"
        win_name = "__corrwin0"

        def retarget_inner(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and e.table is not None:
                t = e.table.lower()
                if t in imap:
                    return ast.ColumnRef(name=e.name, table=imap[t])
            return e

        fw = None
        for c in filter_local:
            rc = _transform_expr(_copy_expr(c), retarget_inner)
            fw = rc if fw is None else ast.BinaryOp(op="and", left=fw,
                                                    right=rc)
        agg = ast.FuncCall(name=item.name,
                           args=[_transform_expr(_copy_expr(item.args[0]),
                                                 retarget_inner)],
                           filter_where=fw)
        winfunc = ast.WindowFunc(
            func=agg,
            window=ast.WindowSpec(partition_by=[
                _copy_expr(k) for k in part_keys]))
        ditems = [ast.SelectItem(expr=ast.ColumnRef(name=c, table=a),
                                 alias=c) for a, c in needed]
        ditems.append(ast.SelectItem(expr=winfunc, alias=win_name))
        # derived FROM: the shared subtree rebuilt from the outer chain
        shared_chain = [t for t in ochain
                        if (t.alias or t.name).lower() in shared_aliases]
        shared_conjs = []
        extra_conjs = []
        for c in ojoin:
            (shared_conjs if alias_set(c) <= shared_aliases
             else extra_conjs).append(c)
        dwhere = None
        for c in matched_local:
            rc = _transform_expr(_copy_expr(c), retarget_inner)
            dwhere = rc if dwhere is None else ast.BinaryOp(
                op="and", left=dwhere, right=rc)
        # magic-set restriction from filtered extra relations
        key_class = {find(colkey(k)) for k in part_keys}
        outer_where = [c for c in conjuncts if c is not comp]
        for t in extra_tables:
            a = (t.alias or t.name).lower()
            links = [c for c in extra_conjs
                     if isinstance(c, ast.BinaryOp) and c.op == "="
                     and colkey(c.left) and colkey(c.right)
                     and {(c.left.table or "").lower(),
                          (c.right.table or "").lower()} >= {a}]
            pure = [c for c in outer_where
                    if alias_set(c) == {a} and canon(c, {}) is not None]
            if len(links) != 1 or not pure:
                continue
            lc = links[0]
            mine_side = lc.left if (lc.left.table or "").lower() == a \
                else lc.right
            other_side = lc.right if mine_side is lc.left else lc.left
            if (other_side.table or "").lower() == a:
                continue
            if find(colkey(mine_side)) not in key_class \
                    or find(colkey(other_side)) not in key_class:
                continue
            pw = None
            for c in pure:
                cc = _copy_expr(c)
                pw = cc if pw is None else ast.BinaryOp(op="and", left=pw,
                                                        right=cc)
            semi = ast.InSubquery(
                operand=_copy_expr(part_keys[0]) if len(part_keys) == 1
                else None,
                subquery=ast.SelectNode(
                    items=[ast.SelectItem(
                        expr=ast.ColumnRef(name=mine_side.name,
                                           table=t.alias or t.name))],
                    relations=[ast.TableRef(name=t.name, alias=t.alias)],
                    where=pw))
            if len(part_keys) != 1 or semi.operand is None:
                continue
            dwhere = semi if dwhere is None else ast.BinaryOp(
                op="and", left=dwhere, right=semi)

        # rebuild the derived FROM as a left-deep chain
        drel: ast.Relation = shared_chain[0]
        placed: set[int] = set()
        avail = {(shared_chain[0].alias or shared_chain[0].name).lower()}
        for t in shared_chain[1:]:
            avail.add((t.alias or t.name).lower())
            cond = None
            for c in shared_conjs:
                if id(c) in placed or not alias_set(c) <= avail:
                    continue
                placed.add(id(c))
                cc = _copy_expr(c)
                cond = cc if cond is None else ast.BinaryOp(
                    op="and", left=cond, right=cc)
            if cond is None:
                return None
            drel = ast.Join(left=drel, right=t, kind="inner",
                            condition=cond)
        if any(id(c) not in placed for c in shared_conjs):
            return None
        derived = ast.SubqueryRef(
            query=ast.SelectNode(items=ditems, relations=[drel],
                                 where=dwhere),
            alias=dalias)

        # ---- rebuild the outer on a deep copy
        work = _copy.deepcopy(node)
        wconjs = self._split_conjuncts(work.where)
        # (deepcopy preserves order/structure; recompute targets)
        new_where = None

        def remap_outer(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and e.table is not None \
                    and e.table.lower() in shared_aliases:
                return ast.ColumnRef(name=e.name, table=dalias)
            if isinstance(e, ast.ScalarSubquery):
                return ast.ColumnRef(name=win_name, table=dalias)
            return e

        for c in wconjs:
            rc = _transform_expr(c, remap_outer)
            new_where = rc if new_where is None else ast.BinaryOp(
                op="and", left=new_where, right=rc)
        work.where = new_where
        for it in work.items:
            it.expr = _transform_expr(it.expr, remap_outer)
        work.group_by = [_transform_expr(g, remap_outer)
                         for g in work.group_by]
        work.grouping_sets = [[_transform_expr(g, remap_outer) for g in gs]
                              for gs in work.grouping_sets]
        for o in work.order_by:
            o.expr = _transform_expr(o.expr, remap_outer)
        work.distinct_on = [_transform_expr(g, remap_outer)
                            for g in work.distinct_on]
        for w in (work.windows or {}).values():
            w.partition_by = [_transform_expr(p, remap_outer)
                              for p in w.partition_by]
            for o in w.order_by:
                o.expr = _transform_expr(o.expr, remap_outer)
        # FROM: derived + extra tables, conjuncts remapped
        wchain: list = []
        wjoin: list[ast.Expr] = []
        flatten(work.relations[0], wchain, wjoin)
        extras = [t for t in wchain
                  if (t.alias or t.name).lower() not in shared_aliases]
        rel: ast.Relation = derived
        avail = {dalias} | shared_aliases     # shared cols now live on dalias
        placed = set()
        rext = [_transform_expr(c, remap_outer)
                for c in wjoin
                if not alias_set(c) <= shared_aliases]

        def ext_aliases(c) -> set[str]:
            return {(x.table or "").lower() for x in _walk_all(c)
                    if isinstance(x, ast.ColumnRef)}

        for t in extras:
            avail.add((t.alias or t.name).lower())
            cond = None
            for c in rext:
                if id(c) in placed or not ext_aliases(c) <= avail:
                    continue
                placed.add(id(c))
                cond = c if cond is None else ast.BinaryOp(
                    op="and", left=cond, right=c)
            if cond is None:
                return None
            rel = ast.Join(left=rel, right=t, kind="inner", condition=cond)
        if any(id(c) not in placed for c in rext):
            return None
        work.relations = [rel]
        return work

    # ------------------------------------ constraint-based join rewrites

    def _try_constraint_join_rewrites(
        self, node: ast.SelectNode
    ) -> "ast.SelectNode | None":
        """Join elimination via declared informational constraints
        (SqlEngine.add_primary_key / add_foreign_key — warehouse
        RELY-style, trusted not enforced).

        A dimension table D inner-joined from a fact F on exactly F's
        declared foreign key to D's full primary key is ROW-PRESERVING:
        every F row survives exactly once (FK here means non-null +
        matches exactly one D row). Then:

        - if nothing else references D, the join is dead — drop it
          entirely (one fewer build + probe per fact row);
        - if every other reference to D sits inside alias-pure boolean
          predicates in FLAG positions (CASE WHEN conditions, aggregate
          FILTER — NULL-as-FALSE slots where the engine previously had
          no alternative to joining the whole dim), each
          distinct predicate P becomes a LEFT join against the keyset
          ``SELECT pk FROM D WHERE P`` and the predicate subtree becomes
          ``key IS NOT NULL``. The build side shrinks from all of D to
          the P-selected keys — the q14 shape's 2M-row broadcast build
          (~1.0 s at sf10, single-threaded driver-side HashedRelation
          construction) becomes a 333k-key build (measured 1.28 → 0.46 s
          end-to-end). NULL-safety: membership-in-(P true) maps P's NULL
          to FALSE, which is exactly how the listed positions already
          treat NULL; positions that distinguish them (projection value,
          comparison operand) never qualify.

        Conservative bails: FROM must be one flat inner-join chain of
        catalog TableRefs; ``SELECT *`` / D-qualified stars, bare column
        names that could belong to D, D references inside subquery
        bodies, >2 distinct flag predicates, any non-equality join
        conjunct touching D, or a small dim (flag builds only pay from
        _CONSTRAINT_FLAG_MIN_ROWS, 1M rows) all keep the stock plan.
        ``SPARK_GRAFT_CONSTRAINT_REWRITE=0`` disables; ``=1`` skips the
        two flag size gates (stats must still exist).

        The rewrite is deterministic per node shape (flag names number
        from 0 per query block), so the total-over-groups fingerprint
        still matches between an outer query and its scalar subquery
        when both rewrite identically.
        """
        if self.opts.constraint_rewrite is False:
            return None
        if len(node.relations) != 1 \
                or not isinstance(node.relations[0], ast.Join):
            return None
        # quick precondition: some chain table must carry constraints
        import copy as _copy
        work = _copy.deepcopy(node)
        changed = False
        flag_joins: list[tuple[ast.SelectNode, str,
                               list[ast.Expr], list[str]]] = []
        flag_counter = [0]

        def flatten(r, chain, conjs) -> bool:
            if isinstance(r, ast.TableRef):
                chain.append(r)
                return True
            if isinstance(r, ast.Join) and r.kind == "inner" \
                    and r.condition is not None:
                if not flatten(r.left, chain, conjs):
                    return False
                if not isinstance(r.right, ast.TableRef):
                    return False
                chain.append(r.right)
                conjs.extend(self._split_conjuncts(r.condition))
                return True
            return False

        chain: list[ast.TableRef] = []
        conjs: list[ast.Expr] = []
        if not flatten(work.relations[0], chain, conjs) or len(chain) < 2:
            return None
        seen_alias: set[str] = set()
        for t in chain:
            a = (t.alias or t.name).lower()
            if a in seen_alias or t.name.lower() in self._cte_frames:
                return None
            seen_alias.add(a)
        for item in work.items:
            if isinstance(item.expr, ast.Star) and item.expr.table is None:
                return None

        progress = True
        while progress and len(chain) >= 2:
            progress = False
            for cand in list(chain):
                res = self._constraint_try_candidate(
                    work, chain, conjs, cand, flag_joins, flag_counter)
                if res:
                    changed = True
                    progress = True
                    break

        if not changed:
            return None
        # rebuild the FROM tree: left-deep inner chain, each conjunct
        # attached at the earliest join where both sides are available
        placed: set[int] = set()

        def aliases_of(c) -> set[str]:
            return {x.table.lower() for x in _walk_all(c)
                    if isinstance(x, ast.ColumnRef) and x.table}

        avail = {(chain[0].alias or chain[0].name).lower()}
        rel: ast.Relation = chain[0]
        pending = list(flag_joins)

        def attach_ready(rel: ast.Relation) -> ast.Relation:
            # flag joins attach at the EARLIEST point their probe columns
            # exist: a selective flag keyset (q8's p_type part filter,
            # 1/150 of keys) must prune the fact BEFORE the other joins
            # fan it out — attached at the chain's end it measured q8
            # 2.25 → 5.5 s at sf10; attached first, the LEFT probe +
            # IS-NOT-NULL filter behaves exactly like the semi reduction
            # it replaces
            for fj in list(pending):
                flagsel, falias, probe_refs, keynames = fj
                if not all((pr.table or "").lower() in avail
                           for pr in probe_refs):
                    continue
                cond = None
                for pr, kn in zip(probe_refs, keynames):
                    piece = ast.BinaryOp(
                        op="=", left=_copy.deepcopy(pr),
                        right=ast.ColumnRef(name=kn, table=falias))
                    cond = piece if cond is None else ast.BinaryOp(
                        op="and", left=cond, right=piece)
                rel = ast.Join(left=rel,
                               right=ast.SubqueryRef(query=flagsel,
                                                     alias=falias),
                               kind="left", condition=cond)
                pending.remove(fj)
            return rel

        rel = attach_ready(rel)
        for t in chain[1:]:
            avail.add((t.alias or t.name).lower())
            cond = None
            for c in conjs:
                if id(c) in placed or not aliases_of(c) <= avail:
                    continue
                placed.add(id(c))
                cond = c if cond is None else ast.BinaryOp(
                    op="and", left=cond, right=c)
            if cond is None:
                return None         # would go cartesian — keep stock
            rel = ast.Join(left=rel, right=t, kind="inner",
                           condition=cond)
            rel = attach_ready(rel)
        if any(id(c) not in placed for c in conjs) or pending:
            return None
            # (unreachable when candidates were leaves, but stay safe)
        work.relations = [rel]
        return work

    _CONSTRAINT_FLAG_MAX = 2
    # flag-join size gates: the dim's rows (lower) and each predicate's
    # estimated keyset (upper); SPARK_GRAFT_CONSTRAINT_REWRITE=1 skips both
    _CONSTRAINT_FLAG_MIN_ROWS = 1_000_000
    _CONSTRAINT_FLAG_MAX_KEYS = 1e6

    def _constraint_try_candidate(
        self, work: ast.SelectNode, chain: list, conjs: list,
        cand: ast.TableRef, flag_joins: list, flag_counter: list,
    ) -> bool:
        """One candidate dimension of the constraint join rewrite (see
        _try_constraint_join_rewrites). Returns True when the candidate
        was eliminated (mutating work/chain/conjs/flag_joins), False to
        leave everything untouched."""
        import copy as _copy

        alias = (cand.alias or cand.name).lower()
        # an earlier flag join may probe with this table's columns —
        # that's a live reference outside any replaceable position
        if any((pr.table or "").lower() == alias
               for _, _, prs, _ in flag_joins for pr in prs):
            return False
        try:
            entry = self.catalog.get(cand.name)
        except Exception:
            return False
        pk = entry.primary_key
        if not pk:
            return False
        schema = {c.lower() for c in entry.df.columns}

        def cand_refs(e) -> list:
            return [x for x in _walk_all(e)
                    if isinstance(x, ast.ColumnRef)
                    and (x.table or "").lower() == alias]

        def bare_hits(e) -> bool:
            return any(isinstance(x, ast.ColumnRef) and x.table is None
                       and x.name.lower() in schema for x in _walk_all(e))

        def node_exprs(q) -> list:
            """Top-level expression regions of a query node as
            (expr, null_insensitive_root) pairs."""
            out = []
            if not isinstance(q, ast.SelectNode):
                if isinstance(q, ast.SetOpNode):
                    out += node_exprs(q.left) + node_exprs(q.right)
                return out
            for it in q.items:
                if not isinstance(it.expr, ast.Star):
                    out.append((it.expr, False))
            for e, ni in ((q.where, True), (q.having, True),
                          (q.qualify, True)):
                if e is not None:
                    out.append((e, ni))
            for g in q.group_by:
                out.append((g, False))
            for gs in q.grouping_sets:
                out += [(g, False) for g in gs]
            for o in q.order_by:
                out.append((o.expr, False))
            for w in (q.windows or {}).values():
                out += [(p, False) for p in w.partition_by]
                out += [(o.expr, False) for o in w.order_by]
            return out

        def subquery_bodies(e) -> list:
            return [x.subquery for x in _walk_all(e)
                    if getattr(x, "subquery", None) is not None
                    and not isinstance(getattr(x, "subquery"), ast.Expr)]

        def deep_conflicts(q) -> bool:
            """Any reference to the candidate (qualified or bare) inside
            a subquery body — unreachable by the flag column → bail."""
            for e, _ in node_exprs(q):
                if cand_refs(e) or bare_hits(e):
                    return True
                for sq in subquery_bodies(e):
                    if deep_conflicts(sq):
                        return True
            # FROM-side derived tables / join conditions of the subquery
            if isinstance(q, ast.SelectNode):
                for r in q.relations:
                    stack = [r]
                    while stack:
                        x = stack.pop()
                        if isinstance(x, ast.Join):
                            stack += [x.left, x.right]
                            if x.condition is not None and (
                                    cand_refs(x.condition)
                                    or bare_hits(x.condition)):
                                return True
                        elif isinstance(x, ast.SubqueryRef):
                            if deep_conflicts(x.query):
                                return True
            return False

        # ---- classify the join conjuncts touching the candidate
        def is_pure(e) -> bool:
            for x in _walk_all(e):
                if isinstance(x, ast.ColumnRef):
                    if (x.table or "").lower() != alias:
                        return False
                elif isinstance(x, (ast.Star, ast.WindowFunc,
                                    ast.InSubquery, ast.ExistsSubquery,
                                    ast.ScalarSubquery,
                                    ast.QuantifiedCompare,
                                    ast.GroupTotalSubquery)):
                    return False
                elif getattr(x, "subquery", None) is not None:
                    return False
                elif isinstance(x, ast.FuncCall):
                    if (x.is_star or x.distinct
                            or x.filter_where is not None
                            or x.ignore_nulls
                            or self._is_agg_name(x.name)
                            or x.name in self._NONDETERMINISTIC_FNS
                            or x.name in self.user_functions
                            or x.name in self.user_aggregates):
                        return False
            return True

        def is_bool(e) -> bool:
            if isinstance(e, ast.BinaryOp):
                return e.op in ("=", "!=", "<>", "<", ">", "<=", ">=",
                                "and", "or")
            if isinstance(e, ast.UnaryOp):
                return e.op == "not"
            return isinstance(e, (ast.IsNull, ast.Between, ast.InList,
                                  ast.Like))

        mine = [c for c in conjs if cand_refs(c)]
        if any(bare_hits(c) for c in conjs):
            return False
        pairs: dict[str, ast.ColumnRef] = {}
        probe_alias: str | None = None
        for c in mine:
            if not (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef) and c.left.table
                    and isinstance(c.right, ast.ColumnRef)
                    and c.right.table):
                return False
            lt, rt = c.left.table.lower(), c.right.table.lower()
            if lt == alias and rt != alias:
                ccol, pref = c.left.name.lower(), c.right
            elif rt == alias and lt != alias:
                ccol, pref = c.right.name.lower(), c.left
            else:
                return False
            pa = pref.table.lower()
            if probe_alias is None:
                probe_alias = pa
            elif probe_alias != pa:
                return False            # not a leaf — linked to 2 tables
            if ccol in pairs:
                return False
            pairs[ccol] = pref
        if probe_alias is None or set(pairs) != set(pk):
            return False
        probe_tbl = next((t for t in chain
                          if (t.alias or t.name).lower() == probe_alias),
                         None)
        if probe_tbl is None:
            return False
        try:
            probe_entry = self.catalog.get(probe_tbl.name)
        except Exception:
            return False
        fk_ok = False
        for fcols, rname, rcols in probe_entry.foreign_keys:
            if rname != cand.name.lower() or set(rcols) != set(pk):
                continue
            fkmap = dict(zip(rcols, fcols))
            if all(pairs[c].name.lower() == fkmap[c] for c in pk):
                fk_ok = True
                break
        if not fk_ok:
            return False

        # ---- every OTHER candidate reference must be coverable
        regions = node_exprs(work)
        for e, _ in regions:
            for sq in subquery_bodies(e):
                if deep_conflicts(sq):
                    return False
            if bare_hits(e):
                return False
        total_refs = [r for e, _ in regions for r in cand_refs(e)]

        # dry scan: find maximal alias-pure boolean subtrees in FLAG
        # positions only — CASE WHEN conditions and aggregate FILTER
        # clauses, where the engine previously had no alternative to
        # joining the whole dim. WHERE/HAVING-conjunct predicates stay
        # with the stock join: the stats-broadcast + semi-join-reduction
        # machinery already plans those well, and flag-rewriting them
        # measured large losses (sf10 q8 2.1 -> 2.7-5.5 s, q3 1.2 -> 2.0
        # in the same sessions that kept q14's CASE-flag -54% win).
        repl: list[ast.Expr] = []

        def scan(e, pos) -> None:
            if e is None or not cand_refs(e):
                return
            if pos == "flag" and is_bool(e) and is_pure(e):
                repl.append(e)
                return
            if isinstance(e, ast.BinaryOp) and e.op in ("and", "or"):
                scan(e.left, pos)
                scan(e.right, pos)
                return
            if isinstance(e, ast.Case):
                # CASE WHEN evaluates its condition NULL-as-FALSE in any
                # position, so whens are flag slots; values are not
                for c, v in e.whens:
                    scan(c, "flag")
                    scan(v, None)
                scan(e.else_, None)
                return
            if isinstance(e, ast.FuncCall):
                for a in e.args:
                    scan(a, None)
                scan(e.filter_where, "flag")
                return
            for c in _children(e):
                scan(c, None)

        for e, _ni in regions:
            scan(e, "filter" if _ni else None)
        covered = {id(r) for s in repl for r in cand_refs(s)}
        if any(id(r) not in covered for r in total_refs):
            return False
        distinct = {}
        for s in repl:
            distinct.setdefault(repr(s), s)
        if len(distinct) > self._CONSTRAINT_FLAG_MAX:
            return False
        if distinct:
            # flag rewrites only pay when the dim's hash build is the
            # cost (per-ROW broadcast build: 2M-row part ≈ 1.0 s at
            # sf10). Flagging a TINY dim buys nothing and actively
            # hurts: the predicate moves out of the dim's scan filter,
            # so the transitive-filtered-dim-chain recognition behind
            # the fact semi-join reduction stops firing (measured sf10:
            # q5 2.25 → 7.27 s, q8 1.79 → 4.40 s with nation/region
            # flagged; part/orders-sized dims win: q14 −48%, q3 −17%,
            # q12 −13%). Pure elimination (no predicates) stays
            # ungated — it removes a semantically-dead join.
            forced = self.opts.constraint_rewrite is True
            st = entry.stats
            if st is None or (st.rows < self._CONSTRAINT_FLAG_MIN_ROWS
                              and not forced):
                return False
            # UPPER gate (r14, measured at sf100): the flag keyset is
            # broadcast, and broadcast builds cost per-ROW — q14's
            # 333k-key flag wins −46% at sf10, but at sf100 the same
            # predicate selects 3.3M keys and measured +14% vs the
            # stock shuffle join. Estimate each predicate's keyset via
            # NDV selectivity (equality → 1/ndv, IN → k/ndv, AND →
            # product, OR → sum, NOT → complement; unknown shapes → 1.0)
            # and require ≤ _CONSTRAINT_FLAG_MAX_KEYS. Leaf predicates
            # price through the SAME footer-stats machinery as the
            # broadcast planner (estimator._conjunct_sel: equality →
            # 1/NDV, ranges interpolate against exact footer min/max,
            # IN/BETWEEN/LIKE consistently); only the boolean
            # composition (AND/OR/NOT) is recursed here.
            from sql_to_ibis_spark.plans.estimator import (
                CardinalityEstimator, _Rel)
            est_ = CardinalityEstimator(self.catalog,
                                        set(self._cte_frames))
            rel_ = _Rel(alias=alias, columns=sorted(schema),
                        rows=st.rows, col_min=st.col_min or {},
                        col_max=st.col_max or {}, ndv=st.ndv or {},
                        col_bytes=st.col_bytes or {})

            def sel(e) -> float:
                if isinstance(e, ast.BinaryOp) and e.op == "and":
                    return sel(e.left) * sel(e.right)
                if isinstance(e, ast.BinaryOp) and e.op == "or":
                    return min(1.0, sel(e.left) + sel(e.right))
                if isinstance(e, ast.UnaryOp) and e.op == "not":
                    return max(0.0, 1.0 - sel(e.operand))
                try:
                    return float(est_._conjunct_sel(e, rel_))
                except Exception:
                    return 1.0

            for s_ in distinct.values():
                if not forced \
                        and st.rows * sel(s_) > self._CONSTRAINT_FLAG_MAX_KEYS:
                    return False

        # ---- commit: build flag selects, replace subtrees, drop the join
        flags: dict[str, tuple[str, list[str]]] = {}
        for key, s in distinct.items():
            n = flag_counter[0]
            flag_counter[0] += 1
            falias = f"__cflag{n}"
            knames = [f"__cf{n}_k{j}" for j in range(len(pk))]
            flagsel = ast.SelectNode(
                items=[ast.SelectItem(
                    expr=ast.ColumnRef(name=pkc, table=alias),
                    alias=kn) for pkc, kn in zip(pk, knames)],
                relations=[ast.TableRef(name=cand.name, alias=cand.alias)],
                where=_copy.deepcopy(s))
            probe_refs = [pairs[pkc] for pkc in pk]
            flag_joins.append((flagsel, falias, probe_refs, knames))
            flags[key] = (falias, knames)

        repl_ids = {id(s): repr(s) for s in repl}

        def apply(e, ni):
            if e is None:
                return None
            if id(e) in repl_ids:
                falias, knames = flags[repl_ids[id(e)]]
                return ast.IsNull(
                    operand=ast.ColumnRef(name=knames[0], table=falias),
                    negated=True)
            if isinstance(e, ast.BinaryOp) and e.op in ("and", "or"):
                e.left = apply(e.left, ni)
                e.right = apply(e.right, ni)
                return e
            if isinstance(e, ast.Case):
                e.whens = [(apply(c, True), apply(v, False))
                           for c, v in e.whens]
                if e.else_ is not None:
                    e.else_ = apply(e.else_, False)
                return e
            if isinstance(e, ast.FuncCall):
                e.args = [apply(a, False) for a in e.args]
                if e.filter_where is not None:
                    e.filter_where = apply(e.filter_where, True)
                return e
            import dataclasses
            if dataclasses.is_dataclass(e):
                for f in dataclasses.fields(e):
                    v = getattr(e, f.name)
                    if isinstance(v, ast.Expr):
                        setattr(e, f.name, apply(v, False))
                    elif isinstance(v, list):
                        setattr(e, f.name,
                                [apply(x, False) if isinstance(x, ast.Expr)
                                 else x for x in v])
            return e

        for it in work.items:
            if not isinstance(it.expr, ast.Star):
                it.expr = apply(it.expr, False)
        if work.where is not None:
            work.where = apply(work.where, True)
        if work.having is not None:
            work.having = apply(work.having, True)
        if work.qualify is not None:
            work.qualify = apply(work.qualify, True)
        work.group_by = [apply(g, False) for g in work.group_by]
        work.grouping_sets = [[apply(g, False) for g in gs]
                              for gs in work.grouping_sets]
        for o in work.order_by:
            o.expr = apply(o.expr, False)
        for w in (work.windows or {}).values():
            w.partition_by = [apply(p, False) for p in w.partition_by]
            for o in w.order_by:
                o.expr = apply(o.expr, False)
        chain.remove(cand)
        conjs[:] = [c for c in conjs if c not in mine]
        return True

    # least fact rows per distinct join key for the LEFT-join fact
    # pre-aggregation to pay (see _try_left_fact_agg's gate)
    _LEFT_FACT_AGG_MIN_REDUCTION = 32.0
    # least fact footer rows for eager aggregation, inner and LEFT-join
    _EAGER_AGG_FACT_ROWS_MIN = 200_000

    def _try_left_fact_agg(self, node: ast.SelectNode) -> "ast.SelectNode | None":
        """LEFT-join fact aggregation pushdown (the q13 shape):

            SELECT <dim keys>, count(f.x), sum(f.y) ...
            FROM <dim tree> LEFT JOIN fact f
              ON d.k = f.k [AND <fact-only conds>] [AND <dim-only conds>]
            GROUP BY <dim keys>

        pre-aggregates the fact by its join key (fact-only ON conjuncts
        become the inner WHERE — for a preserved-side join they only
        decide matching, which filtering before the aggregate reproduces
        exactly), LEFT-joins the partial result instead of the raw fact,
        and merges in the outer aggregate (count → coalesce(sum, 0),
        sum → sum, min/max unchanged). Why: the stock plan shuffles
        |fact| rows to meet the dims and again for the aggregate; the
        rewrite shuffles |fact| once into |keys| partials and the join
        moves only those. Soundness mirrors eager aggregation's
        homomorphism argument — duplicated dim keys multiply the joined
        partial exactly as they multiply raw fact rows, and an unmatched
        preserved row contributes one NULL partial exactly as the
        original contributes one NULL-extended row (which every
        null-ignoring aggregate treats identically; COUNT(*) counts that
        row, so star and dim-input aggregates bail).

        Bails on: fact refs outside aggregate arguments, WHERE conjuncts
        touching the fact (post-join null-extension semantics), grouping
        extensions, windows, DISTINCT aggregates, non-decomposable
        functions, more than one fact-dim equi edge.

        Gate: fact footer rows ≥ _EAGER_AGG_FACT_ROWS_MIN and
        rows/NDV(key) ≥ _LEFT_FACT_AGG_MIN_REDUCTION (32, NDV
        required). The ratio matters more than it does for inner
        eager aggregation because the stock LEFT plan's join exchange
        already co-partitions with the downstream per-key aggregate
        (one exchange total), so the rewrite only removes bytes, never a
        shuffle — measured q13 at sf10 (ratio 10, narrow payload): stock
        1.43 s vs rewrite 1.66 s, the map-side partial reduced only ~20%
        before the exchange. SPARK_GRAFT_LEFT_FACT_AGG=0 disables, =1
        forces."""
        if self.opts.left_fact_agg is False:
            return None
        forced = self.opts.left_fact_agg is True
        if (not node.group_by or node.group_mode is not None
                or node.group_by_all or node.distinct or node.distinct_on
                or node.qualify or node.windows
                or len(node.relations) != 1):
            return None
        rel = node.relations[0]
        if not isinstance(rel, ast.Join) or rel.kind != "left" \
                or not isinstance(rel.right, ast.TableRef) \
                or rel.condition is None:
            return None
        fact_t = rel.right
        fact_alias = (fact_t.alias or fact_t.name).lower()
        fact_df = self._cte_frames.get(fact_t.name.lower())
        fact_stats = None
        if fact_df is None:
            try:
                entry = self.catalog.get(fact_t.name)
            except Exception:
                return None
            fact_df, fact_stats = entry.df, entry.stats
        fact_cols = {c.lower() for c in fact_df.columns}

        dim_cols: set[str] = set()
        dim_aliases: set[str] = set()
        opaque = [False]  # non-TableRef dim leaves: bare names unknown

        def walk_rel(r: ast.Relation) -> None:
            if isinstance(r, ast.TableRef):
                dim_aliases.add((r.alias or r.name).lower())
                d2 = self._cte_frames.get(r.name.lower())
                if d2 is None:
                    try:
                        d2 = self.catalog.get(r.name).df
                    except Exception:
                        opaque[0] = True
                        return
                dim_cols.update(c.lower() for c in d2.columns)
            elif isinstance(r, ast.Join):
                walk_rel(r.left)
                walk_rel(r.right)
            else:
                opaque[0] = True
                if isinstance(r, (ast.SubqueryRef, ast.UnnestRef)):
                    dim_aliases.add(r.alias.lower())

        walk_rel(rel.left)
        if fact_alias in dim_aliases:
            return None  # self-join alias shadowing — leave alone

        def side_of(e: object) -> "str | None":
            """'fact' | 'dim' | 'none' for expressions whose columns
            classify cleanly; None for mixed/ambiguous/subquery."""
            if self._contains_any_subquery(e) \
                    or self._contains_nondeterministic(e):
                return None
            sides: set[str] = set()
            for x in _walk_all(e):
                if isinstance(x, (ast.WindowFunc, ast.Star,
                                  ast.GroupTotalSubquery)):
                    return None
                if not isinstance(x, ast.ColumnRef):
                    continue
                t = x.table.lower() if x.table is not None else None
                n = x.name.lower()
                if t == fact_alias:
                    if n not in fact_cols:
                        return None
                    sides.add("fact")
                elif t is not None:
                    sides.add("dim")
                else:
                    in_f = n in fact_cols
                    in_d = n in dim_cols or opaque[0]
                    if in_f and in_d:
                        return None  # ambiguous bare name
                    sides.add("fact" if in_f else "dim")
            if not sides:
                return "none"
            if len(sides) > 1:
                return None
            return sides.pop()

        # ---- split the ON condition ----
        equi: "tuple[ast.ColumnRef, ast.ColumnRef] | None" = None  # (dim, fact)
        fact_on: list[ast.Expr] = []
        dim_on: list[ast.Expr] = []
        for c in self._split_conjuncts(rel.condition):
            if (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)):
                sl, sr = side_of(c.left), side_of(c.right)
                if {sl, sr} == {"fact", "dim"}:
                    if equi is not None:
                        return None  # composite key — not this rewrite
                    equi = (c.left, c.right) if sl == "dim" \
                        else (c.right, c.left)
                    continue
            s = side_of(c)
            if s == "fact":
                fact_on.append(c)
            elif s in ("dim", "none"):
                dim_on.append(c)
            else:
                return None
        if equi is None:
            return None
        dim_key, fact_key = equi
        try:
            # true column name on the fact frame (case-insensitive)
            fact_key_true = next(c for c in fact_df.columns
                                 if c.lower() == fact_key.name.lower())
        except StopIteration:
            return None

        # ---- collect decomposable fact aggregates ----
        agg_map: dict[str, ast.FuncCall] = {}
        ok = [True]

        def scan(e: object, inside: bool = False) -> None:
            if not ok[0]:
                return
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                if inside or e.is_star or e.distinct \
                        or e.filter_where is not None \
                        or e.name in self.user_aggregates \
                        or e.name not in self._EAGER_AGG_FNS \
                        or not e.args:
                    ok[0] = False
                    return
                if side_of(e.args[0]) != "fact":
                    ok[0] = False
                    return
                agg_map[repr(e)] = e
                for a in e.args:
                    scan(a, True)
                return
            for c in _children(e):
                scan(c, inside)

        top_exprs = [i.expr for i in node.items]
        if node.having is not None:
            top_exprs.append(node.having)
        top_exprs += [o.expr for o in node.order_by]
        for e in top_exprs:
            scan(e)
        if not ok[0] or not agg_map:
            return None

        # residual (non-aggregate) references must avoid the fact
        parent_aliases = {(i.alias or (i.expr.name if isinstance(
            i.expr, ast.ColumnRef) else "")).lower() for i in node.items}

        def residual_clean(e: object, allow_aliases: bool = False) -> bool:
            if isinstance(e, ast.FuncCall) and repr(e) in agg_map:
                return True  # replaced wholesale
            if isinstance(e, ast.ColumnRef):
                if allow_aliases and e.table is None \
                        and e.name.lower() in parent_aliases:
                    return True
                return side_of(e) in ("dim", "none")
            return all(residual_clean(c, allow_aliases)
                       for c in _children(e))

        for i_ in node.items:
            if not residual_clean(i_.expr):
                return None
        for g in node.group_by:
            if isinstance(g, ast.NumberLit) or side_of(g) != "dim":
                return None
        if node.having is not None and not residual_clean(node.having,
                                                          True):
            return None
        for o in node.order_by:
            if not residual_clean(o.expr, True):
                return None
        if node.where is not None:
            for c in self._split_conjuncts(node.where):
                if side_of(c) not in ("dim", "none"):
                    return None

        # ---- gates (stats pick the plan, never the answer) ----
        if not forced:
            rows = fact_stats.rows if fact_stats is not None else 0
            if not rows or rows < self._EAGER_AGG_FACT_ROWS_MIN:
                return None
            ndv = (fact_stats.ndv or {}).get(fact_key_true.lower()) \
                if getattr(fact_stats, "ndv", None) else None
            if not ndv or rows / ndv < self._LEFT_FACT_AGG_MIN_REDUCTION:
                return None

        # ---- build the pre-aggregated fact subquery ----
        n_ = next(self._tmp_counter)
        lf = f"__lf_{n_}"
        key_out = f"__lf_k_{n_}"
        fact_ref_t = fact_t.alias or fact_t.name
        inner_items = [ast.SelectItem(
            expr=ast.ColumnRef(name=fact_key_true, table=fact_ref_t),
            alias=key_out)]
        partial_alias: dict[str, str] = {}
        for i2, (fp, agg) in enumerate(agg_map.items()):
            alias = f"__lf_a{i2}_{n_}"
            partial_alias[fp] = alias
            inner_items.append(ast.SelectItem(expr=_copy_expr(agg),
                                              alias=alias))
        inner_where: ast.Expr | None = None
        for c in fact_on:
            c = _copy_expr(c)
            inner_where = c if inner_where is None else ast.BinaryOp(
                op="and", left=inner_where, right=c)
        inner = ast.SelectNode(
            items=inner_items,
            relations=[ast.TableRef(name=fact_t.name, alias=fact_t.alias)],
            where=inner_where,
            group_by=[ast.ColumnRef(name=fact_key_true, table=fact_ref_t)])

        new_on: ast.Expr = ast.BinaryOp(
            op="=", left=_copy_expr(dim_key),
            right=ast.ColumnRef(name=key_out, table=lf))
        for c in dim_on:
            new_on = ast.BinaryOp(op="and", left=new_on,
                                  right=_copy_expr(c))
        new_rel = ast.Join(left=rel.left,
                           right=ast.SubqueryRef(query=inner, alias=lf),
                           kind="left", condition=new_on)

        def merge(agg: ast.FuncCall, ref: ast.ColumnRef) -> ast.Expr:
            if agg.name == "count":
                return ast.FuncCall(name="coalesce", args=[
                    ast.FuncCall(name="sum", args=[ref]),
                    ast.NumberLit(value=0)])
            if agg.name == "sum":
                return ast.FuncCall(name="sum", args=[ref])
            return ast.FuncCall(name=agg.name, args=[ref])

        def xf(e: ast.Expr) -> ast.Expr:
            def rep(x: ast.Expr) -> ast.Expr:
                if isinstance(x, ast.FuncCall) and repr(x) in partial_alias:
                    return merge(x, ast.ColumnRef(
                        name=partial_alias[repr(x)], table=lf))
                return x
            return _transform_expr(_copy_expr(e), rep)

        return ast.SelectNode(
            items=[ast.SelectItem(expr=xf(i.expr), alias=i.alias)
                   for i in node.items],
            relations=[new_rel],
            where=(_copy_expr(node.where) if node.where is not None
                   else None),
            group_by=[_copy_expr(g) for g in node.group_by],
            having=(xf(node.having) if node.having is not None else None),
            order_by=[ast.OrderItem(expr=xf(o.expr), ascending=o.ascending,
                                    nulls_first=o.nulls_first)
                      for o in node.order_by],
            limit=node.limit, offset=node.offset)

    @staticmethod
    def _eager_fold_in_candidate(c: object) -> bool:
        """Structural screen for ``col IN (SELECT k FROM t GROUP BY k
        HAVING ...)`` conjuncts that _try_eager_aggregation may fold
        into its partial aggregate (full validation — key identity,
        equi-closure, single unfiltered fact — happens once the
        retained core is known). Positive, single-column, over a single
        unfiltered base table, grouped by exactly the selected column."""
        if not isinstance(c, ast.InSubquery) or c.negated \
                or not isinstance(c.operand, ast.ColumnRef):
            return False
        sub = c.subquery
        return (isinstance(sub, ast.SelectNode)
                and sub.where is None and sub.having is not None
                and len(sub.group_by) == 1
                and isinstance(sub.group_by[0], ast.ColumnRef)
                and sub.group_mode is None and not sub.group_by_all
                and not sub.distinct and not sub.distinct_on
                and sub.qualify is None and not sub.windows
                and sub.limit is None and sub.offset is None
                and len(sub.items) == 1
                and isinstance(sub.items[0].expr, ast.ColumnRef)
                and len(sub.relations) == 1
                and isinstance(sub.relations[0], ast.TableRef))

    # least footer rows of the retained fact table for the IN-subquery
    # fold of _try_eager_aggregation (measured gate, see its use)
    _EAGER_AGG_FOLD_ROWS_MIN = 2_000_000

    def _try_eager_aggregation(
        self, node: ast.SelectNode
    ) -> "ast.SelectNode | None":
        """Eager aggregation (group-by pushdown below joins, Yan & Larson
        1995): when a grouped aggregate reads a join of a large fact
        subtree with dimension tables that contribute ONLY group-by
        columns (no aggregate inputs, no filters), partially aggregate
        the fact subtree FIRST — grouped by the join keys that attach
        the dimensions plus any fact-side group keys — then join the
        (now tiny) partial result to the dimensions and re-aggregate by
        the original keys.

        Why it matters at scale: the aggregation exchange otherwise
        carries every dimension payload column (c_name, c_acctbal,
        n_name on TPC-H Q10) once per FACT row; pushing the aggregate
        below the join shrinks that exchange to (attach key, partial
        state) and the dimension join runs over |groups| rows instead
        of |fact| rows. Catalyst (Spark 4.x) has no such rewrite.

        Soundness needs NO key-uniqueness assumption because the outer
        query re-aggregates: SUM/COUNT/MIN/MAX merge homomorphically
        under the row duplication an N:M dimension join would introduce
        (k dim matches multiply each fact row's contribution k× in the
        original plan, and multiply the joined partial row k× here —
        identical totals). Dropped fact rows (unmatched / NULL join
        keys) vanish identically pre- and post-aggregation. Bails on:
        non-inner join trees, non-decomposable aggregates (DISTINCT,
        FILTER, user-defined, anything outside SUM/COUNT/MIN/MAX),
        windows, subqueries, nondeterminism, grouping extensions, and
        any dimension carrying a WHERE predicate that references a
        retained table too.

        IN-keyset fold (r12, the single-scan q18): a WHERE conjunct
        ``col IN (SELECT k FROM T GROUP BY k HAVING h)`` folds into the
        partial aggregate as its HAVING when T is the sole retained
        fact with no inner-side filters, k is exactly the pushdown
        group key, and ``col`` is equi-connected to k — the subquery's
        keyset pass and the outer fact pass collapse into ONE scan +
        ONE exchange (vs the stock semi join plan's two fact scans).
        Sound because the partial groups are computed over exactly the
        subquery's row set, the HAVING filters whole groups (one row
        per key — no multiplicity change), and non-member/NULL operands
        vanish through the inner dimension join exactly as IN drops
        them. SPARK_GRAFT_EAGER_AGG_FOLD_IN=0 disables just the fold.

        Gate: catalog-stats rows of the largest retained table ≥
        _EAGER_AGG_FACT_ROWS_MIN (200k) and, when
        every inner group column has an NDV estimate, Π ndv ≤ rows/2
        (the rewrite buys nothing without reduction — stats only pick
        the plan, never the answer; a successful fold skips the NDV
        bail, since saving a whole fact scan pays regardless).
        SPARK_GRAFT_EAGER_AGG=1 forces, =0 disables."""
        if self.opts.eager_agg is False:
            return None
        forced = self.opts.eager_agg is True
        # empty group_by is allowed: a GLOBAL aggregate over a join (the
        # q14 shape) pushes down exactly like a grouped one — the inner
        # node groups by the attach keys, the outer re-aggregates with
        # no keys (r12; was a bail)
        if (node.group_mode is not None
                or node.group_by_all or node.distinct or node.distinct_on
                or node.qualify or node.windows
                or len(node.relations) != 1
                or not isinstance(node.relations[0], ast.Join)):
            return None

        # ---- flatten the inner-join tree of base tables ----
        tables: list[ast.TableRef] = []
        join_conj: list[ast.Expr] = []

        def flatten(rel: ast.Relation) -> bool:
            if isinstance(rel, ast.TableRef):
                tables.append(rel)
                return True
            if isinstance(rel, ast.Join) and rel.kind == "inner":
                if not (flatten(rel.left) and flatten(rel.right)):
                    return False
                join_conj.extend(self._split_conjuncts(rel.condition))
                return True
            return False

        if not flatten(node.relations[0]) or len(tables) < 2:
            return None

        infos: list[RelationInfo] = []
        stats: list[object] = []
        for t in tables:
            df = self._cte_frames.get(t.name.lower())
            st = None
            if df is None:
                try:
                    entry = self.catalog.get(t.name)
                except Exception:
                    return None
                df, st = entry.df, entry.stats
            infos.append(RelationInfo(qualifier="",
                                      display=t.alias or t.name,
                                      columns=list(df.columns)))
            stats.append(st)
        full_scope = Scope(infos)
        idx_of = {id(i): k for k, i in enumerate(infos)}

        def owners(e: ast.Expr) -> "set[int] | None":
            out: set[int] = set()
            for x in _walk_all(e):
                if isinstance(x, ast.ColumnRef):
                    try:
                        info, _ = full_scope.resolve(x.name, x.table)
                    except Exception:
                        return None
                    out.add(idx_of[id(info)])
            return out

        def efp(e: object) -> str:
            # structural fingerprint with column refs canonicalized to
            # their resolved (table index, true name) — so `o.o_custkey`
            # and bare `o_custkey` match
            if isinstance(e, ast.ColumnRef):
                try:
                    info, true = full_scope.resolve(e.name, e.table)
                    return f"col:{idx_of[id(info)]}:{true.lower()}"
                except Exception:
                    return f"raw:{(e.table or '').lower()}:{e.name.lower()}"
            import dataclasses
            if dataclasses.is_dataclass(e):
                parts = [type(e).__name__]
                for f_ in dataclasses.fields(e):
                    v = getattr(e, f_.name)
                    if isinstance(v, (list, tuple)):
                        parts.append("[" + ",".join(efp(x) for x in v) + "]")
                    else:
                        parts.append(efp(v))
                return "(" + "|".join(parts) + ")"
            return repr(e)

        # ---- IN-subquery fold candidates (single-scan q18 shape) ----
        # ``col IN (SELECT k FROM T GROUP BY k HAVING h)`` where T is the
        # retained fact and k is the pushdown group key folds into the
        # partial aggregate as a HAVING — the keyset pass and the outer
        # fact pass become ONE scan + ONE exchange. Candidates are
        # extracted structurally here so they don't trip the blanket
        # subquery bail; validity (key match, closure, single unfiltered
        # fact) is checked after the retained core is known, and any
        # failure aborts the whole rewrite (the stock semi join applies).
        all_where = (self._split_conjuncts(node.where)
                     if node.where is not None else [])
        fold_cands: list[ast.InSubquery] = []
        where_conj = []
        fold_on = self.opts.eager_agg_fold_in is not False
        for c in all_where:
            if fold_on and self._eager_fold_in_candidate(c):
                fold_cands.append(c)
            else:
                where_conj.append(c)

        # ---- blanket bails + aggregate collection ----
        top_exprs: list[ast.Expr] = [i.expr for i in node.items]
        if node.having is not None:
            top_exprs.append(node.having)
        top_exprs += [o.expr for o in node.order_by]
        check_exprs = top_exprs + list(node.group_by) + where_conj
        for e in check_exprs:
            if self._contains_any_subquery(e) \
                    or self._contains_nondeterministic(e):
                return None
            for x in _walk_all(e):
                if isinstance(x, (ast.WindowFunc, ast.Star,
                                  ast.GroupTotalSubquery)):
                    return None

        needed: set[int] = set()
        agg_map: dict[str, ast.FuncCall] = {}
        case_cands: dict[str, dict] = {}
        ok = [True]

        def lit_of(e: ast.Expr) -> "ast.Expr | None":
            """The literal at the core of a (possibly CAST-wrapped)
            constant branch, or None if the branch is not a constant."""
            x = e
            while isinstance(x, ast.Cast):
                x = x.operand
            return x if isinstance(x, (ast.NumberLit, ast.StringLit,
                                       ast.NullLit)) else None

        def case_candidate(e: ast.FuncCall) -> "dict | None":
            """CASE decomposition screen (q14 shape): agg(CASE WHEN p
            THEN f ... END) where each branch result is a fact-side
            expression or a neutral literal. Records branch owners in
            ``needed`` (they are agg inputs either way) but NOT the
            condition owners — if the conditions turn out dim-only the
            aggregate distributes over the CASE (p is constant per
            (group, dim-row) pair after the join), so the partial sums
            per branch push below the join and the outer re-evaluates
            the CASE over partial refs. Literal branches: NULL and
            (for SUM) 0 are neutral and stay literal; any other numeric
            SUM literal c contributes c PER ROW, so it becomes
            c × COUNT(*)-partial — the countif idiom
            ``SUM(CASE WHEN p THEN 1 ELSE 0 END)`` decomposes as
            conditional group sizes; COUNT of a non-NULL literal counts
            every row (COUNT(*)-partial); MIN/MAX take any literal
            as-is (constant per joined pair either way)."""
            if e.is_star or len(e.args) != 1 \
                    or not isinstance(e.args[0], ast.Case):
                return None
            case = e.args[0]
            fn = {"minimum": "min", "maximum": "max"}.get(e.name, e.name)
            branches = list(case.whens) + [(None, case.else_)]
            conds: list[ast.Expr] = [c for c, _ in case.whens]
            cond_owner: set[int] = set()
            parts: list[tuple[str, "ast.Expr | None"]] = []
            for _, res in branches:
                if res is None:  # absent ELSE ≡ NULL
                    parts.append(("lit", None))
                    continue
                lit = lit_of(res)
                if lit is not None:
                    if fn == "sum" and not (
                            isinstance(lit, ast.NullLit)
                            or isinstance(lit, ast.NumberLit)):
                        return None  # string/bool SUM literal — invalid
                    if isinstance(lit, ast.NumberLit) and lit.value != 0 \
                            and fn == "sum":
                        parts.append(("litcount", res))
                        continue
                    if fn == "count" and not isinstance(lit, ast.NullLit):
                        parts.append(("litcount", res))
                        continue
                    parts.append(("lit", res))
                    continue
                ow = owners(res)
                if ow is None or not ow:
                    return None
                needed.update(ow)
                parts.append(("expr", res))
            if not any(k in ("expr", "litcount") for k, _ in parts):
                return None
            for c in conds:
                ow = owners(c)
                if ow is None:
                    return None
                cond_owner.update(ow)
                for x in _walk_all(c):
                    if isinstance(x, ast.FuncCall) and (
                            self._is_agg_name(x.name) or x.is_star):
                        return None
            return {"agg": e, "fn": fn, "case": case,
                    "parts": parts, "cond_owner": cond_owner}

        def scan_aggs(e: object, inside: bool = False) -> None:
            if not ok[0]:
                return
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                if inside or e.distinct or e.filter_where is not None \
                        or e.name in self.user_aggregates \
                        or (not e.is_star
                            and e.name not in self._EAGER_AGG_FNS):
                    ok[0] = False
                    return
                cand = None if e.is_star else case_candidate(e)
                if cand is not None:
                    case_cands[efp(e)] = cand
                elif not e.is_star:
                    ow = owners(e.args[0]) if e.args else set()
                    if ow is None:
                        ok[0] = False
                        return
                    needed.update(ow)
                if cand is None:
                    agg_map[efp(e)] = e
                for a in e.args:
                    scan_aggs(a, True)
                return
            for c in _children(e):
                scan_aggs(c, inside)

        for e in top_exprs:
            scan_aggs(e)
        if not needed and case_cands and ok[0]:
            # pure-literal CASE aggregates (the countif-only q12 shape)
            # anchor nowhere by themselves — seed the retained side from
            # the single-owner group keys so the COUNT(*) partials have
            # a subtree to count
            for g in node.group_by:
                ow = owners(g)
                if ow is not None and len(ow) == 1:
                    needed.update(ow)
        if not ok[0] or not (agg_map or case_cands) or not needed:
            return None

        # ---- classify WHERE conjuncts and join edges ----
        # (where_conj excludes the fold candidates — they neither retain
        # their operand's table nor survive into the rewritten WHERE)
        where_owned: list[tuple[ast.Expr, set[int]]] = []
        for c in where_conj:
            ow = owners(c)
            if ow is None:
                return None
            where_owned.append((c, ow))
            if len(ow) >= 1:
                # any filtered table is retained: deferring a filtered
                # dimension would aggregate fact rows the original plan
                # filtered out first — correct (the re-agg fixes it) but
                # a measured pessimization, so the gate is structural
                needed.update(ow)

        edges: list[tuple[int, str, int, str, ast.Expr]] = []
        single_join_conds: list[ast.Expr] = []
        retained_theta: list[ast.Expr] = []
        for c in join_conj:
            ow = owners(c)
            if ow is None:
                return None
            if (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)
                    and len(ow) == 2):
                li, ln = (lambda p: (idx_of[id(p[0])], p[1]))(
                    full_scope.resolve(c.left.name, c.left.table))
                ri, rn = (lambda p: (idx_of[id(p[0])], p[1]))(
                    full_scope.resolve(c.right.name, c.right.table))
                edges.append((li, ln, ri, rn, c))
                continue
            if len(ow) <= 1:
                single_join_conds.append(c)
                needed.update(ow)
            else:
                # theta / expression-equality / null-safe conjuncts force
                # every owner table retained — AND the predicate itself
                # must survive: all joins here are inner, so ON ≡ WHERE,
                # and the owners land in `retained` (⊇ needed), making it
                # legal to evaluate as an inner-node WHERE conjunct.
                # Dropping it (pre-r10 bug) silently widened the join.
                needed.update(ow)
                retained_theta.append(c)

        # group keys spanning several tables force them all retained
        group_owned: list[tuple[ast.Expr, set[int]]] = []
        for g in node.group_by:
            if isinstance(g, ast.NumberLit):
                return None  # ordinal — resolved later, leave alone
            ow = owners(g)
            if ow is None or not ow:
                return None
            group_owned.append((g, ow))
            if len(ow) >= 2:
                needed.update(ow)

        # ---- connect the retained core ----
        def adjacent(a: int, comp: set[int]) -> bool:
            return any((li == a and ri in comp) or (ri == a and li in comp)
                       for li, _, ri, _, _ in edges)

        def components(sub: set[int]) -> list[set[int]]:
            comps: list[set[int]] = []
            left = set(sub)
            while left:
                seed = left.pop()
                comp = {seed}
                grew = True
                while grew:
                    grew = False
                    for t in list(left):
                        if adjacent(t, comp):
                            comp.add(t)
                            left.discard(t)
                            grew = True
                comps.append(comp)
            return comps

        retained = set(needed)
        while True:
            comps = components(retained)
            if len(comps) <= 1:
                break
            best, best_hits = None, 1
            for t in range(len(tables)):
                if t in retained:
                    continue
                hits = sum(1 for comp in comps if adjacent(t, comp))
                if hits > best_hits:
                    best, best_hits = t, hits
            if best is None:
                return None
            retained.add(best)
        deferred = set(range(len(tables))) - retained
        if not deferred:
            return None

        # every deferred component must reach the retained core
        for comp in components(deferred):
            if not any(adjacent(t, retained) for t in comp):
                return None  # was a cross join — leave alone

        # ---- resolve CASE candidates now that sides are known ----
        # dim-only conditions → decompose (the aggregate distributes
        # over the CASE); retained-only conditions → the whole argument
        # is fact-side, treat as a plain pushed aggregate; mixed → the
        # rewrite cannot place the CASE on either side, leave the query
        # on the stock plan
        decomp: dict[str, dict] = {}
        for fp, cand in case_cands.items():
            if cand["cond_owner"] and cand["cond_owner"] <= deferred:
                decomp[fp] = cand
            elif cand["cond_owner"] <= retained:
                agg_map[fp] = cand["agg"]
            else:
                return None

        # ---- profitability gate (stats pick the plan, never the answer)
        fact_rows = max((st.rows for i, st in enumerate(stats)
                         if i in retained and st is not None), default=0)
        if not forced:
            if fact_rows < self._EAGER_AGG_FACT_ROWS_MIN:
                return None
            if not node.group_by and not fold_cands:
                # a GLOBAL aggregate already reduces to one row per
                # partition before any exchange, so pushing a group-by
                # below the join only ADDS a shuffle (measured sf10
                # unfiltered join-agg: stock 4.3 s vs eager 7.2 s with
                # the dim broadcast); it pays only when it funds an IN
                # fold (a saved fact scan) — auto mode keeps global
                # aggregates on the stock plan otherwise
                return None

        # ---- inner node: partial aggregate over the retained subtree
        n_ = next(self._tmp_counter)
        ea_alias = f"__ea_{n_}"

        def qref(i: int, col: str) -> ast.ColumnRef:
            return ast.ColumnRef(name=col,
                                 table=tables[i].alias or tables[i].name)

        inner_items: list[ast.SelectItem] = []
        inner_group: list[ast.Expr] = []
        key_alias: dict[str, str] = {}  # efp -> inner output alias

        def add_inner_key(expr: ast.Expr, fp: str) -> str:
            if fp in key_alias:
                return key_alias[fp]
            alias = f"__ea_g{len(key_alias)}_{n_}"
            key_alias[fp] = alias
            inner_items.append(ast.SelectItem(expr=_copy_expr(expr),
                                              alias=alias))
            inner_group.append(_copy_expr(expr))
            return alias

        # attachment edges: retained-side columns become inner group keys
        attach_rewritten: list[tuple[int, ast.Expr]] = []  # (dim idx, cond)
        dim_internal: list[tuple[set[int], ast.Expr]] = []
        ndv_cols: list[tuple[int, str]] = []
        for li, ln, ri, rn, cond in edges:
            if li in retained and ri in retained:
                continue  # stays in the inner join tree
            if li in deferred and ri in deferred:
                dim_internal.append(({li, ri}, cond))
                continue
            (rt, rc), (dt, _dc) = ((li, ln), (ri, rn)) \
                if li in retained else ((ri, rn), (li, ln))
            kref = qref(rt, rc)
            kfp = efp(kref)
            alias = add_inner_key(kref, kfp)
            ndv_cols.append((rt, rc))
            new_cond = _transform_expr(
                _copy_expr(cond),
                lambda e, _a=alias, _fp=kfp: (
                    ast.ColumnRef(name=_a, table=ea_alias)
                    if isinstance(e, ast.ColumnRef) and efp(e) == _fp
                    else e))
            attach_rewritten.append((dt, new_cond))

        # retained group keys: project + group in the inner node
        outer_group: list[ast.Expr] = []
        for g, ow in group_owned:
            if ow <= retained:
                alias = add_inner_key(g, efp(g))
                if isinstance(g, ast.ColumnRef):
                    try:
                        info, true = full_scope.resolve(g.name, g.table)
                        ndv_cols.append((idx_of[id(info)], true))
                    except Exception:
                        pass
                outer_group.append(ast.ColumnRef(name=alias, table=ea_alias))
            else:
                outer_group.append(_copy_expr(g))

        if not forced:
            prod, known = 1.0, True
            # dedupe: a column reused as attach key for several dims (or
            # as both attach and group key) must count once, not squared
            for ti, col in {(t, c.lower()) for t, c in ndv_cols}:
                st = stats[ti]
                v = st.ndv.get(col.lower()) if st is not None \
                    and getattr(st, "ndv", None) else None
                if v:
                    prod *= v
                else:
                    known = False
            # the reduction the partial aggregate actually achieves is
            # |filtered fact| / Π ndv, not |raw fact| — a month-range
            # scan over a years-spanning fact (q14) feeds the aggregate
            # ~1% of footer rows, and an exchange that barely reduces
            # costs more than it saves (measured sf10: 1.83→2.05 s).
            # Estimate retained-side selectivity with the same footer
            # interpolation the broadcast planner uses.
            eff_rows = float(fact_rows)
            if where_conj and fact_rows:
                try:
                    from sql_to_ibis_spark.plans.estimator import (
                        CardinalityEstimator, _Rel)
                    est = CardinalityEstimator(self.catalog,
                                               set(self._cte_frames))
                    rels_est: dict[str, _Rel] = {}
                    for i in retained:
                        st = stats[i]
                        if st is None:
                            continue
                        al = (tables[i].alias or tables[i].name).lower()
                        rels_est[al] = _Rel(
                            alias=al,
                            columns=[c.lower() for c in infos[i].columns],
                            rows=st.rows,
                            col_min=st.col_min, col_max=st.col_max,
                            ndv=getattr(st, "ndv", None) or {})
                    w: ast.Expr | None = None
                    for c in where_conj:
                        w = c if w is None else ast.BinaryOp(
                            op="and", left=w, right=c)
                    sels = est._relation_selectivities(
                        ast.SelectNode(items=[], relations=[], where=w),
                        rels_est)
                    eff_rows = max(
                        (r.rows * sels.get(al, 1.0)
                         for al, r in rels_est.items() if r.rows),
                        default=float(fact_rows))
                except Exception:
                    pass
            if known and eff_rows and prod > eff_rows / 2 \
                    and not fold_cands:
                # with a foldable IN the rewrite saves a whole fact scan
                # even when the partial aggregate barely reduces
                return None

        partial_alias: dict[str, str] = {}
        for i, (fp, agg) in enumerate(agg_map.items()):
            alias = f"__ea_a{i}_{n_}"
            partial_alias[fp] = alias
            inner_items.append(ast.SelectItem(expr=_copy_expr(agg),
                                              alias=alias))
        # decomposed CASE aggregates: one partial per distinct fact-side
        # branch (shared with plain partials when the expression matches
        # — q14's numerator branch IS its denominator's argument)
        for cand in decomp.values():
            refs: list[str | None] = []
            for kind, res in cand["parts"]:
                if kind == "lit":
                    refs.append(None)
                    continue
                if kind == "litcount":
                    synth = ast.FuncCall(name="count", args=[],
                                         is_star=True)
                else:
                    synth = ast.FuncCall(name=cand["fn"],
                                         args=[_copy_expr(res)])
                sfp = efp(synth)
                if sfp not in partial_alias:
                    alias = f"__ea_a{len(partial_alias)}_{n_}"
                    partial_alias[sfp] = alias
                    inner_items.append(
                        ast.SelectItem(expr=synth, alias=alias))
                refs.append(partial_alias[sfp])
            cand["part_refs"] = refs

        # rebuild the retained join tree greedily along its edges
        r_order = [i for i in range(len(tables)) if i in retained]
        placed = {r_order[0]}
        tree: ast.Relation = tables[r_order[0]]
        pool = [(frozenset({li, ri}), cond) for li, _, ri, _, cond in edges
                if li in retained and ri in retained]
        pending = [i for i in r_order[1:]]
        while pending:
            pick = None
            for t in pending:
                conds = [c for tset, c in pool
                         if t in tset and tset <= placed | {t}]
                if conds:
                    pick = (t, conds)
                    break
            if pick is None:
                return None  # retained core not edge-connected in order
            t, conds = pick
            cond_expr: ast.Expr = conds[0]
            for extra in conds[1:]:
                cond_expr = ast.BinaryOp(op="and", left=cond_expr,
                                         right=extra)
            tree = ast.Join(left=tree, right=tables[t], kind="inner",
                            condition=cond_expr)
            placed.add(t)
            pending.remove(t)
            pool = [(tset, c) for tset, c in pool
                    if not (t in tset and tset <= placed)]

        inner_where_list = [c for c, ow in where_owned if ow <= retained] \
            + single_join_conds + retained_theta + [c for _, c in pool]
        inner_where: ast.Expr | None = None
        for c in inner_where_list:
            inner_where = c if inner_where is None else ast.BinaryOp(
                op="and", left=inner_where, right=c)

        # ---- fold qualified IN conjuncts into the partial HAVING ----
        # Soundness: the subquery's groups must be computed over EXACTLY
        # the inner node's row set, so the fact must be the sole retained
        # table with no inner-side filters (matching the subquery's bare
        # unfiltered scan), and the inner group key must be exactly the
        # subquery's group key. The IN then filters partial groups (one
        # row per key — no multiplicity change) and unmatched/NULL
        # operands vanish through the inner dimension join exactly as IN
        # semantics drop them. Any failed condition aborts the whole
        # rewrite; the stock semi join takes over.
        inner_having: ast.Expr | None = None
        if fold_cands:
            if len(retained) != 1 or inner_where_list:
                return None
            ft = next(iter(retained))
            if not forced:
                # measured gate (r12, against the since-deleted key-set
                # reduction): at the sf0.1 stage floor a broadcast second
                # pass is cheaper than the fold's extra join stages
                # (0.77 vs 0.92 s); from ~6M fact rows the saved scan
                # dominates (sf1 1.89→1.67 s, sf10 5.83→5.17 s
                # interleaved medians)
                st_ft = stats[ft]
                if st_ft is None or not st_ft.rows \
                        or st_ft.rows < self._EAGER_AGG_FOLD_ROWS_MIN:
                    return None

            def eq_closure(seed: "tuple[int, str]") -> "set[tuple[int, str]]":
                out = {seed}
                grew = True
                while grew:
                    grew = False
                    for li, ln, ri, rn, _c in edges:
                        a, b = (li, ln.lower()), (ri, rn.lower())
                        if a in out and b not in out:
                            out.add(b)
                            grew = True
                        elif b in out and a not in out:
                            out.add(a)
                            grew = True
                return out

            for cand in fold_cands:
                sub = cand.subquery
                sub_t = sub.relations[0]
                if sub_t.name.lower() != tables[ft].name.lower():
                    return None
                sub_scope = Scope([RelationInfo(
                    qualifier="", display=sub_t.alias or sub_t.name,
                    columns=list(infos[ft].columns))])
                gref = sub.group_by[0]
                iref = sub.items[0].expr
                try:
                    _, key_true = sub_scope.resolve(gref.name, gref.table)
                    _, item_true = sub_scope.resolve(iref.name, iref.table)
                except Exception:
                    return None
                if item_true.lower() != key_true.lower():
                    return None
                if set(key_alias) != {f"col:{ft}:{key_true.lower()}"}:
                    return None
                try:
                    op_info, op_true = full_scope.resolve(
                        cand.operand.name, cand.operand.table)
                except Exception:
                    return None
                if (idx_of[id(op_info)], op_true.lower()) not in \
                        eq_closure((ft, key_true.lower())):
                    return None
                if self._contains_any_subquery(sub.having) \
                        or self._contains_nondeterministic(sub.having):
                    return None
                for x in _walk_all(sub.having):
                    if isinstance(x, (ast.WindowFunc, ast.Star,
                                      ast.GroupTotalSubquery)):
                        return None
                bad = [False]

                def reh(x: ast.Expr) -> ast.Expr:
                    if isinstance(x, ast.ColumnRef):
                        try:
                            _, true = sub_scope.resolve(x.name, x.table)
                        except Exception:
                            bad[0] = True  # correlated / unresolvable
                            return x
                        return qref(ft, true)
                    return x

                h = _transform_expr(_copy_expr(sub.having), reh)
                if bad[0]:
                    return None
                inner_having = h if inner_having is None else ast.BinaryOp(
                    op="and", left=inner_having, right=h)

        inner = ast.SelectNode(items=inner_items, relations=[tree],
                               where=inner_where, group_by=inner_group,
                               having=inner_having)
        # NOT marked for runtime broadcast certification (r16, measured
        # and rejected): pinning + counting the post-HAVING survivors and
        # broadcast-hinting them under the keyset cap looked like the q18
        # finishing move, but q18's `HAVING sum > 200` keeps 918k of 15M
        # groups (~29 MB) — the broadcast build plus the serialized
        # pin/count job cost MORE than the orders exchange they replace,
        # which AQE overlaps with the aggregate's own stage anyway
        # (sf10 interleaved: certify 8.58 s vs fold-as-is 6.06 s median,
        # OPTIMIZATION_r16.md). The fold stays join-neutral.

        # ---- outer node: join dimensions to the partial, re-aggregate
        out_tree: ast.Relation = ast.SubqueryRef(query=inner, alias=ea_alias)
        out_placed: set[int] = set()
        # attachment conds need only their dimension placed (the retained
        # side already reads from the __ea_ subquery); dim-internal conds
        # need both endpoints
        out_pool: list[tuple[frozenset, ast.Expr]] = \
            [(frozenset({dt}), c) for dt, c in attach_rewritten] \
            + [(frozenset(tset), c) for tset, c in dim_internal]
        d_pending = [i for i in range(len(tables)) if i in deferred]
        while d_pending:
            pick = None
            for t in d_pending:
                conds = [c for tset, c in out_pool
                         if t in tset and tset <= out_placed | {t}]
                if conds:
                    pick = (t, conds)
                    break
            if pick is None:
                return None
            t, conds = pick
            cond_expr = conds[0]
            for extra in conds[1:]:
                cond_expr = ast.BinaryOp(op="and", left=cond_expr,
                                         right=extra)
            out_tree = ast.Join(left=out_tree, right=tables[t],
                                kind="inner", condition=cond_expr)
            out_placed.add(t)
            d_pending.remove(t)
            out_pool = [(tset, c) for tset, c in out_pool
                        if not (t in tset and tset <= out_placed)]

        def merge(agg: ast.FuncCall, ref: ast.ColumnRef) -> ast.Expr:
            if agg.is_star or agg.name == "count":
                return ast.FuncCall(name="coalesce", args=[
                    ast.FuncCall(name="sum", args=[ref]),
                    ast.NumberLit(value=0)])
            if agg.name == "sum":
                return ast.FuncCall(name="sum", args=[ref])
            return ast.FuncCall(name=agg.name, args=[ref])

        def merge_case(cand: dict) -> ast.Expr:
            # rebuild the CASE over partial refs: conditions (dim-only)
            # are copied verbatim — their tables sit in the outer join
            # tree; matched groups contribute their whole-group partial,
            # literal branches keep the original neutral constant (one
            # per group instead of one per row — identical under the
            # fn-specific neutrality rules checked at screen time)
            conds = [c for c, _ in cand["case"].whens]
            refs = cand["part_refs"]
            fn = cand["fn"]

            def out_branch(idx: int) -> ast.Expr:
                kind, res = cand["parts"][idx]
                if kind == "expr":
                    return ast.ColumnRef(name=refs[idx], table=ea_alias)
                if kind == "litcount":
                    cnt = ast.ColumnRef(name=refs[idx], table=ea_alias)
                    if fn == "count":
                        # a non-NULL literal counts every group row
                        return cnt
                    # SUM of constant c per row = c × group size
                    return ast.BinaryOp(op="*", left=_copy_expr(res),
                                        right=cnt)
                if fn == "count":
                    # non-matching groups contribute 0 to a count
                    return ast.NumberLit(value=0)
                return (_copy_expr(res) if res is not None
                        else ast.NullLit())

            case = ast.Case(
                whens=[(_copy_expr(conds[i]), out_branch(i))
                       for i in range(len(conds))],
                else_=out_branch(len(conds)))
            if fn == "count":
                # per-group counts merge by summation, never by count
                return ast.FuncCall(name="coalesce", args=[
                    ast.FuncCall(name="sum", args=[case]),
                    ast.NumberLit(value=0)])
            return ast.FuncCall(name=fn, args=[case])

        def xf(e: ast.Expr) -> ast.Expr:
            def rep(x: ast.Expr) -> ast.Expr:
                fp = efp(x)
                if fp in decomp and isinstance(x, ast.FuncCall):
                    return merge_case(decomp[fp])
                if fp in partial_alias and isinstance(x, ast.FuncCall):
                    return merge(x, ast.ColumnRef(
                        name=partial_alias[fp], table=ea_alias))
                if fp in key_alias:
                    return ast.ColumnRef(name=key_alias[fp], table=ea_alias)
                return x
            return _transform_expr(_copy_expr(e), rep)

        def out_alias(i: ast.SelectItem) -> "str | None":
            # an unaliased column item must keep its written output name
            # when xf maps it to an __ea_* key reference (retained-side
            # group key selected directly, e.g. the q12 countif shape);
            # items xf leaves alone keep the normal naming rules
            # (including duplicate-column renaming)
            if i.alias is None and isinstance(i.expr, ast.ColumnRef) \
                    and efp(i.expr) in key_alias:
                return i.expr.name
            return i.alias

        # ORDER BY keys that name a SELECTED retained group key must
        # resolve against the projection's output name, not the __ea_*
        # internal reference (which the final projection drops)
        item_out: dict[str, str] = {}
        for i in node.items:
            if isinstance(i.expr, ast.ColumnRef) \
                    and efp(i.expr) in key_alias:
                item_out[efp(i.expr)] = i.alias or i.expr.name

        def xf_order(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and efp(e) in item_out:
                return ast.ColumnRef(name=item_out[efp(e)], table=None)
            return xf(e)

        outer = ast.SelectNode(
            items=[ast.SelectItem(expr=xf(i.expr), alias=out_alias(i))
                   for i in node.items],
            relations=[out_tree],
            group_by=outer_group,
            having=(None if node.having is None else xf(node.having)),
            order_by=[ast.OrderItem(expr=xf_order(o.expr),
                                    ascending=o.ascending,
                                    nulls_first=o.nulls_first)
                      for o in node.order_by],
            limit=node.limit, offset=node.offset,
        )
        if node.where is not None:
            for c, ow in where_owned:
                if ow <= retained:
                    continue
                outer.where = c if outer.where is None else ast.BinaryOp(
                    op="and", left=outer.where, right=c)

        # guard: any surviving reference into a retained table means a
        # group key we failed to map — fall back to the original plan
        retained_names = {(tables[i].alias or tables[i].name).lower()
                          for i in retained}
        out_names = {(i.alias or "").lower() for i in outer.items}
        survivors = [(i.expr, False) for i in outer.items] \
            + [(g, False) for g in outer_group] \
            + ([(outer.having, True)] if outer.having is not None else []) \
            + [(o.expr, True) for o in outer.order_by]
        deferred_scope = Scope([infos[i] for i in deferred])
        for e, post_projection in survivors:
            for x in _walk_all(e):
                if not isinstance(x, ast.ColumnRef):
                    continue
                if post_projection and x.table is None \
                        and x.name.lower() in out_names:
                    # HAVING/ORDER BY may name an output alias — that
                    # resolves against the projection, never a table
                    continue
                if x.table is not None and x.table.lower() == ea_alias:
                    continue
                if x.table is not None:
                    if x.table.lower() in retained_names:
                        return None
                    continue
                # unqualified: must not resolve into a retained table
                if x.name.lower().startswith("__ea_"):
                    continue
                try:
                    deferred_scope.resolve(x.name, None)
                except AmbiguousColumnException:
                    continue  # ambiguous among deferred — same error later
                except Exception:
                    try:
                        full_scope.resolve(x.name, None)
                        return None  # resolves only via a retained table
                    except AmbiguousColumnException:
                        return None  # retained/deferred ambiguity — bail
                    except Exception:
                        continue  # an output-alias ref — resolves later
        return outer

    def _plan_stats_broadcasts(self, node: ast.SelectNode) -> dict[int, str]:
        """Footer-stats broadcast planning (plans/estimator.py): exact
        parquet row counts × min/max-interpolated range selectivities
        decide, BEFORE any shuffle is planned, which join sides fit
        under the broadcast cap. Closes the measured q3 gap where AQE
        converts the join at runtime but the 30M-row fact shuffle write
        has already happened. Hints only — a wrong estimate can cost
        speed, never rows. ``SPARK_GRAFT_STATS_BROADCAST=0``
        disables."""
        if self.opts.stats_broadcast is False:
            return {}
        if not node.relations or not any(
                isinstance(r, ast.Join) for r in node.relations):
            return {}
        try:
            from sql_to_ibis_spark.plans.estimator import CardinalityEstimator
            return CardinalityEstimator(
                self.catalog, set(self._cte_frames)).plan_hints(node)
        except Exception:
            return {}

    def _plan_cte_scalar_attach(
        self, node: ast.SelectNode
    ) -> dict[str, list[tuple[str, Column]]]:
        """TPC-H q15-shape rewrite: a WHERE-position uncorrelated scalar
        subquery ``(SELECT agg(col) FROM cte)`` over a CTE the outer FROM
        also references. Spark cannot reuse the shared subplan across the
        two occurrences (measured — canonical-equality matching fails
        across DeduplicateRelations, BASELINE.md round-7 investigation),
        so the naive plan executes the CTE's whole scan+shuffle twice.
        Instead, attach the scalar as an aggregate over the CTE's frame,
        broadcast-cross-joined back BEFORE the frame joins into the outer
        plan: the CTE executes once (AQE exchange reuse dedupes the
        shared subtree — both consumers are the same DataFrame object)
        and the scalar rides along as a constant column. Until round 9
        this was an unpartitioned window, which funneled the whole frame
        through one task; the aggregate form merges partials in parallel.

        Soundness gates:
        - the CTE body must be group-reduced (GROUP BY without rollup/cube
          or a global aggregate): the grouped frame ends in an exchange,
          which is the boundary AQE reuse dedupes — a raw scan-shaped CTE
          has no exchange to share, so the total branch would re-scan;
        - the outer FROM references the CTE exactly once, not on the
          null-supplying side of an outer join (null-extended rows would
          read NULL where the true scalar is a constant) and not under a
          semi/anti join (its columns don't survive);
        - the scalar body is a bare single-aggregate SELECT: no WHERE /
          GROUP BY / HAVING / DISTINCT / LIMIT, aggregates in
          count/sum/min/max/avg without DISTINCT or FILTER, column refs
          only inside aggregates and resolving to the CTE's columns.
          Unlike the total-over-groups rewrite the window sees the CTE's
          actual output rows, so AVG needs no partial decomposition;
        - WHERE position only: the attached column is a plain pre-
          aggregation column, so it cannot be referenced after a grouped
          outer aggregates it away.

        The attached temp column is excluded from the relation's visible
        columns (star expansion never sees it) and disappears at the
        final projection. ``SPARK_GRAFT_CTE_SCALAR_ATTACH=0``
        disables the rewrite."""
        if self.opts.cte_scalar_attach is False:
            return {}
        if node.where is None or not node.relations or not self._cte_frames:
            return {}

        occ: dict[str, int] = {}
        unsafe: set[str] = set()

        def scan(rel, extended: bool) -> None:
            if isinstance(rel, ast.TableRef):
                n = rel.name.lower()
                if n in self._cte_frames:
                    occ[n] = occ.get(n, 0) + 1
                    if extended:
                        unsafe.add(n)
                return
            if isinstance(rel, ast.Join):
                known = {"inner", "cross", "left", "right", "full",
                         "full_outer", "asof", "asof_left"}
                bad = rel.kind not in known
                lext = extended or bad or rel.kind in (
                    "right", "full", "full_outer")
                rext = extended or bad or rel.kind in (
                    "left", "full", "full_outer", "asof_left")
                scan(rel.left, lext)
                scan(rel.right, rext)
                return
            if isinstance(rel, (ast.PivotRef, ast.UnpivotRef)):
                # pivot/unpivot sources compile through _compile_relation
                # in THIS select body, so a CTE ref there would consume
                # the attachment before the plain occurrence does — and
                # the pivot aggregation would drop the column anyway.
                # Count it as an always-unsafe occurrence.
                scan(rel.source, True)
            # derived tables (SubqueryRef) are opaque: their bodies
            # compile with their own (empty) attach map — nothing to track

        for r in node.relations:
            scan(r, False)
        eligible = {n for n, c in occ.items()
                    if c == 1 and n not in unsafe
                    and self._cte_reduced.get(n)}
        if not eligible:
            return {}

        attach: dict[str, list[tuple[str, Column]]] = {}

        def rewrite(e: ast.Expr) -> ast.Expr:
            if not isinstance(e, ast.ScalarSubquery):
                return e
            b = e.subquery
            if not isinstance(b, ast.SelectNode):
                return e
            if (len(b.relations) != 1
                    or not isinstance(b.relations[0], ast.TableRef)):
                return e
            cname = b.relations[0].name.lower()
            if cname not in eligible:
                return e
            if (b.where is not None or b.group_by or b.group_by_all
                    or b.group_mode is not None or b.having is not None
                    or b.distinct or b.distinct_on or b.qualify is not None
                    or b.limit is not None or b.offset is not None
                    or len(b.items) != 1
                    or isinstance(b.items[0].expr, ast.Star)):
                return e
            col = self._cte_agg_window_col(b, cname)
            if col is None:
                return e
            tmp = f"__cteagg_{next(self._tmp_counter)}"
            attach.setdefault(cname, []).append((tmp, col))
            return ast.ScalarRef(name=tmp)

        node.where = _transform_expr(node.where, rewrite)
        return attach

    def _cte_agg_window_col(self, b: ast.SelectNode,
                            cname: str) -> Column | None:
        """Compile the scalar body's single item as an aggregate Column
        over the CTE frame (merged via agg + broadcast cross join at the
        attach site), or None when the shape doesn't qualify (see
        _plan_cte_scalar_attach)."""
        frame = self._cte_frames[cname]
        cols = {c.lower(): c for c in frame.columns}
        alias = (b.relations[0].alias or b.relations[0].name).lower()
        has_agg = [False]

        class _Bail(Exception):
            pass

        _GENERIC_OK = (ast.NumberLit, ast.StringLit, ast.BoolLit,
                       ast.NullLit, ast.IntervalLit, ast.BinaryOp,
                       ast.UnaryOp, ast.IsNull, ast.Between, ast.InList,
                       ast.Like, ast.Case, ast.Cast)
        _AGG_FNS = {"count": F.count, "sum": F.sum, "min": F.min,
                    "minimum": F.min, "max": F.max, "maximum": F.max,
                    "avg": F.avg, "average": F.avg, "mean": F.avg}

        def build(e: ast.Expr, inside_agg: bool) -> Column:
            if isinstance(e, ast.ColumnRef):
                if not inside_agg:
                    raise _Bail
                if e.table is not None and e.table.lower() != alias:
                    raise _Bail
                actual = cols.get(e.name.lower())
                if actual is None:
                    raise _Bail
                return F.col(_bq(actual))
            if isinstance(e, ast.FuncCall):
                if self._is_agg_name(e.name) or e.is_star:
                    if (inside_agg or e.distinct
                            or getattr(e, "filter_where", None) is not None
                            or e.name in self.user_aggregates):
                        raise _Bail
                    has_agg[0] = True
                    if e.is_star:
                        return F.count(F.lit(1))
                    fn = _AGG_FNS.get(e.name)
                    if fn is None or len(e.args) != 1:
                        raise _Bail
                    return fn(build(e.args[0], True))
                if (e.name in self._NONDETERMINISTIC_FNS
                        or e.name in self.user_functions):
                    raise _Bail
                return self._compile_expr_generic(
                    e, lambda c: build(c, inside_agg))
            if isinstance(e, _GENERIC_OK):
                return self._compile_expr_generic(
                    e, lambda c: build(c, inside_agg))
            raise _Bail

        try:
            col = build(b.items[0].expr, False)
        except _Bail:
            return None
        except Exception:
            return None
        return col if has_agg[0] else None

    def _try_total_over_groups(
        self, sub, node: ast.SelectNode, scope: Scope
    ) -> "ast.GroupTotalSubquery | None":
        """TPC-H q11-shape rewrite: an uncorrelated scalar subquery in a
        post-aggregation position whose body aggregates the SAME
        FROM+WHERE as the outer grouped query. The global total equals a
        merge-re-aggregation of the outer's per-group partials (sum of
        group sums, sum of group counts, min of group mins, …), so the
        scalar compiles to a window total over the outer's own grouped
        frame — the second execution of the whole join/scan disappears.
        Exchange reuse CANNOT recover this (measured: Spark's canonical
        matching fails across DeduplicateRelations even for shared plan
        objects — BASELINE.md round-7 investigation).

        Soundness: FROM trees and WHERE conjunct sets must fingerprint
        identically modulo alias names (aliases normalize positionally);
        nondeterministic predicates disqualify (outer and inner would
        sample independently); multidimensional grouping disqualifies
        (rollup/cube groups overlap — partials would double count);
        aggregates must be decomposable (count/sum/min/max, no DISTINCT).
        The total is computed BEFORE the HAVING filter, matching the
        scalar's independence from HAVING.

        The merge was an unpartitioned window over the grouped frame
        until round 9 — an Exchange SinglePartition funneling every
        group through one task, which forced a cardinality gate (numeric
        ID keys with ~2M groups cost more than the scan they saved:
        q11 at sf10 3.49 s vs 2.40 s). It is now an aggregate over the
        grouped frame broadcast-cross-joined back — PINNED
        (localCheckpoint) when the stats gate says the base is big
        (_total_pin_wanted). The pin matters (r14): AQE's canonical-plan
        stage matching does NOT unify two consumers of the same
        DataFrame subtree on this Spark version (verified on a minimal
        repro — the final adaptive plan carries two full scans, zero
        ReusedExchange), so the unpinned crossJoin form re-executes the
        whole base subtree. Locally the two executions overlap across
        idle cores (sf10 q11: wall-neutral, but HALF the work executed
        pinned — single lineitem scan in the final plan); on a loaded
        cluster halving the work is the win. The grouped frame is
        bounded by group count — always ≤ the base — so the pin beats
        the second execution at any group cardinality, and the r9
        cardinality gate stays gone.

        ``SPARK_GRAFT_GROUP_TOTAL_REWRITE=0`` disables the rewrite."""
        if self.opts.group_total_rewrite is False:
            return None
        if not isinstance(sub, ast.SelectNode):
            return None
        if (len(sub.items) != 1 or isinstance(sub.items[0].expr, ast.Star)
                or sub.group_by or sub.group_by_all
                or sub.having is not None or sub.distinct or sub.distinct_on
                or sub.limit is not None or sub.offset is not None
                or sub.qualify is not None):
            return None
        if node.group_mode is not None or node.group_by_all:
            return None
        # outer must itself be a grouped/global aggregation
        outer_is_agg = bool(node.group_by) or any(
            not isinstance(i.expr, ast.Star)
            and self._contains_aggregate(i.expr) for i in node.items)
        if not outer_is_agg:
            return None
        if node.where is not None and (
                self._contains_nondeterministic(node.where)):
            return None
        # the OUTER node reaching here has already been through the
        # constraint join rewrite (top of _compile_select_body); apply
        # the same deterministic rewrite to the subquery body so twin
        # FROM+WHERE trees still fingerprint identically (flag aliases
        # number from 0 per query block on both sides)
        sub = self._try_constraint_join_rewrites(sub) or sub
        fpo = self._from_where_fingerprint(node)
        fpi = self._from_where_fingerprint(sub)
        if fpo is None or fpi is None or fpo[0] != fpi[0]:
            return None
        mapping = dict(zip(fpi[1], fpo[1]))

        item = _copy_expr(sub.items[0].expr)
        valid, has_agg = True, False

        def check(e: object, inside_agg: bool = False) -> None:
            nonlocal valid, has_agg
            if isinstance(e, ast.ColumnRef) and not inside_agg:
                # a column outside any aggregate would have to resolve
                # against the grouped frame — not this rewrite's shape
                valid = False
                return
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                has_agg = True
                if e.distinct or e.name in self.user_aggregates:
                    valid = False
                if not e.is_star and e.name not in (
                        "count", "sum", "min", "minimum", "max", "maximum"):
                    valid = False
                for c in _children(e):
                    check(c, True)
                return
            for c in _children(e):
                check(c, inside_agg)

        check(item)
        if not valid or not has_agg:
            return None

        def retarget(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and e.table is not None:
                t = e.table.lower()
                if t in mapping:
                    return ast.ColumnRef(name=e.name, table=mapping[t])
            return e

        return ast.GroupTotalSubquery(item=_transform_expr(item, retarget))

    def _from_where_fingerprint(
        self, n: ast.SelectNode
    ) -> tuple[str, list[str]] | None:
        """Alias-normalized fingerprint of a SELECT's FROM tree + WHERE
        conjunct set, with the alias list in FROM order (for retargeting).
        Returns None for shapes the fingerprint can't prove equal
        (derived tables, table functions, unsupported expression nodes,
        subqueries inside WHERE)."""
        aliases: list[str] = []
        ok = True

        def efp(e) -> str:
            nonlocal ok
            if e is None:
                return "~"
            if isinstance(e, ast.ColumnRef):
                if e.table is None:
                    q = "?"
                else:
                    t = e.table.lower()
                    q = str(aliases.index(t)) if t in aliases else f"!{t}"
                return f"C{q}.{e.name.lower()}"
            if isinstance(e, ast.NumberLit):
                return f"N{e.value}"
            if isinstance(e, ast.StringLit):
                return f"S{e.value!r}"
            if isinstance(e, ast.BoolLit):
                return f"B{e.value}"
            if isinstance(e, ast.NullLit):
                return "NULL"
            if isinstance(e, ast.BinaryOp):
                return f"({efp(e.left)}{e.op}{efp(e.right)})"
            if isinstance(e, ast.UnaryOp):
                return f"({e.op} {efp(e.operand)})"
            if isinstance(e, ast.IsNull):
                return f"isnull{int(e.negated)}({efp(e.operand)})"
            if isinstance(e, ast.Between):
                return (f"btw{int(e.negated)}({efp(e.operand)},"
                        f"{efp(e.low)},{efp(e.high)})")
            if isinstance(e, ast.InList):
                return (f"in{int(e.negated)}({efp(e.operand)};"
                        + ",".join(sorted(efp(i) for i in e.items)) + ")")
            if isinstance(e, ast.Like):
                return (f"like{int(e.negated)}{int(e.case_insensitive)}"
                        f"{int(e.regexp)}({efp(e.operand)},{efp(e.pattern)})")
            if isinstance(e, ast.Cast):
                return f"cast({efp(e.operand)} as {e.type_name})"
            if isinstance(e, ast.Case):
                parts = [f"{efp(c)}:{efp(v)}" for c, v in e.whens]
                return f"case({';'.join(parts)};{efp(e.else_)})"
            if isinstance(e, ast.FuncCall):
                if (e.name in self._NONDETERMINISTIC_FNS
                        or e.name in self.user_functions
                        or self._is_agg_name(e.name) or e.is_star
                        or e.distinct or e.filter_where is not None):
                    ok = False
                    return "!"
                return f"{e.name}(" + ",".join(efp(a) for a in e.args) + ")"
            ok = False
            return "!"

        def rfp(r) -> str:
            nonlocal ok
            if isinstance(r, ast.TableRef):
                aliases.append((r.alias or r.name).lower())
                return f"T:{r.name.lower()}"
            if isinstance(r, ast.Join):
                left = rfp(r.left)
                right = rfp(r.right)
                cond = efp(r.condition) if r.condition is not None else "~"
                return f"J:{r.kind}({left},{right},on={cond})"
            if isinstance(r, ast.SubqueryRef) and r.columns is None \
                    and isinstance(r.query, ast.SelectNode):
                # simple derived keysets (the constraint-rewrite flag
                # joins): plain column-ref items over a fingerprintable
                # FROM+WHERE — anything richer stays unfingerprintable
                q = r.query
                if (q.group_by or q.group_by_all or q.group_mode
                        or q.having is not None or q.distinct
                        or q.distinct_on or q.qualify is not None
                        or q.order_by or q.limit is not None
                        or q.offset is not None or q.windows):
                    ok = False
                    return "!"
                inner = self._from_where_fingerprint(q)
                if inner is None:
                    ok = False
                    return "!"
                inner_aliases = inner[1]
                parts = []
                for it in q.items:
                    e = it.expr
                    if not isinstance(e, ast.ColumnRef):
                        ok = False
                        return "!"
                    t = (e.table or "").lower()
                    pos = (str(inner_aliases.index(t))
                           if t in inner_aliases else "?")
                    parts.append(f"C{pos}.{e.name.lower()}as"
                                 f"{(it.alias or e.name).lower()}")
                aliases.append(r.alias.lower())
                return f"D[{';'.join(parts)}|{inner[0]}]"
            ok = False
            return "!"

        rels = ",".join(rfp(r) for r in n.relations)
        conjs = sorted(efp(c) for c in self._split_conjuncts(n.where)) \
            if n.where is not None else []
        if not ok:
            return None
        return f"FROM[{rels}]WHERE[{'&'.join(conjs)}]", aliases

    def _restrict_outer(
        self, df: DataFrame, node: ast.SelectNode, scope: Scope
    ) -> DataFrame | None:
        """Outer side pre-filtered by the subquery-free WHERE conjuncts, or
        None when no such conjunct exists (then the restriction would buy
        nothing and only add a distinct).

        Correctness: WHERE is a conjunction, so any row the full WHERE
        keeps also passes every subquery-free conjunct — the restricted
        outer's key set covers every row whose scalar value can matter.
        Rows outside it get NULL from the decorrelating left join, and are
        discarded by those same conjuncts regardless of the scalar.

        Cost gate: the restriction RE-EXECUTES the outer FROM to compute
        its distinct keys (Spark has no DuckDB-style delim-scan sharing),
        so it only pays when the outer is cheap to duplicate — at most two
        base relations (the Q17 lineitem×part shape). Duplicating a
        five-way join (TPC-H Q2's outer) costs more than the narrowed
        aggregation saves (measured: q2 +165% at sf1 before this gate).

        Nondeterministic conjuncts (rand(), user functions) are excluded
        from the restriction: re-evaluating them here could drop keys the
        real WHERE keeps, silently nulling those rows' scalars. Excluding
        them only widens the key set — always safe."""
        if node.where is None:
            return None

        def n_base(rel: ast.Relation) -> int:
            if isinstance(rel, ast.Join):
                return n_base(rel.left) + n_base(rel.right)
            return 1

        if sum(n_base(r) for r in node.relations) > 2:
            return None
        plain = [c for c in self._split_conjuncts(node.where)
                 if not self._contains_any_subquery(c)
                 and not self._contains_nondeterministic(c)]
        if not plain:
            return None
        out = df
        for conj in plain:
            out = out.filter(self.compile_expr(conj, scope))
        return out

    def _partition_complete(
        self, conj: ast.Expr, allowed: set, scope: Scope
    ) -> bool:
        """True when a WHERE conjunct's outcome depends only on columns in
        ``allowed`` (the intersection of the window-decorrelated scalars'
        partition keys) — such a conjunct removes whole window partitions
        and may run below the windows. Deterministic only; uncorrelated
        [NOT] IN subqueries qualify when their operand does."""
        if self._contains_nondeterministic(conj):
            return False
        core = conj
        while isinstance(core, ast.UnaryOp) and core.op == "not":
            core = core.operand
        if isinstance(core, ast.InSubquery):
            if self._is_correlated(core.subquery, scope):
                return False
            return self._cols_within(core.operand, allowed, scope)
        if self._contains_any_subquery(conj):
            return False
        return self._cols_within(conj, allowed, scope)

    def _cols_within(self, expr: ast.Expr, allowed: set,
                     scope: Scope) -> bool:
        ok = True

        def visit(e: object) -> None:
            nonlocal ok
            if isinstance(e, ast.ColumnRef):
                try:
                    if self._canon(e, scope) not in allowed:
                        ok = False
                except Exception:
                    ok = False
            for ch in _children(e):
                visit(ch)

        visit(expr)
        return ok

    def _contains_any_subquery(self, expr: ast.Expr) -> bool:
        """True when ``expr`` contains any subquery form — including
        ``QuantifiedCompare`` (its body is a subquery that only lowers
        LATER, in ``_lower_expr_subqueries_in_node``; the semi-join
        reducer runs before that and must not try to compile it) and
        ``ScalarRef`` (an already-rewritten subquery value whose column
        only exists after the decorrelating join — never resolvable in a
        pre-join restriction or reducer)."""
        found = False

        def visit(e: object) -> None:
            nonlocal found
            if isinstance(e, (ast.InSubquery, ast.ExistsSubquery,
                              ast.ScalarSubquery, ast.QuantifiedCompare,
                              ast.ScalarRef, ast.ScalarSubqueryField)):
                found = True
            for child in _children(e):
                visit(child)

        visit(expr)
        return found

    def _bind_correlated_scalar(
        self, sub: ast.SelectNode, scope: Scope,
        joins: list[tuple[DataFrame, Column | None]],
        outer_df: DataFrame,
        outer_is_restricted: bool = False,
        outer_single: tuple[str, str] | None = None,
        wincols: list[tuple[str, Column]] | None = None,
        multi: bool = False,
    ) -> "ast.Expr | list[ast.Expr]":
        """Decorrelate a scalar subquery. With ``multi=True`` (internal,
        from the fused quantified-comparison lowering) ``sub`` may have
        several aggregate items — ONE aggregation pass produces them all,
        returning one ref per item."""
        if not multi and (len(sub.items) != 1
                          or isinstance(sub.items[0].expr, ast.Star)):
            raise InvalidQueryException(
                "scalar subquery must return exactly 1 column")
        if sub.group_by or sub.having is not None or sub.distinct \
                or sub.limit is not None:
            raise InvalidQueryException(
                "correlated scalar subqueries support only a plain "
                "aggregate SELECT")
        if any(isinstance(i.expr, ast.Star)
               or not self._contains_aggregate(i.expr) for i in sub.items):
            raise InvalidQueryException(
                "correlated scalar subqueries must select an aggregate "
                "(e.g. (SELECT avg(x) FROM t WHERE t.k = outer.k))")
        inner_df, inner_scope, local, correlated = \
            self._compile_inner_from(sub, scope)
        all_equality = all(
            isinstance(c, ast.BinaryOp) and c.op == "=" for c in correlated)
        names = [f"__scalar_{next(self._tmp_counter)}" for _ in sub.items]

        def refs() -> "ast.Expr | list[ast.Expr]":
            out = [self._scalar_ref_with_count_default(sub, n, i)
                   for i, n in enumerate(names)]
            return out if multi else out[0]

        if all_equality and wincols is not None:
            wins = self._try_window_correlated(
                sub, scope, correlated, local, outer_single)
            if wins is not None:
                win_cols, part_keys = wins
                for n, c in zip(names, win_cols):
                    wincols.append((n, c, part_keys))
                return refs()
        values = [self.compile_expr(i.expr, inner_scope) for i in sub.items]
        if all_equality:
            # fast path: group the inner by its correlation keys — one
            # shuffle on the keys, no distinct over the outer needed
            key_cols: list[Column] = []
            okey_cols: list[Column] = []
            inner_key_cols: list[Column] = []
            key_names: list[str] = []
            cond: Column | None = None
            for conj in correlated:
                li = self._resolves_in(conj.left, inner_scope)
                ri = self._resolves_in(conj.right, inner_scope)
                lo = self._resolves_in(conj.left, scope)
                ro = self._resolves_in(conj.right, scope)
                if li and ro and not (ri and lo):
                    inner_e, outer_e = conj.left, conj.right
                elif ri and lo:
                    inner_e, outer_e = conj.right, conj.left
                else:
                    raise InvalidQueryException(
                        "correlation predicate must compare an inner column "
                        "with an outer column")
                kname = f"__ck_{next(self._tmp_counter)}"
                key_cols.append(
                    self.compile_expr(inner_e, inner_scope).alias(kname))
                outer_col = self.compile_expr(outer_e, scope)
                okey_cols.append(outer_col.alias(kname))
                inner_key_cols.append(
                    self.compile_expr(inner_e, inner_scope))
                key_names.append(kname)
                piece = outer_col == F.col(_bq(kname))
                cond = piece if cond is None else (cond & piece)
            grouped_src = inner_df
            if outer_is_restricted:
                # magic-set restriction: aggregate only the groups the
                # filtered outer can request. The semi join shuffles the
                # inner by the same keys the groupBy needs, so the
                # aggregation reuses that partitioning — the only added
                # work is the (small) distinct over the filtered outer's
                # keys, and AQE broadcasts it when it is tiny.
                keys_df = outer_df.select(*okey_cols).distinct()
                semi: Column | None = None
                for kcol_name, ic in zip(key_names, inner_key_cols):
                    piece = ic == keys_df[kcol_name]
                    semi = piece if semi is None else (semi & piece)
                grouped_src = inner_df.join(keys_df, semi, "left_semi")
            grouped = grouped_src.groupBy(*key_cols).agg(
                *[v.alias(n) for v, n in zip(values, names)])
            joins.append((grouped, cond))
        else:
            # general path (non-equality / range correlation): the scalar
            # depends only on the outer columns the predicates reference —
            # aggregate once per DISTINCT outer key tuple, then join back
            # null-safe on those keys. The keys ⋈ inner theta join runs
            # over the (small) distinct-key side, not per outer row.
            grouped, cond = self._decorrelate_by_outer_keys(
                outer_df, inner_df, inner_scope, scope, correlated,
                values, names)
            joins.append((grouped, cond))
        return refs()

    def _scalar_ref_with_count_default(
        self, sub: ast.SelectNode, name: str, item_idx: int = 0
    ) -> ast.Expr:
        ref: ast.Expr = ast.ScalarRef(name=name)
        root = sub.items[item_idx].expr
        if isinstance(root, ast.FuncCall) and (root.name == "count"
                                               or root.is_star):
            # COUNT over an empty correlated group is 0, not NULL; the
            # groupBy rewrite produces no row (and the window rewrite
            # NULL-masks NULL keys) → coalesce restores SQL semantics
            ref = ast.FuncCall(name="coalesce",
                               args=[ref, ast.NumberLit(value=0)])
        return ref

    def _try_window_correlated(
        self, sub: ast.SelectNode, scope: Scope,
        correlated: list[ast.Expr], local: list[ast.Expr],
        outer_single: tuple[str, str] | None,
    ) -> tuple[list[Column], list[ast.Expr]] | None:
        """Window-function decorrelation for the self-comparison shape:

            SELECT ... FROM t o WHERE o.x < (SELECT agg(i.y) FROM t i
                                             WHERE i.k = o.k [AND local])

        When the outer FROM is the same single table as the inner and every
        correlation conjunct is ``same-column = same-column`` equality, the
        per-group scalar is exactly ``agg(y) OVER (PARTITION BY k)`` on the
        outer frame — ONE shuffle of the table instead of [aggregate the
        whole table, shuffle, and join it back] (at sf10 that second plan
        partial-aggregates 60M near-unique keys, spilling GBs, then
        sort-merge-joins two 60M-row sides). Inner-local predicates become
        agg FILTER (WHERE ...) — same group, conditional accumulation.

        NULL keys: SQL equality correlation gives NULL-key rows an empty
        group (scalar NULL / count 0) while a window would pool them into
        one partition — the result is NULL-masked on the key to match.

        Returns (compiled window Columns — one per subquery item —, the
        partition-key exprs), or None when the shape doesn't apply
        (different tables, joins in either FROM, distinct aggregates,
        user-defined aggregates, expression correlation keys). The keys
        let the caller pre-apply partition-complete WHERE conjuncts
        below the window.

        ``SPARK_GRAFT_WINDOW_DECORRELATE=0`` disables the rewrite
        (escape hatch + A/B measurement switch)."""
        if self.opts.window_decorrelate is False:
            return None
        if outer_single is None or len(sub.relations) != 1:
            return None
        rel = sub.relations[0]
        if not isinstance(rel, ast.TableRef):
            return None
        oname, oalias = outer_single
        if rel.name.lower() != oname:
            return None
        # CTE-backed outers are eligible too: the window aggregates the
        # outer frame ITSELF, so "same name → same rows" holds by
        # construction — unlike the join path, which re-executes the CTE
        # body and could diverge on a nondeterministic plan
        inner_alias = (rel.alias or rel.name).lower()
        inner_names = {inner_alias, rel.name.lower()}

        # every correlation conjunct must be  inner.col = outer.col  with
        # the SAME column, else the window partition is not the inner group
        part_keys: list[ast.Expr] = []
        for conj in correlated:
            sides = [conj.left, conj.right]
            if not all(isinstance(s, ast.ColumnRef) for s in sides):
                return None
            inner_side = [s for s in sides if s.table is not None
                          and s.table.lower() in inner_names]
            outer_side = [s for s in sides if s not in inner_side]
            if len(inner_side) != 1 or len(outer_side) != 1:
                return None
            if inner_side[0].name.lower() != outer_side[0].name.lower():
                return None
            part_keys.append(_copy_expr(outer_side[0]))

        # aggregates must all be plain JVM aggregates (no DISTINCT — Spark
        # windows don't support it; no user aggregates — pandas UDAFs have
        # no window form)
        ok = True

        def check(e: object) -> None:
            nonlocal ok
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                if e.distinct or e.name in self.user_aggregates:
                    ok = False
                if not e.is_star and e.name not in AGGREGATE_FUNCTIONS:
                    ok = False
            for c in _children(e):
                check(c)

        for item in sub.items:
            check(item.expr)
        if not ok:
            return None

        def retarget(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.ColumnRef) and e.table is not None \
                    and e.table.lower() in inner_names:
                return ast.ColumnRef(name=e.name, table=oalias)
            return e

        local_cond: ast.Expr | None = None
        for conj in local:
            c = _transform_expr(_copy_expr(conj), retarget)
            local_cond = c if local_cond is None else ast.BinaryOp(
                op="and", left=local_cond, right=c)

        spec = ast.WindowSpec(partition_by=part_keys)

        def to_window(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.FuncCall) and (
                    self._is_agg_name(e.name) or e.is_star):
                f = e
                if local_cond is not None:
                    fw = (_copy_expr(local_cond) if f.filter_where is None
                          else ast.BinaryOp(op="and",
                                            left=_copy_expr(local_cond),
                                            right=f.filter_where))
                    f = ast.FuncCall(name=f.name, args=f.args,
                                     distinct=f.distinct, is_star=f.is_star,
                                     filter_where=fw,
                                     ignore_nulls=f.ignore_nulls)
                return ast.WindowFunc(func=f, window=spec)
            return e

        mask: Column | None = None
        for k in part_keys:
            piece = self.compile_expr(k, scope).isNotNull()
            mask = piece if mask is None else (mask & piece)
        out: list[Column] = []
        for item in sub.items:
            value_ast = _transform_expr(_copy_expr(item.expr), retarget)
            value_ast = _transform_expr(value_ast, to_window)
            out.append(F.when(mask, self.compile_expr(value_ast, scope)))
        return out, part_keys

    def _decorrelate_by_outer_keys(
        self, outer_df: DataFrame, inner_df: DataFrame, inner_scope: Scope,
        scope: Scope, correlated: list[ast.Expr],
        values: list[Column], names: list[str],
    ) -> tuple[DataFrame, Column]:
        """Magic-set decorrelation for arbitrary correlation predicates.

        Returns ``(grouped, cond)`` where ``grouped`` holds one aggregated
        scalar per distinct outer-key tuple and ``cond`` joins it back to
        the outer frame with null-safe key equality."""
        # collect the distinct outer column refs used by the predicates
        okeys: dict[tuple, tuple[str, ast.ColumnRef]] = {}

        def classify(e: ast.Expr) -> ast.Expr:
            if not isinstance(e, ast.ColumnRef):
                return e
            if self._resolves_in(e, inner_scope):
                return e  # inner wins on ambiguity, standard SQL scoping
            if not self._resolves_in(e, scope):
                raise ColumnNotFoundError(e.name)
            ident = self._canon(e, scope)
            if ident not in okeys:
                okeys[ident] = (f"__ok_{next(self._tmp_counter)}", e)
            return ast.ColumnRef(name=okeys[ident][0], table=None)

        rewritten = [_transform_expr(_copy_expr(c), classify)
                     for c in correlated]
        key_exprs = [self.compile_expr(ref, scope).alias(kname)
                     for kname, ref in okeys.values()]
        keys_df = outer_df.select(*key_exprs).distinct()
        keys_scope = Scope([RelationInfo(qualifier="", display="",
                                         columns=list(keys_df.columns))])
        chain = ChainScope(inner_scope, keys_scope)
        cond: Column | None = None
        for conj in rewritten:
            col = self.compile_expr(conj, chain)
            cond = col if cond is None else (cond & col)
        grouped = (
            keys_df.join(inner_df, cond, "inner")
            .groupBy(*[F.col(kname) for kname, _ in okeys.values()])
            .agg(*[v.alias(n) for v, n in zip(values, names)])
        )
        back: Column | None = None
        for kname, ref in okeys.values():
            piece = self.compile_expr(ref, scope).eqNullSafe(F.col(kname))
            back = piece if back is None else (back & piece)
        return grouped, back

    # ----------------------------------------------- star semi-join reduction

    _NONDETERMINISTIC_FNS = {"rand", "randn", "random", "uuid", "shuffle",
                             "monotonically_increasing_id"}

    def _contains_nondeterministic(self, expr: ast.Expr) -> bool:
        """Registered nondeterministic builtins, plus ALL user functions
        (their determinism is unknowable — evaluating one twice in a
        reducer and again in the real filter could diverge)."""
        found = False

        def visit(e: object) -> None:
            nonlocal found
            if isinstance(e, ast.FuncCall) and (
                    e.name in self._NONDETERMINISTIC_FNS
                    or e.name in self.user_functions
                    or e.name in self.user_aggregates):
                found = True
            for child in _children(e):
                visit(child)

        visit(expr)
        return found

    _SEMIJOIN_FACT_MIN = 64 << 20
    _SEMIJOIN_DIM_MAX = 32 << 20

    def _plan_semi_reduction(
        self, node: ast.SelectNode
    ) -> dict[int, list[tuple[list[tuple[str, str]], DataFrame]]]:
        """Star semi-join reduction: pre-filter each LARGE base relation of
        an inner-join chain by the join keys of its (transitively) filtered
        SMALL neighbors, BEFORE the large side reaches any exchange.

        On TPC-H Q5 at sf10 the region filter reaches lineitem only after
        the 60 M-row exchange+sort (2.4 GB spill); the reduction semi-joins
        lineitem with supplier⋉(nation⋉σ(region)) at the scan — a broadcast
        hash semi per fact, cutting the shuffle ~5×. This is the runtime
        analog of CBO join reordering, which Spark only does with ANALYZE
        stats that in-memory DataFrames never have; DuckDB's optimizer does
        the equivalent reorder from its own stats.

        Soundness: for inner joins, a semi join on a SUBSET of the query's
        own conjuncts (dimension local predicates + equi edges) only
        removes fact rows that could never find a join partner — the full
        conjunct set is still applied downstream, unchanged. The pass
        therefore bails on: non-inner join trees (NULL-extension would
        change), conjuncts containing subqueries or nondeterministic
        functions (double evaluation would diverge), ambiguous column
        sides, same-table edges (trivial self-semi), and CTE-backed
        dimensions (a nondeterministic CTE plan re-executes independently
        in the reducer and the main join). Registered tables are assumed
        deterministic — the standard table contract.

        Size gates (Catalyst plan-time estimates): facts ≥
        _SEMIJOIN_FACT_MIN (64 MB) get reducers from dimension chains
        whose every member is ≤ _SEMIJOIN_DIM_MAX (32 MB) and whose chain
        carries at least one literal predicate. Below the gate (test
        scale) the pass is a no-op, so small queries pay nothing.
        SPARK_GRAFT_SEMIJOIN_REDUCTION=0 disables it, =1 skips both size
        gates (the forced-gate oracle sweep runs it).

        Returns {id(TableRef ast): [(pairs, reduced_dim_df)]} where pairs
        are (fact_col, dim_col) true names; applied in _compile_relation.
        """
        if self.opts.semijoin_reduction is False:
            return {}
        if self.opts.semijoin_reduction is True:
            fact_min, dim_max = 0, float("inf")
        else:
            fact_min, dim_max = self._SEMIJOIN_FACT_MIN, self._SEMIJOIN_DIM_MAX

        base: list[tuple[ast.TableRef, DataFrame, bool]] = []
        conj_pool: list[ast.Expr] = []

        def flatten(rel: ast.Relation, acc_rels: list, acc_conj: list) -> bool:
            if isinstance(rel, ast.TableRef):
                df = self._cte_frames.get(rel.name.lower())
                is_cte = df is not None
                if df is None:
                    try:
                        df = self.catalog.get(rel.name).df
                    except Exception:
                        return False
                acc_rels.append((rel, df, is_cte))
                return True
            if isinstance(rel, ast.Join):
                if rel.kind == "cross":
                    return (flatten(rel.left, acc_rels, acc_conj)
                            and flatten(rel.right, acc_rels, acc_conj))
                if rel.kind != "inner":
                    return False
                if not (flatten(rel.left, acc_rels, acc_conj)
                        and flatten(rel.right, acc_rels, acc_conj)):
                    return False
                acc_conj.extend(self._split_conjuncts(rel.condition))
                return True
            return False

        for rel_ast in node.relations:
            rels: list = []
            conj: list = []
            if flatten(rel_ast, rels, conj):
                base.extend(rels)
                conj_pool.extend(conj)
        if len(base) < 2:
            return {}
        if node.where is not None:
            conj_pool.extend(self._split_conjuncts(node.where))
        conj_pool = [c for c in conj_pool
                     if not self._contains_any_subquery(c)
                     and not self._contains_nondeterministic(c)]

        infos: list[RelationInfo] = []
        scopes: list[Scope] = []
        for rel, df, _is_cte in base:
            q = f"__sred_{next(self._rel_counter)}"
            info = RelationInfo(qualifier=q,
                                display=rel.alias or rel.name,
                                columns=list(df.columns))
            infos.append(info)
            scopes.append(Scope([info]))

        local_preds: list[list[ast.Expr]] = [[] for _ in base]
        from collections import defaultdict
        edges: dict[tuple[int, int], list[tuple[str, str]]] = defaultdict(list)
        for c in conj_pool:
            owners = [i for i in range(len(base))
                      if self._resolves_in(c, scopes[i])]
            if len(owners) == 1:
                local_preds[owners[0]].append(c)
                continue
            if owners:
                continue  # resolves in several relations alone — ambiguous
            if not (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)):
                continue
            sides = []
            for side in (c.left, c.right):
                side_owner = [i for i in range(len(base))
                              if self._resolves_in(side, scopes[i])]
                if len(side_owner) != 1:
                    sides = None
                    break
                sides.append((side_owner[0],
                              scopes[side_owner[0]].resolve(
                                  side.name, side.table)[1]))
            if not sides or sides[0][0] == sides[1][0]:
                continue
            (i, ci), (j, cj) = sides
            edges[(i, j)].append((ci, cj))
            edges[(j, i)].append((cj, ci))

        if not edges:
            return {}

        def size_of(df: DataFrame) -> int:
            try:
                return int(str(df._jdf.queryExecution().optimizedPlan()
                               .stats().sizeInBytes()))
            except Exception:
                return 1 << 62
        sizes = [size_of(df) for _, df, _ in base]

        def build_reducer(
            j: int, visited: frozenset[int], depth: int = 0
        ) -> tuple[DataFrame | None, bool]:
            """Dimension j filtered by its local predicates and recursively
            by its own small filtered neighbors (chain depth ≤ 3 — star
            schemas are shallow; deeper chains only bloat the plan).
            Second element: does the chain carry any predicate (else
            reduction buys nothing)."""
            _, jdf, _ = base[j]
            df = jdf.alias(infos[j].qualifier)
            has_filter = bool(local_preds[j])
            for p in local_preds[j]:
                df = df.filter(self.compile_expr(p, scopes[j]))
            if depth >= 3:
                return (df, has_filter) if has_filter else (None, False)
            for k in range(len(base)):
                pairs = edges.get((j, k))
                if not pairs or k in visited or sizes[k] > dim_max \
                        or base[k][2]:
                    # CTE-backed dims are excluded: a nondeterministic CTE
                    # plan re-executes independently in the reducer and the
                    # main join, which could diverge
                    continue
                if base[j][0].name.lower() == base[k][0].name.lower():
                    continue
                sub, sub_filtered = build_reducer(k, visited | {k}, depth + 1)
                if sub is None or not sub_filtered:
                    continue
                keep = list(dict.fromkeys(ck for _cj, ck in pairs))
                sub_sel = sub.select(*keep)
                cond: Column | None = None
                for cjn, ckn in pairs:
                    piece = df[cjn] == sub_sel[ckn]
                    cond = piece if cond is None else (cond & piece)
                df = df.join(F.broadcast(sub_sel), cond, "left_semi")
                has_filter = True
            return df, has_filter

        plan: dict[int, list[tuple[list[tuple[str, str]], DataFrame]]] = {}
        for i in range(len(base)):
            if sizes[i] < fact_min:
                continue
            reducers = []
            for j in range(len(base)):
                pairs = edges.get((i, j))
                if not pairs or sizes[j] > dim_max or base[j][2]:
                    continue
                if base[i][0].name.lower() == base[j][0].name.lower():
                    continue
                red, has_filter = build_reducer(j, frozenset({i, j}))
                if red is None or not has_filter:
                    continue
                keep = list(dict.fromkeys(cj for _ci, cj in pairs))
                reducers.append((pairs, red.select(*keep)))
            if reducers:
                plan[id(base[i][0])] = reducers
        return plan

    def _apply_semi_reduction(self, rel: ast.Relation,
                              df: DataFrame) -> DataFrame:
        for pairs, red in self._semi_plan.get(id(rel), []):
            cond: Column | None = None
            for fc, dc in pairs:
                piece = df[fc] == red[dc]
                cond = piece if cond is None else (cond & piece)
            df = df.join(F.broadcast(red), cond, "left_semi")
        return df

    # -------------------------------------------------------------- FROM/join

    def _compile_relation(
        self, rel: ast.Relation, existing: list[RelationInfo]
    ) -> tuple[DataFrame, list[RelationInfo]]:
        if isinstance(rel, ast.TableRef):
            cte = self._cte_frames.get(rel.name.lower())
            if cte is not None:
                display = rel.alias or rel.name
                # relation info is built from the ORIGINAL frame so the
                # attached scalar columns stay invisible to * expansion
                # and name resolution; they ride the frame into the join
                # and drop at the final projection
                info = self._make_rel_info(display, cte, existing)
                frame = cte
                attached = self._cte_attach.pop(rel.name.lower(), ())
                if attached:
                    # scalar totals merge as ONE aggregate over the CTE
                    # frame, broadcast-cross-joined back — partials merge
                    # in parallel (the pre-r9 unpartitioned-window form
                    # funneled every CTE row through one task). The frame
                    # is lazily localCheckpoint-ed first: the outer join
                    # pushes its own predicates (isnotnull on the join
                    # key) into only ITS branch, which breaks AQE
                    # exchange-reuse canonical matching, so without the
                    # checkpoint the CTE subtree executes twice. The
                    # checkpoint pins one shared materialization of the
                    # group-reduced (bounded) frame; lineage truncation
                    # costs nothing because the frame is already an
                    # aggregate output no filter could push into.
                    # Fault-tolerance tradeoff (deliberate): localCheckpoint
                    # stores blocks on executor-local storage, so losing an
                    # executor mid-query FAILS the query instead of
                    # recomputing from lineage, and the blocks are reclaimed
                    # by the ContextCleaner rather than at stage end. For a
                    # single interactive query over a group-reduced frame
                    # this is the right price for halving the CTE subtree's
                    # execution; a persist(MEMORY_AND_DISK) would keep
                    # lineage but NOT restore AQE exchange reuse here
                    # (canonical-plan mismatch is below the persist point).
                    # SPARK_GRAFT_PIN_MODE=persist opts into that contract
                    # (see _pin).
                    base = self._pin(cte)
                    totals = base.agg(*[c.alias(t) for t, c in attached])
                    frame = base.crossJoin(F.broadcast(totals))
                reduced = self._apply_semi_reduction(rel, frame)
                return reduced.alias(info.qualifier), [info]
            entry = self.catalog.get(rel.name)
            display = rel.alias or entry.name
            info = self._make_rel_info(display, entry.df, existing)
            info.base_df = entry.df
            reduced = self._apply_semi_reduction(rel, entry.df)
            return reduced.alias(info.qualifier), [info]
        if isinstance(rel, ast.SubqueryRef):
            inner = self.compile(rel.query)
            if rel.columns is not None:
                if len(rel.columns) != len(inner.columns):
                    raise InvalidQueryException(
                        f"column alias list has {len(rel.columns)} names "
                        f"but the derived table has {len(inner.columns)} "
                        f"columns")
                inner = inner.toDF(*rel.columns)
            info = self._make_rel_info(rel.alias, inner, existing)
            return inner.alias(info.qualifier), [info]
        if isinstance(rel, ast.ValuesRef):
            # inline constants: one 1-row source exploding an array of
            # structs — a single local plan node, no per-row unions
            width = len(rel.rows[0])
            names = rel.columns or [f"col{i}" for i in range(width)]
            if len(names) != width or any(len(r) != width for r in rel.rows):
                raise InvalidQueryException(
                    "VALUES rows/alias list must all have the same width")
            empty = Scope([])
            structs = [
                F.struct(*[self.compile_expr(cell, empty).alias(names[i])
                           for i, cell in enumerate(row)])
                for row in rel.rows
            ]
            inner = (self.spark.range(1)
                     .select(F.explode(F.array(*structs)).alias("__v"))
                     .select("__v.*"))
            info = self._make_rel_info(rel.alias, inner, existing)
            return inner.alias(info.qualifier), [info]
        if isinstance(rel, ast.TableFuncRef):
            if rel.name == "broadcast":
                # explicit broadcast hint: FROM a JOIN broadcast(b) ON …
                # (AQE converts joins at runtime by measured size; the hint
                # is for when the author knows the side is small — e.g. a
                # pre-filtered dim — before any stats exist)
                if len(rel.args) != 1 or not isinstance(
                        rel.args[0], ast.ColumnRef) \
                        or rel.args[0].table is not None:
                    raise InvalidQueryException(
                        "broadcast() in FROM takes a single table name")
                tname = rel.args[0].name
                cte = self._cte_frames.get(tname.lower())
                inner = cte if cte is not None else self.catalog.get(tname).df
                display = rel.alias or tname
                info = self._make_rel_info(display, inner, existing)
                return F.broadcast(inner.alias(info.qualifier)), [info]
            df = self._compile_table_func(rel)
            display = rel.alias or rel.name
            info = self._make_rel_info(display, df, existing)
            return df.alias(info.qualifier), [info]
        if isinstance(rel, ast.PivotRef):
            return self._compile_pivot(rel, existing)
        if isinstance(rel, ast.UnpivotRef):
            return self._compile_unpivot(rel, existing)
        if isinstance(rel, ast.Join):
            left_df, left_rels = self._compile_relation(rel.left, existing)
            right_df, right_rels = self._compile_relation(
                rel.right, existing + left_rels
            )
            combined = left_rels + right_rels
            if rel.kind == "cross":
                return left_df.crossJoin(right_df), combined
            if rel.kind in ("asof", "asof_left"):
                return self._compile_asof_join(
                    rel, left_df, left_rels, right_df, right_rels)
            scope = Scope(existing + combined)
            cond = self.compile_expr(rel.condition, scope)
            hint = self._bcast_hints.get(id(rel))
            if hint == "left":
                left_df = F.broadcast(left_df)
            elif hint == "right":
                right_df = F.broadcast(right_df)
            return left_df.join(right_df, cond, rel.kind), combined
        raise InvalidQueryException(f"Unsupported relation {type(rel).__name__}")

    _PIVOT_AGGS = {
        "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
        "count": F.count, "first": F.first, "last": F.last,
    }

    def _compile_pivot(
        self, rel: ast.PivotRef, existing: list[RelationInfo]
    ) -> tuple[DataFrame, list[RelationInfo]]:
        """SQL-standard PIVOT → ``groupBy(rest).pivot(col, values).agg(fn)``.

        The values list is REQUIRED (unlike DuckDB's dynamic ``PIVOT``
        statement): Spark's two-pass value discovery is an extra job and a
        nondeterministic column order — at scale you pivot on a known
        vocabulary. Grouping keys are every source column not referenced in
        the clause (DuckDB semantics), so the plan is one partial-agg
        shuffle regardless of value count.
        """
        src_df, src_rels = self._compile_relation(rel.source, existing)
        scope = Scope(src_rels)
        fn = self._PIVOT_AGGS.get(rel.agg_func)
        if fn is None:
            raise InvalidQueryException(
                f"PIVOT aggregate {rel.agg_func!r} not supported "
                f"(use one of {sorted(self._PIVOT_AGGS)})")
        p_rel, p_true = scope.resolve(rel.pivot_col)
        arg = self.compile_expr(rel.agg_arg, scope)

        used = {p_true.lower()}
        refs: list[ast.ColumnRef] = []
        _collect_column_refs(rel.agg_arg, refs)
        for r in refs:
            used.add(scope.resolve(r.name, r.table)[1].lower())

        vals = []
        for v in rel.values:
            if isinstance(v, ast.StringLit):
                vals.append(v.value)
            elif isinstance(v, ast.NumberLit):
                vals.append(v.value)
            else:
                raise InvalidQueryException(
                    "PIVOT IN list must contain literals")

        group_cols = [c for info in src_rels for c in info.columns
                      if c.lower() not in used]
        out = (src_df.groupBy(*[info.col(c) for info in src_rels
                                for c in info.columns
                                if c.lower() not in used])
               .pivot(p_true, vals).agg(fn(arg)))
        # restore the user-facing group column names (qualified refs would
        # otherwise leak the internal qualifier)
        out = out.toDF(*group_cols, *[str(v) for v in vals])
        display = rel.alias or "pivot"
        info = self._make_rel_info(display, out, existing)
        return out.alias(info.qualifier), [info]

    def _compile_unpivot(
        self, rel: ast.UnpivotRef, existing: list[RelationInfo]
    ) -> tuple[DataFrame, list[RelationInfo]]:
        """UNPIVOT → ``DataFrame.unpivot`` (ids/values split by the IN
        list); map-side only — each input row fans out to |IN| rows with no
        shuffle. NULL value rows drop unless INCLUDE NULLS (DuckDB
        semantics)."""
        src_df, src_rels = self._compile_relation(rel.source, existing)
        scope = Scope(src_rels)
        melt_true = [scope.resolve(c)[1] for c in rel.columns]
        melt_low = {c.lower() for c in melt_true}
        ids = [c for info in src_rels for c in info.columns
               if c.lower() not in melt_low]
        out = src_df.unpivot(
            [info.col(c) for info in src_rels for c in info.columns
             if c.lower() not in melt_low],
            [scope.resolve(c)[0].col(scope.resolve(c)[1])
             for c in rel.columns],
            rel.key_name, rel.value_name)
        out = out.toDF(*ids, rel.key_name, rel.value_name)
        if not rel.include_nulls:
            out = out.filter(F.col(rel.value_name).isNotNull())
        display = rel.alias or "unpivot"
        info = self._make_rel_info(display, out, existing)
        return out.alias(info.qualifier), [info]

    def _compile_asof_join(
        self,
        rel: ast.Join,
        left_df: DataFrame,
        left_rels: list[RelationInfo],
        right_df: DataFrame,
        right_rels: list[RelationInfo],
    ) -> tuple[DataFrame, list[RelationInfo]]:
        """ASOF JOIN (DuckDB-compatible): the ON clause must be a conjunction
        of equality predicates plus EXACTLY ONE inequality between a left and
        a right expression; each left row pairs with the single right row
        closest in the inequality's direction (``l >= r`` → latest right
        at-or-before; ``l <= r`` → earliest at-or-after; strict forms
        exclude equality). ``ASOF JOIN`` is inner (unmatched left rows drop),
        ``ASOF LEFT JOIN`` keeps them with nulls.

        Lowered to the union-and-window composition (see
        operators/temporal.py for the standalone form): ONE shuffle on the
        equality keys + a per-key sort carrying ``last(payload,
        ignorenulls)`` — never the naive join-all-candidates plan, whose
        per-key quadratic blowup is exactly what ASOF exists to avoid.
        Equal-timestamp ties among right rows resolve deterministically
        (largest hash of the right row). NULL in any key or in the
        inequality operand never matches, like a plain join.
        """
        left_scope = Scope(left_rels)
        right_scope = Scope(right_rels)

        def conjuncts(e: ast.Expr) -> list[ast.Expr]:
            if isinstance(e, ast.BinaryOp) and e.op == "and":
                return conjuncts(e.left) + conjuncts(e.right)
            return [e]

        def side_of(e: ast.Expr) -> str:
            refs: list[ast.ColumnRef] = []
            _collect_column_refs(e, refs)
            if not refs:
                raise InvalidQueryException(
                    "each ASOF JOIN condition operand must reference "
                    "exactly one side's columns")
            sides = set()
            for r in refs:
                try:
                    left_scope.resolve(r.name, r.table)
                    sides.add("l")
                except ColumnNotFoundError:
                    right_scope.resolve(r.name, r.table)
                    sides.add("r")
            if len(sides) != 1:
                raise InvalidQueryException(
                    "ASOF JOIN condition operands may not mix columns "
                    "from both sides")
            return sides.pop()

        eq_pairs: list[tuple[ast.Expr, ast.Expr]] = []   # (left, right)
        ineq: tuple[ast.Expr, ast.Expr, str] | None = None
        _MIRROR = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
        for c in conjuncts(rel.condition):
            if not isinstance(c, ast.BinaryOp) or c.op not in (
                    "=", ">=", "<=", ">", "<"):
                raise InvalidQueryException(
                    "ASOF JOIN ON clause must be a conjunction of = "
                    "predicates plus one inequality (>=, <=, >, <)")
            a_side = side_of(c.left)
            b_side = side_of(c.right)
            if a_side == b_side:
                raise InvalidQueryException(
                    "each ASOF JOIN predicate must compare a left "
                    "expression with a right expression")
            # normalize operand order to (left_expr, right_expr)
            l_e, r_e = (c.left, c.right) if a_side == "l" else (c.right, c.left)
            op = c.op if a_side == "l" else _MIRROR.get(c.op, c.op)
            if op == "=":
                eq_pairs.append((l_e, r_e))
            else:
                if ineq is not None:
                    raise InvalidQueryException(
                        "ASOF JOIN supports exactly one inequality "
                        "condition")
                ineq = (l_e, r_e, op)
        if ineq is None:
            raise InvalidQueryException(
                "ASOF JOIN requires an inequality condition (>=, <=, >, <)")

        l_ts = self.compile_expr(ineq[0], left_scope)
        r_ts = self.compile_expr(ineq[1], right_scope)
        op = ineq[2]
        backward = op in (">=", ">")
        inclusive = op in (">=", "<=")

        n = next(self._tmp_counter)
        lkeys = [self.compile_expr(e, left_scope) for e, _ in eq_pairs]
        rkeys = [self.compile_expr(e, right_scope) for _, e in eq_pairs]

        lcols = [(info, c) for info in left_rels for c in info.columns]
        rcols = [(info, c) for info in right_rels for c in info.columns]
        lrow = F.struct(*[info.col(c).alias(f"c{i}")
                          for i, (info, c) in enumerate(lcols)])
        payload = F.struct(*[info.col(c).alias(f"c{i}")
                             for i, (info, c) in enumerate(rcols)])
        lrow_t = left_df.select(lrow.alias("s")).schema["s"].dataType
        pay_t = right_df.select(payload.alias("s")).schema["s"].dataType

        # right rows with a NULL key or NULL inequality operand can never
        # match; left rows with NULLs keep (left) / drop (inner) via the
        # no-match path — the window partition would otherwise group them
        r_valid = r_ts.isNotNull()
        for k in rkeys:
            r_valid = r_valid & k.isNotNull()
        side_r = 0 if inclusive else 1
        tagged_l = left_df.select(
            *[k.alias(f"__k{i}") for i, k in enumerate(lkeys)],
            l_ts.alias("__ts"),
            F.lit(1 - side_r).alias("__side"),
            lrow.alias("__lrow"),
            F.lit(None).cast("bigint").alias("__tb"),
            F.lit(None).cast(pay_t).alias("__pay"),
        )
        tagged_r = right_df.filter(r_valid).select(
            *[k.alias(f"__k{i}") for i, k in enumerate(rkeys)],
            r_ts.alias("__ts"),
            F.lit(side_r).alias("__side"),
            F.lit(None).cast(lrow_t).alias("__lrow"),
            F.xxhash64(*[info.col(c) for info, c in rcols]).alias("__tb"),
            payload.alias("__pay"),
        )
        unioned = tagged_l.unionByName(tagged_r)

        ts_order = (F.col("__ts").asc_nulls_first() if backward
                    else F.col("__ts").desc_nulls_first())
        w = (
            Window.partitionBy(*[F.col(f"__k{i}")
                                 for i in range(len(eq_pairs))])
            .orderBy(ts_order, F.col("__side").asc(),
                     F.col("__tb").asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = unioned.withColumn(
            "__m", F.last("__pay", ignorenulls=True).over(w)
        ).filter(F.col("__side") == (1 - side_r))
        if rel.kind == "asof":
            matched = matched.filter(F.col("__m").isNotNull())

        qual = f"__asof{n}"
        flat = matched.select(
            *[F.col(f"__lrow.c{i}").alias(f"a{i}")
              for i in range(len(lcols))],
            *[F.col(f"__m.c{i}").alias(f"b{i}") for i in range(len(rcols))],
        ).alias(qual)

        out_rels: list[RelationInfo] = []
        pos = {}
        for i, (info, c) in enumerate(lcols):
            pos.setdefault(id(info), {})[c.lower()] = f"a{i}"
        for i, (info, c) in enumerate(rcols):
            pos.setdefault(id(info), {})[c.lower()] = f"b{i}"
        for info in left_rels + right_rels:
            out_rels.append(_RemappedRelationInfo(
                qualifier=qual, display=info.display,
                columns=list(info.columns),
                types=dict(info.types),
                flatmap=pos[id(info)],
            ))
        return flat, out_rels

    def _compile_table_func(self, rel: ast.TableFuncRef) -> DataFrame:
        """FROM-clause table function: user-registered Python UDTF or the
        builtin ``range(end)`` / ``range(start, end [, step])``."""
        if rel.name == "range":
            vals = []
            for a in rel.args:
                if not isinstance(a, ast.NumberLit) or not isinstance(
                        a.value, int):
                    raise InvalidQueryException(
                        "range() takes integer literal arguments")
                vals.append(a.value)
            if not 1 <= len(vals) <= 3:
                raise InvalidQueryException("range() takes 1-3 arguments")
            return self.spark.range(*vals)
        fn = self.user_table_functions.get(rel.name)
        if fn is None:
            raise InvalidQueryException(
                f"Unknown table function {rel.name!r} (register it with "
                f"engine.register_table_function)")
        scope = Scope([])
        args = [self.compile_expr(a, scope) for a in rel.args]
        return fn(*args)

    def _make_rel_info(
        self, display: str, df: DataFrame, existing: list[RelationInfo]
    ) -> RelationInfo:
        qualifier = display
        taken = {r.qualifier.lower() for r in existing}
        if qualifier.lower() in taken:
            qualifier = f"{display}__{next(self._rel_counter)}"
        types = {f.name: f.dataType for f in df.schema.fields}
        return RelationInfo(
            qualifier=qualifier, display=display,
            columns=list(df.columns), types=types,
        )

    # ----------------------------------------------------------------- WHERE

    def _apply_where(self, df: DataFrame, where: ast.Expr, scope: Scope,
                     select_node: "ast.SelectNode | None" = None) -> DataFrame:
        # Plain conjuncts apply BEFORE subquery joins: semi/anti joins
        # commute with left-side filters, and filtering first means the
        # joins probe the reduced outer. Catalyst reorders this anyway
        # for deterministic plans, but the EXISTS dedup-rewrite tags the
        # outer with a nondeterministic row id that BLOCKS pushdown —
        # the explicit order keeps the filter below it regardless.
        subq: list[tuple] = []
        for conjunct in self._split_conjuncts(where):
            negated = False
            node = conjunct
            while isinstance(node, ast.UnaryOp) and node.op == "not" and isinstance(
                node.operand, (ast.InSubquery, ast.ExistsSubquery)
            ):
                negated = not negated
                node = node.operand
            if isinstance(node, (ast.InSubquery, ast.ExistsSubquery)):
                subq.append((node, negated))
            else:
                if self._contains_subquery(conjunct):
                    raise InvalidQueryException(
                        "IN/EXISTS subqueries are only supported as top-level "
                        "AND-conjuncts of WHERE"
                    )
                df = df.filter(self.compile_expr(conjunct, scope))
        for node, negated in subq:
            if isinstance(node, ast.InSubquery):
                df = self._apply_in_subquery(
                    df, node, scope, negated=node.negated ^ negated,
                    outer_node=select_node,
                )
            else:
                df = self._apply_exists(
                    df, node, scope, negated=node.negated ^ negated,
                    outer_node=select_node,
                )
        return df

    def _split_conjuncts(self, expr: ast.Expr) -> list[ast.Expr]:
        if isinstance(expr, ast.BinaryOp) and expr.op == "and":
            return self._split_conjuncts(expr.left) + self._split_conjuncts(expr.right)
        return [expr]

    def _contains_subquery(self, expr: ast.Expr) -> bool:
        found = False

        def visit(e: object) -> None:
            nonlocal found
            if isinstance(e, (ast.InSubquery, ast.ExistsSubquery)):
                found = True
            for child in _children(e):
                visit(child)

        visit(expr)
        return found

    # ----------------------------------------------- correlated decorrelation

    def _resolves_in(self, expr: ast.Expr, scope: Scope) -> bool:
        """True iff every column reference in ``expr`` resolves in ``scope``
        (i.e. the conjunct is local to the subquery, not correlated)."""
        ok = True

        def visit(e: object) -> None:
            nonlocal ok
            if not ok:
                return
            if isinstance(e, ast.ColumnRef):
                try:
                    scope.resolve(e.name, e.table)
                except (ColumnNotFoundError, AmbiguousColumnException):
                    ok = False
                return
            for child in _children(e):
                visit(child)

        visit(expr)
        return ok

    def _compile_inner_from(
        self, sub: ast.SelectNode, outer_scope: Scope
    ) -> tuple[DataFrame, Scope, list[ast.Expr], list[ast.Expr]]:
        """Compile a correlated subquery's FROM + WHERE split: returns
        (inner_df filtered by local conjuncts, inner scope, local conjuncts,
        correlated conjuncts). Inner qualifiers are uniquified against the
        outer relations so self-referencing subqueries (EXISTS over the same
        table) compile unambiguously."""
        inner_df: DataFrame | None = None
        inner_rels: list[RelationInfo] = []
        for rel_ast in sub.relations:
            rdf, rinfos = self._compile_relation(
                rel_ast, list(outer_scope.relations) + inner_rels)
            inner_df = rdf if inner_df is None else inner_df.crossJoin(rdf)
            inner_rels.extend(rinfos)
        inner_scope = Scope(inner_rels)
        local: list[ast.Expr] = []
        correlated: list[ast.Expr] = []
        for conj in (self._split_conjuncts(sub.where) if sub.where is not None
                     else []):
            if self._contains_subquery(conj):
                raise InvalidQueryException(
                    "nested IN/EXISTS inside a correlated subquery is not "
                    "supported")
            (local if self._resolves_in(conj, inner_scope)
             else correlated).append(conj)
        for conj in local:
            inner_df = inner_df.filter(self.compile_expr(conj, inner_scope))
        return inner_df, inner_scope, local, correlated

    # ------------------------------------ <>-EXISTS pinned group collapse

    def _neq_exists_spec(self, sub, scope: Scope) -> "dict | None":
        """Shape analysis of one <>-correlated EXISTS body (the TPC-H q21
        member shape) for ``_try_neq_exists_collapse``:

            EXISTS (SELECT 1 FROM t WHERE t.k = outer.k
                    AND t.s <> outer.s [AND pure-inner filters])

        over a single catalog table ``t``, with one or more equi-pairs,
        exactly one ``<>`` pair and any number of filters that reference
        ``t`` alone. Returns a spec dict (``rel``, ``eq`` pairs, the
        ``neq`` pair, the ``local`` filters with qualifiers stripped, and
        the footer row count ``stats_rows``) or None when the body has
        any other shape."""
        if not isinstance(sub, ast.SelectNode) or len(sub.relations) != 1:
            return None
        rel = sub.relations[0]
        if not isinstance(rel, ast.TableRef) \
                or rel.name.lower() in self._cte_frames:
            return None
        if sub.group_by or sub.having is not None or sub.distinct \
                or sub.limit is not None or sub.offset is not None \
                or sub.group_by_all or sub.group_mode is not None \
                or sub.windows or sub.qualify is not None:
            return None
        try:
            entry = self.catalog.get(rel.name)
        except Exception:
            return None
        alias = (rel.alias or rel.name).lower()
        info = RelationInfo(qualifier="__nx_probe", display=alias,
                            columns=[f.name for f in entry.df.schema.fields],
                            types={f.name: f.dataType
                                   for f in entry.df.schema.fields})
        iscope = Scope([info])

        def inner_col(e) -> "str | None":
            """Plain inner ColumnRef → its true column name, else None."""
            if not isinstance(e, ast.ColumnRef):
                return None
            try:
                _, true = iscope.resolve(e.name, e.table)
            except (ColumnNotFoundError, AmbiguousColumnException):
                return None
            return true

        def pure_outer(e) -> bool:
            for ref in _walk_all(e):
                if not isinstance(ref, ast.ColumnRef):
                    continue
                try:
                    iscope.resolve(ref.name, ref.table)
                    return False  # inner-shadowed ref: not pure-outer
                except (ColumnNotFoundError, AmbiguousColumnException):
                    pass
                try:
                    scope.resolve(ref.name, ref.table)
                except (ColumnNotFoundError, AmbiguousColumnException):
                    return False
            return True

        eq: list[tuple[str, ast.Expr]] = []
        neq: "tuple[str, ast.Expr] | None" = None
        local: list[ast.Expr] = []
        for conj in (self._split_conjuncts(sub.where)
                     if sub.where is not None else []):
            if self._contains_subquery(conj):
                return None
            if self._resolves_in(conj, iscope):
                local.append(conj)
                continue
            if not isinstance(conj, ast.BinaryOp) \
                    or conj.op not in ("=", "!="):
                return None
            pair = None
            for a, b in ((conj.left, conj.right), (conj.right, conj.left)):
                c = inner_col(a)
                if c is not None and pure_outer(b):
                    pair = (c, b)
                    break
            if pair is None:
                return None
            if conj.op == "=":
                eq.append(pair)
            else:
                if neq is not None:
                    return None  # >1 <>-conjunct: not this rewrite
                neq = pair
        if not eq or neq is None:
            return None

        def strip(e: ast.Expr) -> ast.Expr:
            def tx(x: ast.Expr) -> ast.Expr:
                if isinstance(x, ast.ColumnRef) and x.table is not None:
                    return ast.ColumnRef(name=x.name, table=None)
                return x
            return _transform_expr(e, tx)

        return {"rel": rel, "eq": eq, "neq": neq,
                "local": [strip(c) for c in local],
                "stats_rows": float(entry.stats.rows)
                if entry.stats is not None else None}

    @staticmethod
    def _nxc_fp(e: ast.Expr) -> str:
        """Qualifier-insensitive structural fingerprint for comparing
        fact-local predicates across scopes (the outer WHERE writes
        ``l1.l_returnflag = 'R'``, the EXISTS local writes
        ``l3.l_returnflag = 'R'`` — same predicate over the same table)."""
        def tx(x: ast.Expr) -> ast.Expr:
            if isinstance(x, ast.ColumnRef):
                return ast.ColumnRef(name=x.name.lower(), table=None)
            return x
        return repr(_transform_expr(_copy_expr(e), tx))

    def _try_neq_exists_collapse(
        self, node: ast.SelectNode
    ) -> "ast.SelectNode | None":
        """Pinned GROUP COLLAPSE of the <>-correlated EXISTS family (the
        TPC-H q21 shape): EXISTS / NOT EXISTS members over the outer fact
        itself, each correlated on the fact's key(s) and a ``<>`` on one
        more fact column ``s``
        (``l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey``).
        The stock plan probes the fact with one semi/anti join per member.
        When

        * a NEGATED member's inner-local predicate set is implied by the
          outer query's own fact-local filters (q21: the NOT EXISTS is
          over ``l_returnflag = 'R'`` rows and the outer keeps exactly
          those rows), every qualifying fact row of a correlation group
          shares ONE ``s`` value — the single supplier the NOT EXISTS
          permits — so the group's qualifying rows collapse to one row
          (key, that supplier, row count) with NO loss;
        * the fact's columns are referenced outside the EXISTS conjuncts
          only through the correlation key(s), the <>-column, fact-local
          filters, and ``COUNT(*)``,

        the whole fact relation is replaced by ONE hash aggregate,
        ``groupBy(key)`` (one exchange on the key, or none on a
        key-bucketed layout), EXISTS tests become per-group aggregate
        tests, and ``COUNT(*)`` becomes ``SUM`` of the collapsed weights
        (join multiplicities against other relations scale both
        identically). The aggregate computes the outer-filter row count
        (the weight) and, per member, the min/max of the non-NULL ``s``
        values holding that member's local predicate. The pinned ``s``
        is the pin member's min when it equals its max. Every other
        member's EXISTS test asks whether its group holds a non-NULL
        ``s`` other than the pinned one, ``min <> s0 OR max <> s0``,
        with no join back to fact rows. The explicit repartition on the
        key is skipped on a key-bucketed scan.

        NULL soundness: requires (a) one POSITIVE member — a fact row
        with a NULL correlation key fails its equi-correlation, so such
        rows are dropped everywhere and the collapse may group them
        away; (b) an inner equi-join between the fact's ``s`` and
        another relation — NULL-``s`` rows are dropped by that join in
        the original plan, so the collapsed weight counts only
        non-NULL-``s`` rows. min/max ignore NULL ``s``, which can never
        satisfy ``<>``.

        Gate: footer stats certify the fact ≥ 1M rows (below that the
        stock semi/anti joins are already cheap);
        ``SPARK_GRAFT_NEQ_EXISTS_COLLAPSE=1`` forces, ``=0`` disables.
        Every shape this does not take (a lone member, no pin member, no
        ``COUNT(*)``) keeps the stock semi/anti joins. Measured sf10 and
        sf100 (interleaved): see OPTIMIZATION_r16.md.
        """
        if (self.opts.neq_exists_collapse is False or node.where is None
                or not node.relations):
            return None
        if (node.group_mode is not None or node.group_by_all
                or node.distinct or node.distinct_on
                or node.qualify is not None or node.windows):
            return None

        # ---- flatten the outer FROM: inner-join tree of base tables ----
        outer_refs: list[ast.TableRef] = []
        join_conds: list[ast.Expr] = []

        def flatten(rel: ast.Relation) -> bool:
            if isinstance(rel, ast.TableRef):
                if rel.name.lower() in self._cte_frames:
                    return False
                outer_refs.append(rel)
                return True
            if isinstance(rel, ast.Join) and rel.kind == "inner":
                if not (flatten(rel.left) and flatten(rel.right)):
                    return False
                join_conds.extend(self._split_conjuncts(rel.condition))
                return True
            return False

        for r in node.relations:
            if not flatten(r):
                return None
        if len(outer_refs) < 2:
            return None

        infos: list[tuple[ast.TableRef, RelationInfo, str]] = []
        for rel in outer_refs:
            try:
                entry = self.catalog.get(rel.name)
            except Exception:
                return None
            info = RelationInfo(
                qualifier=f"__nxcp_{next(self._rel_counter)}",
                display=(rel.alias or entry.name),
                columns=[f.name for f in entry.df.schema.fields],
                types={f.name: f.dataType for f in entry.df.schema.fields})
            infos.append((rel, info, rel.name.lower()))
        pscope = Scope([i for _, i, _ in infos])
        by_info = {id(i): (rel, tname) for rel, i, tname in infos}

        # ---- split WHERE: EXISTS members / other conjuncts ----
        members: list[tuple[dict, bool, ast.Expr]] = []  # spec, negated
        other_conj: list[ast.Expr] = []
        for conjunct in self._split_conjuncts(node.where):
            negated = False
            sub = conjunct
            while isinstance(sub, ast.UnaryOp) and sub.op == "not" \
                    and isinstance(sub.operand,
                                   (ast.InSubquery, ast.ExistsSubquery)):
                negated = not negated
                sub = sub.operand
            spec = None
            if isinstance(sub, ast.ExistsSubquery):
                try:
                    spec = self._neq_exists_spec(sub.subquery, pscope)
                except (AmbiguousColumnException, ColumnNotFoundError):
                    spec = None
            if spec is None:
                other_conj.append(conjunct)
            else:
                members.append((spec, sub.negated ^ negated, conjunct))
        if not members or not any(neg for _, neg, _ in members) \
                or not any(not neg for _, neg, _ in members):
            return None  # need ≥1 negated (pin candidate) and ≥1 positive
        if self.opts.neq_exists_collapse is not True \
                and (members[0][0]["stats_rows"] or 0) < 1_000_000:
            return None

        # ---- all members must target ONE outer self-table ref on the
        # same key columns ----
        target: ast.TableRef | None = None
        keys: list[str] = []
        sname: str | None = None
        for spec, _neg, _c in members:
            t_keys: list[str] = []
            t_target: ast.TableRef | None = None
            for c, o in spec["eq"]:
                if not isinstance(o, ast.ColumnRef):
                    return None
                try:
                    rinfo, true = pscope.resolve(o.name, o.table)
                except (AmbiguousColumnException, ColumnNotFoundError):
                    return None
                owner = by_info.get(id(rinfo))
                if owner is None or owner[1] != spec["rel"].name.lower() \
                        or true.lower() != c.lower():
                    return None
                if t_target is None:
                    t_target = owner[0]
                elif t_target is not owner[0]:
                    return None
                t_keys.append(true)
            if t_target is None:
                return None
            if target is None:
                target, keys = t_target, t_keys
            elif target is not t_target \
                    or sorted(k.lower() for k in keys) \
                    != sorted(k.lower() for k in t_keys):
                return None
            # the <>-column must be ONE column of the same fact, and the
            # outer side of the <> must be that same fact column
            so = spec["neq"][1]
            if not isinstance(so, ast.ColumnRef):
                return None
            try:
                rinfo, s_true = pscope.resolve(so.name, so.table)
            except (AmbiguousColumnException, ColumnNotFoundError):
                return None
            if by_info.get(id(rinfo), (None,))[0] is not target \
                    or s_true.lower() != spec["neq"][0].lower():
                return None
            if sname is None:
                sname = s_true
            elif sname.lower() != s_true.lower():
                return None
        if target is None or sname is None \
                or sname.lower() in (k.lower() for k in keys):
            return None
        t_idx = next(i for i, (rel, _, _) in enumerate(infos)
                     if rel is target)
        t_info = infos[t_idx][1]
        t_alias = target.alias or target.name
        fact_cols = {k.lower() for k in keys} | {sname.lower()}

        # ---- classify the remaining conjuncts ----
        def fact_refs(e: ast.Expr) -> "set[str] | None":
            """Lower-cased fact column names referenced by ``e``; None
            when any reference fails to resolve (conservative bail)."""
            out: set[str] = set()
            for x in _walk_all(e):
                if not isinstance(x, ast.ColumnRef):
                    continue
                try:
                    rinfo, true = pscope.resolve(x.name, x.table)
                except (AmbiguousColumnException, ColumnNotFoundError):
                    return None
                if rinfo is t_info:
                    out.add(true.lower())
            return out

        def resolves_fact_only(e: ast.Expr) -> bool:
            for x in _walk_all(e):
                if isinstance(x, ast.ColumnRef):
                    try:
                        rinfo, _ = pscope.resolve(x.name, x.table)
                    except (AmbiguousColumnException, ColumnNotFoundError):
                        return False
                    if rinfo is not t_info:
                        return False
            return True

        wlocal: list[ast.Expr] = []
        kept_where: list[ast.Expr] = []
        for c in other_conj:
            if self._contains_any_subquery(c) \
                    or self._contains_nondeterministic(c):
                return None
            fr = fact_refs(c)
            if fr is None:
                return None
            if not fr or fr <= fact_cols:
                kept_where.append(c)
            elif resolves_fact_only(c):
                wlocal.append(c)
            else:
                return None

        # ---- pin: a negated member whose locals the outer filters imply
        wlocal_fps = {self._nxc_fp(c) for c in wlocal}
        pin_idx = next(
            (i for i, (spec, neg, _c) in enumerate(members)
             if neg and {self._nxc_fp(lc)
                         for lc in spec["local"]} <= wlocal_fps),
            None)
        if pin_idx is None:
            return None

        # ---- the fact's s must be inner-equi-joined to another relation
        def is_s_join(c: ast.Expr) -> bool:
            if not (isinstance(c, ast.BinaryOp) and c.op == "="
                    and isinstance(c.left, ast.ColumnRef)
                    and isinstance(c.right, ast.ColumnRef)):
                return False
            sides = []
            for x in (c.left, c.right):
                try:
                    rinfo, true = pscope.resolve(x.name, x.table)
                except (AmbiguousColumnException, ColumnNotFoundError):
                    return False
                sides.append((rinfo, true.lower()))
            (la, lc_), (ra, rc_) = sides
            return ((la is t_info and lc_ == sname.lower()
                     and ra is not t_info)
                    or (ra is t_info and rc_ == sname.lower()
                        and la is not t_info))

        if not any(is_s_join(c) for c in join_conds + kept_where):
            return None

        # join ON conjuncts stay in the tree untouched — they may only
        # touch the fact through key/s columns
        for c in join_conds:
            fr = fact_refs(c)
            if fr is None or not fr <= fact_cols:
                return None

        # ---- outer expression audit: fact refs only via key/s; every
        # aggregate is a plain COUNT(*) ----
        audit_exprs: list[ast.Expr] = [i.expr for i in node.items] \
            + list(node.group_by) \
            + ([node.having] if node.having is not None else []) \
            + [o.expr for o in node.order_by]
        has_count_star = [False]

        def audit(e: object) -> bool:
            for x in _walk_all(e):
                if isinstance(x, ast.Star):
                    return False
                if isinstance(x, (ast.WindowFunc, ast.GroupTotalSubquery)):
                    return False
                if isinstance(x, ast.FuncCall) and (
                        self._is_agg_name(x.name) or x.is_star):
                    if not x.is_star or x.distinct \
                            or x.filter_where is not None:
                        return False
                    has_count_star[0] = True
                    continue
                if isinstance(x, ast.ColumnRef):
                    try:
                        rinfo, true = pscope.resolve(x.name, x.table)
                    except ColumnNotFoundError:
                        continue  # output-alias refs (ORDER BY/HAVING)
                    except AmbiguousColumnException:
                        # an error now; the collapsed fact would narrow
                        # the ref to the other relation's column
                        return False
                    if rinfo is t_info and true.lower() not in fact_cols:
                        return False
            return True

        for e in audit_exprs:
            if self._contains_any_subquery(e):
                return None
            if not audit(e):
                return None
        def has_star_agg(e: ast.Expr) -> bool:
            return any(isinstance(x, ast.FuncCall) and x.is_star
                       for x in _walk_all(e))

        for i in node.items:
            # an unaliased COUNT(*) item's output NAME would change
            # under the sum(weight) rewrite — require an explicit alias
            if i.alias is None and has_star_agg(i.expr):
                return None
        # ORDER BY resolves post-projection in this engine: a COUNT(*)
        # there must map onto a select-list output (the rewritten
        # sum(weight) column is projected away). Map exact matches to
        # the item's alias; bail on anything fancier.
        item_fp = {self._nxc_fp(i.expr): i.alias for i in node.items
                   if i.alias is not None}
        order_out: list[ast.OrderItem] = []
        for o in node.order_by:
            if has_star_agg(o.expr):
                alias = item_fp.get(self._nxc_fp(o.expr))
                if alias is None:
                    return None
                order_out.append(ast.OrderItem(
                    expr=ast.ColumnRef(name=alias, table=None),
                    ascending=o.ascending, nulls_first=o.nulls_first))
            else:
                order_out.append(ast.OrderItem(
                    expr=_copy_expr(o.expr), ascending=o.ascending,
                    nulls_first=o.nulls_first))
        if not has_count_star[0] and not node.group_by:
            return None  # nothing aggregates — collapse would change rows
        if not node.group_by and node.having is None \
                and not any(self._contains_aggregate(i.expr)
                            for i in node.items):
            return None

        # ---- build the collapsed frame ----
        saved_semi, saved_bcast = self._semi_plan, self._bcast_hints
        self._semi_plan, self._bcast_hints = {}, {}
        try:
            rdf, rinfos = self._compile_relation(target, [])
        finally:
            self._semi_plan = saved_semi
            self._bcast_hints = saved_bcast
        bscope = Scope(rinfos)

        def bcol(name: str) -> Column:
            return self.compile_expr(
                ast.ColumnRef(name=name, table=None), bscope)

        def conj_flag(conjs: list[ast.Expr]) -> Column:
            cond: Column | None = None
            for c in conjs:
                # strip the OUTER alias qualifier: wlocal conjuncts are
                # written against the outer alias (l1.*), the base scope
                # exposes the bare fact columns
                def tx(x: ast.Expr) -> ast.Expr:
                    if isinstance(x, ast.ColumnRef) and x.table is not None:
                        return ast.ColumnRef(name=x.name, table=None)
                    return x
                cc = self.compile_expr(
                    _transform_expr(_copy_expr(c), tx), bscope)
                cond = cc if cond is None else (cond & cc)
            if cond is None:
                return F.lit(1)
            return F.when(cond, F.lit(1)).otherwise(F.lit(0))

        # ONE aggregate over the key: no distinct-supplier counts needed —
        # "exactly one property-p supplier" is mn_p = mx_p (min/max ignore
        # NULL s), "some OTHER property-i supplier than s0" is
        # mn_i non-null ∧ (mn_i ≠ s0 ∨ mx_i ≠ s0). (A two-level
        # (key,s)-then-key variant was measured and REJECTED: the (key,s)
        # level barely collapses — ~55M pairs over 60M rows at sf10 — and
        # its hash tables doubled the aggregate cost. This single-level
        # form has |groups| = NDV(key).)
        n = next(self._tmp_counter)
        scol_raw = bcol(sname)
        proj_cols = [bcol(k).alias(k) for k in keys] \
            + [scol_raw.alias(sname),
               F.when(scol_raw.isNotNull() & (conj_flag(wlocal) == 1),
                      F.lit(1)).otherwise(F.lit(0)).alias("__nxc_wf")]
        for i, (spec, _neg, _c) in enumerate(members):
            proj_cols.append(conj_flag(spec["local"]).alias(f"__nxc_m{i}"))
        proj = rdf.select(*proj_cols)
        knn: Column | None = None
        for k in keys:
            piece = F.col(_bq(k)).isNotNull()
            knn = piece if knn is None else (knn & piece)
        proj = proj.filter(knn)
        tdf = self.catalog.get(target.name).df
        if not self._bucketed_on(tdf, keys):
            # near-unique keys (|groups| ≈ rows/4 here): shuffle the raw
            # rows, a map-side partial hash build buys little
            proj = proj.repartition(*[F.col(_bq(k)) for k in keys])

        scol = F.col(_bq(sname))
        aggs = [F.sum(F.col("__nxc_wf")).alias("__nxc_w")]
        for i in range(len(members)):
            mi = F.col(f"__nxc_m{i}") == 1
            aggs += [F.min(F.when(mi, scol)).alias(f"__nxc_mn{i}"),
                     F.max(F.when(mi, scol)).alias(f"__nxc_mx{i}")]
        lvl = proj.groupBy(*[F.col(_bq(k)) for k in keys]).agg(*aggs)

        s0 = F.col(f"__nxc_mn{pin_idx}")
        filt = (F.col("__nxc_w") >= 1) \
            & s0.isNotNull() & (s0 == F.col(f"__nxc_mx{pin_idx}"))
        for i, (_spec, neg, _c) in enumerate(members):
            if i == pin_idx:
                continue
            test = F.col(f"__nxc_mn{i}").isNotNull() \
                & ((F.col(f"__nxc_mn{i}") != s0)
                   | (F.col(f"__nxc_mx{i}") != s0))
            filt = filt & (~test if neg else test)
        cdf = (lvl.filter(filt)
               .select(*[F.col(_bq(k)).alias(k) for k in keys],
                       s0.alias(sname),
                       F.col("__nxc_w").alias("__nxc_w")))

        # ---- register the collapsed frame and rewrite the node ----
        cname = f"__nxc_{n}"
        self._cte_frames[cname] = cdf
        self._cte_reduced[cname] = True
        self._nxc_frames.append(cname)

        new_ref = ast.TableRef(name=cname, alias=t_alias)

        def swap(rel: ast.Relation) -> ast.Relation:
            if rel is target:
                return new_ref
            if isinstance(rel, ast.Join):
                return ast.Join(left=swap(rel.left), right=swap(rel.right),
                                kind=rel.kind, condition=rel.condition)
            return rel

        def xf_count(e: ast.Expr) -> ast.Expr:
            def rep(x: ast.Expr) -> ast.Expr:
                if isinstance(x, ast.FuncCall) and x.is_star:
                    # unqualified: __nxc_w is unique to the collapsed
                    # frame, and the aggregate-output matcher that maps
                    # HAVING/ORDER BY aggregates onto item outputs
                    # compares post-projection, where the qualifier is
                    # gone
                    return ast.FuncCall(name="sum", args=[ast.ColumnRef(
                        name="__nxc_w", table=None)])
                return x
            return _transform_expr(_copy_expr(e), rep)

        new_where: ast.Expr | None = None
        for c in kept_where:
            new_where = c if new_where is None else ast.BinaryOp(
                op="and", left=new_where, right=c)

        return ast.SelectNode(
            items=[ast.SelectItem(expr=xf_count(i.expr), alias=i.alias)
                   for i in node.items],
            relations=[swap(r) for r in node.relations],
            where=new_where,
            group_by=[_copy_expr(g) for g in node.group_by],
            having=(None if node.having is None
                    else xf_count(node.having)),
            order_by=order_out,
            limit=node.limit, offset=node.offset,
        )

    def _bucketed_on(self, df: DataFrame, keys: list[str]) -> bool:
        """True when ``df``'s physical scan already reports
        ``HashPartitioning`` on exactly ``keys`` — i.e. a bucketed table
        whose bucket columns are the correlation keys. Planning the
        physical scan of a registered frame is metadata-only (no job)."""
        try:
            part = (df._jdf.queryExecution().sparkPlan()
                    .outputPartitioning().toString())
        except Exception:
            return False
        m = re.search(r"hashpartitioning\(([^)]*)\)", part)
        if not m:
            return False
        cols = {c.strip().split("#")[0].lower()
                for c in m.group(1).split(",") if not c.strip().isdigit()}
        return cols == {k.lower() for k in keys}

    def _correlated_semi_join(
        self,
        df: DataFrame,
        sub: ast.SelectNode,
        scope: Scope,
        negated: bool,
        operand: ast.Expr | None = None,
        outer_node: "ast.SelectNode | None" = None,
    ) -> DataFrame | None:
        """Decorrelate EXISTS/IN into a distributed semi/anti hash join on
        the extracted correlation predicates — the scalable plan (a per-row
        subquery would be O(n·m); the join is one shuffle on the correlation
        keys, AQE-handled like any other join). Returns None when the
        subquery turns out to be uncorrelated (caller uses the cheaper
        marker/semi paths)."""
        if not isinstance(sub, ast.SelectNode) or not sub.relations:
            return None
        if sub.group_by or sub.having is not None or sub.distinct \
                or sub.limit is not None or sub.offset is not None:
            # aggregated/limited subqueries: only the uncorrelated path
            return None
        inner_df, inner_scope, _, correlated = \
            self._compile_inner_from(sub, scope)
        if not correlated and operand is None:
            return None
        chain = ChainScope(inner_scope, scope)
        cond: Column | None = None
        for conj in correlated:
            col = self.compile_expr(conj, chain)
            cond = col if cond is None else (cond & col)
        if operand is not None:
            if len(sub.items) != 1 or isinstance(sub.items[0].expr, ast.Star):
                raise InvalidQueryException(
                    "IN subquery must return exactly 1 column")
            sel_col = self.compile_expr(sub.items[0].expr, chain)
            op_col = self.compile_expr(operand, scope)
            eq = op_col == sel_col
            cond = eq if cond is None else (cond & eq)
        if cond is None:
            return None
        # positive IN rides the same dedup rewrite as EXISTS: the
        # membership condition joins like any other conjunct (NULL
        # operand rows never match the inner join — exactly SQL IN) and
        # the row-id dedup restores semi multiplicity. Correlated NOT IN
        # never reaches here (raised above); NOT EXISTS takes the
        # single-pass left-join branch.
        if (operand is None or not negated) \
                and self._exists_dedup_wanted(sub, outer_node):
            # EXISTS dedup rewrite (measured in BASELINE.md round 7,
            # q4 −45% at sf10): Spark can only broadcast the RIGHT side
            # of a semi/anti join, so a SMALL filtered outer probing a
            # HUGE inner (q4: 450k dated orders ⋉ 60M lineitem) always
            # shuffles the full inner. Rewritten as inner join + row-id
            # dedup, the outer becomes broadcastable and the inner pass
            # is map-only; only matched outer rows shuffle for the
            # dedup. Automatic only when the footer-stats estimator
            # CERTIFIES the outer small and the inner dominant
            # (_exists_dedup_wanted) — with a large outer the pair
            # explosion + broadcast loses to the semi join.
            # explicit broadcast: opting in asserts the (filtered) outer
            # is small; static stats can't see that through the filter
            if negated:
                # Key-set two-phase: an outer row's verdict depends only
                # on its correlation-key values, so (1) the DISTINCT
                # outer key tuples — a subset of the certified-small
                # outer — broadcast through the huge inner as a map-only
                # inner join marking the matched key set, then (2) the
                # outer anti-joins that set null-safely. Both joins
                # broadcast the small side and the inner never shuffles.
                # This replaces the r7/r8 ADVICE no-op (a broadcast hint
                # on the PRESERVED side of a left join, which Spark
                # ignores) and no row id is computed — nothing
                # nondeterministic exists to be recomputed. Positive
                # EXISTS keeps the row-id dedup (measured note below).
                key_cols: list[Column] | None = []
                seen_keys: set[tuple[int, str]] = set()
                key_owners: set[int] = set()
                owner_info: RelationInfo | None = None
                try:
                    for conj in correlated:
                        for ref in _walk_all(conj):
                            if not isinstance(ref, ast.ColumnRef):
                                continue
                            try:
                                inner_scope.resolve(ref.name, ref.table)
                                continue        # inner-side ref
                            except (ColumnNotFoundError,
                                    AmbiguousColumnException):
                                pass
                            oinfo, tn = scope.resolve(ref.name, ref.table)
                            # dedup by resolved identity (qualified and
                            # bare refs to the same attribute collapse
                            # to one key)
                            ident = (id(oinfo), tn.lower())
                            if ident in seen_keys:
                                continue
                            seen_keys.add(ident)
                            key_owners.add(id(oinfo))
                            owner_info = oinfo
                            key_cols.append(self.compile_expr(ref, scope))
                except (ColumnNotFoundError, AmbiguousColumnException):
                    key_cols = None
                if key_cols:
                    # The matched-key set is sound for any SUPERSET of
                    # the outer's key values (extra keys can only add
                    # matched entries no outer row looks up; a NULL key
                    # never matches the inner condition, so it never
                    # enters the set regardless). When every correlation
                    # key comes from ONE catalog-backed relation, derive
                    # the keys from its RAW base frame: a single-column
                    # scan + distinct, instead of re-executing the
                    # outer's whole filtered/joined subtree twice
                    # (measured on the q22 shape: the scalar-avg bind +
                    # customer scan ran once per consumer — the keys
                    # branch and the anti join).
                    if len(key_owners) == 1 and owner_info is not None \
                            and owner_info.base_df is not None:
                        keys = (owner_info.base_df
                                .alias(owner_info.qualifier)
                                .select(key_cols).distinct())
                    else:
                        keys = df.select(key_cols).distinct()
                    matched = (F.broadcast(keys)
                               .join(inner_df, cond, "inner")
                               .select(keys["*"]).distinct())
                    n_ = next(self._tmp_counter)
                    knames = [f"__ek_{n_}_{i}"
                              for i in range(len(key_cols))]
                    mt = matched.toDF(*knames)
                    acond = None
                    for c, k in zip(key_cols, knames):
                        e = c.eqNullSafe(mt[k])
                        acond = e if acond is None else (acond & e)
                    return df.join(F.broadcast(mt), acond, "left_anti")
                # defensive fall-back: un-collectable keys → plain anti
                return df.join(inner_df, cond, "left_anti")
            # positive EXISTS/IN default: inner join duplicates outer
            # rows per match; a row id (assigned ONCE in this
            # single-execution subtree — the nondeterministic id must
            # never be computed twice) dedups back to semi semantics.
            # dropDuplicates lowers to Aggregate(keys=[rid],
            # first(col)…), so Catalyst prunes the unused first()s:
            # q4's dedup carries only (rid, o_orderpriority) through
            # the exchange. Measured r13 same-session at sf10 against
            # the key-set semi: rid 1.15 s vs keyset 1.68 s (and 1.25
            # vs 1.64 on a SELECT-* outer) — fewer stages beat the
            # narrower shuffle at every width tried.
            rid = f"__exists_rid_{next(self._tmp_counter)}"
            tagged = df.withColumn(rid, F.monotonically_increasing_id())
            return (F.broadcast(tagged).join(inner_df, cond, "inner")
                    .select(tagged["*"])
                    .dropDuplicates([rid])
                    .drop(rid))
        jtype = "left_anti" if negated else "left_semi"
        reduced = self._maybe_reduce_semi_build(
            sub, inner_df, inner_scope, correlated, operand)
        if reduced is not None:
            return df.join(F.broadcast(reduced), cond, jtype)
        return df.join(inner_df, cond, jtype)

    # build-side keyset reduction: certified distinct-key-set byte cap
    # (broadcast is explicit, so stay comfortably under the 64MB AQE
    # ceiling); the flat per-key width is only the FALLBACK when the
    # parquet footer has no measured width for a key column
    _SEMI_BUILD_CAP = 32 << 20
    _SEMI_BUILD_KEY_BYTES = 24.0
    _SEMI_BUILD_MIN_ROWS = 4_000_000

    def _maybe_reduce_semi_build(
        self, sub: ast.SelectNode, inner_df: DataFrame,
        inner_scope: Scope, correlated: list, operand: ast.Expr | None,
    ) -> DataFrame | None:
        """Build-side keyset reduction for correlated semi/anti joins
        (r13, the q22 exchange audit): a semi/anti probe's verdict
        depends only on the inner columns the join condition references,
        so the build side can ALWAYS be projected to those columns and
        distinct'd — semantically free for LeftSemi/LeftAnti. When the
        footer-stats estimator certifies the distinct key set small
        (Π ndv(ref'd cols) × 24B ≤ 32MB) and the inner big enough that
        Spark wouldn't broadcast it as-is (rows ≥ 4M), the reduction
        turns a two-sided SortMergeJoin into a broadcast hash anti/semi:
        neither the probe nor the raw inner shuffles, only the small
        distinct key set does (q22 at sf10: customer 1.5M + orders 15M
        wide exchanges + sorts → one ~1M-key exchange + broadcast).
        ``SPARK_GRAFT_SEMI_BUILD_KEYSET=0`` disables, ``=1`` forces
        (skips the stats gate; the forced-gate oracle sweep runs it).
        Returns the reduced build frame, or None to keep the stock join.
        """
        if self.opts.semi_build_keyset is False:
            return None
        # the inner columns cond references: correlation conjuncts'
        # inner-side refs, plus (for IN) the selected item — all inner
        roots: list[ast.Expr] = list(correlated)
        if operand is not None and sub.items \
                and not isinstance(sub.items[0].expr, ast.Star):
            roots.append(sub.items[0].expr)
        cols: list[Column] = []
        owners: list[tuple[str, str]] = []   # (display.lower, col.lower)
        seen: set[tuple[int, str]] = set()
        for conj in roots:
            for ref in _walk_all(conj):
                if not isinstance(ref, ast.ColumnRef):
                    continue
                try:
                    oinfo, true_name = inner_scope.resolve(
                        ref.name, ref.table)
                except (ColumnNotFoundError, AmbiguousColumnException):
                    continue                 # outer-side ref
                # dedup by RESOLVED identity, not ref text: `l.l_suppkey`
                # and bare `l_suppkey` are the same attribute and must
                # project once (duplicate attributes in the reduced build
                # frame trip ambiguous-reference resolution downstream)
                ident = (id(oinfo), true_name.lower())
                if ident in seen:
                    continue
                seen.add(ident)
                owners.append((oinfo.display.lower(), true_name.lower()))
                cols.append(self.compile_expr(ref, inner_scope))
        if not cols:
            return None
        if self.opts.semi_build_keyset is not True:
            if self.opts.stats_broadcast is False:
                return None
            # certification: every inner relation a stats-backed catalog
            # table (no CTEs/derived), the raw inner ≥ 4M rows, and the
            # key-set estimate under the cap
            by_display: dict[str, str] = {}
            for rel in sub.relations:
                if not isinstance(rel, ast.TableRef) \
                        or rel.name.lower() in self._cte_frames:
                    return None
                by_display[(rel.alias or rel.name).lower()] = rel.name
            try:
                inner_rows = 0.0
                for rel in sub.relations:
                    st = self.catalog.get(rel.name).stats
                    if st is None:
                        return None
                    inner_rows = max(inner_rows, float(st.rows))
                if inner_rows < self._SEMI_BUILD_MIN_ROWS:
                    return None
                prod = 1.0
                row_width = 16.0        # per-row broadcast overhead
                for disp, cname in owners:
                    tname = by_display.get(disp)
                    if tname is None:
                        return None
                    st = self.catalog.get(tname).stats
                    n = (st.ndv or {}).get(cname) if st is not None \
                        else None
                    if not n:
                        return None
                    prod *= float(n)
                    # honest per-column width from the parquet footer —
                    # a flat constant undercounts wide string keys
                    # (~200B URLs at 1.4M ndv would certify under the
                    # cap while the materialized broadcast is 10x the
                    # estimate); fall back to the constant only when
                    # footer widths are unavailable (non-parquet source)
                    w = (st.col_bytes or {}).get(cname) \
                        if st is not None else None
                    row_width += max(float(w), 8.0) if w \
                        else self._SEMI_BUILD_KEY_BYTES
                keyset = min(prod, inner_rows)
                if keyset * row_width > self._SEMI_BUILD_CAP:
                    return None
                # multiplicity gate (measured r13 on q22): the distinct
                # is an extra two-phase aggregate whose map side only
                # pays off when each task sees many duplicate keys —
                # per-task multiplicity ≈ rows/ndv/shufflePartitions.
                # q22's orders⋉̸customer (multiplicity 15, 32 tasks →
                # per-task < 1) measured WORSE reduced than the stock
                # SortMergeJoin (1.73 vs 1.25 s at sf10): the partial
                # distinct barely reduced the exchange while the 1M-key
                # broadcast build added cost. Require per-task
                # multiplicity ≥ 4 so the map-side distinct provably
                # collapses the exchange before we pay the broadcast.
                try:
                    parts = int(self.spark.conf.get(
                        "spark.sql.shuffle.partitions", "200"))
                except Exception:
                    parts = 200
                if inner_rows < 4.0 * parts * keyset:
                    return None
            except Exception:
                return None
        return inner_df.select(cols).distinct()

    # outer-side byte cap for the automatic EXISTS dedup rewrite: the
    # rewrite broadcasts the tagged outer explicitly, so the certified
    # estimate must be comfortably below the session's 64MB AQE ceiling
    _EXISTS_DEDUP_CAP = 32 << 20
    _EXISTS_DEDUP_INNER_FACTOR = 8.0

    def _exists_dedup_wanted(self, sub: ast.SelectNode,
                             outer_node: "ast.SelectNode | None") -> bool:
        """Gate for the EXISTS dedup rewrite (see the branch below).
        ``SPARK_GRAFT_EXISTS_DEDUP_REWRITE=1`` forces on, ``=0`` forces
        off; unset → automatic, using the footer-stats estimator: the
        outer's FROM+WHERE estimate must certify ≤32MB (it will be
        broadcast explicitly) and the inner's RAW base must dominate it
        ≥8× (else the plain semi join is already the right plan). With
        no stats or an unestimatable shape the answer is no — exactly
        the conservatism that kept this opt-in before the estimator
        existed."""
        if self.opts.exists_dedup_rewrite is not None:
            return self.opts.exists_dedup_rewrite
        if outer_node is None or self.opts.stats_broadcast is False:
            return False
        # automatic mode only trusts SINGLE-base-relation outers: their
        # row counts are exact and their widths honest. A joined outer's
        # PK-FK estimate misprices the broadcast (q21's 3-way outer at
        # sf0.1: certified under the cap, measured +26% — two stacked
        # EXISTS each re-broadcast the widening join), while q4's
        # single-table outer wins at every scale (−26% sf0.1, −59% sf10)
        if len(outer_node.relations) != 1 or not isinstance(
                outer_node.relations[0], ast.TableRef):
            return False
        try:
            from sql_to_ibis_spark.plans.estimator import (
                CardinalityEstimator)
            est = CardinalityEstimator(self.catalog, set(self._cte_frames))
            outer = est.estimate_output(outer_node)
            if outer is None:
                return False
            rows, width = outer
            # the correlation keys ride along but are not counted by
            # the exported-width pass — double the width to cover them
            if rows * width * 2 > self._EXISTS_DEDUP_CAP:
                return False
            inner_raw = 0.0
            for rel in sub.relations:
                if not isinstance(rel, ast.TableRef) \
                        or rel.name.lower() in self._cte_frames:
                    return False
                entry = self.catalog.get(rel.name)
                if entry.stats is None:
                    return False
                inner_raw = max(inner_raw, float(entry.stats.rows))
            return inner_raw >= self._EXISTS_DEDUP_INNER_FACTOR * max(
                rows, 1.0)
        except Exception:
            return False

    def _is_correlated(self, sub, scope: Scope) -> bool:
        if not isinstance(sub, ast.SelectNode) or not sub.relations \
                or sub.where is None:
            return False
        try:
            _, _, _, correlated = self._compile_inner_from(sub, scope)
        except InvalidQueryException:
            return False
        return bool(correlated)

    def _apply_in_subquery(
        self, df: DataFrame, node: ast.InSubquery, scope: Scope,
        negated: bool, outer_node: "ast.SelectNode | None" = None
    ) -> DataFrame:
        """Apply one WHERE-conjunct ``x [NOT] IN (subquery)`` to ``df``.

        Correlated subqueries decorrelate to semi/anti joins (NOT IN via
        the NULL-aware NOT EXISTS form). Uncorrelated IN is a left-semi
        join against the subquery's one column; NOT IN is an anti join
        plus a broadcast count row that restores SQL's NULL semantics.
        The predicate is always applied here, never skipped."""
        if self._is_correlated(node.subquery, scope):
            if negated:
                # Correlated NOT IN / <>-ALL in WHERE-conjunct position:
                # exact under WHERE's UNKNOWN≡FALSE —
                #   x NOT IN (SELECT e FROM … WHERE c)
                #   ≡ NOT EXISTS (SELECT 1 FROM … WHERE c AND
                #                 (x = e OR x IS NULL OR e IS NULL))
                # (empty set → TRUE even for NULL x; a NULL x or any NULL
                # e with a non-empty set makes the EXISTS fire, so the
                # row drops — the three-valued cases a plain anti join
                # can't express). Only this WHERE path uses the rewrite;
                # expression position keeps NULL-producing semantics and
                # compiles elsewhere.
                sub = node.subquery
                if isinstance(sub, ast.SelectNode) and len(sub.items) == 1 \
                        and not isinstance(sub.items[0].expr, ast.Star) \
                        and not sub.group_by and sub.having is None \
                        and not sub.distinct and sub.limit is None \
                        and sub.offset is None and not sub.group_by_all \
                        and sub.group_mode is None:
                    item = sub.items[0].expr
                    match = ast.BinaryOp(
                        op="or",
                        left=ast.BinaryOp(op="or",
                                          left=ast.BinaryOp(
                                              op="=", left=node.operand,
                                              right=item),
                                          right=ast.IsNull(
                                              operand=node.operand)),
                        right=ast.IsNull(operand=item))
                    new_where = match if sub.where is None else \
                        ast.BinaryOp(op="and", left=sub.where, right=match)
                    ex_sub = ast.SelectNode(
                        items=[ast.SelectItem(
                            expr=ast.NumberLit(value=1))],
                        relations=sub.relations, where=new_where)
                    return self._apply_exists(
                        df, ast.ExistsSubquery(subquery=ex_sub),
                        scope, negated=True, outer_node=outer_node)
                raise InvalidQueryException(
                    "correlated NOT IN is only supported for a plain "
                    "single-column subquery — rewrite as NOT EXISTS")
            out = self._correlated_semi_join(
                df, node.subquery, scope, negated, operand=node.operand,
                outer_node=outer_node)
            if out is not None:
                return out
        sub = self.compile(node.subquery)
        if len(sub.columns) != 1:
            # parity: reference raises when IN-subquery has >1 column
            # (parsing/transformers.py:716-729)
            raise InvalidQueryException(
                f"IN subquery must return exactly 1 column, got {len(sub.columns)}"
            )
        tag = f"__in_{next(self._tmp_counter)}"
        sub = sub.select(F.col(_bq(sub.columns[0])).alias(tag))
        operand = self.compile_expr(node.operand, scope)
        if not negated:
            # left-semi join: the scalable membership primitive; NULL operand
            # rows never match — exactly SQL IN semantics.
            return df.join(sub, operand == F.col(tag), "left_semi")
        # NOT IN with full SQL NULL semantics, fully distributed:
        #   x NOT IN S  ⇔  S empty  OR  (x IS NOT NULL AND S has no NULLs
        #                                AND no match)
        n_col, nn_col = f"{tag}_n", f"{tag}_nn"
        stats = sub.agg(
            F.count(F.lit(1)).alias(n_col), F.count(F.col(tag)).alias(nn_col)
        )
        out = df.join(sub, operand == F.col(tag), "left_anti")
        out = out.crossJoin(F.broadcast(stats))
        out = out.filter(
            (F.col(n_col) == 0)
            | (operand.isNotNull() & (F.col(n_col) == F.col(nn_col)))
        )
        return out.drop(n_col, nn_col)

    def _apply_exists(
        self, df: DataFrame, node: ast.ExistsSubquery, scope: Scope,
        negated: bool, outer_node: "ast.SelectNode | None" = None
    ) -> DataFrame:
        if self._is_correlated(node.subquery, scope):
            out = self._correlated_semi_join(
                df, node.subquery, scope, negated, outer_node=outer_node)
            if out is not None:
                return out
        # Uncorrelated EXISTS: broadcast a 0/1-row marker, left-join, filter.
        sub = self.compile(node.subquery)
        tag = f"__exists_{next(self._tmp_counter)}"
        marker = sub.limit(1).select(F.lit(1).alias(tag))
        out = df.join(F.broadcast(marker), F.lit(True), "left")
        cond = F.col(tag).isNull() if negated else F.col(tag).isNotNull()
        return out.filter(cond).drop(tag)

    # ------------------------------------------------------------ projection

    def _expand_star(
        self, star: ast.Star, scope: Scope
    ) -> list[tuple[Column, str]]:
        """Expand ``*`` / ``table.*`` with the reference's duplicate-column
        renaming: when >1 relation is in scope, columns whose name appears in
        more than one relation are output as ``<table_or_alias>.<col>``
        (sql/sql_value_objects.py:430-443)."""
        if not scope.relations:
            raise InvalidQueryException("SELECT * requires a FROM clause")
        dups = scope.duplicated_names() if len(scope.relations) > 1 else set()
        rels = scope.relations
        if star.table is not None:
            qlow = star.table.lower()
            rels = [r for r in scope.relations
                    if r.display.lower() == qlow or r.qualifier.lower() == qlow]
            if not rels:
                raise ColumnNotFoundError(f"{star.table}.*")
        excluded = {e.lower() for e in (star.exclude or [])}
        out: list[tuple[Column, str]] = []
        seen: set[str] = set()
        for rel in rels:
            for col in rel.columns:
                if col.lower() in excluded:
                    seen.add(col.lower())
                    continue
                name = f"{rel.display}.{col}" if col.lower() in dups else col
                out.append((rel.col(col), name))
        missing = excluded - seen
        if missing:
            raise ColumnNotFoundError(
                ", ".join(sorted(missing)),
                known_columns=[c for r in rels for c in r.columns])
        return out

    def _select_list(
        self, node: ast.SelectNode, scope: Scope
    ) -> list[tuple[Column, str]]:
        dups = scope.duplicated_names() if len(scope.relations) > 1 else set()
        out: list[tuple[Column, str]] = []
        for item in node.items:
            if isinstance(item.expr, ast.Star):
                out.extend(self._expand_star(item.expr, scope))
                continue
            col = self.compile_expr(item.expr, scope)
            out.append((col, self._output_name(item, dups)))
        return out

    def _output_name(self, item: ast.SelectItem, dup_names: set[str]) -> str:
        if item.alias:
            return item.alias
        e = item.expr
        if isinstance(e, ast.ColumnRef):
            # query-written casing is the output name (reference relabels:
            # tests/expression_generation/test_select.py:104-111)
            if e.table is not None and e.name.lower() in dup_names:
                return f"{e.table}.{e.name}"
            return e.name
        if isinstance(e, (ast.NumberLit, ast.StringLit, ast.BoolLit, ast.NullLit)):
            return f"_literal{next(self._literal_counter)}"
        return f"_col{next(self._col_counter)}"

    # ----------------------------------------------------------- aggregation

    def _is_agg_name(self, name: str) -> bool:
        return name in AGGREGATE_FUNCTIONS or name in self.user_aggregates

    def _contains_aggregate(self, expr: object) -> bool:
        if isinstance(expr, ast.WindowFunc):
            return False  # windowed aggs are not grouping aggregates
        if isinstance(expr, ast.FuncCall) and (
            self._is_agg_name(expr.name) or expr.is_star
        ):
            return True
        return any(self._contains_aggregate(c) for c in _children(expr))

    def _canon(self, expr: ast.Expr, scope: Scope):
        """Canonical structural form of an expression for GROUP-BY-key
        matching (``GROUP BY year(o_orderdate)`` matches the same expression
        in the SELECT list, case-insensitively)."""
        if isinstance(expr, ast.ColumnRef):
            rel, true = scope.resolve(expr.name, expr.table)
            return ("col", rel.qualifier, true)
        if isinstance(expr, ast.NumberLit):
            return ("lit", expr.value)
        if isinstance(expr, ast.StringLit):
            return ("slit", expr.value)
        if isinstance(expr, ast.BoolLit):
            return ("blit", expr.value)
        if isinstance(expr, ast.NullLit):
            return ("null",)
        if isinstance(expr, ast.BinaryOp):
            return ("bin", expr.op, self._canon(expr.left, scope),
                    self._canon(expr.right, scope))
        if isinstance(expr, ast.UnaryOp):
            return ("un", expr.op, self._canon(expr.operand, scope))
        if isinstance(expr, ast.Cast):
            return ("cast", expr.type_name, self._canon(expr.operand, scope))
        if isinstance(expr, ast.FuncCall):
            return ("fn", expr.name, expr.distinct, expr.is_star,
                    tuple(self._canon(a, scope) for a in expr.args))
        if isinstance(expr, ast.Case):
            return ("case",
                    tuple((self._canon(c, scope), self._canon(v, scope))
                          for c, v in expr.whens),
                    self._canon(expr.else_, scope) if expr.else_ else None)
        if isinstance(expr, ast.IsNull):
            return ("isnull", expr.negated, self._canon(expr.operand, scope))
        if isinstance(expr, ast.Between):
            return ("between", expr.negated, self._canon(expr.operand, scope),
                    self._canon(expr.low, scope), self._canon(expr.high, scope))
        # unmatchable node kinds get identity-based keys (never equal)
        return ("opaque", id(expr))

    def _maybe_prepartition_agg(
        self, df: DataFrame, node: ast.SelectNode,
        group_by: list[ast.Expr], keys: list[dict]
    ) -> DataFrame:
        """Near-unique-key GROUP BY pre-repartition: when the group keys
        are almost one-per-row, map-side partial aggregation reduces next
        to nothing but still builds a full per-task hash map over every
        input row BEFORE the shuffle (q18's HAVING aggregate: 15M
        orderkey groups over 60M rows at sf10 — 0.94% map-side
        reduction). Repartitioning the RAW rows on the keys first moves
        the same shuffle bytes, skips the useless pre-shuffle hash
        build, and the partial+final pair runs post-shuffle inside one
        codegen stage. Measured sf10 (interleaved A/B): the q18 HAVING
        aggregate 3.46 → 2.16 s (−38%).

        Gate (static, analyze() footer stats): single-table scan, plain
        column keys, rows ≥ 4M, and Π ndv(keys) ≥ rows/8 — mean group
        size ≤ 8, so even an input CLUSTERED by the key (where map-side
        combine would achieve its full g× reduction and this rewrite
        would forgo it) caps the forgone reduction at 8× (q18's shape
        is g ≈ 4.4 — scattered keys, measured win), while the
        scattered-key case (the common one; group members spread across
        ≥ g partitions) wins outright. ``SPARK_GRAFT_PREPART_AGG=0``
        disables, ``=1`` forces (skips the static gates but still
        requires plain column keys on a single scan)."""
        if self.opts.prepart_agg is False:
            return df
        if (len(node.relations) != 1
                or not isinstance(node.relations[0], ast.TableRef)):
            return df
        if not group_by or not all(
                isinstance(g, ast.ColumnRef) for g in group_by):
            return df
        if node.relations[0].name.lower() in self._cte_frames:
            # r15: see through a WHERE-only single-table CTE (the
            # cte_chained shape — GROUP BY over a filtered base table):
            # same rewrite, rows estimated post-filter by the footer-
            # stats estimator instead of read raw from the catalog.
            # Measured sf10 (3.0M filtered rows, ~1.5M custkey groups,
            # interleaved): 0.52 → 0.42 s (−20%).
            return self._maybe_prepartition_agg_cte(
                df, node.relations[0].name.lower(), group_by, keys)
        if self.opts.prepart_agg is not True:
            try:
                entry = self.catalog.get(node.relations[0].name)
            except Exception:
                return df
            st = entry.stats
            rows = getattr(st, "rows", None) if st is not None else None
            if not rows or rows < 4_000_000 or not getattr(st, "ndv", None):
                return df
            prod = 1.0
            for g in group_by:
                n = st.ndv.get(g.name.lower())
                if not n:
                    return df
                prod *= n
            if prod < rows / 8:
                return df
        return df.repartition(*[k["col"] for k in keys])

    # post-filter row estimate floor for the CTE prepartition path: set
    # from the measured cte_chained win at 3.0M filtered rows (−20% at
    # sf10); the direct-table path keeps its 4M raw-rows gate
    _PREPART_CTE_MIN_EST_ROWS = 2_000_000

    def _maybe_prepartition_agg_cte(
        self, df: DataFrame, cname: str,
        group_by: list[ast.Expr], keys: list[dict]
    ) -> DataFrame:
        """The :meth:`_maybe_prepartition_agg` rewrite when the single
        FROM relation is a CTE: admitted only for a row-preserving
        WHERE-only single-base-table CTE whose projection passes the
        group keys through as plain columns. Rows come from the
        footer-stats estimator (post-WHERE), key NDV from the base
        table (capped at the row estimate). ``SPARK_GRAFT_PREPART_AGG``
        obeys the same 0/1 semantics (force still requires the
        structural shape — repartition on arbitrary CTEs is unsound to
        *price*, never incorrect, so force mode only skips the stats)."""
        q = self._cte_asts.get(cname)
        if q is None or self._cte_reduced.get(cname):
            return df
        if (q.group_by or q.group_mode or q.group_by_all
                or q.having is not None or q.qualify is not None
                or q.distinct or q.distinct_on
                or q.limit is not None or q.offset is not None
                or len(q.relations) != 1
                or not isinstance(q.relations[0], ast.TableRef)
                or q.relations[0].name.lower() in self._cte_frames):
            return df
        # group keys must be plain passthrough columns of the CTE
        base_cols: dict[str, str] = {}
        has_star = any(isinstance(it.expr, ast.Star) for it in q.items)
        for it in q.items:
            if isinstance(it.expr, ast.ColumnRef):
                out_name = (it.alias or it.expr.name).lower()
                base_cols[out_name] = it.expr.name.lower()
        key_base = []
        for g in group_by:
            b = base_cols.get(g.name.lower())
            if b is None and has_star:
                b = g.name.lower()
            if b is None:
                return df
            key_base.append(b)
        if self.opts.prepart_agg is not True:
            try:
                from sql_to_ibis_spark.plans.estimator import \
                    CardinalityEstimator
                est = CardinalityEstimator(
                    self.catalog, set(self._cte_frames)
                ).estimate_output(q)
            except Exception:
                return df
            if est is None:
                return df
            rows_est = est[0]
            if rows_est < self._PREPART_CTE_MIN_EST_ROWS:
                return df
            try:
                st = self.catalog.get(q.relations[0].name).stats
            except Exception:
                return df
            if st is None or not getattr(st, "ndv", None):
                return df
            prod = 1.0
            for b in key_base:
                n = st.ndv.get(b)
                if not n:
                    return df
                prod *= min(n, rows_est)
            if prod < rows_est / 8:
                return df
        return df.repartition(*[k["col"] for k in keys])

    # total-over-groups pin gate: pin (localCheckpoint) the grouped frame
    # when the base FROM tree is at least this many rows — below it, the
    # checkpoint's stage barrier + write costs more wall than the second
    # (parallel) execution of a cheap subtree saves (measured sf0.1 q11:
    # pin +0.05 s; sf10: wall-neutral with HALF the work executed)
    _TOTAL_PIN_MIN_ROWS = 4_000_000

    def _total_pin_wanted(self, node: ast.SelectNode) -> bool:
        """Whether to pin the grouped frame before attaching a
        total-over-groups scalar. ``SPARK_GRAFT_TOTAL_PIN=1`` forces,
        ``=0`` disables; unset → stats gate: pin when any base catalog
        table of the outer FROM reaches _TOTAL_PIN_MIN_ROWS (then the
        re-executed subtree is provably the bigger cost — at cluster
        scale the unpinned form runs the whole scan+join+shuffle twice,
        since AQE canonical-stage matching does not unify the two
        consumers on this Spark version)."""
        if self.opts.total_pin is not None:
            return self.opts.total_pin
        stack: list = list(node.relations)
        while stack:
            rel = stack.pop()
            if isinstance(rel, ast.Join):
                stack.extend((rel.left, rel.right))
                continue
            if not isinstance(rel, ast.TableRef) \
                    or rel.name.lower() in self._cte_frames:
                continue
            try:
                st = self.catalog.get(rel.name).stats
            except Exception:
                continue
            if st is not None and st.rows >= self._TOTAL_PIN_MIN_ROWS:
                return True
        return False

    def _compile_aggregation(
        self, df: DataFrame, node: ast.SelectNode, scope: Scope
    ) -> DataFrame:
        # ---- group keys
        # GROUP BY ordinal (GROUP BY 1, 2) resolves against the select list,
        # matching Spark's groupByOrdinal and DuckDB (a bare integer literal
        # as a group key has no other sensible meaning)
        group_by: list[ast.Expr] = []
        for g in node.group_by:
            if isinstance(g, ast.NumberLit) and isinstance(g.value, int):
                idx = g.value
                if not 1 <= idx <= len(node.items):
                    raise InvalidQueryException(
                        f"GROUP BY position {idx} is not in the select list")
                item = node.items[idx - 1]
                if isinstance(item.expr, ast.Star):
                    raise InvalidQueryException(
                        "GROUP BY ordinal cannot reference *")
                group_by.append(item.expr)
            else:
                group_by.append(g)
        keys: list[dict] = []  # {col, out, identity}
        for g in group_by:
            out_name = g.name if isinstance(g, ast.ColumnRef) else \
                f"_col{next(self._col_counter)}"
            keys.append({
                "col": self.compile_expr(g, scope),
                "out": out_name,
                "identity": self._canon(g, scope),
            })

        # Gate for the decimal-sum limb fast path (_try_split_decimal_sum).
        # Measured split at sf1: the rewrite wins −32..45% exactly when the
        # per-ROW BigDecimal update dominates — a scan-shaped input (no
        # joins) aggregated into FEW groups (global aggs, ROLLUP/CUBE
        # reporting shapes, flag/enum string keys: q1, agg_group_by,
        # group_rollup). It loses +15..65% when per-GROUP limb state and
        # decimal reconstruction dominate (numeric ID keys ≈ one group per
        # few rows: q11/q15) or when the bigger limb expression rides a
        # join-probe codegen stage (q5/q22). Hence BOTH conditions below.
        # A wrong guess moves speed ~±30%, never values — both paths are
        # exact and oracle-verified.
        def _string_key(g: ast.Expr) -> bool:
            if not isinstance(g, ast.ColumnRef):
                return False
            try:
                rel, true = scope.resolve(g.name, g.table)
            except Exception:
                return False
            return isinstance(rel.types.get(true),
                              (T.StringType, T.BooleanType))

        scan_input = (len(node.relations) == 1
                      and isinstance(node.relations[0], ast.TableRef))
        low_card_groups = scan_input and (
            not group_by
            or node.group_mode is not None
            or all(_string_key(g) for g in group_by)
        )

        def key_for(expr: ast.Expr) -> dict | None:
            try:
                identity = self._canon(expr, scope)
            except Exception:
                return None
            for k in keys:
                if k["identity"] == identity:
                    return k
            return None

        # ---- select list → (post-agg expression, output name, is_pandas)
        # (compiled column, output name, is_pandas_udaf, source FuncCall ast
        # or None) — the ast powers the grouping-sets pre-agg rewrite below
        agg_cols: list[tuple[Column, str, bool, "ast.FuncCall | None"]] = []

        def placeholder(agg_expr: ast.Expr) -> Column:
            name = f"__agg_{len(agg_cols)}"
            is_pandas = (isinstance(agg_expr, ast.FuncCall)
                         and agg_expr.name in self.user_aggregates)
            # the low-card flag is scoped to THIS aggregate's compile (a
            # nested subquery aggregation saves/restores its own)
            prev = self._agg_low_card_groups
            self._agg_low_card_groups = low_card_groups
            try:
                compiled = self.compile_expr(agg_expr, scope)
            finally:
                self._agg_low_card_groups = prev
            agg_cols.append((compiled, name, is_pandas,
                             agg_expr if isinstance(agg_expr, ast.FuncCall)
                             else None))
            return F.col(name)

        # (name, merge-aggregate Column) staged AFTER the aggregation,
        # BEFORE the HAVING filter: each total is an aggregate OVER the
        # grouped frame, attached back via a broadcast cross join of the
        # 1-row total. The earlier form was an unpartitioned window over
        # the grouped frame — an Exchange SinglePartition that funnels
        # EVERY group through one task (2M groups on the q11 shape at
        # sf10; unbounded at 100 TB). The aggregate form merges partials
        # in parallel; single-execution of the base subtree comes from
        # the stats-gated pin below (NOT from ReuseExchange — AQE does
        # not unify the two consumers on this Spark version, see
        # _try_total_over_groups).
        post_total_aggs: list[tuple[str, Column]] = []

        def lower_group_total(marker: ast.GroupTotalSubquery) -> Column:
            """Total-over-groups scalar (see _try_total_over_groups):
            each aggregate becomes a hidden per-group partial; the scalar
            is the merge re-aggregation of those partials over the
            grouped frame, broadcast back onto it."""

            def walk(e: ast.Expr) -> Column:
                if isinstance(e, ast.FuncCall) and (
                        self._is_agg_name(e.name) or e.is_star):
                    partial = placeholder(e)
                    if e.is_star or e.name == "count":
                        return F.sum(partial)
                    if e.name == "sum":
                        return F.sum(partial)
                    if e.name in ("min", "minimum"):
                        return F.min(partial)
                    return F.max(partial)
                return self._compile_expr_generic(e, walk)

            col = walk(marker.item)
            tmp = f"__gtotal_{next(self._tmp_counter)}"
            post_total_aggs.append((tmp, col))
            return F.col(tmp)

        def lower_post_agg(expr: ast.Expr) -> Column:
            """Rewrite an expression so group-key subtrees become key refs,
            aggregates become placeholder refs, and any other plain column
            raises NeedsAggOrGroup."""
            k = key_for(expr)
            if k is not None:
                return F.col(_bq(k["out"]))
            if isinstance(expr, ast.GroupTotalSubquery):
                return lower_group_total(expr)
            if isinstance(expr, ast.ScalarRef):
                # scalar-subquery value is constant per group; carry it
                # through the aggregation with FIRST
                name = f"__agg_{len(agg_cols)}"
                agg_cols.append((F.first(F.col(_bq(expr.name))), name, False,
                                 None))
                return F.col(name)
            if isinstance(expr, ast.FuncCall) and (
                self._is_agg_name(expr.name) or expr.is_star
            ):
                return placeholder(expr)
            if isinstance(expr, ast.WindowFunc):
                raise InvalidQueryException(
                    "window functions mixed with GROUP BY aggregation are not "
                    "supported"
                )
            if isinstance(expr, ast.ColumnRef):
                k = key_for(expr)
                if k is None:
                    raise NeedsAggOrGroupQueryException(expr.name)
                return F.col(_bq(k["out"]))
            return self._compile_expr_generic(expr, lower_post_agg)

        # selected: (post-agg Column or None-for-key, output name, key dict
        # or None) — select-list order throughout
        selected: list[tuple[Column | None, str, dict | None]] = []
        keys_with_out: set[int] = set()
        has_select_agg = False
        for item in node.items:
            if isinstance(item.expr, ast.Star):
                raise InvalidQueryException("SELECT * cannot be combined with "
                                            "GROUP BY / aggregates")
            k = key_for(item.expr)
            if k is not None:
                # group-key casing follows the SELECT list (reference
                # _set_casing_for_groupby_names, sql_parser.py:649-663)
                if item.alias:
                    out = item.alias
                elif isinstance(item.expr, ast.ColumnRef):
                    out = item.expr.name
                else:
                    out = self._output_name(item, set())
                # the first select item naming a key fixes the key's column
                # name in the aggregated frame; later mentions of the same
                # key re-alias from it (SELECT a, a AS a2 ... GROUP BY a)
                if id(k) not in keys_with_out:
                    k["out"] = out
                    keys_with_out.add(id(k))
                selected.append((None, out, k))
                continue
            if not self._contains_aggregate(item.expr):
                if isinstance(item.expr, ast.ColumnRef):
                    raise NeedsAggOrGroupQueryException(item.expr.name)
                raise NeedsAggOrGroupQueryException(str(type(item.expr).__name__))
            has_select_agg = True
            dups: set[str] = set()
            selected.append((lower_post_agg(item.expr),
                             self._output_name(item, dups), None))

        # ---- GROUP BY without aggregates → DISTINCT over selected keys,
        # in SELECT-list order (reference drop_duplicates over selected order)
        if not has_select_agg and node.having is None and not agg_cols \
                and node.group_mode is None:
            return df.select(
                *[k["col"].alias(out) for _, out, k in selected]
            ).distinct()

        # ---- HAVING
        having_col: Column | None = None
        if node.having is not None:
            having_col = lower_post_agg(node.having)

        # ---- build groupBy().agg()
        key_exprs = [k["col"].alias(k["out"]) for k in keys]
        if not agg_cols:
            # aggregates may be only in HAVING; need at least one agg column
            agg_cols.append((F.count(F.lit(1)), f"__agg_{len(agg_cols)}",
                             False, ast.FuncCall(name="count", is_star=True)))
        agg_exprs = [c.alias(n) for c, n, _, _ in agg_cols]
        pandas_cols = [(c, n) for c, n, p, _ in agg_cols if p]
        jvm_cols = [(c, n) for c, n, p, _ in agg_cols if not p]
        if pandas_cols and jvm_cols:
            # Spark can't mix grouped-agg pandas UDFs with JVM aggregates in
            # one agg() (INVALID_PANDAS_UDF_PLACEMENT) — split into two
            # aggregations over the same keys and join them back on the
            # keys (null-safe: NULL group keys are real groups). Costs a
            # second shuffle; documented trade for the mixed case.
            if node.group_mode is not None:
                raise InvalidQueryException(
                    "user aggregates cannot be combined with "
                    "ROLLUP/CUBE/GROUPING SETS")
            jvm_exprs = [c.alias(n) for c, n in jvm_cols]
            pd_exprs = [c.alias(n) for c, n in pandas_cols]
            if keys:
                a = df.groupBy(*key_exprs).agg(*jvm_exprs)
                rk = [k["col"].alias(f"__rk_{i}") for i, k in enumerate(keys)]
                b = df.groupBy(*rk).agg(*pd_exprs)
                cond = None
                for i, k in enumerate(keys):
                    piece = F.col(_bq(k["out"])).eqNullSafe(
                        F.col(f"__rk_{i}"))
                    cond = piece if cond is None else (cond & piece)
                agged = a.join(b, cond, "inner").drop(
                    *[f"__rk_{i}" for i in range(len(keys))])
            else:
                agged = df.agg(*jvm_exprs).crossJoin(df.agg(*pd_exprs))
            if post_total_aggs:
                if not agged.isStreaming and self._total_pin_wanted(node):
                    agged = self._pin(agged)
                totals = agged.agg(*[c.alias(t) for t, c in post_total_aggs])
                agged = agged.crossJoin(F.broadcast(totals))
            if having_col is not None:
                agged = agged.filter(having_col)
            final_mixed: list[Column] = []
            for col, out, k in selected:
                final_mixed.append(F.col(_bq(k["out"])).alias(out)
                                   if col is None else col.alias(out))
            return agged.select(*final_mixed)
        if keys and node.group_mode is not None:
            # multidimensional grouping (extension; SURVEY §2.4 "Not
            # present") — Catalyst expands these into an Expand node, one
            # pass over the data for all grouping combinations. Keys must
            # stay UNALIASED so grouping()/grouping_id() resolve against
            # them (aliases get fresh exprIds per use in PySpark 4); output
            # names are applied positionally after the agg.
            #
            # Pre-aggregation rewrite (r7): Expand replicates EVERY input
            # row once per grouping set before any aggregation — 3× the
            # 60M-row scan for ROLLUP(a, b). When every aggregate is
            # decomposable (count/sum/min/max), aggregate at the finest key
            # level FIRST (one pass, no Expand), then run the grouping-sets
            # aggregation over the tiny base with merge functions
            # (count→sum, sum→sum, min/max→min/max); grouping()/
            # grouping_id() still resolve natively. Gated to the same
            # low-cardinality key shapes as the limb path — high-card keys
            # would make the base as big as the input.
            preagg = self._plan_grouping_sets_preagg(
                df, node, keys, agg_cols, low_card_groups)
            if preagg is not None:
                df, agg_exprs = preagg
            raw_keys = [k["col"] for k in keys]
            if node.group_mode == "rollup":
                grouped = df.rollup(*raw_keys)
            elif node.group_mode == "cube":
                grouped = df.cube(*raw_keys)
            else:  # grouping_sets
                set_cols = []
                for gset in node.grouping_sets:
                    cols = []
                    for g in gset:
                        identity = self._canon(g, scope)
                        k = next(k for k in keys if k["identity"] == identity)
                        cols.append(k["col"])
                    set_cols.append(cols)
                grouped = df.groupingSets(set_cols, *raw_keys)
            agged = grouped.agg(*agg_exprs)
            agged = agged.select(
                *[agged[i].alias(keys[i]["out"]) for i in range(len(keys))],
                *[agged[i] for i in range(len(keys), len(agged.columns))],
            )
        elif keys:
            df = self._maybe_prepartition_agg(df, node, group_by, keys)
            agged = df.groupBy(*key_exprs).agg(*agg_exprs)
        else:
            agged = df.agg(*agg_exprs)
        if post_total_aggs:
            # staged pre-HAVING: the scalar total is over ALL groups,
            # independent of the HAVING filter.
            #
            # The grouped frame is PINNED before the total re-aggregation
            # (r14): on this Spark version AQE's canonical-plan stage
            # matching does NOT unify the two consumers of the same
            # DataFrame subtree (verified on a minimal groupBy→{self,
            # agg-total} repro: final adaptive plan carries two full
            # scans, zero ReusedExchange), so without the pin the whole
            # base scan+join+shuffle executed twice. localCheckpoint
            # truncates lineage at the grouped frame — bounded by group
            # count, always ≤ the base data, partition-local write, no
            # shuffle — and both consumers read the one materialization.
            # The pin is stats-gated (_total_pin_wanted): at small scale
            # the two subtree executions overlap across idle cores and
            # the checkpoint barrier costs more wall than it saves
            # (sf0.1 q11 +0.05 s); from ~4M base rows up the second
            # execution is the bigger cost at equal wall (sf10: neutral
            # wall, half the work), and at cluster scale it only grows.
            if not agged.isStreaming and self._total_pin_wanted(node):
                agged = self._pin(agged)
            totals = agged.agg(*[c.alias(t) for t, c in post_total_aggs])
            agged = agged.crossJoin(F.broadcast(totals))
        if having_col is not None:
            agged = agged.filter(having_col)

        # ---- final projection: select-list order; drops unselected keys
        # (reference sql_parser.py:461-467) and HAVING-only aggregates
        final: list[Column] = []
        for col, out, k in selected:
            if col is None:
                final.append(F.col(_bq(k["out"])).alias(out))
            else:
                final.append(col.alias(out))
        return agged.select(*final)

    # ------------------------------------------------------------- order/limit

    def _apply_distinct_on(
        self, df: DataFrame, node: ast.SelectNode, scope: Scope
    ) -> DataFrame:
        """DISTINCT ON (exprs): keep the first row per group under the
        query's ORDER BY (Postgres/DuckDB semantics) — a ``row_number``
        window, ONE shuffle on the group exprs, applied pre-projection so
        the select list may reference any FROM column. ORDER BY must
        therefore resolve against the FROM columns, not select aliases."""
        if not node.order_by:
            raise InvalidQueryException(
                "DISTINCT ON requires an ORDER BY to define which row "
                "is kept per group")
        if any(self._contains_aggregate(i.expr) for i in node.items) \
                or node.group_by or node.group_by_all:
            raise InvalidQueryException(
                "DISTINCT ON cannot be combined with aggregation")
        def _pre_projection(expr: ast.Expr) -> Column:
            # FROM columns first; a bare name may also be a select alias
            # (ORDER BY resolves post-projection everywhere else in this
            # engine, so aliases must keep working here)
            try:
                return self.compile_expr(expr, scope)
            except ColumnNotFoundError:
                if isinstance(expr, ast.ColumnRef) and expr.table is None:
                    for it in node.items:
                        if it.alias and it.alias.lower() == expr.name.lower():
                            return self.compile_expr(it.expr, scope)
                raise InvalidQueryException(
                    "DISTINCT ON ORDER BY must reference FROM-clause "
                    "columns or select aliases")

        on_cols = [_pre_projection(e) for e in node.distinct_on]
        agg = self._distinct_on_aggregate(df, node, scope, on_cols,
                                          _pre_projection)
        if agg is not None:
            return agg
        order_cols = [_directed(_pre_projection(item.expr), item)
                      for item in node.order_by]
        tag = f"__don_{next(self._tmp_counter)}"
        w = Window.partitionBy(*on_cols).orderBy(*order_cols)
        return (df.withColumn(tag, F.row_number().over(w))
                .filter(F.col(tag) == 1).drop(tag))

    def _distinct_on_aggregate(self, df, node, scope, on_cols,
                               _pre_projection):
        """Single-shuffle DISTINCT ON (r15, guide §2.3/§2.4): when the
        residual ORDER BY — after dropping keys structurally equal to a
        DISTINCT ON expr (constant within a group) — runs in ONE
        direction, the kept row is ``min_by``/``max_by`` of the whole
        row over the composite key: an aggregate whose map-side partial
        combine ships ~|groups| rows per map partition, where the
        ``row_number`` window shuffles and total-sorts EVERY input row.
        (The struct-typed buffer keeps Spark on SortAggregate, so on
        local[32] — where a shuffle is a memcpy — the win is modest:
        measured sf10 events interleaved best-of-3, 1.89/2.39/1.98 s
        window vs 1.84/2.15/1.81 s aggregate. The structural payoff is
        the exchange: |groups|·width bytes instead of |rows|·width,
        which is what survives at cluster scale where the exchange is
        the network.)

        NULL placement is preserved exactly by interleaving a
        null-rank boolean before each key field in the ordering struct
        — the boolean ranks null-key rows where the engine's NULLS
        FIRST/LAST (default LAST) would put them, and because the
        struct itself is never null, ``min_by``/``max_by`` still
        return a row for all-null groups (a bare-key ordering would
        return a null row instead). Tie groups under the residual
        ordering are implementation-pick in BOTH forms (the window's
        pick depends on partition layout), so the rewrite does not
        change any determinism contract. Returns None (caller falls
        back to the window form) when the residual ordering mixes
        ASC and DESC (one struct comparison cannot flip direction per
        field), the FROM clause has several relations (the struct
        round-trip drops per-relation aliases, breaking qualified
        select refs), or the input carries duplicate column names.
        ``SPARK_GRAFT_DISTINCT_ON_AGG=0`` always keeps the window form;
        ``=1`` skips the heap-pressure gate below."""
        if self.opts.distinct_on_agg is False or len(scope.relations) != 1:
            return None
        if len(set(c.lower() for c in df.columns)) != len(df.columns):
            return None
        try:
            on_canon = {self._canon(e, scope) for e in node.distinct_on}
            residual = [it for it in node.order_by
                        if self._canon(it.expr, scope) not in on_canon]
        except Exception:
            return None
        if not residual or len({it.ascending for it in residual}) != 1:
            return None
        if node.qualify is not None:
            return None
        # Catalyst cannot prune columns INTO the min_by/max_by struct
        # (an opaque aggregate defeats the pruning the window form gets
        # for free — guide §2.3), so ship only the columns the query
        # references: measured sf10 on events, the full-row struct
        # dragged the wide props column through the aggregate and LOST
        # to the window (1.86 → 2.5 s) until pruned here.
        refs: set[str] = set()

        def _collect(e) -> bool:
            # returns False when pruning must be abandoned: star items,
            # or subquery-typed exprs whose bodies may carry correlated
            # outer refs a _children walk does not see
            if isinstance(e, (ast.Star, ast.InSubquery, ast.ExistsSubquery,
                              ast.ScalarSubquery, ast.QuantifiedCompare,
                              ast.GroupTotalSubquery, ast.ScalarRef,
                              ast.ScalarSubqueryField)):
                return False
            if isinstance(e, ast.WindowFunc) and e.window.ref is not None:
                # named-window reference: the WINDOW clause's partition/
                # order columns are resolved later and invisible to
                # _children, so pruning here would drop them (r15
                # ADVICE) — abandon to the window fallback
                return False
            if isinstance(e, ast.ColumnRef):
                try:
                    _, true = scope.resolve(e.name, e.table)
                except Exception:
                    return False
                refs.add(true.lower())
                return True
            return all(_collect(c) for c in _children(e))

        exprs = [it.expr for it in node.items] + list(node.distinct_on) \
            + [it.expr for it in node.order_by]
        if not all(_collect(e) for e in exprs):
            return None
        keep = [c for c in df.columns if c.lower() in refs]
        if not keep:
            return None
        # Heap-pressure gate (r16, guide §5): the struct-typed buffer
        # keeps Spark on SortAggregate, whose per-task sort holds
        # ~rows/task × struct-width in execution memory WITHOUT the
        # graceful spill path the window form gets — measured at sf100
        # the aggregate arm GC-thrashes (~250 MB/task) under the default
        # 8 g heap and inverts the win until the heap is provisioned.
        # When footer stats certify the per-task buffer would exceed
        # ~half the per-task execution memory, fall back to the window
        # form (always correct, spills gracefully). Unknown stats keep
        # the aggregate (driver-scale inputs are far below the line).
        # SPARK_GRAFT_DISTINCT_ON_AGG=1 skips this gate; =0 keeps the
        # window form for every DISTINCT ON.
        try:
            rel0 = node.relations[0] if len(node.relations) == 1 else None
            st = (self.catalog.get(rel0.name).stats
                  if isinstance(rel0, ast.TableRef) else None)
        except Exception:
            st = None
        if st is not None and st.rows and self.opts.distinct_on_agg is None:
            cb = getattr(st, "col_bytes", None) or {}
            width = 16 + sum(max(cb.get(c.lower(), 0.0), 8.0) for c in keep)
            parts = max(int(self.spark.conf.get(
                "spark.sql.shuffle.partitions", "200")), 1)
            try:
                heap = float(self.spark.sparkContext._jvm.java.lang
                             .Runtime.getRuntime().maxMemory())
            except Exception:
                heap = 8.0 * (1 << 30)
            cores = max(self.spark.sparkContext.defaultParallelism, 1)
            # unified-memory fraction 0.6, half of it as the safe
            # working set for one task's aggregate buffer
            per_task_budget = heap * 0.6 / cores * 0.5
            if st.rows * width / parts > per_task_budget:
                return None
        ascending = residual[0].ascending
        fields: list[Column] = []
        for i, item in enumerate(residual):
            key = _pre_projection(item.expr)
            nulls_first = item.nulls_first \
                if item.nulls_first is not None else False
            # boolean ranks null keys exactly where the window ordering
            # would: false < true under both min and max
            if ascending:
                null_rank = key.isNotNull() if nulls_first else key.isNull()
            else:
                null_rank = key.isNull() if nulls_first else key.isNotNull()
            fields.append(null_rank.alias(f"__nr{i}"))
            fields.append(key.alias(f"__k{i}"))
        ord_col = F.struct(*fields)
        row = F.struct(*[F.col(_bq(c)).alias(c) for c in keep])
        pick = (F.min_by(row, ord_col) if ascending
                else F.max_by(row, ord_col)).alias("__row")
        out = df.groupBy(*on_cols).agg(pick).select("__row.*")
        # restore the relation alias the struct round-trip dropped, so
        # qualified select-list refs (events.user_id) keep resolving
        return out.alias(scope.relations[0].qualifier)

    def _apply_order_by(self, df: DataFrame, items: list[ast.OrderItem]) -> DataFrame:
        if not items:
            return df
        out_scope = Scope([RelationInfo(qualifier="", display="",
                                        columns=list(df.columns))])
        sort_cols = [
            _directed(self._resolve_output_expr(item.expr, df, out_scope),
                      item)
            for item in items
        ]
        return df.orderBy(*sort_cols)

    def _resolve_output_expr(
        self, expr: ast.Expr, df: DataFrame, out_scope: Scope
    ) -> Column:
        """Resolve an ORDER BY expression against the projected output
        (reference sorts post-projection: sql_parser.py:748-750)."""
        colmap = {c.lower(): c for c in df.columns}
        if isinstance(expr, ast.ColumnRef):
            candidates = []
            if expr.table is not None:
                candidates.append(f"{expr.table}.{expr.name}".lower())
            candidates.append(expr.name.lower())
            for cand in candidates:
                if cand in colmap:
                    return F.col(_bq(colmap[cand]))
            raise ColumnNotFoundError(expr.name,
                                      known_columns=list(df.columns))
        if isinstance(expr, ast.NumberLit) and isinstance(expr.value, int):
            # ORDER BY ordinal (extension)
            idx = expr.value
            if not 1 <= idx <= len(df.columns):
                raise InvalidQueryException(f"ORDER BY position {idx} out of range")
            return F.col(_bq(df.columns[idx - 1]))
        return self.compile_expr(expr, out_scope)

    def _apply_limit_offset(
        self, df: DataFrame, limit: int | None, offset: int | None
    ) -> DataFrame:
        # reference parses OFFSET but drops it (sql_parser.py:193-207) — we
        # implement it properly
        if offset is not None:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    # ------------------------------------------------------------ expressions

    def compile_expr(self, expr: ast.Expr, scope: Scope) -> Column:
        if isinstance(expr, ast.ColumnRef):
            rel, true = scope.resolve(expr.name, expr.table)
            if rel.qualifier:
                return rel.col(true)
            return F.col(_bq(true))
        return self._compile_expr_generic(
            expr, lambda e: self.compile_expr(e, scope), scope=scope
        )

    def _compile_expr_generic(self, expr, recurse, scope: Scope | None = None) -> Column:
        """Compile every node type except ColumnRef, delegating child
        compilation to ``recurse`` (normal-scope vs post-agg resolution)."""
        if isinstance(expr, ast.ScalarRef):
            return F.col(_bq(expr.name))
        if isinstance(expr, ast.NumberLit):
            return F.lit(expr.value)
        if isinstance(expr, ast.StringLit):
            return F.lit(expr.value)
        if isinstance(expr, ast.BoolLit):
            return F.lit(expr.value)
        if isinstance(expr, ast.NullLit):
            return F.lit(None)
        if isinstance(expr, ast.IntervalLit):
            value = int(expr.value) if float(expr.value).is_integer() else expr.value
            return F.expr(f"INTERVAL '{value}' {expr.unit.upper()}")
        if isinstance(expr, ast.BinaryOp):
            return self._compile_binary(expr, recurse)
        if isinstance(expr, ast.UnaryOp):
            operand = recurse(expr.operand)
            if expr.op == "not":
                return ~operand
            if expr.op == "-":
                return -operand
            return operand
        if isinstance(expr, ast.IsNull):
            col = recurse(expr.operand)
            return col.isNotNull() if expr.negated else col.isNull()
        if isinstance(expr, ast.Between):
            col = recurse(expr.operand)
            out = col.between(recurse(expr.low), recurse(expr.high))
            return ~out if expr.negated else out
        if isinstance(expr, ast.InList):
            col = recurse(expr.operand)
            out = col.isin(*[recurse(i) for i in expr.items])
            return ~out if expr.negated else out
        if isinstance(expr, ast.Like):
            return self._compile_like(expr, recurse)
        if isinstance(expr, ast.Case):
            out = None
            for cond, value in expr.whens:
                c, v = recurse(cond), recurse(value)
                out = F.when(c, v) if out is None else out.when(c, v)
            if expr.else_ is not None:
                out = out.otherwise(recurse(expr.else_))
            return out
        if isinstance(expr, ast.Cast):
            return recurse(expr.operand).cast(spark_type_for(expr.type_name))
        if isinstance(expr, ast.WindowFunc):
            return self._compile_window(expr, recurse)
        if isinstance(expr, ast.FuncCall):
            return self._compile_func(expr, recurse, scope)
        if isinstance(expr, (ast.InSubquery, ast.ExistsSubquery)):
            raise InvalidQueryException(
                "IN/EXISTS subqueries are only supported as top-level "
                "AND-conjuncts of WHERE"
            )
        raise InvalidQueryException(f"Unsupported expression {type(expr).__name__}")

    def _compile_binary(self, expr: ast.BinaryOp, recurse) -> Column:
        left, right = recurse(expr.left), recurse(expr.right)
        op = expr.op
        if op == "and":
            return left & right
        if op == "or":
            return left | right
        if op == "=":
            return left == right
        if op == "!=":
            return left != right
        if op == "<=>":
            return left.eqNullSafe(right)
        if op == "<":
            return left < right
        if op == "<=":
            return left <= right
        if op == ">":
            return left > right
        if op == ">=":
            return left >= right
        if op == "+":
            return left + right
        if op == "-":
            return left - right
        if op == "*":
            return left * right
        if op == "/":
            return left / right
        if op == "%":
            return left % right
        if op == "||":
            return F.concat(left, right)
        raise InvalidQueryException(f"Unknown operator {op!r}")

    def _compile_like(self, expr: ast.Like, recurse) -> Column:
        col = recurse(expr.operand)
        if isinstance(expr.pattern, ast.StringLit):
            pattern = expr.pattern.value
            if expr.regexp:
                out = col.rlike(pattern)
            elif expr.case_insensitive:
                out = col.ilike(pattern)
            else:
                out = col.like(pattern)
        else:
            pat = recurse(expr.pattern)
            if expr.regexp:
                out = F.rlike(col, pat)
            elif expr.case_insensitive:
                out = F.ilike(col, pat)
            else:
                out = F.like(col, pat)
        return ~out if expr.negated else out

    def _compile_func(self, expr: ast.FuncCall, recurse, scope: Scope | None) -> Column:
        name = expr.name
        if expr.is_star:
            if name != "count":
                raise InvalidQueryException(f"{name}(*) is not supported")
            # COUNT(*) (reference CountStar — sql_value_objects.py:371-374)
            if expr.filter_where is not None:
                return F.count(F.when(recurse(expr.filter_where), F.lit(1)))
            return F.count(F.lit(1))
        if expr.ignore_nulls and name not in RANKING_FUNCTIONS:
            raise InvalidQueryException(
                "IGNORE NULLS only applies to window value functions")
        if expr.filter_where is not None and name not in AGGREGATE_FUNCTIONS \
                and name not in self.user_aggregates:
            raise InvalidQueryException(
                "FILTER (WHERE ...) only applies to aggregate functions")
        if name in RANKING_FUNCTIONS:
            raise InvalidQueryException(
                f"{name}() requires an OVER(...) window clause"
            )
        if name in self.user_aggregates:
            if expr.filter_where is not None:
                # a user UDAF's NULL semantics are unknown, so the
                # mask-to-NULL trick used for built-ins could silently
                # change results — reject instead of guessing
                raise InvalidQueryException(
                    "FILTER (WHERE ...) is not supported for "
                    "user-registered aggregates")
            return self.user_aggregates[name](*[recurse(a) for a in expr.args])
        if name in self.user_functions:
            return self.user_functions[name](*[recurse(a) for a in expr.args])
        if name in AGGREGATE_FUNCTIONS:
            return self._compile_agg_call(expr, recurse, scope)
        if name in SCALAR_FUNCTIONS:
            args = [recurse(a) for a in expr.args]
            builder = SCALAR_FUNCTIONS[name]
            try:
                return builder(*args)
            except TypeError:
                # some pyspark builders need plain Python literals (e.g.
                # sha2 bits, regexp_extract idx); retry with raw values
                raw = [
                    a.value if isinstance(a, (ast.NumberLit, ast.StringLit,
                                              ast.BoolLit)) else recurse(a)
                    for a in expr.args
                ]
                return builder(*raw)
        raise InvalidQueryException(f"Unknown function {name!r}")

    def _compile_agg_call(self, expr: ast.FuncCall, recurse, scope: Scope | None) -> Column:
        name = expr.name
        if not expr.args:
            raise InvalidQueryException(f"{name}() requires an argument")
        # numeric-only guard, reference parity (transformers.py:231-237)
        if scope is not None and name in NUMERIC_ONLY_AGGREGATES:
            arg = expr.args[0]
            if isinstance(arg, ast.ColumnRef):
                rel, true = scope.resolve(arg.name, arg.table)
                dtype = rel.types.get(true)
                if isinstance(dtype, (T.StringType, T.BooleanType)):
                    raise UnsupportedColumnOperation(name.upper(), true,
                                                     dtype.simpleString())
        args = [recurse(a) for a in expr.args]
        if expr.filter_where is not None:
            # FILTER (WHERE c): aggregates skip NULL inputs, so masking
            # non-matching rows to NULL is exactly the filtered aggregate —
            # stays a single partial-aggregatable JVM expression (no
            # pre-filter subplan, no extra shuffle)
            cond = recurse(expr.filter_where)
            args = [F.when(cond, a) for a in args]
            if name in _NULL_KEEPING_AGGREGATES:
                # first/last/any_value do NOT skip NULLs by default, so the
                # mask alone would pick a masked (non-matching) row; with
                # ignorenulls=True the mask is exactly row filtering
                return _NULL_KEEPING_AGGREGATES[name](args[0])
        if name == "count" and expr.distinct:
            return F.countDistinct(*args)
        if expr.distinct:
            if name == "sum":
                return F.sum_distinct(args[0])
            raise InvalidQueryException(f"DISTINCT not supported for {name}()")
        if (name == "sum" and expr.filter_where is None and not expr.distinct
                and len(expr.args) == 1 and isinstance(expr.args[0], ast.Cast)):
            fast = self._try_split_decimal_sum(expr.args[0], recurse)
            if fast is not None:
                return fast
        return AGGREGATE_FUNCTIONS[name](*args)

    def _plan_grouping_sets_preagg(
        self, df: DataFrame, node: ast.SelectNode, keys: list[dict],
        agg_cols: list, low_card_groups: bool,
    ) -> tuple[DataFrame, list[Column]] | None:
        """Pre-aggregate rewrite for ROLLUP/CUBE/GROUPING SETS (see the
        call site for the plan-shape rationale). Returns ``(base,
        merge_exprs)`` — the finest-level aggregate and per-set merge
        expressions — or None when the shape doesn't qualify:

        * high-cardinality keys (base ≈ input, the Expand was cheaper),
        * expression group keys (the grouped frame re-binds attribute
          refs only for plain columns),
        * non-decomposable aggregates (avg/stddev/count DISTINCT/user
          UDAFs) or aggregates the compiler synthesized without an AST.

        ``SPARK_GRAFT_GROUPING_PREAGG=0`` disables the rewrite."""
        if self.opts.grouping_preagg is False:
            return None
        if not low_card_groups:
            return None
        if not all(isinstance(g, ast.ColumnRef) for g in node.group_by):
            return None
        # (kind, compiled, name): kind drives the merge function
        plan: list[tuple[str, Column, str]] = []
        for compiled, name, is_pandas, a in agg_cols:
            if is_pandas or not isinstance(a, ast.FuncCall):
                return None
            if a.name in ("grouping", "grouping_id"):
                # resolves against the grouping columns of the merge agg —
                # carried through unchanged
                plan.append(("asis", compiled, name))
                continue
            if a.distinct:
                return None
            if a.is_star or a.name == "count":
                plan.append(("count", compiled, name))
            elif a.name == "sum":
                plan.append(("sum", compiled, name))
            elif a.name in ("min", "minimum"):
                plan.append(("min", compiled, name))
            elif a.name in ("max", "maximum"):
                plan.append(("max", compiled, name))
            else:
                return None
        raw_keys = [k["col"] for k in keys]
        partial_aliases: dict[int, str] = {}
        partials: list[Column] = []
        for i, (kind, compiled, _name) in enumerate(plan):
            if kind == "asis":
                continue
            pn = f"__p_{i}"
            partial_aliases[i] = pn
            partials.append(compiled.alias(pn))
        if not partials:
            return None
        base = df.groupBy(*raw_keys).agg(*partials)
        ptypes = {f.name: f.dataType for f in base.schema.fields}
        merge_exprs: list[Column] = []
        for i, (kind, compiled, name) in enumerate(plan):
            if kind == "asis":
                merge_exprs.append(compiled.alias(name))
                continue
            pc = F.col(partial_aliases[i])
            if kind == "count":
                # counts are non-null and base groups are never empty, so
                # the merged sum is never null — count semantics preserved
                m = F.sum(pc)
            elif kind == "sum":
                # merging widens decimal precision by 10; cast back to the
                # direct result's type (the partial's own) — exact, and a
                # loud ANSI overflow matches the direct path's semantics
                m = F.sum(pc).cast(ptypes[partial_aliases[i]])
            elif kind == "min":
                m = F.min(pc)
            else:
                m = F.max(pc)
            merge_exprs.append(m.alias(name))
        return base, merge_exprs

    def _try_split_decimal_sum(self, cast_node: ast.Cast, recurse) -> Column | None:
        """Exact fast path for ``sum(CAST(x AS decimal(p≤18, s≤4)))``.

        Spark's decimal sum accumulates in decimal(p+10, s); above
        precision 18 the accumulator leaves the compact-long representation
        and every update allocates a JavaBigDecimal — measured 2× the whole
        of a TPC-H Q1-shaped aggregation at sf1/sf10. This path computes
        the unscaled value ``u = round(x·10^s)`` as a LONG, splits it into
        three 22-bit limbs, sums each limb (pure whole-stage-codegen long
        adds; limb sums stay in int64 up to ~2^41 rows per group, and ANSI
        mode throws loudly beyond), and reassembles the exact decimal total
        from the three limb sums per group — integer arithmetic end to end,
        identical values to the decimal sum.

        Unscaled-value extraction (r7): the r6 form ``round(x·10^s)``
        drifted one unscaled unit on doubles adjacent to ``.5`` rounding
        boundaries, where the double product crosses the half-integer the
        decimal cast (``BigDecimal.valueOf(x).setScale(s, HALF_UP)``)
        doesn't (131 of 3800 probed x.xx5 values at s=2). Now rows whose
        scaled value lies within an error-bound eps of a half-integer take
        a per-row decimal-cast branch (exact by construction — it IS the
        cast), everyone else keeps the cheap double round, which provably
        agrees with the cast outside eps. Real data essentially never hits
        the boundary branch, so this costs nothing at scale (A/B at sf10:
        1.00 s vs 1.01 s for the unsafe single round; the always-exact
        ``round(round(x,s)·10^s)`` alternative was 1.56 s — per-row
        BigDecimal). Pinned by the boundary fuzz in
        tests/test_property_fuzz.py.

        Exactness domain: ``|x·10^s| < 2^49`` — enforced per row by an
        in-plan ``raise_error`` so out-of-domain data fails LOUDLY rather
        than summing wrong (within 2^49, eps covers the double product's
        worst-case representation error with ≥16 ulps of slack).
        """
        if not self._agg_low_card_groups:
            # high-cardinality grouping (numeric ID keys): per-group limb
            # state + per-group decimal reconstruction outweigh the per-row
            # BigDecimal saving — keep Spark's decimal sum (see the gate in
            # _compile_aggregation for the measured split)
            return None
        dtype = spark_type_for(cast_node.type_name)
        if not isinstance(dtype, T.DecimalType):
            return None
        p, s = dtype.precision, dtype.scale
        if p > 18 or s > 4:
            return None
        d = recurse(cast_node.operand).cast("double")
        lim = F.lit(float(1 << 49) / (10 ** s))
        scaled = d * F.lit(float(10 ** s))
        dist = F.abs(scaled - F.floor(scaled) - F.lit(0.5))
        eps = F.greatest(F.lit(1e-9), F.abs(scaled) * F.lit(2.0 ** -48))
        u_raw = (
            F.when(dist < eps,
                   (d.cast(f"decimal({p},{s})") * F.lit(10 ** s))
                   .cast("long"))
            .otherwise(F.round(scaled).cast("long"))
        )
        u = (
            F.when(d.isNull(), F.lit(None).cast("long"))
            .when(F.abs(d) < lim, u_raw)
            .otherwise(F.raise_error(F.lit(
                f"sum(decimal({p},{s})) fast path: |value| outside the "
                f"exact domain 2^49/10^{s}")).cast("long"))
        )
        mask = F.lit((1 << 22) - 1)
        tot = (
            F.sum(F.shiftright(u, 44)).cast("decimal(38,0)") * F.lit(1 << 44)
            + F.sum(F.shiftright(u, 22).bitwiseAND(mask)).cast("decimal(38,0)")
              * F.lit(1 << 22)
            + F.sum(u.bitwiseAND(mask)).cast("decimal(38,0)")
        )
        if s:
            tot = tot / F.lit(10 ** s)
        return tot.cast(f"decimal({min(p + 10, 38)},{s})")

    # ---------------------------------------------------------------- windows

    def _compile_window(self, expr: ast.WindowFunc, recurse) -> Column:
        spec = expr.window
        if spec.ref is not None:
            # named window (WINDOW w AS (...)); the reference's grammar has
            # this as a non-functional stub (sql.lark:144) — done properly
            resolved = self._window_defs.get(spec.ref)
            if resolved is None:
                raise InvalidQueryException(
                    f"unknown named window {spec.ref!r} (define it in a "
                    f"WINDOW clause)"
                )
            spec = resolved
        func = expr.func
        parts = [recurse(p) for p in spec.partition_by]
        # same NULL placement as top-level ORDER BY (NULLS LAST default,
        # the convention the oracle uses; Spark's bare .asc() would be
        # NULLS FIRST) and honor explicit NULLS FIRST/LAST
        undirected: list[Column] = [recurse(item.expr) for item in spec.order_by]
        orders: list[Column] = [
            _directed(col, item) for col, item in zip(undirected, spec.order_by)
        ]

        if func.name in RANKING_FUNCTIONS:
            builder, min_a, max_a = RANKING_FUNCTIONS[func.name]
            raw_args: list = []
            for a in func.args:
                if isinstance(a, (ast.NumberLit, ast.StringLit)):
                    raw_args.append(a.value)
                else:
                    raw_args.append(recurse(a))
            if not (min_a <= len(raw_args) <= max_a):
                raise InvalidQueryException(
                    f"{func.name}() takes {min_a}-{max_a} arguments"
                )
            w = Window.partitionBy(*parts) if parts else Window.partitionBy()
            if func.name in FRAME_SENSITIVE_VALUE_FUNCTIONS:
                # first_value/last_value/nth_value evaluate over the frame
                # (default: RANGE UNBOUNDED PRECEDING..CURRENT ROW when
                # ordered — the SQL-standard "last_value needs an explicit
                # frame" behavior, matching DuckDB)
                w = self._apply_window_frame(w, spec, orders, undirected)
                if func.ignore_nulls:
                    ign = {"first_value": lambda c: F.first(c, ignorenulls=True),
                           "last_value": lambda c: F.last(c, ignorenulls=True),
                           "nth_value": lambda c, n: F.nth_value(
                               c, n, ignoreNulls=True)}[func.name]
                    return ign(*raw_args).over(w)
                return builder(*raw_args).over(w)
            if func.name in ("lag", "lead") and func.ignore_nulls:
                # Spark's lag/lead expose no ignoreNulls in the Column API;
                # offset-1 IGNORE NULLS is exactly last/first non-null over
                # the preceding/following frame, which Spark evaluates
                # natively (no extra shuffle beyond the window sort)
                offset = raw_args[1] if len(raw_args) > 1 else 1
                if isinstance(offset, Column) or offset != 1 \
                        or len(raw_args) > 2:
                    # a non-literal offset arrives as a Column; comparing it
                    # with != would yield a Column and crash the `if` —
                    # reject it with a clean error instead
                    raise InvalidQueryException(
                        f"{func.name}() IGNORE NULLS supports a literal "
                        f"offset of 1 and no default value")
                w2 = w.orderBy(*orders) if orders else w.orderBy(F.lit(1))
                if func.name == "lag":
                    w2 = w2.rowsBetween(Window.unboundedPreceding, -1)
                    return F.last(raw_args[0], ignorenulls=True).over(w2)
                w2 = w2.rowsBetween(1, Window.unboundedFollowing)
                return F.first(raw_args[0], ignorenulls=True).over(w2)
            if func.ignore_nulls:
                raise InvalidQueryException(
                    f"{func.name}() does not accept IGNORE NULLS")
            if spec.frame_type is not None:
                raise InvalidQueryException(
                    f"{func.name}() does not accept a window frame clause"
                )
            # Spark requires ordering for ranking functions; a constant key
            # reproduces the reference's "no ORDER BY → everything ties" case
            w = w.orderBy(*orders) if orders else w.orderBy(F.lit(1))
            out = builder(*raw_args).over(w)
            if func.name in _BIGINT_RANKING:
                # Spark yields INT for ranks where ANSI engines yield int64;
                # the cast must wrap the OVER expression (a cast between the
                # function and .over() is rejected by the analyzer)
                out = out.cast("bigint")
            return out

        if func.name not in AGGREGATE_FUNCTIONS and not func.is_star:
            raise InvalidQueryException(
                f"{func.name}() is not a window-able function"
            )
        if func.ignore_nulls and func.name not in _NULL_KEEPING_AGGREGATES:
            # most aggregates skip NULLs anyway, but silently dropping the
            # modifier would hide user intent — reject it
            raise InvalidQueryException(
                f"{func.name}() does not accept IGNORE NULLS")
        if func.is_star:
            if func.filter_where is not None:
                agg = F.count(F.when(recurse(func.filter_where), F.lit(1)))
            else:
                agg = F.count(F.lit(1))
        else:
            wargs = [recurse(a) for a in func.args]
            if func.filter_where is not None:
                wcond = recurse(func.filter_where)
                wargs = [F.when(wcond, a) for a in wargs]
            if func.name in _NULL_KEEPING_AGGREGATES and (
                    func.ignore_nulls or func.filter_where is not None):
                agg = _NULL_KEEPING_AGGREGATES[func.name](wargs[0])
            else:
                agg = AGGREGATE_FUNCTIONS[func.name](*wargs)

        w = Window.partitionBy(*parts) if parts else Window.partitionBy()
        w = self._apply_window_frame(w, spec, orders, undirected)
        return agg.over(w)

    def _apply_window_frame(
        self, w: WindowSpec, spec: ast.WindowSpec, orders: list[Column],
        undirected: list[Column] | None = None,
    ) -> WindowSpec:
        UP, UF, CR = (Window.unboundedPreceding, Window.unboundedFollowing,
                      Window.currentRow)

        def bound(b: ast.FrameBound) -> int:
            if b.kind == "unbounded_preceding":
                return UP
            if b.kind == "unbounded_following":
                return UF
            if b.kind == "current_row":
                return CR
            if b.kind == "interval":
                return b.offset * _interval_micros(b.interval)
            return b.offset

        has_interval = any(
            b is not None and b.kind == "interval"
            for b in (spec.frame_start, spec.frame_end)
        )
        if has_interval:
            # RANGE over time: Spark's rangeBetween takes numeric offsets
            # only, so order by unix_micros(ts) and convert the interval to
            # microseconds — identical frame semantics, stays JVM-side
            if spec.frame_type != "range":
                raise InvalidQueryException(
                    "INTERVAL frame bounds require a RANGE frame")
            if undirected is None or len(undirected) != 1:
                raise InvalidQueryException(
                    "RANGE with INTERVAL bounds requires exactly one "
                    "ORDER BY key (a timestamp column)")
            item = spec.order_by[0]
            if not item.ascending:
                raise InvalidQueryException(
                    "RANGE with INTERVAL bounds requires ascending order")
            num = F.unix_micros(undirected[0].cast("timestamp"))
            w = w.orderBy(_directed(num, item))
            start = bound(spec.frame_start) if spec.frame_start else UP
            end = bound(spec.frame_end) if spec.frame_end else CR
            return w.rangeBetween(start, end)

        if spec.frame_type is None:
            # reference default: RANGE UNBOUNDED PRECEDING → CURRENT ROW,
            # cumulative when ordered, whole partition when not
            # (sql_clause_objects.py:53-72)
            if orders:
                return w.orderBy(*orders).rangeBetween(UP, CR)
            return w.rowsBetween(UP, UF)
        if orders:
            w = w.orderBy(*orders)
        start = bound(spec.frame_start) if spec.frame_start else UP
        end = bound(spec.frame_end) if spec.frame_end else CR
        if spec.frame_type == "rows":
            return w.rowsBetween(start, end)
        if not orders:
            # RANGE over unordered partition: all rows are peers
            return w.rowsBetween(UP, UF)
        return w.rangeBetween(start, end)


def _directed(col: Column, item: ast.OrderItem) -> Column:
    """Apply sort direction + NULL placement (engine default: NULLS LAST in
    both directions, matching the DuckDB oracle; explicit NULLS FIRST/LAST
    overrides)."""
    nulls_first = item.nulls_first if item.nulls_first is not None else False
    if item.ascending:
        return col.asc_nulls_first() if nulls_first else col.asc_nulls_last()
    return col.desc_nulls_first() if nulls_first else col.desc_nulls_last()


_INTERVAL_MICROS = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
    "week": 7 * 86_400 * 1_000_000,
}


def _interval_micros(iv: ast.IntervalLit) -> int:
    """Fixed-length interval → microseconds (frame bounds must be constant
    widths; month/year vary by calendar and are rejected)."""
    if iv is None or iv.unit not in _INTERVAL_MICROS:
        unit = iv.unit if iv is not None else "?"
        raise InvalidQueryException(
            f"INTERVAL frame bounds support fixed-length units "
            f"(microsecond..week), got {unit!r}")
    return int(iv.value * _INTERVAL_MICROS[iv.unit])


def _copy_expr(expr: ast.Expr) -> ast.Expr:
    """Deep-copy an AST expression (``_transform_expr`` mutates in place)."""
    import copy

    return copy.deepcopy(expr)


def _transform_expr(expr: ast.Expr, fn) -> ast.Expr:
    """Bottom-preserving expression rewrite: ``fn`` may replace a node;
    otherwise children are rewritten in place. Does not descend into
    subquery bodies (they compile in their own scope)."""
    import dataclasses

    replaced = fn(expr)
    if replaced is not expr:
        return replaced
    if not dataclasses.is_dataclass(expr):
        return expr
    for f in dataclasses.fields(expr):
        v = getattr(expr, f.name)
        if isinstance(v, ast.Expr):
            setattr(expr, f.name, _transform_expr(v, fn))
        elif isinstance(v, ast.OrderItem):
            v.expr = _transform_expr(v.expr, fn)
        elif isinstance(v, ast.WindowSpec):
            v.partition_by = [_transform_expr(p, fn) for p in v.partition_by]
            for o in v.order_by:
                o.expr = _transform_expr(o.expr, fn)
        elif isinstance(v, list):
            new = []
            for item in v:
                if isinstance(item, ast.Expr):
                    new.append(_transform_expr(item, fn))
                elif isinstance(item, tuple):
                    new.append(tuple(
                        _transform_expr(x, fn) if isinstance(x, ast.Expr) else x
                        for x in item))
                elif isinstance(item, ast.OrderItem):
                    item.expr = _transform_expr(item.expr, fn)
                    new.append(item)
                else:
                    new.append(item)
            setattr(expr, f.name, new)
    return expr


def _walk_all(node: object):
    """Yield node and every descendant (via _children)."""
    yield node
    for c in _children(node):
        yield from _walk_all(c)


def _children(node: object) -> list:
    """Child expressions of an AST node (for generic tree walks)."""
    if isinstance(node, ast.BinaryOp):
        return [node.left, node.right]
    if isinstance(node, ast.UnaryOp):
        return [node.operand]
    if isinstance(node, ast.IsNull):
        return [node.operand]
    if isinstance(node, ast.Between):
        return [node.operand, node.low, node.high]
    if isinstance(node, ast.InList):
        return [node.operand, *node.items]
    if isinstance(node, ast.InSubquery):
        return [node.operand]
    if isinstance(node, ast.QuantifiedCompare):
        return [node.operand]
    if isinstance(node, ast.GroupTotalSubquery):
        return [node.item]
    if isinstance(node, ast.Like):
        return [node.operand, node.pattern]
    if isinstance(node, ast.Case):
        out = []
        for c, v in node.whens:
            out.extend([c, v])
        if node.else_ is not None:
            out.append(node.else_)
        return out
    if isinstance(node, ast.Cast):
        return [node.operand]
    if isinstance(node, ast.FuncCall):
        # FILTER (WHERE cond) is a real child: analysis walks that skip
        # it miss its column references (r15 ADVICE)
        return list(node.args) + (
            [node.filter_where] if node.filter_where is not None else [])
    if isinstance(node, ast.WindowFunc):
        # NOTE: a named-window reference (window.ref) is resolved later
        # against the WINDOW clause; its partition/order columns are NOT
        # visible here — walks that must see every referenced column
        # have to treat ref-carrying WindowFuncs as opaque.
        return [node.func, *node.window.partition_by,
                *[o.expr for o in node.window.order_by]]
    return []
