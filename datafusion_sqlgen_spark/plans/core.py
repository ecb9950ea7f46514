"""Logical plan IR with dual rendering: DataFrame calls + SQL (2 dialects).

The Spark-native rebuild of the reference's plan unparser
(/root/reference/datafusion-sqlgen/src/logical_plan.rs:10-206). The
reference threads ONE flat mutable ``Select`` through the recursion, so
stacked same-kind nodes overwrite each other's slots (SURVEY.md §2.4.6 —
two Filters lose one predicate, logical_plan.rs:119-122). Here each node
folds into a clause-slot accumulator (``_SelectState``) and *nests a
derived table whenever a slot is occupied or SQL clause order would change
semantics* — the correct version of the reference's unparse-fusion.

Rendering targets:
  * ``to_sql("spark")``   — Spark SQL text. ``spark.sql(...)`` of it is
    what the workload catalog executes: one parse and one analysis per
    query (``registry.planned``).
  * ``to_df(spark)``      — pyspark DataFrame calls, one Py4J call and
    one analysis per builder step; must give the same result as the
    Spark SQL (dual-render invariant, held by the catalog gate and the
    dual-render tests).
  * ``to_sql("duckdb")``  — oracle SQL for the driver's DuckDB check.

Operator inventory covers SURVEY.md §2.1 end-to-end: Scan, Project,
Filter, Distinct, Sort, Limit, Offset, EmptyRelation (the reference's live
surface) plus Aggregate (group by / rollup / cube / grouping sets), Join
(all Spark how= modes + broadcast hint), SetOp (union/intersect/except),
With (CTEs), SubqueryAlias — the reference's aspirational surface
(commented tests, tests/select.rs:601-837).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace
from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.expressions.core import (
    Alias,
    BinOp,
    Case,
    Col,
    Expr,
    Field,
    Func,
    IsNotNull,
    Lit,
    SortKey,
    Star,
    _wrap,
    quote_ident,
)

SPARK = "spark"
DUCKDB = "duckdb"

_alias_counter = itertools.count()
_render_depth = 0


def _fresh_alias() -> str:
    return f"_sq{next(_alias_counter)}"


def _deterministic_render(render):
    """Reset the derived-table alias counter at the OUTERMOST render so
    ``to_sql`` is a pure function of the plan (textual round-trip
    identity — the reference's own test invariant, tests/select.rs:57-68).
    Nested renders (set-op operands, CTE bodies) must NOT reset: sibling
    subqueries would collide on the same alias."""
    global _alias_counter, _render_depth
    _render_depth += 1
    try:
        if _render_depth == 1:
            _alias_counter = itertools.count()
        return render()
    finally:
        _render_depth -= 1


@dataclass
class _SelectState:
    """Clause-slot accumulator for one SELECT level."""

    from_sql: Optional[str] = None
    projection: Optional[list[str]] = None
    where: Optional[str] = None
    group_by: Optional[str] = None  # rendered GROUP BY payload
    having: Optional[str] = None
    distinct: bool = False
    order_by: Optional[list[str]] = None
    limit: Optional[int] = None
    offset: Optional[int] = None
    ctes: list = field(default_factory=list)  # [(name, sql)]
    no_from: bool = False  # EmptyRelation: SELECT <exprs> with no FROM
    hints: list = field(default_factory=list)  # join-strategy hints

    def render(self) -> str:
        parts = []
        if self.ctes:
            ctes = ", ".join(f"{name} AS ({sql})" for name, sql in self.ctes)
            parts.append(f"WITH {ctes}")
        sel = "SELECT"
        if self.hints:
            # Spark reads /*+ ... */ IMMEDIATELY after SELECT (before
            # DISTINCT, or the hint is silently ignored); DuckDB parses it
            # as a plain comment — the same text is valid oracle SQL
            sel += " /*+ " + ", ".join(self.hints) + " */"
        if self.distinct:
            sel += " DISTINCT"
        proj = ", ".join(self.projection) if self.projection else "*"
        parts.append(f"{sel} {proj}")
        if not self.no_from:
            parts.append(f"FROM {self.from_sql}")
        if self.where:
            parts.append(f"WHERE {self.where}")
        if self.group_by:
            parts.append(f"GROUP BY {self.group_by}")
        if self.having:
            parts.append(f"HAVING {self.having}")
        if self.order_by:
            parts.append("ORDER BY " + ", ".join(self.order_by))
        if self.limit is not None:
            parts.append(f"LIMIT {self.limit}")
        if self.offset is not None:
            parts.append(f"OFFSET {self.offset}")
        return " ".join(parts)


def _nest(state: _SelectState) -> _SelectState:
    """Wrap the current state as a derived table — the fix for the
    reference's slot-overwrite defect (SURVEY.md §2.4.6)."""
    return _SelectState(from_sql=f"({state.render()}) AS {_fresh_alias()}")


class Plan:
    """Base logical-plan node."""

    # ---- rendering ------------------------------------------------------
    def _fold(self, dialect: str) -> _SelectState:
        raise NotImplementedError

    def to_sql(self, dialect: str = SPARK) -> str:
        if dialect not in (SPARK, DUCKDB):
            raise ValueError(f"unknown dialect {dialect!r}; use 'spark' or 'duckdb'")
        return _deterministic_render(lambda: self._fold(dialect).render())

    def to_df(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    # ---- fluent builder (mirrors the DataFrame API) ---------------------
    def select(self, *exprs) -> "Project":
        return Project(self, tuple(_wrap_proj(e) for e in exprs))

    def filter(self, cond: Expr) -> "Filter":
        return Filter(self, cond)

    where = filter

    def distinct(self) -> "Distinct":
        return Distinct(self)

    def sort(self, *keys) -> "Sort":
        return Sort(self, tuple(_wrap_sort(k) for k in keys))

    order_by = sort

    def limit(self, n: int) -> "Limit":
        return Limit(self, n)

    def offset(self, k: int) -> "Offset":
        return Offset(self, k)

    def group_by(self, *keys) -> "_GroupedPlan":
        return _GroupedPlan(self, tuple(_wrap_proj(k) for k in keys), "groupby")

    def rollup(self, *keys) -> "_GroupedPlan":
        return _GroupedPlan(self, tuple(_wrap_proj(k) for k in keys), "rollup")

    def cube(self, *keys) -> "_GroupedPlan":
        return _GroupedPlan(self, tuple(_wrap_proj(k) for k in keys), "cube")

    def grouping_sets(self, sets, *keys) -> "_GroupedPlan":
        """``sets`` is a list of key subsets, e.g. ``[[a, b], [a], []]``."""
        return _GroupedPlan(
            self,
            tuple(_wrap_proj(k) for k in keys),
            "grouping_sets",
            tuple(tuple(_wrap_proj(e) for e in s) for s in sets),
        )

    def join(
        self,
        other: "Plan",
        on: Optional[Expr] = None,
        how: str = "inner",
        broadcast: bool = False,
        hint: Optional[str] = None,
        using: Optional[tuple] = None,
        natural: bool = False,
    ) -> "Join":
        return Join(self, other, on, how, broadcast, hint, using, natural)

    def union(self, other: "Plan") -> "SetOp":
        return SetOp(self, other, "union_all")

    def union_distinct(self, other: "Plan") -> "SetOp":
        return SetOp(self, other, "union")

    def intersect(self, other: "Plan") -> "SetOp":
        return SetOp(self, other, "intersect")

    def except_(self, other: "Plan") -> "SetOp":
        return SetOp(self, other, "except")

    def alias(self, name: str) -> "SubqueryAlias":
        # re-aliasing replaces the name: the outer alias fully shadows
        # the inner one, and nesting SubqueryAlias(SubqueryAlias(x))
        # would add a render wrapper per parse->render cycle (breaking
        # the parser's fixpoint invariant)
        if isinstance(self, SubqueryAlias):
            return SubqueryAlias(self.input, name)
        return SubqueryAlias(self, name)

    def explode(
        self,
        expr,
        alias: str,
        pos_alias: Optional[str] = None,
        outer: bool = False,
    ) -> "Explode":
        """Unnest an array column into rows (keeps all input columns).
        ``pos_alias`` adds a 0-based position column (posexplode)."""
        return Explode(self, _wrap_proj(expr), alias, pos_alias, outer)

    def unpivot(
        self,
        ids: Sequence[str],
        value_cols: Sequence[str],
        var_col: str = "key",
        value_col: str = "val",
    ) -> "Unpivot":
        """Wide -> long reshape over the named measure columns."""
        return Unpivot(self, tuple(ids), tuple(value_cols), var_col, value_col)

    def lateral(self, subquery: "Plan", alias: str,
                how: str = "cross") -> "Lateral":
        """Correlated per-row subquery: FROM self, LATERAL (sub) AS alias
        (``how="left"`` keeps empty-output left rows, NULL-padded)."""
        return Lateral(self, subquery, alias, how)

    def pivot(self, agg, pivot_col: str, values: Sequence) -> "Pivot":
        """Long -> wide: one column per value, grouped by the rest."""
        from datafusion_sqlgen_spark.expressions.core import Lit

        vals = tuple(v if isinstance(v, Expr) else Lit(v) for v in values)
        return Pivot(self, _wrap_proj(agg), pivot_col, vals)


def _wrap_proj(e) -> Expr:
    if isinstance(e, Expr):
        return e
    if isinstance(e, str):
        if e == "*":
            return Star()
        if "." in e:
            t, _, c = e.partition(".")
            return Star(t) if c == "*" else Col(c, t)
        return Col(e)
    return _wrap(e)


def _wrap_sort(k) -> SortKey:
    if isinstance(k, SortKey):
        return k
    return SortKey(_wrap_proj(k), ascending=True, nulls_first=True)


@dataclass(frozen=True)
class Scan(Plan):
    """Named base relation -> FROM name. Reference: logical_plan.rs:155-181."""

    table: str

    def _fold(self, dialect: str) -> _SelectState:
        return _SelectState(from_sql=quote_ident(self.table, dialect))

    def to_df(self, spark: SparkSession) -> DataFrame:
        # spark.table resolves temp views and catalog tables; alias so
        # qualified refs like customer.c_custkey resolve in join conditions.
        return spark.table(self.table).alias(self.table)


@dataclass(frozen=True)
class SubqueryAlias(Plan):
    input: Plan
    name: str

    def _fold(self, dialect: str) -> _SelectState:
        if isinstance(self.input, SetOp):
            # alias the set-op directly: the generic path would emit
            # (SELECT * FROM (setop) AS _sqN) AS name, whose reparse
            # yields a DIFFERENT text than the first render (the
            # AsofJoin spark desugar tripped this, r12) — with the
            # direct form `FROM ((A) UNION ALL (B)) AS name` parse and
            # render are mutual fixpoints
            return _SelectState(
                from_sql=f"({self.input._setop_sql(dialect)}) "
                         f"AS {quote_ident(self.name, dialect)}"
            )
        inner = self.input._fold(dialect)
        return _SelectState(from_sql=f"({inner.render()}) AS {quote_ident(self.name, dialect)}")

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.input.to_df(spark).alias(self.name)


@dataclass(frozen=True)
class EmptyRelation(Plan):
    """SELECT <exprs> with no FROM. Reference: logical_plan.rs:199 (live
    test: tests/select.rs:199-231). Spark executes this as OneRowRelation."""

    exprs: tuple = ()

    def _fold(self, dialect: str) -> _SelectState:
        proj = [e.to_sql(dialect) for e in self.exprs] or ["1"]
        return _SelectState(projection=proj, no_from=True)

    def to_df(self, spark: SparkSession) -> DataFrame:
        cols = [e.to_column() for e in self.exprs] or [F.lit(1)]
        return spark.range(1).select(*cols)

    def select(self, *exprs) -> "EmptyRelation":
        return EmptyRelation(tuple(_wrap_proj(e) for e in exprs))


@dataclass(frozen=True)
class Project(Plan):
    """Column/expr selection incl. *, t.*, aliases.
    Reference: logical_plan.rs:67-116."""

    input: Plan
    exprs: tuple

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if state.projection is not None or state.distinct or state.group_by:
            state = _nest(state)
        exprs = self.exprs
        if dialect != DUCKDB:
            asof = _asof_below(self.input)
            out = []
            for e in exprs:
                arms = _asof_star(e, asof)
                if arms and e.except_cols:
                    # a user except list cannot be split between the
                    # two arms without the schema (a left-only name in
                    # `rname.* EXCEPT` — or vice versa — is an analysis
                    # error), so fail closed instead of emitting SQL
                    # that breaks on one side
                    raise ValueError(
                        "star EXCEPT/EXCLUDE over an ASOF join has no "
                        "schema-free Spark-SQL render — run it via "
                        "to_df, or list the wanted columns explicitly"
                    )
                out.extend(arms or (e,))
            exprs = tuple(out)
        state.projection = [e.to_sql(dialect) for e in exprs]
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self.input.to_df(spark)
        asof = _asof_below(self.input)
        exprs = [a for e in self.exprs for a in (_asof_star(e, asof) or (e,))]
        cols = []
        try:
            for e in exprs:
                if isinstance(e, Star):
                    if e.except_cols:
                        # expand star-except against the input schema
                        drop = set(e.except_cols)
                        if e.table:
                            names = df.select(f"{e.table}.*").columns
                            cols.extend(
                                f"{e.table}.{c}" for c in names
                                if c not in drop
                            )
                        else:
                            cols.extend(
                                c for c in df.columns if c not in drop
                            )
                    else:
                        cols.append(f"{e.table}.*" if e.table else "*")
                else:
                    cols.append(e.to_column())
        except NotImplementedError:
            # a projection expr embeds a subquery (scalar/EXISTS/IN) —
            # PySpark has no Column constructor for those; execute via our
            # generated SQL (same Catalyst plan after decorrelation)
            return spark.sql(self.to_sql(SPARK))
        return df.select(*cols)


@dataclass(frozen=True)
class Filter(Plan):
    """WHERE predicate. Reference: logical_plan.rs:117-135. Stacked
    filters AND-merge here (the reference overwrites: SURVEY.md §2.4.6);
    a filter above an Aggregate renders as HAVING."""

    input: Plan
    predicate: Expr

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        pred = self.predicate.to_sql(dialect)
        if (
            state.group_by is not None
            and state.projection is not None
            and state.limit is None
            and state.offset is None
        ):
            # Filter above Aggregate -> HAVING (predicate sees agg outputs).
            # With LIMIT/OFFSET already set, HAVING would filter *before*
            # the limit while the plan says filter-after-limit -> nest and
            # use WHERE on the derived table instead.
            if state.having:
                state.having = f"({state.having}) AND ({pred})"
            else:
                state.having = pred
            return state
        if (
            state.projection is not None
            or state.distinct
            or state.limit is not None
            or state.offset is not None
            or state.order_by
        ):
            state = _nest(state)
        state.where = f"({state.where}) AND ({pred})" if state.where else pred
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        try:
            pred = self.predicate.to_column()
        except NotImplementedError:
            # predicate embeds a subquery (EXISTS / IN / scalar) — PySpark
            # has no Column constructor for those, so execute this plan
            # through our generated Spark SQL instead; Catalyst plans both
            # paths identically after decorrelation.
            return spark.sql(self.to_sql(SPARK))
        return self.input.to_df(spark).filter(pred)


@dataclass(frozen=True)
class Distinct(Plan):
    """Reference: logical_plan.rs:136-154."""

    input: Plan

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if state.limit is not None or state.offset is not None or state.order_by:
            state = _nest(state)
        state.distinct = True
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.input.to_df(spark).distinct()


@dataclass(frozen=True)
class Sort(Plan):
    """ORDER BY with explicit ASC/DESC + NULLS FIRST/LAST on every key
    (reference renderer inverts/drops these — SURVEY.md §2.4.1-2).
    Reference: logical_plan.rs:38-66."""

    input: Plan
    keys: tuple  # tuple[SortKey, ...]

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if state.order_by or state.limit is not None or state.offset is not None:
            state = _nest(state)
        state.order_by = [k.to_sql(dialect) for k in self.keys]
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.input.to_df(spark).orderBy(*[k.to_column() for k in self.keys])


@dataclass(frozen=True)
class Limit(Plan):
    """LIMIT n. Reference: logical_plan.rs:182-198."""

    input: Plan
    n: int

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if state.limit is not None:
            state = _nest(state)
        state.limit = self.n
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.input.to_df(spark).limit(self.n)


@dataclass(frozen=True)
class Offset(Plan):
    """OFFSET k (skip). Reference: logical_plan.rs:186-189 — whose
    renderer emits the keyword and value in the wrong order
    (SURVEY.md §2.4.3); ours is plain ``LIMIT n OFFSET k``."""

    input: Plan
    k: int

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        # SQL applies OFFSET before LIMIT; the plan Offset-above-Limit
        # means "take n then skip k" which LIMIT n OFFSET k does NOT mean.
        if state.offset is not None or state.limit is not None:
            state = _nest(state)
        state.offset = self.k
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.input.to_df(spark).offset(self.k)


class _GroupedPlan:
    """Intermediate for group_by/rollup/cube — call .agg(...) to finish."""

    def __init__(self, input: Plan, keys: tuple, kind: str,
                 grouping_sets: Optional[tuple] = None):
        self.input = input
        self.keys = keys
        self.kind = kind
        self.grouping_sets = grouping_sets

    def agg(self, *aggs) -> "Aggregate":
        return Aggregate(
            self.input, self.keys, tuple(_wrap_proj(a) for a in aggs),
            self.kind, self.grouping_sets
        )


@dataclass(frozen=True)
class Aggregate(Plan):
    """GROUP BY [ROLLUP/CUBE/GROUPING SETS] + aggregate projection.

    Absent in the reference (catch-all logical_plan.rs:200-203; intent in
    commented tests tests/select.rs:601-648). Spark executes partial+final
    hash agg with map-side combine automatically — at 100 TB the shuffle
    carries only per-partition partial states, keyed by the group columns.
    """

    input: Plan
    keys: tuple  # group keys (Expr)
    aggs: tuple  # aggregate exprs, normally Alias(Func(...))
    kind: str = "groupby"  # groupby | rollup | cube | grouping_sets
    grouping_sets: Optional[tuple] = None  # tuple[tuple[Expr, ...], ...]

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if (
            state.projection is not None
            or state.group_by is not None
            or state.distinct
            or state.order_by
            or state.limit is not None
            or state.offset is not None
        ):
            state = _nest(state)
        # aliased group keys: GROUP BY takes the bare expression, the
        # projection keeps the alias
        keys_sql = [
            (k.operand.to_sql(dialect) if isinstance(k, Alias) else k.to_sql(dialect))
            for k in self.keys
        ]
        if self.kind == "rollup":
            state.group_by = f"ROLLUP({', '.join(keys_sql)})"
        elif self.kind == "cube":
            state.group_by = f"CUBE({', '.join(keys_sql)})"
        elif self.kind == "grouping_sets":
            sets = ", ".join(
                "(" + ", ".join(e.to_sql(dialect) for e in s) + ")"
                for s in (self.grouping_sets or ())
            )
            state.group_by = f"GROUPING SETS ({sets})"
        else:
            state.group_by = ", ".join(keys_sql) if keys_sql else None
        # group keys project under their *output* name (alias-aware)
        key_proj = []
        for k in self.keys:
            key_proj.append(k.to_sql(dialect))
        state.projection = key_proj + [a.to_sql(dialect) for a in self.aggs]
        if not keys_sql and state.group_by is None:
            pass  # global aggregate: no GROUP BY clause at all
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self.input.to_df(spark)
        key_cols = [k.to_column() for k in self.keys]
        agg_cols = [a.to_column() for a in self.aggs]
        if self.kind == "rollup":
            grouped = df.rollup(*key_cols)
        elif self.kind == "cube":
            grouped = df.cube(*key_cols)
        elif self.kind == "grouping_sets":
            gs = [[e.to_column() for e in s] for s in (self.grouping_sets or ())]
            grouped = df.groupingSets(gs, *key_cols)
        else:
            grouped = df.groupBy(*key_cols)
        return grouped.agg(*agg_cols)


@dataclass(frozen=True)
class Explode(Plan):
    """Array-to-rows expansion (the DataFusion ``Unnest`` plan node the
    reference's version predates; absent -> catch-all
    logical_plan.rs:200-203).

    Dual rendering differs structurally by dialect: Spark hosts the
    generator in the FROM clause (``LATERAL VIEW [pos]explode``), DuckDB
    in the SELECT list (``unnest`` + ``generate_subscripts``, which pair
    up positionally). Positions are 0-based (Spark's convention;
    generate_subscripts is 1-based -> -1). ``outer=True`` keeps rows with
    NULL/empty arrays, emitting NULL element (and NULL position).

    Scale: explode is a narrow per-row transform — no shuffle; row-count
    amplification is handled by Spark splitting output batches, and
    filters above the explode still push partition pruning below it.
    """

    input: Plan
    expr: Expr
    alias_name: str
    pos_alias: Optional[str] = None
    outer: bool = False

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        if (
            state.projection is not None
            or state.distinct
            or state.group_by is not None
            or state.order_by
            or state.limit is not None
            or state.offset is not None
            or state.where
            or state.no_from
        ):
            state = _nest(state)
        e = self.expr.to_sql(dialect)
        a = quote_ident(self.alias_name, dialect)
        if dialect == SPARK:
            kw = "LATERAL VIEW OUTER" if self.outer else "LATERAL VIEW"
            lv = _fresh_alias()
            if self.pos_alias:
                p = quote_ident(self.pos_alias, dialect)
                state.from_sql += f" {kw} posexplode({e}) {lv} AS {p}, {a}"
            else:
                state.from_sql += f" {kw} explode({e}) {lv} AS {a}"
            return state
        arr = e
        empty = f"({e} IS NULL OR len({e}) = 0)"
        if self.outer:
            arr = f"(CASE WHEN {empty} THEN [NULL] ELSE {e} END)"
        proj = ["*"]
        if self.pos_alias:
            p = quote_ident(self.pos_alias, dialect)
            pos_expr = f"generate_subscripts({arr}, 1) - 1"
            if self.outer:
                # Spark's posexplode_outer emits NULL position for the
                # padded row; generate_subscripts would say 0
                pos_expr = f"(CASE WHEN {empty} THEN NULL ELSE {pos_expr} END)"
            proj.append(f"{pos_expr} AS {p}")
        proj.append(f"unnest({arr}) AS {a}")
        state.projection = proj
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self.input.to_df(spark)
        c = self.expr.to_column()
        if self.pos_alias:
            gen = F.posexplode_outer(c) if self.outer else F.posexplode(c)
            return df.select("*", gen.alias(self.pos_alias, self.alias_name))
        gen = F.explode_outer(c) if self.outer else F.explode(c)
        return df.select("*", gen.alias(self.alias_name))


@dataclass(frozen=True)
class Unpivot(Plan):
    """Wide -> long reshape: ``UNPIVOT (val FOR key IN (c1, c2, ...))``.

    Absent in the reference (DataFusion 10 has no unpivot plan node;
    catch-all logical_plan.rs:200-203). Spark and DuckDB share the
    SQL-standard FROM-clause UNPIVOT syntax, and both exclude NULL
    measure values by default — the DataFrame path (``DataFrame.unpivot``
    keeps NULLs) adds an explicit IS NOT NULL filter to pin the SQL
    semantics.

    Scale: unpivot is a narrow per-row flatMap (k output rows per input
    row) — no shuffle, no state; columns outside ids+values are pruned
    at the scan.
    """

    input: Plan
    ids: tuple  # id column names (str), kept per output row
    value_cols: tuple  # measure column names (str) to melt; common type
    var_col: str = "key"
    value_col: str = "val"

    def _fold(self, dialect: str) -> _SelectState:
        # project ids+values in a derived table so undeclared columns do
        # not leak in as extra ids (SQL UNPIVOT treats every non-measure
        # column as an id; the explicit projection makes SQL match the
        # DataFrame API's declared-ids semantics)
        inner = Project(
            self.input, tuple(Col(c) for c in self.ids + self.value_cols)
        )._fold(dialect)
        cols = ", ".join(quote_ident(c, dialect) for c in self.value_cols)
        from_sql = (
            f"({inner.render()}) AS {_fresh_alias()} UNPIVOT "
            f"({quote_ident(self.value_col, dialect)} FOR "
            f"{quote_ident(self.var_col, dialect)} IN ({cols}))"
        )
        return _SelectState(from_sql=from_sql)

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self.input.to_df(spark).select(*(self.ids + self.value_cols))
        out = df.unpivot(
            list(self.ids), list(self.value_cols), self.var_col, self.value_col
        )
        # DataFrame.unpivot keeps NULL measures; SQL UNPIVOT drops them
        return out.filter(F.col(self.value_col).isNotNull())


@dataclass(frozen=True)
class Pivot(Plan):
    """Long -> wide reshape: ``FROM (...) PIVOT (agg FOR col IN (v1,
    v2, ...))`` — one output column per pivoted value, implicit GROUP BY
    over every remaining column. Spark and DuckDB share this
    Snowflake-style FROM-clause syntax verbatim (DuckDB additionally has
    its own ``PIVOT ... ON ... USING`` statement form — not emitted).
    Absent in the reference (catch-all logical_plan.rs:200-203).

    Scale: one hash aggregation over the implicit group keys with a
    fixed, declared value list — same shuffle as the equivalent
    ``groupBy().pivot(col, values)`` (which is exactly what ``to_df``
    runs; an undeclared value list would add a distinct-scan job).
    """

    input: Plan
    agg: Expr  # aggregate call, e.g. agg("sum", col("o_totalprice"))
    pivot_col: str
    values: tuple  # Lit exprs, one output column per value

    def _fold(self, dialect: str) -> _SelectState:
        inner = self.input._fold(dialect)
        vals = ", ".join(v.to_sql(dialect) for v in self.values)
        from_sql = (
            f"({inner.render()}) AS {_fresh_alias()} PIVOT "
            f"({self.agg.to_sql(dialect)} FOR "
            f"{quote_ident(self.pivot_col, dialect)} IN ({vals}))"
        )
        return _SelectState(from_sql=from_sql)

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self.input.to_df(spark)
        referenced = {self.pivot_col} | _referenced_cols(self.agg)
        group_cols = [c for c in df.columns if c not in referenced]
        return (
            df.groupBy(*group_cols)
            .pivot(self.pivot_col, [v.value for v in self.values])
            .agg(self.agg.to_column())
        )


def _referenced_cols(e) -> set:
    """Bare column names referenced anywhere in an expression tree."""
    import dataclasses

    out: set = set()
    if isinstance(e, Col):
        out.add(e.name)
    if dataclasses.is_dataclass(e):
        for f in dataclasses.fields(e):
            v = getattr(e, f.name)
            for item in v if isinstance(v, (tuple, list)) else (v,):
                if isinstance(item, Expr):
                    out |= _referenced_cols(item)
    return out


@dataclass(frozen=True)
class Lateral(Plan):
    """Correlated lateral derived table:
    ``FROM left, LATERAL (subquery) AS alias``.

    The subquery references the left side's columns (qualified, e.g.
    ``col("nation.n_nationkey")``) — per-row parameterized subplans, the
    SQL analogue of flatMap. Absent in the reference (no join surface at
    all: catch-all logical_plan.rs:200-203). Spark >= 3.2 and DuckDB both
    execute it; Catalyst decorrelates the lateral into a join (rank-over
    window for LIMIT-1 patterns), so at scale this is a shuffle join, not
    N driver round-trips. PySpark has no DataFrame lateral API, so
    ``to_df`` executes the generated SQL (same Catalyst plan either way).
    """

    left: Plan
    subquery: Plan
    alias_name: str
    # "cross" = the comma form (a row per lateral result row, left rows
    # with empty lateral output drop); "left" = LEFT JOIN LATERAL ...
    # ON TRUE (left rows with empty lateral output survive NULL-padded
    # — the shape the ASOF LEFT JOIN desugar needs). Catalyst
    # decorrelates both; LIMIT-1 laterals become rank-over-window
    # joins either way.
    how: str = "cross"

    def _fold(self, dialect: str) -> _SelectState:
        lstate = self.left._fold(dialect)
        if (
            lstate.projection is not None
            or lstate.where
            or lstate.group_by
            or lstate.distinct
            or lstate.order_by
            or lstate.limit is not None
            or lstate.offset is not None
        ):
            lstate = _nest(lstate)
        sub_sql = self.subquery.to_sql(dialect)
        a = quote_ident(self.alias_name, dialect)
        if self.how == "left":
            frm = (f"{lstate.from_sql} LEFT JOIN LATERAL ({sub_sql}) "
                   f"AS {a} ON TRUE")
        else:
            frm = f"{lstate.from_sql}, LATERAL ({sub_sql}) AS {a}"
        return _SelectState(
            from_sql=frm,
            ctes=lstate.ctes,
            hints=lstate.hints,
        )

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.to_sql(SPARK))


_JOIN_SQL = {
    "inner": "JOIN",
    "left": "LEFT JOIN",
    "right": "RIGHT JOIN",
    "full": "FULL JOIN",
    "cross": "CROSS JOIN",
    "left_semi": "SEMI JOIN",  # rendered specially for duckdb/spark
    "left_anti": "ANTI JOIN",
}


@dataclass(frozen=True)
class Join(Plan):
    """All join kinds over one node (reference: catch-all,
    logical_plan.rs:200-203; intent tests/select.rs:724,817-837).

    Scale notes: equi-joins shuffle both sides on the key unless one side
    is broadcast — pass ``broadcast=True`` (or rely on AQE's runtime
    demotion) for dimension tables. Non-equi conditions fall to
    broadcast-nested-loop; keep the broadcast side small. Semi/anti joins
    shuffle only the distinct keys of the right side.
    """

    left: Plan
    right: Plan
    on: Optional[Expr] = None  # join condition (None + cross only)
    how: str = "inner"
    broadcast: bool = False  # broadcast the RIGHT side
    # physical-strategy hint for the RIGHT side: None | "broadcast" |
    # "merge" (sort-merge) | "shuffle_hash" | "shuffle_replicate_nl".
    # The 100-TB lever: e.g. force shuffle_hash when one side is 10x
    # smaller but above the broadcast threshold (skips both sorts), or
    # merge when both sides are pre-sorted bucketed tables.
    hint: Optional[str] = None
    # SQL-standard USING (col, ...): equi-join that MERGES the join
    # columns (one output column per name, exactly
    # ``DataFrame.join(on=[names])``); mutually exclusive with ``on``
    using: Optional[tuple] = None
    # SQL-standard NATURAL JOIN: USING over every shared column name,
    # resolved lazily from the two inputs' schemas at execution time
    # (the IR has no catalog at build time). Both dialects render the
    # keyword natively. A NATURAL join whose sides share NO columns
    # degrades to CROSS JOIN in the standard — silently quadratic, so
    # to_df raises instead (write CROSS JOIN if that is meant).
    natural: bool = False

    def __post_init__(self):
        if self.natural:
            if self.on is not None or self.using:
                raise ValueError("NATURAL JOIN takes no ON/USING clause")
            if self.how not in ("inner", "left", "right", "full"):
                raise ValueError(
                    f"NATURAL JOIN supports inner/left/right/full, not {self.how!r}"
                )

    _HINT_SQL = {
        "broadcast": "BROADCAST",
        "merge": "MERGE",
        "shuffle_hash": "SHUFFLE_HASH",
        "shuffle_replicate_nl": "SHUFFLE_REPLICATE_NL",
    }

    def _right_name(self) -> Optional[str]:
        """Relation name a SQL hint can target (scan/alias right sides)."""
        if isinstance(self.right, Scan):
            return self.right.table
        if isinstance(self.right, SubqueryAlias):
            return self.right.name
        return None

    def _fold(self, dialect: str) -> _SelectState:
        lstate = self.left._fold(dialect)
        # left side must be a bare FROM (no other slots) to host the join;
        # comma-style FROM fragments (Lateral) and generator clauses
        # (Explode) must also nest — `a, LATERAL(...) JOIN b` would
        # regroup under JOIN's tighter binding
        if (
            lstate.projection is not None
            or lstate.where
            or lstate.group_by
            or lstate.distinct
            or lstate.order_by
            or lstate.limit is not None
            or lstate.offset is not None
            or isinstance(self.left, (Explode, Lateral))
        ):
            lstate = _nest(lstate)
        rstate = self.right._fold(dialect)
        r_sql = rstate.from_sql
        # the right operand must be a single named relation: anything that
        # folds to a composite FROM (another Join's `a JOIN b ON ...`,
        # Lateral's comma fragment, Explode's LATERAL VIEW) would splice
        # into this join's FROM and re-associate — nest it
        if (
            rstate.projection is not None
            or rstate.where
            or rstate.group_by
            or rstate.distinct
            or rstate.order_by
            or rstate.limit is not None
            or rstate.offset is not None
            or r_sql is None
            or not isinstance(self.right,
                              (Scan, SubqueryAlias, SetOp, Values,
                               GenerateSeries))
        ):
            r_sql = f"({rstate.render()}) AS {_fresh_alias()}"

        how = self.how
        if how in ("left_semi", "left_anti"):
            kw = "SEMI JOIN" if how == "left_semi" else "ANTI JOIN"
            if dialect == SPARK:
                kw = "LEFT " + kw
            # DuckDB ≥0.10 supports SEMI/ANTI JOIN natively
            join_sql = f"{lstate.from_sql} {kw} {r_sql}"
        elif self.natural:
            join_sql = f"{lstate.from_sql} NATURAL {_JOIN_SQL[how]} {r_sql}"
        else:
            join_sql = f"{lstate.from_sql} {_JOIN_SQL[how]} {r_sql}"
        if self.on is not None:
            join_sql += f" ON {self.on.to_sql(dialect)}"
        elif self.using:
            cols = ", ".join(quote_ident(c, dialect) for c in self.using)
            join_sql += f" USING ({cols})"
        # a left-deep join chain accumulates its hints at this level
        state = _SelectState(
            from_sql=join_sql,
            ctes=lstate.ctes + rstate.ctes,
            hints=list(lstate.hints),
        )
        hint = self.hint or ("broadcast" if self.broadcast else None)
        target = self._right_name()
        if hint is not None and target is not None:
            # rendered after SELECT; Spark's planner picks it up, DuckDB
            # reads a comment. Nested renders keep it inside this block.
            state.hints.append(f"{self._HINT_SQL[hint]}({target})")
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        ldf = self.left.to_df(spark)
        rdf = self.right.to_df(spark)
        if self.broadcast or self.hint == "broadcast":
            rdf = F.broadcast(rdf)
        elif self.hint is not None:
            rdf = rdf.hint(self.hint)
        if self.natural:
            shared = [c for c in ldf.columns if c in set(rdf.columns)]
            if not shared:
                raise ValueError(
                    "NATURAL JOIN sides share no column names — the "
                    "standard's silent CROSS JOIN degradation is "
                    "rejected; write CROSS JOIN explicitly"
                )
            return ldf.join(rdf, on=shared, how=self.how)
        if self.how == "cross" and self.on is None and self.using is None:
            return ldf.crossJoin(rdf)
        if self.using:
            return ldf.join(rdf, on=list(self.using), how=self.how)
        cond = self.on.to_column() if self.on is not None else None
        return ldf.join(rdf, on=cond, how=self.how)


@dataclass(frozen=True)
class AsofJoin(Plan):
    """``ASOF [LEFT] JOIN`` as a first-class plan node (DuckDB-dialect
    keyword; neither the reference nor Spark SQL has the syntax —
    reference join surface is the catch-all logical_plan.rs:200-203).

    Two renderings:

    * ``to_sql("duckdb")`` — native ``ASOF [LEFT] JOIN`` text with the
      original ON conjunction (DuckDB executes it directly; re-parsing
      it reconstructs this node, so the DuckDB render is a fixpoint at
      the surface form).
    * Spark — ``_spark_desugar`` builds the one-shuffle union +
      last-non-null-window shape of ``operators.joins.asof_join`` as
      ordinary plan IR, generalized to multiple equality keys and
      expression-valued left keys: union both sides keyed on the
      equality columns, sort each key partition once by timestamp, and
      take the match with ``last(payload) IGNORE NULLS`` (backward) /
      ``first`` (forward). ``to_sql("spark")`` renders that plan as
      text and ``to_df`` executes it, so both Spark paths run one
      implementation. No join intermediate exists — a partition's cost
      is its own size, AQE's skew split applies to the single
      exchange, and an unmatched left row gets a NULL match struct
      (left-outer semantics; the inner form filters it away).

    Output resolution: left columns keep their names (plus the left
    relation's alias when it has one); the matched right row travels as
    ONE struct column named after the right alias, so ``r.ts`` /
    ``r.pval`` resolve via Spark struct-field access. Right-side
    columns must therefore be referenced *qualified* above an ASOF
    join; a star above it expands to the left columns, then the
    struct's fields (``_asof_star``), as in the native render.

    Precondition (standard ASOF, documented not checked): the right
    side is unique on (keys, time) — among exactly-tied right rows both
    engines pick one arbitrarily, so a non-unique right side yields a
    nondeterministic payload; build it with ``GROUP BY key, ts``.
    """

    left: Plan
    right: Plan
    rname: str
    eqs: tuple  # ((right_key_col_name, left_key_expr), ...)
    r_time: str
    l_time: Expr
    direction: str  # "backward" (l.ts >= r.ts) | "forward" (l.ts <= r.ts)
    how: str  # "inner" | "left"
    cond: Expr  # the original ON conjunction, for the native render
    # strict bound (l.ts > r.ts / l.ts < r.ts): an exactly-equal
    # timestamp does NOT match (DuckDB's ASOF accepts all four ops)
    strict: bool = False
    # merge_asof-style tolerance (parsed from a second, opposite-
    # direction range conjunct in ON): the nearest match is additionally
    # required to satisfy ``r_time <tol_op> tol_rhs`` (tol_rhs an
    # expression over LEFT columns, e.g. l.ts - INTERVAL '1' HOUR) or
    # the payload is NULLed; the inner form then drops the row, the
    # left form keeps it. Nulling the nearest match is exact, not
    # approximate: any farther match is farther outside the window too
    # (joins.py:22 has the operator twin). DuckDB's native ASOF rejects
    # a second inequality even when it arrives via WHERE (the optimizer
    # pushes the filter into the join — "Multiple ASOF JOIN
    # inequalities", probed r12), so the DuckDB render of a
    # tolerance-carrying node fails closed with a pointer at the
    # windowed-twin oracle.
    tol_op: Optional[str] = None
    tol_rhs: Optional[Expr] = None

    def _fold(self, dialect: str) -> _SelectState:
        if dialect != DUCKDB:
            return self._spark_desugar()._fold(dialect)
        if self.tol_op is not None:
            raise ValueError(
                "ASOF JOIN with a tolerance bound has no native DuckDB "
                "render: DuckDB rejects a second ASOF inequality even "
                "via WHERE (its optimizer pushes the filter into the "
                "join — 'Multiple ASOF JOIN inequalities', probed "
                "r12), and for the LEFT form a WHERE would drop the "
                "left row instead of nulling the payload — execute via "
                "to_df/to_sql('spark'), or hand-write the windowed "
                "twin (see the parsed_asof_tolerance workloads' "
                "oracles)"
            )
        lstate = self.left._fold(dialect)
        if (
            lstate.projection is not None
            or lstate.where
            or lstate.group_by
            or lstate.distinct
            or lstate.order_by
            or lstate.limit is not None
            or lstate.offset is not None
            or isinstance(self.left, (Explode, Lateral))
        ):
            lstate = _nest(lstate)
        rstate = self.right._fold(dialect)
        r_sql = rstate.from_sql
        if (
            rstate.projection is not None
            or rstate.where
            or rstate.group_by
            or rstate.distinct
            or rstate.order_by
            or rstate.limit is not None
            or rstate.offset is not None
            or r_sql is None
            or not isinstance(self.right, (Scan, SubqueryAlias))
        ):
            # self.cond addresses the right side as self.rname by
            # contract, so the wrapper must carry THAT alias — a fresh
            # alias here left cond's qualifier dangling (ADVICE r11;
            # unreachable via the parser, which enforces a named right
            # relation, but a trap for directly constructed nodes)
            r_sql = f"({rstate.render()}) AS {self.rname}"
        kw = "ASOF LEFT JOIN" if self.how == "left" else "ASOF JOIN"
        join_sql = (f"{lstate.from_sql} {kw} {r_sql} "
                    f"ON {self.cond.to_sql(dialect)}")
        return _SelectState(
            from_sql=join_sql,
            ctes=lstate.ctes + rstate.ctes,
            hints=list(lstate.hints),
        )

    def _left_name(self) -> Optional[str]:
        """The left relation's referencable alias (None when the left
        side is not a named relation)."""
        if isinstance(self.left, Scan):
            return self.left.table
        if isinstance(self.left, SubqueryAlias):
            return self.left.name
        return None

    def _spark_desugar(self) -> "Plan":
        """The union + last-non-null-window desugar as plan IR: the one
        Spark implementation of the node. ``to_sql("spark")`` renders it
        through the ordinary machinery and ``to_df`` executes it, so the
        parse→render fixpoint and the join-free physical plan hold for
        both. Shape (backward, non-strict)::

            WITH both sides unioned on aligned columns:
              left : struct(l.*) AS __l, keys, l_time AS __ts,
                     NULL AS __p, 0 AS __is_r
              right: NULL AS __l, keys, r_time AS __ts,
                     struct(r.*) AS __p, 1 AS __is_r
            match = last(__p) IGNORE NULLS OVER (PARTITION BY keys
                      ORDER BY __ts, __is_r DESC
                      ROWS UNBOUNDED PRECEDING..CURRENT ROW)
            keep left rows, guard NULL left timestamps (and the
            tolerance bound when present), re-expand __l.*

        One exchange on the equality keys, no join operator anywhere.
        The left row travels inside ``struct(l.*)``, so no left column
        name can collide with the machinery names; a left column named
        ``rname`` duplicates the match struct's name (``to_df`` raises).
        A left side that is a join has no render: the joined relations'
        qualifiers do not survive the struct.
        """
        if isinstance(self.left, Join):
            raise ValueError(
                "ASOF JOIN after a join has no Spark render: the left "
                "row travels as one struct, so the joined relations' "
                "qualifiers do not survive it — wrap the left join in "
                "an aliased subquery, (SELECT ...) AS l"
            )
        lname = self._left_name()
        sname = lname or "__asl"
        lsrc = self.left if lname else self.left.alias(sname)
        keys = [f"__k{i}" for i in range(len(self.eqs))]
        lcols = [
            Alias(Func("struct", (Star(table=sname),)), "__l"),
            *[Alias(lexpr, k) for (_, lexpr), k in zip(self.eqs, keys)],
            Alias(self.l_time, "__ts"),
            Alias(Lit(None), "__p"),
            Alias(Lit(0), "__is_r"),
        ]
        if self.tol_op is not None:
            # the tolerance threshold is an expression over LEFT
            # columns — compute it while they are still in scope
            lcols.append(Alias(self.tol_rhs, "__tol"))
        lproj = lsrc.select(*lcols)
        # null keys / null times never match in join semantics; drop them
        # right-side so the null-key window partition can't pair them
        rkeep: Expr = IsNotNull(Col(self.r_time, self.rname))
        for rc, _ in self.eqs:
            rkeep = BinOp("AND", rkeep, IsNotNull(Col(rc, self.rname)))
        rcols = [
            Alias(Lit(None), "__l"),
            *[Alias(Col(rc, self.rname), k)
              for (rc, _), k in zip(self.eqs, keys)],
            Alias(Col(self.r_time, self.rname), "__ts"),
            Alias(Func("struct", (Star(table=self.rname),)), "__p"),
            Alias(Lit(1), "__is_r"),
        ]
        if self.tol_op is not None:
            rcols.append(Alias(Lit(None), "__tol"))
        rproj = self.right.filter(rkeep).select(*rcols)
        u = lproj.union(rproj).alias("__u")
        backward = self.direction == "backward"
        # Within equal timestamps, the tie order decides whether an
        # exactly-equal right row is inside the left row's frame:
        # non-strict puts right rows on the frame side (before for
        # backward, after for forward) so equality matches; strict
        # flips them to the other side so it does not.
        tie_desc = backward != self.strict
        nav = Func("last" if backward else "first", (Col("__p"),),
                   ignore_nulls=True)
        win = nav.over(
            partition_by=[Col(k) for k in keys],
            order_by=(
                SortKey(Col("__ts"), ascending=True, nulls_first=True),
                SortKey(Col("__is_r"), ascending=not tie_desc,
                        nulls_first=not tie_desc),
            ),
            rows_between=("unbounded", 0) if backward else (0, "unbounded"),
        )
        stage1 = [Col("__l"), Col("__ts"), Alias(win, "__m0"),
                  Col("__is_r")]
        if self.tol_op is not None:
            stage1.append(Col("__tol"))
        s1 = u.select(*stage1).filter(BinOp("=", Col("__is_r"), Lit(0)))
        # a NULL left timestamp matches nothing (comparison semantics);
        # NULL left keys need no guard — their partition holds no right
        # rows. The tolerance NULLs the nearest match when it falls
        # outside the window (exact: any farther match is farther out)
        guard: Expr = IsNotNull(Col("__ts"))
        if self.tol_op is not None:
            guard = BinOp("AND", guard,
                          BinOp(self.tol_op, Field(Col("__m0"), self.r_time),
                                Col("__tol")))
        s2 = s1.select(Col("__l"),
                       Alias(Case(((guard, Col("__m0")),)), self.rname))
        if self.how == "inner":
            s2 = s2.filter(IsNotNull(Col(self.rname)))
        out = s2.select(Star(table="__l"), Col(self.rname))
        return out.alias(lname) if lname else out

    def to_df(self, spark: SparkSession) -> DataFrame:
        df = self._spark_desugar().to_df(spark)
        # the left row travels inside struct(l.*), so the one name it
        # can collide with is the match struct's own, the right alias
        clash = [c for c in df.columns[:-1]
                 if c.lower() == self.rname.lower()]
        if clash:
            raise ValueError(
                f"ASOF JOIN left column {clash[0]!r} collides with the "
                f"right alias {self.rname!r}, which names the match "
                f"struct — the output would hold two columns of that "
                f"name; rename the column or the alias"
            )
        return df


def _asof_star(e: Expr, asof: Optional["AsofJoin"]) -> Optional[tuple]:
    """The arms star ``e`` expands to over ``asof`` — the left star
    ``EXCEPT (rname)``, then ``rname.*`` — or None when ``e`` is not a
    star over the join. The Spark desugar carries the matched right row
    as ONE struct column named ``rname``, so a bare star would surface
    the struct where the native DuckDB render flattens it: ``*`` keeps
    both arms, the left alias's star the left arm, ``rname.*`` the
    right one. A user except list applies to both arms. A star
    qualified by an unknown alias is left alone, so it raises the
    analysis error the SQL renders raise."""
    if not (isinstance(e, Star) and asof is not None
            and e.table in (None, "", asof.rname, asof._left_name())):
        return None
    rn = asof.rname
    arms = []
    if e.table != rn:
        arms.append(replace(e, except_cols=(*e.except_cols, rn)))
    if e.table in (None, "", rn):
        arms.append(Star(table=rn, except_cols=e.except_cols))
    return tuple(arms)


def _asof_below(p: "Plan") -> Optional["AsofJoin"]:
    """The AsofJoin under ``p`` seen through row-preserving,
    column-preserving wrappers (WHERE/ORDER/LIMIT/OFFSET between a
    projection and the join), or None.  Star expansion over an asof
    join must fire through those wrappers too (review r11 #1: a WHERE
    interposed a Filter and the bare star silently surfaced the match
    struct while both SQL renders flattened it)."""
    while isinstance(p, (Filter, Sort, Limit, Offset)):
        p = p.input
    return p if isinstance(p, AsofJoin) else None


@dataclass(frozen=True)
class Hint(Plan):
    """SELECT-level join-strategy hint block: ``SELECT /*+ ... */``.

    Produced by the SQL parser when it reads a hint comment; hand-built
    plans carry hints on their Join nodes instead (same rendered text).
    Hints are advisory — they steer the physical strategy (broadcast /
    merge / shuffle-hash), never the result — so ``to_df`` executes the
    generated SQL to let Catalyst apply them by relation name.
    """

    input: Plan
    hints: tuple  # hint strings, e.g. ("BROADCAST(nation)",)

    def _fold(self, dialect: str) -> _SelectState:
        state = self.input._fold(dialect)
        state.hints = state.hints + [h for h in self.hints
                                     if h not in state.hints]
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.to_sql(SPARK))


_SETOP_SQL = {
    "union_all": "UNION ALL",
    "union": "UNION",
    "intersect": "INTERSECT",
    "except": "EXCEPT",
    "intersect_all": "INTERSECT ALL",
    "except_all": "EXCEPT ALL",
}


def _subtree_has_offset(p: "Plan") -> bool:
    """True when any node under ``p`` is an Offset — the trigger of the
    Spark 4.1 AQE distinct-set-op bug (see SetOp._setop_sql)."""
    from dataclasses import fields as _dc_fields

    stack = [p]
    while stack:
        n = stack.pop()
        if isinstance(n, Offset):
            return True
        for f in _dc_fields(n):
            v = getattr(n, f.name)
            if isinstance(v, Plan):
                stack.append(v)
            elif isinstance(v, (list, tuple)):
                stack.extend(x for x in v if isinstance(x, Plan))
    return False


@dataclass(frozen=True)
class SetOp(Plan):
    """UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL].
    Reference: catch-all; intent tests/select.rs:708-721."""

    left: Plan
    right: Plan
    kind: str

    def _needs_left_dedup(self) -> bool:
        """Spark 4.1 AQE workaround predicate: a distinct INTERSECT/
        EXCEPT whose left branch carries an OFFSET must pre-distinct
        that branch (already-distinct tops are left alone so the
        render→parse→render fixpoint holds)."""
        return (
            self.kind in ("intersect", "except")
            and not isinstance(self.left, Distinct)
            and _subtree_has_offset(self.left)
        )

    def _setop_sql(self, dialect: str) -> str:
        # Parenthesize each operand: a child with ORDER BY/LIMIT is invalid
        # SQL unparenthesized, and nested set-ops would regroup under
        # INTERSECT's higher precedence ((a UNION b) INTERSECT c would
        # otherwise parse as a UNION (b INTERSECT c)). Both dialects accept
        # parenthesized query terms.
        left_sql = self.left.to_sql(dialect)
        if dialect == SPARK and self._needs_left_dedup():
            # Spark 4.1 AQE workaround: replanning a distinct INTERSECT/
            # EXCEPT whose left branch is a LIMIT+OFFSET (TakeOrdered-
            # AndProject with offset) DROPS the final distinct aggregate
            # of the semi/anti-join rewrite — the Initial Plan carries
            # the HashAggregate, the AQE Final Plan loses it and left
            # duplicates leak through (found by tests/test_fuzz_plans).
            # Distinct set ops ignore left multiplicity, so pre-
            # distincting the left operand is semantically free and
            # makes the output distinct by join shape even when the
            # final aggregate is dropped.
            left_sql = f"SELECT DISTINCT * FROM ({left_sql}) AS {_fresh_alias()}"
        return (
            f"({left_sql}) {_SETOP_SQL[self.kind]} "
            f"({self.right.to_sql(dialect)})"
        )

    def _fold(self, dialect: str) -> _SelectState:
        # wrap so parent clauses apply to the whole set-op result
        return _SelectState(
            from_sql=f"({self._setop_sql(dialect)}) AS {_fresh_alias()}"
        )

    def to_sql(self, dialect: str = SPARK) -> str:
        # top-level set-op needs no outer derived-table wrapping
        return _deterministic_render(lambda: self._setop_sql(dialect))

    def to_df(self, spark: SparkSession) -> DataFrame:
        l, r = self.left.to_df(spark), self.right.to_df(spark)
        if self.kind == "union_all":
            return l.union(r)
        if self.kind == "union":
            return l.union(r).distinct()
        if self._needs_left_dedup():
            # same Spark 4.1 AQE workaround as _setop_sql: the DataFrame
            # path plans the identical semi/anti-join rewrite and leaks
            # left duplicates the same way
            l = l.distinct()
        if self.kind == "intersect":
            return l.intersect(r)
        if self.kind == "intersect_all":
            return l.intersectAll(r)
        if self.kind == "except":
            return l.subtract(r)
        if self.kind == "except_all":
            return l.exceptAll(r)
        raise ValueError(self.kind)


@dataclass(frozen=True)
class With(Plan):
    """WITH name AS (...), ... body. Reference: catch-all (Query.with
    always None, logical_plan.rs:28; intent tests/select.rs:668-750).

    DataFrame path: CTEs are plain bindings — each cte registers a temp
    view so Scan(name) resolves; Catalyst inlines or reuses as it sees
    fit (spark.sql does the same with real CTEs).
    """

    ctes: tuple  # tuple[(name, Plan), ...]
    body: Plan

    def _fold(self, dialect: str) -> _SelectState:
        state = self.body._fold(dialect)
        existing = state.ctes
        state.ctes = [(n, p.to_sql(dialect)) for n, p in self.ctes] + existing
        return state

    def to_df(self, spark: SparkSession) -> DataFrame:
        for name, plan in self.ctes:
            plan.to_df(spark).createOrReplaceTempView(name)
        return self.body.to_df(spark)


@dataclass(frozen=True)
class GenerateSeries(Plan):
    """FROM-clause integer series: ``generate_series(start, stop
    [, step])`` (DuckDB/PG table function; stop INCLUSIVE), one output
    column named ``generate_series`` like DuckDB's own.  Spark has no
    table-function spelling, so that render is the equivalent derived
    table ``(SELECT explode(sequence(start, stop[, step])) AS
    generate_series)`` — a zero-input lateral generate, no shuffle.

    Reversed bounds need an explicit negative ``step``: without one
    DuckDB raises ('start is bigger than end') while Spark's
    ``sequence`` auto-descends, so the portable contract is
    ascending-by-default only — the parser rejects contradictory
    LITERAL bounds/steps loudly; runtime-computed bounds stay the
    caller's contract."""

    args: tuple  # (start, stop[, step]) Exprs/literals
    table_alias: Optional[str] = None  # FROM generate_series(...) AS g

    def _fold(self, dialect: str) -> _SelectState:
        a = ", ".join(_wrap(v).to_sql(dialect) for v in self.args)
        name = self.table_alias or _fresh_alias()
        if dialect == DUCKDB:
            from_sql = f"generate_series({a}) AS {name}(generate_series)"
        else:
            from_sql = (
                f"(SELECT explode(sequence({a})) AS generate_series) "
                f"AS {name}"
            )
        return _SelectState(from_sql=from_sql)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.to_sql(SPARK))


@dataclass(frozen=True)
class Values(Plan):
    """Inline literal relation: ``VALUES (...), (...) AS t(c1, c2)`` —
    the DataFusion ``LogicalPlan::Values`` node (absent in the
    reference's unparser; its tests build MemTables instead,
    tests/select.rs:253-273). Rows are tuples of Expr/literals.

    Spark and DuckDB both accept the parenthesized-VALUES derived table,
    and ``to_df`` executes that Spark SQL: the SQL ``VALUES`` is a
    ``LocalRelation`` with size statistics, so the planner can broadcast
    it, and its literals keep their SQL types (``1`` is ``int``). This
    node is for small inline data: lookup tables, test fixtures,
    broadcast maps."""

    rows: tuple  # tuple[tuple[Expr|value, ...], ...]
    columns: tuple  # column names

    def _values_sql(self, dialect: str) -> str:
        rendered = ", ".join(
            "(" + ", ".join(_wrap(v).to_sql(dialect) for v in row) + ")"
            for row in self.rows
        )
        cols = ", ".join(quote_ident(c, dialect) for c in self.columns)
        # fresh alias: two Values nodes in one FROM (e.g. a join of two
        # inline relations) must not collide on a shared name
        return f"(VALUES {rendered}) AS {_fresh_alias()}({cols})"

    def _fold(self, dialect: str) -> _SelectState:
        return _SelectState(from_sql=self._values_sql(dialect))

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.to_sql(SPARK))


@dataclass(frozen=True)
class RecursiveWith(Plan):
    """WITH RECURSIVE name(cols) AS (base UNION ALL step) body.

    Iteration as a *plan node*: Spark >= 4.0 and DuckDB both execute
    recursive CTEs natively (the reference's DataFusion 10 has no CTE
    surface at all — Query.with is always None, logical_plan.rs:28).
    ``step`` references ``scan(name)``. There is no DataFrame-API
    construction for recursion, so ``to_df`` executes the generated SQL —
    the one plan node where SQL text is the only rendering.

    Scale: each iteration is a distributed job over the previous
    iteration's output (same execution shape as the driver-coordinated
    loop in ``dedup.connected_components``); prefer the explicit loop
    when you need per-round persistence control.
    """

    name: str
    columns: tuple
    base: Plan
    step: Plan
    body: Plan

    def to_sql(self, dialect: str = SPARK) -> str:
        def render():
            cols = ""
            if self.columns:
                cols = "(" + ", ".join(
                    quote_ident(c, dialect) for c in self.columns
                ) + ")"
            return (
                f"WITH RECURSIVE {quote_ident(self.name, dialect)}{cols} AS "
                f"(({self.base.to_sql(dialect)}) UNION ALL ({self.step.to_sql(dialect)})) "
                f"{self.body.to_sql(dialect)}"
            )

        return _deterministic_render(render)

    def _fold(self, dialect: str) -> _SelectState:
        # usable as an input to further operators via a derived table
        return _SelectState(from_sql=f"({self.to_sql(dialect)}) AS {_fresh_alias()}")

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.to_sql(SPARK))


def scan(table: str) -> Scan:
    return Scan(table)


def values_relation(exprs: Sequence[Expr]) -> EmptyRelation:
    return EmptyRelation(tuple(exprs))
