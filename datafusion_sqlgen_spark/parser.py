"""SQL text -> plan IR: the front half of the reference's round trip.

The reference's full pipeline is SQL -> LogicalPlan -> SQL
(/root/reference/datafusion-sqlgen/tests/select.rs:57-68: DFParser ->
SqlToRel -> RelToSql, asserted as text round-trip identity). This module
supplies the text->IR direction for this repo, closing the loop: with it,
``parse_sql(q).to_sql(dialect)`` reaches a *fixpoint after one render* —
``parse_sql(render(parse_sql(q)))`` re-renders to the identical string —
and the parsed plan executes on both engines via the existing dual-render
paths.

Grammar: the reference's live surface (tests/select.rs:71-281 —
SELECT [DISTINCT] projections / WHERE / ORDER BY / LIMIT / CAST /
function calls / BETWEEN / IS [NOT] DISTINCT FROM / array index /
aliases / no-FROM literal selects) plus everything this repo's own
renderer emits: joins (all kinds + /*+ hint */ blocks), GROUP BY with
ROLLUP / CUBE / GROUPING SETS, HAVING, OFFSET, IN / LIKE / CASE /
IS NULL, set ops incl. ALL variants, window functions — OVER with
PARTITION BY / ORDER BY / ROWS|RANGE frames and IGNORE NULLS — WITH
and WITH RECURSIVE CTEs, lambdas for higher-order functions, bitwise
ops, LATERAL VIEW [pos]explode, comma-LATERAL subqueries, UNPIVOT and
listagg/string_agg ordered aggregation. tests/test_parser.py asserts
the render-parse fixpoint over the ENTIRE workload catalog, plus
DuckDB execution equality of original vs reparsed plans. Hand-rolled
tokenizer + Pratt expression parser; no dependencies.

Round 4c adds the SQL-standard reader-side forms a user writes by hand
though no renderer emits them: operand-form CASE (desugared to
searched), EXTRACT(unit FROM e), SUBSTRING(x FROM a [FOR n]),
TRIM([BOTH|LEADING|TRAILING] [c] FROM x), POSITION(a IN b), quoted
INTERVAL quantities, IS [NOT] TRUE/FALSE/UNKNOWN (to null-safe
comparisons), BETWEEN SYMMETRIC, quantified ``= ANY``/``<> ALL`` (to
IN-subqueries), ORDER BY ALL, ``* EXCEPT/EXCLUDE (cols)`` and
DISTINCT ON (desugared to a row_number group-limit window).

Round 5 closes the two documented edges — hardened in round 6: ordered
quantified comparisons (``> ANY``, ``<= ALL``, ``= ALL``, ``<> ANY``,
...) desugar to a CASE over min/max/count scalar subqueries that
reproduces the SQL-standard three-valued result EXACTLY, including
empty and NULL-containing subquery results under any truth context
(plain WHERE, NOT, IS [NOT] TRUE/FALSE/UNKNOWN), and the
type-polymorphic ``size``/``element_at`` resolve their MAP reading
from map-producing call expressions automatically — or from the
optional ``parse_sql(sql, schema={...: "map"})`` argument for bare
map columns. Without either signal the array reading stands.

Array indexing follows the REFERENCE's semantics: ``a[1]`` is the first
element (tests/select.rs:276), parsed to ``Index`` (1-based element_at on
the Spark side) — NOT Spark SQL's 0-based ``[]``.

Round 10b widens the join/window/statement surface: NATURAL
[INNER|LEFT|RIGHT|FULL] JOIN (shared columns resolved at execution),
ASOF JOIN (DuckDB dialect; the Spark render is a join-free union +
last-non-null-window desugar — see ``_parse_asof_join``), window frame EXCLUDE GROUP / TIES (peer
aggregate subtraction) alongside EXCLUDE CURRENT ROW, FILTER (WHERE …)
on window aggregates (Spark render desugars to CASE; Spark rejects the
clause on windows), multi-statement ``CREATE TEMP VIEW …;`` scripts
(desugared to ONE ``With``), and the error-safe ``try_divide`` /
``try_element_at`` scalars.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from datafusion_sqlgen_spark.expressions.core import (
    Alias,
    Between,
    BinOp,
    Case,
    Cast,
    Col,
    Exists,
    Expr,
    FrameBound,
    Func,
    InList,
    InSubquery,
    Index,
    Interval,
    IsDistinctFrom,
    IsNotDistinctFrom,
    IsNotNull,
    IsNull,
    Lambda,
    Like,
    Lit,
    Neg,
    Not,
    RLike,
    RowExpr,
    ScalarSubquery,
    SortKey,
    Star,
    TryCast,
    WindowExpr,
    WindowSpec,
)
from datafusion_sqlgen_spark.functions.registry import (
    SPARK_NAME_TO_CANONICAL,
    canonical as canonical_name,
)
from datafusion_sqlgen_spark.plans.core import (
    AsofJoin,
    _asof_below,
    EmptyRelation,
    Filter,
    Hint,
    Plan,
    Project,
    RecursiveWith,
    Scan,
    SetOp,
    SubqueryAlias,
    Unpivot,
    With,
    scan,
)

def _single_output_name(plan) -> Optional[str]:
    """The referencable name of a subquery's single output column, or
    None when it has no derivable name (wildcard projection, multiple
    columns, unaliased computed expression). Walks through the
    row-preserving wrappers (sort/limit/offset/distinct/filter/alias)
    to the projecting node; set-op columns are named by the left side."""
    from datafusion_sqlgen_spark.plans.core import (
        Aggregate,
        Distinct,
        Filter,
        Limit,
        Offset,
        Project,
        SetOp,
        Sort,
        SubqueryAlias,
    )

    while isinstance(
        plan, (Sort, Limit, Offset, Distinct, Filter, SubqueryAlias, With)
    ):
        plan = plan.input if hasattr(plan, "input") else plan.body
    if isinstance(plan, SetOp):
        return _single_output_name(plan.left)
    if isinstance(plan, Project):
        exprs = plan.exprs
    elif isinstance(plan, Aggregate):
        exprs = tuple(plan.keys) + tuple(plan.aggs)
    else:
        return None
    if len(exprs) != 1:
        return None
    e = exprs[0]
    if isinstance(e, Alias):
        return e.name
    if isinstance(e, Col):
        return e.name
    return None


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<hint>/\*\+(?:[^*]|\*(?!/))*\*/)
    | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
    | (?P<string>'(?:[^']|'')*')
    | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<op><=>|<=|>=|<>|!~\*|!~|!=|~\*|\|\||->|::|[=<>+\-*/%(),.;\[\]&|^~])
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


def _source_equi_col(on: Expr, s_name: str) -> Optional[Col]:
    """Walk a MERGE ON condition for an equality whose one side is a
    column qualified by the SOURCE alias; return that column.  In an
    equi-join a matched row always has the source key NON-NULL (a NULL
    key never equi-matches), so ``s.key IS NOT NULL`` after the left
    join is exactly the standard MATCHED test."""
    if isinstance(on, BinOp):
        if on.op.upper() == "AND":
            return (_source_equi_col(on.left, s_name)
                    or _source_equi_col(on.right, s_name))
        if on.op == "=":
            for side in (on.left, on.right):
                if isinstance(side, Col) and side.table == s_name:
                    return side
    return None


@dataclass
class _Tok:
    kind: str  # number | string | qident | op | ident | eof
    text: str
    pos: int

    @property
    def upper(self) -> str:
        return self.text.upper()


def _reject_backslash(s: str, what: str) -> None:
    """Backslashes are unrenderable in pattern literals: Spark's SQL
    lexer consumes them inside string literals while DuckDB keeps them
    raw, so a rendered `'\\%'` means different patterns per engine (or
    an unterminated literal for ESCAPE '\\').  Same rule
    similar_to_regex enforces — reject loudly with the portable
    alternative."""
    if "\\" in s:
        raise ParseError(
            f"backslash in {what} is not portable across the dual "
            "render (Spark literals consume it, DuckDB keeps it raw); "
            "use a different escape character or a character class "
            "(e.g. [0-9] for \\d, [.] for \\.)"
        )


def _rename_positionally(sub, columns):
    """Re-alias a plan's top projection to ``columns`` (positional), or
    None when the output list is not statically recoverable (stars,
    non-projection tops). Used by non-recursive CTE column lists."""
    from datafusion_sqlgen_spark.expressions.core import Alias, Star
    from datafusion_sqlgen_spark.plans.core import EmptyRelation, Project

    if not isinstance(sub, (Project, EmptyRelation)):
        return None
    exprs = sub.exprs
    if len(exprs) != len(columns):
        return None
    out = []
    for e, c in zip(exprs, columns):
        if isinstance(e, Star):
            return None
        if isinstance(e, Alias):
            e = e.operand
        out.append(Alias(e, c))
    if isinstance(sub, EmptyRelation):
        return EmptyRelation(tuple(out))
    return Project(sub.input, tuple(out))


def _is_dummy_onerow(sub) -> bool:
    """True iff ``sub`` is the renderer's dummy one-row relation
    (``SELECT 1`` — EmptyRelation with no outputs, or the single
    unaliased literal 1 a reparse reads it back as)."""
    from datafusion_sqlgen_spark.expressions.core import Lit
    from datafusion_sqlgen_spark.plans.core import EmptyRelation

    if not isinstance(sub, EmptyRelation):
        return False
    if sub.exprs == ():
        return True
    return (len(sub.exprs) == 1 and isinstance(sub.exprs[0], Lit)
            and sub.exprs[0].value == 1)


def _resugar_series(sub, alias):
    """Re-sugar the GenerateSeries Spark render — the no-FROM derived
    table ``(SELECT explode(sequence(start, stop[, step])) AS
    generate_series)`` — back into the GenerateSeries table-function
    node, so the render→parse→render fixpoint holds for series spines:
    the generic reparse would otherwise carry ``explode`` (a Spark
    generator, absent in DuckDB) into the oracle render."""
    from datafusion_sqlgen_spark.expressions.core import Alias, Func
    from datafusion_sqlgen_spark.plans.core import (
        EmptyRelation,
        GenerateSeries,
    )

    if not (isinstance(sub, EmptyRelation) and len(sub.exprs) == 1):
        return None
    e = sub.exprs[0]
    if not (isinstance(e, Alias) and e.name == "generate_series"):
        return None
    f = e.operand
    if not (isinstance(f, Func) and f.name == "explode"
            and len(f.args) == 1 and not f.distinct):
        return None
    seq = f.args[0]
    if not (isinstance(seq, Func) and seq.name == "sequence"
            and 2 <= len(seq.args) <= 3 and not seq.distinct):
        return None
    return GenerateSeries(tuple(seq.args), table_alias=alias)


def _tokenize(sql: str) -> list[_Tok]:
    out: list[_Tok] = []
    i = 0
    while i < len(sql):
        m = _TOKEN_RE.match(sql, i)
        if m is None:
            raise ParseError(f"unexpected character {sql[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(_Tok(kind, m.group(), m.start()))
    out.append(_Tok("eof", "", len(sql)))
    return out


class ParseError(ValueError):
    pass


def _expr_children(v):
    """Yield every Expr reachable through arbitrarily nested tuples —
    the ONE child iterator _expr_find and _expr_transform.walk share.
    ADVICE r10 (medium): _expr_find used to unwrap a single tuple
    level while the transform recursed fully, so WindowExprs inside
    Case.whens ((cond, value) pairs) were invisible to the desugar
    collectors (_find_groups/_find_wdistinct) but visible to the
    rewrite — a CASE-nested DISTINCT window could skip desugar and
    render SQL Spark rejects at analysis while DuckDB executes."""
    if isinstance(v, Expr):
        yield v
    elif isinstance(v, tuple):
        for x in v:
            yield from _expr_children(x)


def _expr_find(e, pred) -> bool:
    """Depth-first search over an expression tree: True if any Expr
    node satisfies ``pred``. Recurses into Expr fields and arbitrarily
    nested tuples of Exprs (via _expr_children, the same traversal the
    transform uses) — Plan-valued fields (subqueries) are NOT entered,
    their own select cores handle their own rewrites on the way up.
    ``pred`` may carry side effects (the desugar collect passes do)
    since every node is visited exactly once."""
    import dataclasses

    if not isinstance(e, Expr):
        return False
    if pred(e):
        return True
    if not dataclasses.is_dataclass(e):
        return False
    for f in dataclasses.fields(e):
        for x in _expr_children(getattr(e, f.name)):
            if _expr_find(x, pred):
                return True
    return False


def _expr_transform(e, fn):
    """Top-down rebuild of an expression tree: ``fn`` sees each Expr
    node; returning a DIFFERENT object replaces the node (no recursion
    into the replacement — the desugars return finished subtrees),
    returning the node itself recurses into its fields. Same traversal
    contract as _expr_find."""
    import dataclasses

    if not isinstance(e, Expr):
        return e
    out = fn(e)
    if out is not e:
        return out
    if not dataclasses.is_dataclass(e):
        return e

    def walk(v):
        if isinstance(v, Expr):
            return _expr_transform(v, fn)
        if isinstance(v, tuple):
            return tuple(walk(x) for x in v)
        return v

    return type(e)(**{
        f.name: walk(getattr(e, f.name)) for f in dataclasses.fields(e)
    })


# keywords that terminate an expression / projection item
_CLAUSE_KW = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT", "RIGHT",
    "FULL", "CROSS", "ON", "AS", "AND", "OR", "NOT", "IS", "IN",
    "BETWEEN", "LIKE", "ILIKE", "RLIKE", "SIMILAR", "ASC", "DESC",
    "NULLS", "THEN",
    "WHEN", "ELSE", "END", "BY", "DISTINCT", "ALL", "SEMI", "ANTI",
    "USING", "WINDOW", "QUALIFY", "FETCH", "LATERAL", "NATURAL", "ASOF",
}

_TYPE_MAP = {
    "INT": "int", "INTEGER": "int", "BIGINT": "bigint", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "DOUBLE": "double", "FLOAT": "float", "REAL": "float",
    "VARCHAR": "string", "STRING": "string", "TEXT": "string", "CHAR": "string",
    "BOOLEAN": "boolean", "BOOL": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp", "DECIMAL": "decimal", "NUMERIC": "decimal",
    "LONG": "bigint",
}

_CMP_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}

# units whose plural spelling normalizes to the singular both engines
# accept (INTERVAL '30 days' → INTERVAL '30' DAY)
_INTERVAL_UNITS = {
    "YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE",
    "SECOND", "MILLISECOND", "MICROSECOND",
}


class _Parser:
    def __init__(self, sql: str, schema: Optional[dict] = None):
        self.toks = _tokenize(sql)
        self.i = 0
        # optional column-name -> type-kind map ("map" is the one kind
        # that changes resolution; see the size/element_at handling)
        self.schema = schema or {}
        # named WINDOW clause specs of the SELECT core currently being
        # parsed (a stack entry per nested core; see parse_select_core)
        self._named_windows: dict[str, WindowSpec] = {}

    # ---- token helpers ---------------------------------------------------
    def peek(self, ahead: int = 0) -> _Tok:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "ident" and t.upper in kws

    def eat_kw(self, *kws: str) -> bool:
        if self.at_kw(*kws):
            self.next()
            return True
        return False

    def expect_kw(self, kw: str) -> None:
        if not self.eat_kw(kw):
            t = self.peek()
            raise ParseError(f"expected {kw}, got {t.text!r} at offset {t.pos}")

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "op" and t.text in ops

    def eat_op(self, *ops: str) -> bool:
        if self.at_op(*ops):
            self.next()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.eat_op(op):
            t = self.peek()
            raise ParseError(f"expected {op!r}, got {t.text!r} at offset {t.pos}")

    def ident(self) -> str:
        t = self.next()
        if t.kind == "ident":
            return t.text
        if t.kind == "qident":
            q = t.text[0]
            return t.text[1:-1].replace(q + q, q)
        raise ParseError(f"expected identifier, got {t.text!r} at offset {t.pos}")

    # ---- statement -------------------------------------------------------
    def parse_statement(self) -> Plan:
        views: list = []
        while self.at_kw("CREATE"):
            views.append(self._parse_create_view(views))
        if self.at_kw("MERGE"):
            plan = self.parse_merge()
        elif self.at_kw("UPDATE"):
            plan = self.parse_update()
        elif self.at_kw("DELETE"):
            plan = self.parse_delete()
        elif self.at_kw("INSERT"):
            plan = self.parse_insert()
        else:
            plan = self.parse_query()
        self.eat_op(";")
        if self.peek().kind != "eof":
            t = self.peek()
            raise ParseError(
                f"trailing input at {t.text!r} (offset {t.pos})"
            )
        if views:
            plan = self._wrap_script_views(views, plan)
        return plan

    def _parse_create_view(self, earlier: list) -> tuple:
        """One ``CREATE [OR REPLACE] TEMP[ORARY] VIEW name AS <query>;``
        statement of a multi-statement script. The whole script
        desugars to ONE ``With`` over the final statement — a CTE *is*
        a named query scoped to the statement that uses it, the way the
        script's temp views are scoped to the script. Persistent
        ``CREATE VIEW``/``CREATE TABLE`` are rejected (this engine has
        no writable catalog at parse time);
        re-binding a name mid-script is rejected too (a CTE chain
        cannot express rebinding — later definitions would capture the
        new binding, WITH scoping captures the first)."""
        self.expect_kw("CREATE")
        if self.eat_kw("OR"):
            self.expect_kw("REPLACE")
        if not (self.eat_kw("TEMP") or self.eat_kw("TEMPORARY")):
            raise ParseError(
                "only CREATE TEMP/TEMPORARY VIEW is supported in "
                "scripts (no persistent catalog); for TABLE "
                "materialization use sources.io sinks"
            )
        self.expect_kw("VIEW")
        name = self.ident()
        # SQL identifiers are case-insensitive (review r10b: a
        # case-sensitive check let `VIEW V; VIEW v` through, where the
        # DuckDB render errors on duplicate CTEs while Spark's
        # case-insensitive temp views silently rebind)
        if any(n.lower() == name.lower() for n, _ in earlier):
            raise ParseError(
                f"view {name!r} is defined twice in one script — a CTE "
                "chain cannot express re-binding; use distinct names"
            )
        self.expect_kw("AS")
        q = self.parse_query()
        if not self.eat_op(";"):
            raise ParseError(
                "CREATE TEMP VIEW must end with ';' (followed by the "
                "next statement)"
            )
        return (name, q)

    def _wrap_script_views(self, views: list, plan: Plan) -> Plan:
        if isinstance(plan, RecursiveWith):
            raise ParseError(
                "script views around a WITH RECURSIVE final query are "
                "not supported (one WITH clause per query)"
            )
        if isinstance(plan, With):
            dup = {n.lower() for n, _ in views} & {
                n.lower() for n, _ in plan.ctes}
            if dup:
                raise ParseError(
                    f"script view name(s) {sorted(dup)} collide with "
                    "the final query's CTE names"
                )
            return With(tuple(views) + plan.ctes, plan.body)
        return With(tuple(views), plan)

    def parse_query(self) -> Plan:
        """[WITH [RECURSIVE] ...] select | VALUES — the query entry."""
        if self.at_kw("WITH"):
            return self.parse_with()
        if self.at_kw("VALUES"):
            return self.parse_bare_values()
        if self.at_kw("TABLE"):
            # `TABLE t` (DuckDB/PG shorthand for SELECT * FROM t)
            self.next()
            return scan(self.ident())
        return self.parse_select()

    def parse_bare_values(self) -> Plan:
        """Top-level ``VALUES (...), (...)`` — Spark names the columns
        col1..colN; the IR re-renders with an explicit column alias list
        so both dialects agree."""
        from datafusion_sqlgen_spark.plans.core import Values

        self.expect_kw("VALUES")
        rows: list[tuple] = []
        while True:
            self.expect_op("(")
            vals = [self.parse_expr()]
            while self.eat_op(","):
                vals.append(self.parse_expr())
            self.expect_op(")")
            rows.append(tuple(vals))
            if not self.eat_op(","):
                break
        cols = tuple(f"col{j + 1}" for j in range(len(rows[0])))
        return Values(tuple(rows), cols)

    def parse_merge(self) -> Plan:
        """``MERGE INTO`` as a *batch* statement: since this engine's
        tables are immutable parquet relations, MERGE returns the merged
        table as a query (the reference's whole surface is SELECT
        rendering, tests/select.rs:62 — MERGE is the statement form a
        pipeline's maintenance job writes).  The parse DESUGARS straight
        into the existing relational IR, exactly the shapes of
        ``operators/joins.upsert`` (updates ∪ target-ANTI-updates), so
        both renders, execution, and the round-trip fixpoint come for
        free:

          WHEN MATCHED THEN UPDATE SET * + WHEN NOT MATCHED THEN INSERT *
              → SELECT s.* FROM src s UNION ALL
                SELECT t.* FROM tgt t LEFT ANTI JOIN src s ON ...
          WHEN MATCHED THEN DELETE (alone)
              → SELECT t.* FROM tgt t LEFT ANTI JOIN src s ON ...
          WHEN NOT MATCHED THEN INSERT * (alone — insert-if-absent)
              → SELECT t.* FROM tgt t UNION ALL
                SELECT s.* FROM src s LEFT ANTI JOIN tgt t ON ...
          DELETE + INSERT * (replace-matched-with-nothing, add-new)
              → SELECT s.* FROM src s LEFT ANTI JOIN tgt t ON ... UNION ALL
                SELECT t.* FROM tgt t LEFT ANTI JOIN src s ON ...

          WHEN MATCHED THEN UPDATE SET col = expr [, ...]
              → SELECT t.* EXCEPT (cols),
                       CASE WHEN s.<key> IS NOT NULL THEN expr
                            ELSE t.col END AS col, ...
                FROM tgt t LEFT JOIN src s ON ...
                (the scd2-ish one-join shape; SET columns move to the
                END of the output — no schema knowledge needed, and the
                optional INSERT * arm reorders source columns the same
                way so the positional union stays aligned)

        Round 9 (VERDICT r8 items 2 and 5) adds the remaining common
        statement forms, all still pure desugars into the same IR:

          WHEN MATCHED AND <cond> THEN ...
              the condition ANDs into the match test.  For
              ``UPDATE SET col = expr`` it joins the CASE condition; for
              ``UPDATE SET *``/``DELETE`` the matched rows split into a
              cond-true arm and a cond-not-true arm via one inner join
              filtered both ways (``cond`` vs ``NOT (cond IS NOT
              DISTINCT FROM TRUE)`` — three-valued: a NULL condition
              means the action does NOT fire, per standard MERGE).
          WHEN NOT MATCHED [AND <cond>] THEN INSERT (c1, ...) VALUES
          (e1, ...)
              column-list insert.  The engine has no catalog schema at
              parse time, so the column list DEFINES the merged output
              layout: every arm projects exactly (c1, ...) in that
              order (the standard's NULL-fill of unlisted target
              columns needs a catalog; unlisted columns are instead
              absent from the result — documented, not silent).
          WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE
              drops target rows with no source match (snapshot full
              sync, ``joins.scd2_merge``'s close-missing): the
              survivors' anti-join arm is removed (or, with a
              condition, filtered to ``NOT (cond IS TRUE)``).

        MERGE preconditions (standard semantics, documented not
        checked): source keys unique on the join key (a LEFT JOIN would
        otherwise duplicate matched target rows), and for INSERT * /
        UPDATE SET * the source and target share column layout.

        Round 10 (VERDICT r9 item 6) adds cascaded multi-arm chains:

          WHEN MATCHED AND c1 THEN UPDATE SET ...
          WHEN MATCHED AND c2 THEN DELETE
          [WHEN MATCHED THEN UPDATE SET ...]     -- uncond arm last only
              first-match-wins: one left join, one nested CASE per set
              column (WHEN order = statement order, every fire test
              conjoins NOT(earlier cond IS TRUE)), and a DELETE arm
              becomes a filter on its fire test.  Arms must be
              ``UPDATE SET col = expr`` or ``DELETE`` (``SET *`` needs
              the whole row layout per-arm and stays single-arm).

        A WHEN MATCHED arm after an unconditioned one raises
        (unreachable under first-match-wins), as do duplicate WHEN NOT
        MATCHED [BY SOURCE] clauses — mirroring standard engines'
        rejection rather than silently last-winning."""
        self.expect_kw("MERGE")
        self.expect_kw("INTO")
        target, t_name = self._merge_relation("target")
        self.expect_kw("USING")
        source, s_name = self._merge_relation("source")
        self.expect_kw("ON")
        on = self.parse_expr()

        matched = None  # "update" | "update_set" | "delete"
        m_cond = None  # Expr | None — WHEN MATCHED AND <cond>
        assignments: list[tuple] = []  # (col, Expr) for update_set
        # cascaded matched arms, first-match-wins (round 10, VERDICT r9
        # item 6): [(cond|None, kind, assignments)] in statement order
        m_arms: list[tuple] = []
        insert = False
        i_cond = None  # Expr | None — WHEN NOT MATCHED AND <cond>
        i_cols: tuple = ()  # column-list INSERT target layout
        i_vals: tuple = ()  # column-list INSERT value exprs
        # cascaded NOT MATCHED arms, first-match-wins (round 10, the
        # insert-side twin of m_arms): [(cond|None, cols, vals)];
        # cols == () means INSERT *
        i_arms: list[tuple] = []
        bs_delete = False  # WHEN NOT MATCHED BY SOURCE THEN DELETE
        bs_cond = None
        while self.at_kw("WHEN"):
            self.next()
            negated = self.eat_kw("NOT")
            self.expect_kw("MATCHED")
            by_source = False
            if negated and self.eat_kw("BY"):
                if self.eat_kw("SOURCE"):
                    by_source = True
                elif not self.eat_kw("TARGET"):
                    raise ParseError("expected BY SOURCE or BY TARGET")
            cond = self.parse_expr() if self.eat_kw("AND") else None
            self.expect_kw("THEN")
            if by_source:
                if bs_delete:
                    raise ParseError(
                        "duplicate WHEN NOT MATCHED BY SOURCE clause"
                    )
                self.expect_kw("DELETE")
                bs_delete, bs_cond = True, cond
            elif negated:
                if i_arms and i_arms[-1][0] is None:
                    raise ParseError(
                        "WHEN NOT MATCHED arm after an unconditioned "
                        "one is unreachable (first-match-wins); put the "
                        "unconditioned arm last"
                    )
                self.expect_kw("INSERT")
                if self.eat_op("*"):
                    i_arms.append((cond, (), ()))
                elif self.eat_op("("):
                    cols = [self.ident()]
                    while self.eat_op(","):
                        cols.append(self.ident())
                    self.expect_op(")")
                    self.expect_kw("VALUES")
                    self.expect_op("(")
                    vals = [self.parse_expr()]
                    while self.eat_op(","):
                        vals.append(self.parse_expr())
                    self.expect_op(")")
                    if len(cols) != len(vals):
                        raise ParseError(
                            f"INSERT lists {len(cols)} columns but "
                            f"{len(vals)} values"
                        )
                    i_arms.append((cond, tuple(cols), tuple(vals)))
                else:
                    raise ParseError(
                        "MERGE INSERT takes * or (cols) VALUES (exprs)"
                    )
            else:
                if m_arms and m_arms[-1][0] is None:
                    raise ParseError(
                        "WHEN MATCHED arm after an unconditioned WHEN "
                        "MATCHED is unreachable (first-match-wins); put "
                        "the unconditioned arm last"
                    )
                if self.eat_kw("DELETE"):
                    m_arms.append((cond, "delete", []))
                else:
                    self.expect_kw("UPDATE")
                    self.expect_kw("SET")
                    if self.eat_op("*"):
                        m_arms.append((cond, "update", []))
                    else:
                        sets: list[tuple] = []
                        while True:
                            c = self.ident()
                            self.expect_op("=")
                            sets.append((c, self.parse_expr()))
                            if not self.eat_op(","):
                                break
                        m_arms.append((cond, "update_set", sets))
        if len(m_arms) == 1:
            m_cond, matched, assignments = m_arms[0]
        elif len(m_arms) > 1:
            # cascaded chain: every arm must be CASE-expressible
            # (UPDATE SET col = expr) or DELETE; SET * needs the whole
            # row layout per-arm and stays single-arm-only
            if any(kind == "update" for _, kind, _ in m_arms):
                raise ParseError(
                    "UPDATE SET * is not supported in a cascaded WHEN "
                    "MATCHED chain (per-column SET arms desugar to one "
                    "nested CASE; SET * does not); use SET col = expr"
                )
            if sum(kind == "delete" for _, kind, _ in m_arms) > 1:
                raise ParseError(
                    "at most one DELETE arm in a cascaded WHEN MATCHED "
                    "chain (a second is unreachable or contradictory)"
                )
            matched = "cascade"
        if len(i_arms) == 1:
            insert = True
            i_cond, i_cols, i_vals = i_arms[0]
        elif len(i_arms) > 1:
            # cascaded insert chain: every arm must be column-list with
            # ONE shared layout (per-arm layouts would need
            # NULL-defaulted union columns); multiple INSERT * arms
            # differ only in condition — OR them into one arm
            insert = True
            if any(not cols for _, cols, _ in i_arms):
                raise ParseError(
                    "cascaded WHEN NOT MATCHED arms must all use "
                    "column-list INSERT (INSERT * arms differ only in "
                    "condition; OR the conditions into one arm)"
                )
            if len({cols for _, cols, _ in i_arms}) > 1:
                raise ParseError(
                    "cascaded WHEN NOT MATCHED arms must share one "
                    "column list"
                )
            i_cols = i_arms[0][1]
        if matched is None and not insert and not bs_delete:
            raise ParseError("MERGE needs at least one WHEN clause")
        if (matched == "update" and not insert and m_cond is None
                and not bs_delete):
            raise ParseError(
                "UPDATE SET * without INSERT * drops unmatched source "
                "rows silently; add WHEN NOT MATCHED THEN INSERT *"
            )
        if i_cols and matched is not None:
            # ADVICE r9: with ANY matched arm the star arms would project
            # Col(c, s_name) for the listed target columns — a binder
            # error when the source uses renamed columns, or a silent
            # wrong-column bind when target-named columns coexist with
            # the VALUES sources
            raise ParseError(
                "column-list INSERT with UPDATE SET/DELETE matched arms "
                "is not supported (the list redefines the output layout "
                "while matched arms emit the target/source layout); use "
                "INSERT *"
            )

        # three-valued arm-condition tests: an arm fires only when its
        # condition IS TRUE (NULL/false → the row keeps its default
        # treatment), exactly standard MERGE
        def cond_true(c):
            return IsNotDistinctFrom(c, Lit(True))

        def not_true(c):
            return Not(cond_true(c))

        if matched == "update_set":
            skey = _source_equi_col(on, s_name)
            if skey is None:
                raise ParseError(
                    "UPDATE SET col = expr needs an equi-condition "
                    f"referencing the source alias ({s_name!r}) in ON — "
                    "the matched test is s.<key> IS NOT NULL after the "
                    "left join"
                )
            set_cols = tuple(c for c, _ in assignments)
            match_test = IsNotNull(skey)
            if m_cond is not None:
                # AND the arm condition into the CASE's match test —
                # NULL conditions fall to ELSE (action does not fire)
                match_test = BinOp("AND", match_test, m_cond)
            upd_exprs = [Star(table=t_name, except_cols=set_cols)]
            for c, e in assignments:
                upd_exprs.append(Alias(
                    Case(whens=((match_test, e),),
                         else_=Col(c, t_name)),
                    c,
                ))
            joined = target.join(source, on=on, how="left")
            if bs_delete:
                # survivors of the BY SOURCE arm: matched rows, plus
                # (with a condition) unmatched rows the condition spares
                keep = IsNotNull(skey)
                if bs_cond is not None:
                    keep = BinOp("OR", keep, not_true(bs_cond))
                joined = joined.filter(keep)
            updated = joined.select(*upd_exprs)
            if not insert:
                return updated
            ins_exprs = [Star(table=s_name, except_cols=set_cols)]
            ins_exprs += [Col(c, s_name) for c in set_cols]
            new_src = source.join(target, on=on, how="left_anti")
            if i_cond is not None:
                new_src = new_src.filter(i_cond)
            new_rows = new_src.select(*ins_exprs)
            return SetOp(updated, new_rows, "union_all")

        if matched == "cascade":
            # first-match-wins chain of UPDATE SET col = expr / DELETE
            # arms (VERDICT r9 item 6), desugared into the update_set
            # machinery: ONE left join, one nested CASE per set column
            # whose WHEN order mirrors the statement order, and (for a
            # DELETE arm) one filter dropping the rows that arm claims.
            # Each arm's fire test conjoins "no earlier condition was
            # TRUE" so a row never takes two arms; cond_true keeps every
            # fire test two-valued (NULL conditions do not fire and do
            # not poison the delete filter).
            skey = _source_equi_col(on, s_name)
            if skey is None:
                raise ParseError(
                    "cascaded WHEN MATCHED arms need an equi-condition "
                    f"referencing the source alias ({s_name!r}) in ON — "
                    "the matched test is s.<key> IS NOT NULL after the "
                    "left join"
                )
            match_test = IsNotNull(skey)
            fires: list = []
            prev_not = None  # conjunction of not_true(earlier conds)
            for c, _kind, _sets in m_arms:
                t = match_test
                if prev_not is not None:
                    t = BinOp("AND", t, prev_not)
                if c is not None:
                    t = BinOp("AND", t, cond_true(c))
                    nt = not_true(c)
                    prev_not = (nt if prev_not is None
                                else BinOp("AND", prev_not, nt))
                fires.append(t)
            joined = target.join(source, on=on, how="left")
            if bs_delete:
                keep = IsNotNull(skey)
                if bs_cond is not None:
                    keep = BinOp("OR", keep, not_true(bs_cond))
                joined = joined.filter(keep)
            for (_, kind, _), fire in zip(m_arms, fires):
                if kind == "delete":
                    joined = joined.filter(Not(fire))
            set_cols: list[str] = []
            for _, _kind, sets in m_arms:
                for c0, _ in sets:
                    if c0 not in set_cols:
                        set_cols.append(c0)
            out_exprs = [Star(table=t_name, except_cols=tuple(set_cols))]
            for c0 in set_cols:
                whens = []
                for (_, kind, sets), fire in zip(m_arms, fires):
                    if kind != "update_set":
                        continue
                    e = next((ex for cc, ex in sets if cc == c0), None)
                    # an arm that fires but does not set c0 keeps t.c0
                    whens.append((fire, e if e is not None
                                  else Col(c0, t_name)))
                out_exprs.append(
                    Alias(Case(whens=tuple(whens), else_=Col(c0, t_name)),
                          c0)
                )
            updated = joined.select(*out_exprs)
            if not insert:
                return updated
            ins_exprs = [Star(table=s_name, except_cols=tuple(set_cols))]
            ins_exprs += [Col(c0, s_name) for c0 in set_cols]
            new_src = source.join(target, on=on, how="left_anti")
            if i_cond is not None:
                new_src = new_src.filter(i_cond)
            return SetOp(updated, new_src.select(*ins_exprs), "union_all")

        # ---- star/delete arms ------------------------------------------
        # projections: a column-list INSERT defines the output layout for
        # EVERY arm; otherwise whole-row stars
        p_t = ([Col(c, t_name) for c in i_cols] if i_cols
               else [Star(table=t_name)])
        p_s = ([Col(c, s_name) for c in i_cols] if i_cols
               else [Star(table=s_name)])
        p_ins = ([Alias(e, c) for c, e in zip(i_cols, i_vals)] if i_cols
                 else [Star(table=s_name)])

        plain = (m_cond is None and i_cond is None and not bs_delete
                 and not i_cols)
        if plain:
            # the round-8 shapes, byte-identical renders (r8-green
            # driver rows parsed_merge_upsert etc. must not re-plan)
            src_rows = source.select(Star(table=s_name))
            tgt_survivors = target.join(
                source, on=on, how="left_anti"
            ).select(Star(table=t_name))
            if matched == "update":  # upsert: joins.upsert's exact shape
                return SetOp(src_rows, tgt_survivors, "union_all")
            if matched == "delete" and not insert:
                return tgt_survivors
            new_rows = source.join(target, on=on, how="left_anti").select(
                Star(table=s_name)
            )
            if matched == "delete":  # delete + insert
                return SetOp(new_rows, tgt_survivors, "union_all")
            # insert-if-absent: target intact, unseen source keys append
            return SetOp(
                target.select(Star(table=t_name)), new_rows, "union_all"
            )

        # general composition: union of (A) matched rows per the matched
        # arm, (B) unmatched target rows per the BY SOURCE arm, (C)
        # inserted rows per the NOT MATCHED arm — every piece an
        # equi-join on the ON keys (one shuffle partitioning, reused)
        parts: list = []
        if matched == "update":
            if m_cond is None:
                parts.append(
                    source.join(target, on=on, how="left_semi").select(*p_s)
                )
            else:
                # matched & cond → source version; matched & not-true →
                # target version (unique source keys: inner join is
                # exactly the matched rows)
                parts.append(
                    target.join(source, on=on, how="inner")
                    .filter(m_cond).select(*p_s)
                )
                parts.append(
                    target.join(source, on=on, how="inner")
                    .filter(not_true(m_cond)).select(*p_t)
                )
        elif matched == "delete":
            if m_cond is not None:
                parts.append(
                    target.join(source, on=on, how="inner")
                    .filter(not_true(m_cond)).select(*p_t)
                )
            # unconditional delete: matched rows contribute nothing
        elif bs_delete or insert or i_cols:
            # no matched arm: matched target rows pass through unchanged
            # (folded with B into the whole target when B also keeps all)
            if bs_delete:
                parts.append(
                    target.join(source, on=on, how="left_semi").select(*p_t)
                )
            else:
                parts.append(target.select(*p_t))
        if bs_delete:
            if bs_cond is not None:
                parts.append(
                    target.join(source, on=on, how="left_anti")
                    .filter(not_true(bs_cond)).select(*p_t)
                )
        elif matched is not None:
            parts.append(
                target.join(source, on=on, how="left_anti").select(*p_t)
            )
        if insert:
            new_src = source.join(target, on=on, how="left_anti")
            if len(i_arms) > 1:
                # first-match-wins value chains: one CASE per target
                # column whose WHEN order mirrors the statement order;
                # rows no arm claims are not inserted. Same fire algebra
                # as the matched cascade — cond_true keeps NULL
                # conditions from firing or poisoning the claim filter.
                fires: list = []
                prev_not = None
                for c, _cols, _vals in i_arms:
                    if c is not None:
                        t = cond_true(c)
                        if prev_not is not None:
                            t = BinOp("AND", prev_not, t)
                        nt = not_true(c)
                        prev_not = (nt if prev_not is None
                                    else BinOp("AND", prev_not, nt))
                    else:
                        # unconditioned arm is last (parse-enforced) and
                        # claims everything the earlier arms passed on
                        t = prev_not
                    fires.append(t)
                if i_arms[-1][0] is not None:
                    claim = fires[0]
                    for f in fires[1:]:
                        claim = BinOp("OR", claim, f)
                    new_src = new_src.filter(claim)
                ins_exprs = []
                for idx, c0 in enumerate(i_cols):
                    whens = tuple(
                        (f, vals[idx])
                        for f, (_c, _cols2, vals) in zip(fires, i_arms)
                    )
                    ins_exprs.append(Alias(Case(whens=whens), c0))
                parts.append(new_src.select(*ins_exprs))
            else:
                if i_cond is not None:
                    new_src = new_src.filter(i_cond)
                parts.append(new_src.select(*p_ins))
        if not parts:
            raise ParseError(
                "this MERGE deletes every row (unconditional MATCHED "
                "DELETE + NOT MATCHED BY SOURCE DELETE, no INSERT) — "
                "write that as a filter, not a MERGE"
            )
        out = parts[0]
        for p in parts[1:]:
            out = SetOp(out, p, "union_all")
        return out

    def _merge_relation(
        self, role: str, stops: tuple = ("USING", "ON", "WHEN")
    ) -> tuple:
        """A statement target/source operand: table [AS alias] or
        (query) AS alias.  Returns (plan, qualifier) — the name
        ``t.*``/ON conditions use.  ``stops`` are the clause keywords
        that must NOT be eaten as a bare alias (SET for UPDATE, WHERE
        for DELETE, the query starters for INSERT)."""
        if self.eat_op("("):
            sub = self.parse_query()
            self.expect_op(")")
            self.eat_kw("AS")
            if self.at_kw(*stops):
                raise ParseError(
                    f"{role} subquery needs an alias (its columns "
                    "are referenced by the statement's projections)"
                )
            name = self.ident()
            return sub.alias(name), name
        table = self.ident()
        if self.eat_kw("AS") or (
            self.peek().kind in ("ident", "qident")
            and self.peek().upper not in stops
        ):
            name = self.ident()
            return scan(table).alias(name), name
        return scan(table), table

    def parse_update(self) -> Plan:
        """``UPDATE t [AS a] SET c = e [, ...] [WHERE p]`` as a batch
        statement (same contract as :meth:`parse_merge`: immutable
        parquet relations, so the statement returns the updated table
        as a query).  Desugars to the MERGE update_set projection with
        the WHERE predicate as the CASE test — standard three-valued
        UPDATE: a row updates only when ``p IS TRUE``, NULL/false rows
        keep their values.  ``UPDATE ... FROM`` (the join-update form)
        is MERGE's job and is rejected with that pointer."""
        self.expect_kw("UPDATE")
        target, t_name = self._merge_relation(
            "UPDATE target", stops=("SET",)
        )
        self.expect_kw("SET")
        assignments: list[tuple] = []
        while True:
            c = self.ident()
            if any(c == c0 for c0, _ in assignments):
                raise ParseError(f"duplicate SET column {c!r}")
            self.expect_op("=")
            assignments.append((c, self.parse_expr()))
            if not self.eat_op(","):
                break
        if self.at_kw("FROM"):
            raise ParseError(
                "UPDATE ... FROM is a join-update; write it as "
                "MERGE INTO ... USING ... WHEN MATCHED THEN UPDATE SET"
            )
        cond = self.parse_expr() if self.eat_kw("WHERE") else None
        set_cols = tuple(c for c, _ in assignments)
        exprs = [Star(table=t_name, except_cols=set_cols)]
        for c, e in assignments:
            exprs.append(Alias(
                e if cond is None
                else Case(whens=((cond, e),), else_=Col(c, t_name)),
                c,
            ))
        return target.select(*exprs)

    def parse_delete(self) -> Plan:
        """``DELETE FROM t [AS a] WHERE p``: survivors are the rows
        where ``p`` is NOT TRUE (standard three-valued DELETE — a NULL
        predicate keeps the row).  WHERE is required: an unconditional
        DELETE truncates, which is not a query."""
        self.expect_kw("DELETE")
        self.expect_kw("FROM")
        target, _t_name = self._merge_relation(
            "DELETE target", stops=("WHERE",)
        )
        if not self.eat_kw("WHERE"):
            raise ParseError(
                "DELETE without WHERE deletes every row — that is a "
                "truncation, not a query; add a predicate"
            )
        cond = self.parse_expr()
        return target.filter(Not(IsNotDistinctFrom(cond, Lit(True))))

    def parse_insert(self) -> Plan:
        """``INSERT INTO t [(c1, ...)] <query|VALUES ...>`` as a batch
        append: target UNION ALL source.  With a column list the list
        DEFINES the output layout (exactly the MERGE column-list rule —
        NULL-filling unlisted target columns needs a catalog schema
        this engine does not have at parse time): the target projects
        the listed columns and the source's outputs are positionally
        renamed to them.  Positional renaming needs a source whose
        projection is explicit — VALUES rows or a SELECT list without
        ``*`` — otherwise the statement is rejected with a pointer to
        alias the SELECT itself."""
        from datafusion_sqlgen_spark.plans.core import Values

        self.expect_kw("INSERT")
        self.expect_kw("INTO")
        target, t_name = self._merge_relation(
            "INSERT target", stops=("SELECT", "VALUES", "WITH")
        )
        cols: list[str] = []
        if self.eat_op("("):
            cols.append(self.ident())
            while self.eat_op(","):
                cols.append(self.ident())
            self.expect_op(")")
        src = self.parse_query()
        if not cols:
            return SetOp(target, src, "union_all")
        if isinstance(src, Values):
            if any(len(r) != len(cols) for r in src.rows):
                raise ParseError(
                    f"INSERT lists {len(cols)} columns but a VALUES row "
                    "has a different arity"
                )
            renamed: Plan = Values(src.rows, tuple(cols))
        else:
            # same positional-rename contract as CTE column lists
            renamed = _rename_positionally(src, tuple(cols))
            if renamed is None:
                raise ParseError(
                    "column-list INSERT needs a positionally renamable "
                    "source (VALUES rows or a plain SELECT list without "
                    f"*) with exactly {len(cols)} output columns; alias "
                    "the columns in the SELECT itself otherwise"
                )
        base = target.select(*[Col(c, t_name) for c in cols])
        return SetOp(base, renamed, "union_all")

    def parse_with(self) -> Plan:
        self.expect_kw("WITH")
        recursive = self.eat_kw("RECURSIVE")
        ctes: list[tuple] = []  # (name, columns, Plan)
        while True:
            name = self.ident()
            columns: tuple = ()
            if self.eat_op("("):
                cols = [self.ident()]
                while self.eat_op(","):
                    cols.append(self.ident())
                self.expect_op(")")
                columns = tuple(cols)
            self.expect_kw("AS")
            # DuckDB/PG materialization hints — advisory only (Spark
            # has no CTE materialization control; Catalyst decides)
            if not self.eat_kw("MATERIALIZED") and self.at_kw("NOT") \
                    and self.peek(1).upper == "MATERIALIZED":
                self.next()
                self.next()
            self.expect_op("(")
            sub = self.parse_query()
            self.expect_op(")")
            ctes.append((name, columns, sub))
            if not self.eat_op(","):
                break
        body = self.parse_query()
        if recursive:
            # renderer shape (plans/core.py RecursiveWith.to_sql):
            # WITH RECURSIVE n(cols) AS ((base) UNION ALL (step)) body
            if len(ctes) != 1:
                raise ParseError("WITH RECURSIVE supports exactly one CTE")
            name, columns, sub = ctes[0]
            if not (isinstance(sub, SetOp) and sub.kind == "union_all"):
                raise ParseError(
                    "recursive CTE body must be <base> UNION ALL <step>"
                )
            return RecursiveWith(
                name=name, columns=columns, base=sub.left, step=sub.right,
                body=body,
            )
        renamed_ctes = []
        for name, columns, sub in ctes:
            if columns:
                # non-recursive CTE column list: rename the body's
                # projection positionally (both engines also accept
                # t(cols) aliasing, but re-aliasing the projection keeps
                # the IR closed under the existing nodes)
                sub2 = _rename_positionally(sub, columns)
                if sub2 is None:
                    raise ParseError(
                        f"CTE {name!r} column list needs a plain "
                        "SELECT-projection body without * (alias the "
                        "columns in the SELECT instead)"
                    )
                sub = sub2
            renamed_ctes.append((name, sub))
        return With(tuple(renamed_ctes), body)

    def parse_select(self) -> Plan:
        left = self.parse_select_core()
        # set operations, left-associative
        while self.at_kw("UNION", "INTERSECT", "EXCEPT"):
            op = self.next().upper
            all_ = self.eat_kw("ALL")
            right = self.parse_select_core()
            kind = {"UNION": "union", "INTERSECT": "intersect",
                    "EXCEPT": "except"}[op]
            if all_:
                kind = "union_all" if kind == "union" else kind + "_all"
            left = SetOp(left, right, kind)
        return left

    def parse_select_core(self) -> Plan:
        # parenthesized query operand: (SELECT ...) UNION ALL (SELECT ...)
        if self.at_op("("):
            self.next()
            sub = self.parse_query()
            self.expect_op(")")
            return sub
        self.expect_kw("SELECT")
        hints: tuple = ()
        if self.peek().kind == "hint":
            # /*+ BROADCAST(t), MERGE(u) */ — comma-separated hint list
            body = self.next().text[3:-2].strip()
            hints = tuple(h.strip() for h in body.split(",") if h.strip())
        distinct = self.eat_kw("DISTINCT")
        if not distinct:
            self.eat_kw("ALL")  # SELECT ALL — the standard noise word
        distinct_on: Optional[list[Expr]] = None
        if distinct and self.at_kw("ON") and self.peek(1).text == "(":
            # DISTINCT ON (keys): keep the first row per key group in
            # ORDER BY order — no Spark equivalent, desugared below to
            # row_number() OVER (PARTITION BY keys ORDER BY ...) = 1
            self.next()
            self.expect_op("(")
            distinct_on = [self.parse_expr()]
            while self.eat_op(","):
                distinct_on.append(self.parse_expr())
            self.expect_op(")")
            distinct = False
        # pre-scan this core's WINDOW clause (it appears AFTER the
        # projection list, but ``OVER w`` references inside projections
        # need the named specs resolved while parsing them)
        outer_windows = self._named_windows
        self._named_windows = self._prescan_window_clause()
        projs = self.parse_projection_list()

        base: Optional[Plan] = None
        if self.eat_kw("FROM"):
            base = self.parse_relation()
            base = self.parse_from_clause(base)

        where = self.parse_expr() if self.eat_kw("WHERE") else None

        group_kind = "groupby"
        grouping_sets: Optional[tuple] = None
        group_keys: Optional[list[Expr]] = None
        if self.eat_kw("GROUP"):
            self.expect_kw("BY")
            if self.at_kw("ALL"):
                # GROUP BY ALL (Spark >= 3.4 and DuckDB): desugar at
                # parse time — keys are the projections containing no
                # aggregate call, so the IR stays canonical explicit-key
                # form and the render round-trips
                self.next()
                group_keys = [
                    (p.operand if isinstance(p, Alias) else p)
                    for p in projs
                    if not _contains_aggregate(p)
                ]
                if not group_keys:
                    raise ParseError("GROUP BY ALL found no grouping keys")
                if len(group_keys) == len(projs):
                    # no aggregate expressions: GROUP BY ALL over the
                    # whole projection is DISTINCT in both engines
                    # (DuckDB and Spark >= 3.4) — desugar to it
                    group_keys = None
                    distinct = True
            elif self.at_kw("ROLLUP", "CUBE") and self.peek(1).text == "(":
                group_kind = self.next().upper.lower()
                self.expect_op("(")
                group_keys = [self.parse_expr()]
                while self.eat_op(","):
                    group_keys.append(self.parse_expr())
                self.expect_op(")")
            elif self.at_kw("GROUPING") and self.peek(1).upper == "SETS":
                group_kind = "grouping_sets"
                self.next()
                self.next()
                self.expect_op("(")
                sets: list[tuple] = []
                while True:
                    self.expect_op("(")
                    members: list[Expr] = []
                    if not self.at_op(")"):
                        members.append(self.parse_expr())
                        while self.eat_op(","):
                            members.append(self.parse_expr())
                    self.expect_op(")")
                    sets.append(tuple(members))
                    if not self.eat_op(","):
                        break
                self.expect_op(")")
                grouping_sets = tuple(sets)
                # keys = distinct set members in first-appearance order
                group_keys = []
                seen: set[str] = set()
                for s in sets:
                    for e in s:
                        k = e.to_sql()
                        if k not in seen:
                            seen.add(k)
                            group_keys.append(e)
            else:
                group_keys = [self.parse_expr()]
                while self.eat_op(","):
                    group_keys.append(self.parse_expr())

        having = self.parse_expr() if self.eat_kw("HAVING") else None

        # consume the WINDOW clause in place (specs were pre-scanned)
        if self.at_kw("WINDOW"):
            self.next()
            while True:
                self.ident()
                self.expect_kw("AS")
                self.parse_window_spec()
                if not self.eat_op(","):
                    break

        # QUALIFY: post-window filter (DuckDB/Snowflake; Spark lacks the
        # keyword, so the IR expresses it as Filter-above-Project, which
        # the renderer nests — correct post-window semantics in both
        # dialects)
        qualify = self.parse_expr() if self.eat_kw("QUALIFY") else None

        sort_keys: Optional[list[SortKey]] = None
        if self.eat_kw("ORDER"):
            self.expect_kw("BY")
            nxt = self.peek(1)
            if (self.at_kw("ALL")
                    and (nxt.kind == "eof"
                         or (nxt.kind == "op" and nxt.text in (")", ";"))
                         or nxt.upper in ("LIMIT", "OFFSET", "ASC", "DESC",
                                          "UNION", "INTERSECT", "EXCEPT"))):
                # ORDER BY ALL [ASC|DESC]: every output column
                # left-to-right (DuckDB/Spark 4 shorthand) — desugared to
                # explicit keys so the IR stays canonical
                self.next()
                ascending = True
                if self.eat_kw("DESC"):
                    ascending = False
                else:
                    self.eat_kw("ASC")
                sort_keys = []
                for p in projs:
                    if isinstance(p, Star):
                        raise ParseError(
                            "ORDER BY ALL cannot resolve a * projection"
                        )
                    key = Col(p.name) if isinstance(p, Alias) else p
                    sort_keys.append(SortKey(
                        key, ascending=ascending, nulls_first=ascending
                    ))
            else:
                sort_keys = [self.parse_sort_key()]
                while self.eat_op(","):
                    sort_keys.append(self.parse_sort_key())

        limit = offset = None
        if self.eat_kw("LIMIT"):
            limit = int(self.next().text)
        if self.eat_kw("OFFSET"):
            offset = int(self.next().text)
            # SQL-standard `OFFSET n ROWS` noise words
            self.eat_kw("ROWS") or self.eat_kw("ROW")
        if self.at_kw("FETCH"):
            # SQL-standard FETCH {FIRST|NEXT} n ROWS ONLY == LIMIT n
            # (re-rendered as LIMIT — Spark has no FETCH)
            self.next()
            if not (self.eat_kw("FIRST") or self.eat_kw("NEXT")):
                raise ParseError("expected FIRST or NEXT after FETCH")
            limit = int(self.next().text)
            self.eat_kw("ROWS") or self.eat_kw("ROW")
            self.expect_kw("ONLY")

        # ---- assemble ----
        has_groups = any(self._find_groups(p) for p in projs)
        has_wdistinct = any(self._find_wdistinct(p) for p in projs)
        if has_wdistinct:
            if base is None:
                raise ParseError(
                    "DISTINCT window aggregate needs a FROM clause"
                )
            if group_keys is not None:
                raise ParseError(
                    "DISTINCT window aggregate over aggregated rows is "
                    "not supported — aggregate in a subquery first"
                )
            if distinct_on is not None:
                raise ParseError(
                    "DISTINCT window aggregate with DISTINCT ON is not "
                    "supported"
                )
            if any(isinstance(p, Star) for p in projs):
                raise ParseError(
                    "DISTINCT window aggregate with a * projection is "
                    "not supported (the pre-column would leak into *); "
                    "list the columns"
                )
        if qualify is not None and self._find_wdistinct(qualify):
            raise ParseError(
                "DISTINCT window aggregate inside QUALIFY is not "
                "supported; compute it in the projection and filter in "
                "an outer query"
            )
        # review r10b: the desugars rewrite PROJECTIONS only — the same
        # constructs in ORDER BY / HAVING / DISTINCT ON / WHERE would
        # escape both the rejection and the rewrite (Spark then fails
        # at execution while DuckDB runs: a crash-vs-value divergence),
        # so they reject at parse with the alias recipe
        other_sites = list(sort_keys or ())
        if having is not None:
            other_sites.append(having)
        if distinct_on:
            other_sites.extend(distinct_on)
        if where is not None:
            other_sites.append(where)
        for site in other_sites:
            if self._find_groups(site) or self._find_wdistinct(site):
                raise ParseError(
                    "GROUPS frames and DISTINCT window aggregates are "
                    "supported in the projection list only; alias the "
                    "windowed expression there and reference the alias"
                )
        if has_groups:
            # GROUPS frames desugar through a dense_rank pre-projection
            # (_desugar_groups); the combinations that would need the
            # pre-column to survive other rewrites reject loudly
            if base is None:
                raise ParseError("GROUPS frame needs a FROM clause")
            if group_keys is not None:
                raise ParseError(
                    "GROUPS frame over aggregated rows is not supported"
                    " — aggregate in a subquery first"
                )
            if distinct_on is not None:
                raise ParseError(
                    "GROUPS frame with DISTINCT ON is not supported"
                )
            if any(isinstance(p, Star) for p in projs):
                raise ParseError(
                    "GROUPS frame with a * projection is not supported "
                    "(the dense_rank pre-column would leak into *); "
                    "list the columns"
                )
        if qualify is not None and self._find_groups(qualify):
            raise ParseError(
                "GROUPS frame inside QUALIFY is not supported; compute "
                "it in the projection and filter in an outer query"
            )
        if base is None:
            if group_keys is not None:
                raise ParseError("GROUP BY requires a FROM clause")
            plan: Plan = EmptyRelation(tuple(projs))
            if where is not None:
                # SELECT <exprs> WHERE <pred> with no FROM: both engines
                # filter the one-row relation (0 or 1 rows out) — the
                # guard-row idiom (`SELECT 'x' WHERE EXISTS (...)`)
                plan = plan.filter(where)
        else:
            plan = base
            if where is not None:
                if isinstance(plan, Filter):
                    # TABLESAMPLE desugars to a filter; stacking WHERE
                    # above it renders `(a) AND (b)` while the re-parse
                    # reads one BinOp rendering `(a AND b)` — merge at
                    # construction so the first render IS the fixpoint
                    plan = Filter(plan.input,
                                  BinOp("AND", plan.predicate, where))
                else:
                    plan = plan.filter(where)
            if group_keys is not None:
                plan = self._assemble_aggregate(
                    plan, group_keys, projs, group_kind, grouping_sets
                )
            elif distinct_on is not None:
                pass  # projection applied inside the desugar below
            elif has_groups or has_wdistinct:
                if has_wdistinct:
                    plan, projs = self._desugar_window_distinct(
                        plan, projs)
                if has_groups:
                    plan, projs = self._desugar_groups(plan, projs)
                plan = plan.select(*projs)
            elif not (len(projs) == 1 and isinstance(projs[0], Star)
                      and projs[0].table is None
                      and not projs[0].except_cols
                      # bare * over an ASOF join needs the explicit
                      # Project so to_df flattens the match struct the
                      # way both SQL renders flatten the star — also
                      # through WHERE/ORDER/LIMIT wrappers (r11 review)
                      and _asof_below(plan) is None):
                plan = plan.select(*projs)
        if having is not None:
            if group_keys is None:
                raise ParseError("HAVING requires GROUP BY")
            plan = plan.filter(having)
        if qualify is not None:
            plan = plan.filter(qualify)
        if distinct_on is not None:
            if group_keys is not None:
                raise ParseError("DISTINCT ON with GROUP BY is unsupported")
            plan, sort_keys = self._assemble_distinct_on(
                plan, distinct_on, projs, sort_keys
            )
        if hints:
            plan = Hint(plan, hints)
        if distinct:
            plan = plan.distinct()
        self._named_windows = outer_windows
        if sort_keys is not None:
            plan = plan.sort(*sort_keys)
        if offset is not None:
            plan = plan.offset(offset)
        if limit is not None:
            plan = plan.limit(limit)
        return plan

    def _find_groups(self, e) -> bool:
        """True if the expression tree contains a window with a GROUPS
        frame (subquery plans inside the tree are NOT entered — their
        own select cores desugared their own GROUPS on the way up)."""
        return _expr_find(
            e, lambda x: (isinstance(x, WindowExpr)
                          and x.spec.groups_between is not None))

    def _find_wdistinct(self, e) -> bool:
        """True if the tree holds a DISTINCT aggregate over a window
        (Spark: 'Distinct window functions are not supported' — we
        desugar instead; see _desugar_window_distinct)."""
        return _expr_find(
            e, lambda x: isinstance(x, WindowExpr) and x.func.distinct)

    def _desugar_window_distinct(self, plan: Plan, projs: list) -> tuple:
        """``agg(DISTINCT x) OVER (PARTITION BY k)`` desugar — Spark
        rejects distinct window aggregates outright, but one
        pre-projection ``row_number() OVER (PARTITION BY k, x ORDER BY
        x) AS __dst`` marks exactly one row per (k, x) group, and
        wrapping the argument in ``CASE WHEN __dst = 1 THEN x END``
        makes the plain windowed aggregate see each distinct value
        once (aggregates skip the NULLs the CASE leaves elsewhere —
        the same exactness argument as the FILTER rewrite). count/
        sum/avg rewrite; min/max just drop DISTINCT (identical
        semantics). ORDERED windows (no explicit frame — the default
        RANGE UNBOUNDED PRECEDING..CURRENT ROW) desugar too: the flag
        column's row_number orders by the WINDOW's order keys, so the
        flag lands on a minimal-position row of each value, and "value
        seen at or before this position" ⇔ "its flag row is in the
        running frame" — the running-distinct-count staple (cumulative
        unique users). Explicit frames reject: a sliding distinct
        count (values EXIT the frame) is not expressible by a single
        first-occurrence flag. DuckDB executes DISTINCT-over-window
        natively, ordered and not: the independent oracle.
        """
        import dataclasses

        table: dict = {}

        def key_of(spec, arg, pred) -> str:
            return ("|".join(p.to_sql("spark") for p in spec.partition_by)
                    + "##" + arg.to_sql("spark") + "##"
                    + "|".join(k.to_sql("spark") for k in spec.order_by)
                    + "##F##"
                    + (pred.to_sql("spark") if pred is not None else ""))

        def visit(e):
            if isinstance(e, WindowExpr) and e.func.distinct:
                fn = canonical_name(e.func.name)
                if fn in ("min", "max"):
                    # DISTINCT is a no-op there; rewrite strips it and
                    # any frame stays legal (review r10b: the frame
                    # check below is count/sum/avg-only)
                    return False
                if fn not in ("count", "sum", "avg"):
                    raise ParseError(
                        f"DISTINCT window aggregate {e.func.name!r} is "
                        "not desugarable (count/sum/avg/min/max only)"
                    )
                if len(e.func.args) != 1:
                    raise ParseError(
                        "DISTINCT window aggregates take exactly one "
                        "argument"
                    )
                if (e.spec.rows_between is not None
                        or e.spec.range_between is not None
                        or e.spec.groups_between is not None):
                    raise ParseError(
                        "DISTINCT window aggregates support whole-"
                        "partition or default-frame ordered windows "
                        "only (a sliding distinct count needs values "
                        "to EXIT the frame — not expressible by a "
                        "first-occurrence flag)"
                    )
                k = key_of(e.spec, e.func.args[0], e.func.filter_where)
                if k not in table:
                    n = ("__dst" if not table
                         else f"__dst{len(table) + 1}")
                    table[k] = (n, e.spec, e.func.args[0],
                                e.func.filter_where)
            return False  # side-effect visitor: walk everything

        for p in projs:
            _expr_find(p, visit)
        # ADVICE r11 (high): with FILTER (WHERE pred) the flag must
        # mark the first occurrence AMONG FILTERED ROWS — flagging over
        # all rows and filtering afterwards counts a value only if its
        # arbitrarily-chosen flag row happens to pass (nondeterministic
        # undercount, invisible to the dual-engine oracle because both
        # dialects rendered the same wrong desugar).  Adding pred to
        # the flag window's PARTITION BY splits each (partition, value)
        # group into pred-true / pred-false / pred-null subgroups, so
        # rn=1 ∧ pred is exactly the first passing row (in window order
        # for the ordered/running form), and the filter folds into the
        # CASE — the rewritten aggregate carries no FILTER clause.
        aliases = [
            Alias(
                WindowExpr(
                    Func("row_number", ()),
                    WindowSpec(
                        spec.partition_by + (arg,)
                        + ((pred,) if pred is not None else ()),
                        spec.order_by or (SortKey(arg),)),
                ),
                name,
            )
            for name, spec, arg, pred in table.values()
        ]
        pre = plan.select(Star(), *aliases) if aliases else plan

        def rewrite(e):
            if isinstance(e, WindowExpr) and e.func.distinct:
                fn = canonical_name(e.func.name)
                if fn in ("min", "max"):
                    return WindowExpr(
                        dataclasses.replace(e.func, distinct=False),
                        e.spec,
                    )
                name, _, arg, pred = table[
                    key_of(e.spec, e.func.args[0], e.func.filter_where)]
                cond = BinOp("=", Col(name), Lit(1))
                if pred is not None:
                    cond = BinOp("AND", cond, pred)
                flagged = Case(((cond, arg),))
                return WindowExpr(
                    dataclasses.replace(e.func, distinct=False,
                                        args=(flagged,),
                                        filter_where=None),
                    e.spec,
                )
            return e

        return pre, [_expr_transform(p, rewrite) for p in projs]

    def _desugar_groups(self, plan: Plan, projs: list) -> tuple:
        """GROUPS-frame desugar: Spark has no GROUPS mode, but a GROUPS
        bound counts peer groups and peer-group distance IS dense_rank
        distance — so one pre-projection ``SELECT *, dense_rank() OVER
        (partition, order) AS __grp`` turns every GROUPS frame into a
        RANGE frame over the rank, exactly (ties stay peers: equal
        order keys share a rank). One pre-column per distinct
        (partition, order) pair; render→parse fixpoint holds at the
        desugared two-level form; DuckDB's NATIVE GROUPS mode is the
        independent oracle formulation.

        Scale shape: the dense_rank pre-pass sorts on the same
        (partition, order) prefix as the main window, so Catalyst
        reuses one sort+exchange for both — no extra shuffle."""
        import dataclasses

        table: dict = {}

        def key_of(spec) -> str:
            return ("|".join(p.to_sql("spark") for p in spec.partition_by)
                    + "##"
                    + "|".join(k.to_sql("spark") for k in spec.order_by))

        def visit(e):
            if (isinstance(e, WindowExpr)
                    and e.spec.groups_between is not None):
                k = key_of(e.spec)
                if k not in table:
                    n = "__grp" if not table else f"__grp{len(table) + 1}"
                    table[k] = (n, e.spec)
            return False  # side-effect visitor: walk everything

        for p in projs:
            _expr_find(p, visit)
        aliases = [
            Alias(WindowExpr(Func("dense_rank", ()),
                             WindowSpec(spec.partition_by, spec.order_by)),
                  name)
            for name, spec in table.values()
        ]
        pre = plan.select(Star(), *aliases)

        def rewrite(e):
            if (isinstance(e, WindowExpr)
                    and e.spec.groups_between is not None):
                name, _ = table[key_of(e.spec)]
                spec = dataclasses.replace(
                    e.spec,
                    order_by=(SortKey(Col(name)),),
                    range_between=e.spec.groups_between,
                    groups_between=None,
                )
                return WindowExpr(e.func, spec)
            return e

        return pre, [_expr_transform(p, rewrite) for p in projs]

    def _assemble_distinct_on(
        self,
        plan: Plan,
        keys: list[Expr],
        projs: list[Expr],
        sort_keys: Optional[list[SortKey]],
    ) -> tuple[Plan, Optional[list[SortKey]]]:
        """DISTINCT ON (keys) desugar: the first row of each key group in
        ORDER BY order (keys themselves when no ORDER BY) —
        ``row_number() OVER (PARTITION BY keys ORDER BY ...) = 1``.

        The intermediate projection materializes the sort keys as
        ``__don_sN`` so the final presentation ORDER BY can reference
        them even when they are not output columns (DISTINCT ON's ORDER
        BY is evaluated pre-projection); a final narrow Project drops the
        helpers. One key-partitioned window — one hash exchange at scale,
        same shape as the as-of join."""
        out_cols: list[str] = []
        for p in projs:
            if isinstance(p, (Alias, Col)):
                out_cols.append(p.name)
            else:
                raise ParseError(
                    "DISTINCT ON projections must be columns or aliased "
                    "expressions"
                )
        window_order = (tuple(sort_keys) if sort_keys
                        else tuple(SortKey(k) for k in keys))
        spec = WindowSpec(tuple(keys), window_order, None, None)
        rn = Alias(WindowExpr(Func("row_number", ()), spec), "__don_rn")
        helpers = []
        final_sort = None
        if sort_keys:
            helpers = [
                Alias(sk.operand, f"__don_s{i}")
                for i, sk in enumerate(sort_keys)
            ]
            final_sort = [
                SortKey(Col(f"__don_s{i}"), ascending=sk.ascending,
                        nulls_first=sk.nulls_first)
                for i, sk in enumerate(sort_keys)
            ]
        plan = plan.select(*projs, rn, *helpers)
        plan = plan.filter(BinOp("=", Col("__don_rn"), Lit(1)))
        if final_sort:
            plan = plan.sort(*final_sort)
        plan = plan.select(*[Col(n) for n in out_cols])
        return plan, None

    def _assemble_aggregate(
        self,
        plan: Plan,
        keys: list[Expr],
        projs: list[Expr],
        kind: str = "groupby",
        grouping_sets: Optional[tuple] = None,
    ) -> Plan:
        """GROUP BY [ROLLUP/CUBE/GROUPING SETS]: split the select list
        into group keys and aggregates.

        The IR's Aggregate projects keys-then-aggs; when the SQL listed
        them in exactly that order the assembly is loss-free (and the
        render reproduces the input order). Other orders still parse —
        the output column ORDER follows keys-then-aggs, which is the
        fixpoint form. A projection that aliases a group key (``expr AS
        name`` with ``expr`` in GROUP BY) becomes the Aggregate's key, so
        the alias survives the round trip (Aggregate renders GROUP BY
        with the bare expression, the select list with the alias)."""
        key_sql = [k.to_sql() for k in keys]
        keyset = set(key_sql)

        def inner_sql(e: Expr) -> str:
            return (e.operand if isinstance(e, Alias) else e).to_sql()

        # prefer the projection's (possibly aliased) form of each key
        proj_by_sql = {}
        for p in projs:
            proj_by_sql.setdefault(inner_sql(p), p)
        agg_keys = [proj_by_sql.get(s, k) for k, s in zip(keys, key_sql)]
        aggs = [p for p in projs if inner_sql(p) not in keyset]
        if kind == "rollup":
            grouped = plan.rollup(*agg_keys)
        elif kind == "cube":
            grouped = plan.cube(*agg_keys)
        elif kind == "grouping_sets":
            grouped = plan.grouping_sets(list(grouping_sets or ()), *agg_keys)
        else:
            grouped = plan.group_by(*agg_keys)
        return grouped.agg(*aggs)

    # ---- projections / relations ----------------------------------------
    def parse_projection_list(self) -> list[Expr]:
        out = [self.parse_projection()]
        while self.eat_op(","):
            # trailing comma before FROM / end-of-select (DuckDB
            # convenience; harmless to accept, never rendered back).
            # ONLY the keyword-named functions (left/right) keep their
            # call reading before '(' — exempting every clause keyword
            # would misread `, FROM (subquery)` as a FROM(...) call
            t = self.peek()
            if t.kind == "eof" or (
                t.kind == "ident" and t.upper in _CLAUSE_KW
                and not (t.upper in ("LEFT", "RIGHT")
                         and self.peek(1).text == "(")
            ):
                break
            out.append(self.parse_projection())
        return out

    def parse_projection(self) -> Expr:
        if self.at_op("*"):
            self.next()
            return self._maybe_star_except(None)
        # t.* (lookahead: ident . *)
        if (self.peek().kind in ("ident", "qident")
                and self.peek(1).kind == "op" and self.peek(1).text == "."
                and self.peek(2).kind == "op" and self.peek(2).text == "*"
                and self.peek().upper not in _CLAUSE_KW):
            t = self.ident()
            self.next()  # .
            self.next()  # *
            return self._maybe_star_except(t)
        e = self.parse_expr()
        if self.eat_kw("AS"):
            return Alias(e, self.ident())
        # bare alias: a trailing identifier that is not a clause keyword
        t = self.peek()
        if t.kind in ("ident", "qident") and t.upper not in _CLAUSE_KW:
            return Alias(e, self.ident())
        return e

    def _maybe_star_except(self, table: Optional[str]) -> Star:
        """``* EXCEPT (cols)`` (Spark) / ``* EXCLUDE (cols)`` (DuckDB).
        EXCEPT is also the set operator — only engage when the paren
        holds a bare column list, not a sub-select."""
        if (self.at_kw("EXCEPT", "EXCLUDE")
                and self.peek(1).text == "("
                and self.peek(2).kind in ("ident", "qident")
                and self.peek(2).upper not in ("SELECT", "WITH")):
            self.next()
            self.expect_op("(")
            cols = [self.ident()]
            while self.eat_op(","):
                cols.append(self.ident())
            self.expect_op(")")
            return Star(table, tuple(cols))
        return Star(table)

    def parse_relation(self) -> Plan:
        if self.eat_op("("):
            if self.at_kw("VALUES"):
                return self.parse_values()
            sub = self.parse_query()
            self.expect_op(")")
            if self.eat_kw("AS"):
                name = self.ident()
                if _is_dummy_onerow(sub) and re.match(r"_sq\d+$", name):
                    # the renderer's generated one-row wrapper
                    # `(SELECT 1) AS _sqN` (Explode over EmptyRelation):
                    # the alias is regenerated noise — pinning it as a
                    # real SubqueryAlias would shift the fresh-alias
                    # counter and break the render→parse fixpoint
                    return sub
                return _resugar_series(sub, name) or sub.alias(name)
            t = self.peek()
            if (t.kind in ("ident", "qident") and t.upper not in _CLAUSE_KW
                    and not (t.upper in ("PIVOT", "UNPIVOT")
                             and self.peek(1).text == "(")):
                name = self.ident()
                return _resugar_series(sub, name) or sub.alias(name)
            return _resugar_series(sub, None) or sub
        if (self.peek().kind == "ident"
                and self.peek().upper == "GENERATE_SERIES"
                and self.peek(1).text == "("):
            # table function: generate_series(start, stop[, step])
            from datafusion_sqlgen_spark.plans.core import GenerateSeries

            self.next()
            self.next()
            args = [self.parse_expr()]
            while self.eat_op(","):
                args.append(self.parse_expr())
            self.expect_op(")")
            if not 2 <= len(args) <= 3:
                raise ParseError(
                    "generate_series takes (start, stop[, step])"
                )
            lits = [a.value if isinstance(a, Lit) else None for a in args]
            if all(isinstance(v, int) for v in lits[:2]):
                # literal bounds: enforce the ascending-by-default
                # contract loudly — Spark's sequence() auto-descends
                # while DuckDB raises 'start is bigger than end'
                step = lits[2] if len(lits) > 2 else 1
                if step == 0:
                    raise ParseError("generate_series step must not be 0")
                if isinstance(step, int):
                    if step > 0 and lits[0] > lits[1]:
                        raise ParseError(
                            "generate_series(start > stop) needs an "
                            "explicit negative step (Spark would "
                            "auto-descend; DuckDB errors)"
                        )
                    if step < 0 and lits[0] < lits[1]:
                        raise ParseError(
                            "generate_series with a negative step "
                            "needs start >= stop"
                        )
            alias = None
            if self.eat_kw("AS"):
                alias = self.ident()
            else:
                t = self.peek()
                if t.kind in ("ident", "qident") and t.upper not in _CLAUSE_KW:
                    alias = self.ident()
            return GenerateSeries(tuple(args), table_alias=alias)
        if (self.peek().kind == "ident"
                and self.peek().upper == "UNNEST"
                and self.peek(1).text == "("):
            # standalone table function: FROM UNNEST(arr) AS t(c) — an
            # Explode over the one-row relation, projected down to the
            # unnested column so SELECT * sees only it (the correlated
            # form `FROM t, UNNEST(expr)` lives in parse_from_clause)
            from datafusion_sqlgen_spark.plans.core import EmptyRelation

            self.next()
            self.next()
            arr = self.parse_expr()
            self.expect_op(")")
            col = self._unnest_alias()
            return EmptyRelation().explode(arr, col).select(col)
        table = self.ident()
        if self.eat_kw("AS"):
            return self._maybe_tablesample(scan(table).alias(self.ident()))
        t = self.peek()
        if (t.kind in ("ident", "qident") and t.upper not in _CLAUSE_KW
                and t.upper != "TABLESAMPLE"):
            return self._maybe_tablesample(scan(table).alias(self.ident()))
        return self._maybe_tablesample(scan(table))

    def _maybe_tablesample(self, rel: Plan) -> Plan:
        """``TABLESAMPLE (p PERCENT ON id_col | n ROWS ON id_col)
        [REPEATABLE ('salt')]`` — the *deterministic* dialect of the
        statement form.  Engine-native TABLESAMPLE is non-reproducible
        (Spark's BERNOULLI and DuckDB's SYSTEM draw from different RNGs,
        so no oracle could ever agree), which is exactly the property a
        curation pipeline cannot accept; this engine's sampling contract
        is content-addressed membership.  The clause therefore REQUIRES
        the hash key (``ON id_col``) and desugars at parse time into the
        corresponding operator's exact compilation:

          * ``p PERCENT`` → ``operators/sampling.stable_sample``'s
            md5-bucket filter
            ``substring(md5(CAST(id AS STRING) || ':salt'), 1, 4) < hex``
            (default salt ``'sample'``);
          * ``n ROWS`` → ``operators/sampling.stable_topk_sample``'s
            exactly-n permutation prefix
            ``ORDER BY md5(CAST(id AS STRING) || ':salt'), id LIMIT n``
            (default salt ``'topk'``) — plan-wise a TakeOrdered, never
            a global sort.

        Identical membership in both dialects, no new IR nodes, and the
        render→parse fixpoint holds because the render IS the
        filter/sort-limit."""
        if not self.at_kw("TABLESAMPLE"):
            return rel
        self.next()
        self.expect_op("(")
        t = self.next()
        try:
            num = float(t.text)
        except ValueError:
            raise ParseError(
                f"TABLESAMPLE expects a number, got {t.text!r}"
            ) from None
        if self.eat_kw("PERCENT"):
            kind = "percent"
            if not 0.0 <= num <= 100.0:
                raise ParseError(
                    f"TABLESAMPLE percentage must be in [0, 100], got {num}"
                )
        elif self.eat_kw("ROWS"):
            kind = "rows"
            # validate the TOKEN TEXT, not the float value: '40.0 ROWS'
            # and '4e1 ROWS' round-trip through float() as integers but
            # are not integer literals (ADVICE r9)
            if not t.text.isdigit():
                raise ParseError(
                    f"TABLESAMPLE ROWS takes an integer count, got {t.text}"
                )
        else:
            raise ParseError("TABLESAMPLE expects PERCENT or ROWS")
        if not self.eat_kw("ON"):
            raise ParseError(
                "TABLESAMPLE requires ON <id_col>: random sampling is not "
                "reproducible across engines; this dialect is the "
                "deterministic md5 sample (sampling.stable_sample / "
                "stable_topk_sample)"
            )
        id_col = self.ident()
        self.expect_op(")")
        salt = None
        if self.eat_kw("REPEATABLE"):
            self.expect_op("(")
            tok = self.next()
            if tok.kind != "string":
                raise ParseError(
                    "REPEATABLE takes a quoted salt string, e.g. "
                    "REPEATABLE ('v2')"
                )
            salt = _unquote(tok.text)
            self.expect_op(")")

        if kind == "percent":
            from datafusion_sqlgen_spark.operators.sampling import _threshold

            pred = BinOp(
                "<",
                Func("substring", (
                    Func("md5", (
                        Func("concat", (
                            Cast(Col(id_col), "string"),
                            Lit(":" + (salt or "sample")),
                        )),
                    )),
                    Lit(1), Lit(4),
                )),
                Lit(_threshold(num / 100.0)),
            )
            return rel.filter(pred)
        rk = Func("md5", (
            Func("concat", (
                Cast(Col(id_col), "string"), Lit(":" + (salt or "topk")),
            )),
        ))
        sampled_alias = None
        if isinstance(rel, SubqueryAlias):
            # desugar INSIDE the user's alias: wrapping Sort/Limit above
            # it would leave to_sql nesting the limit under a fresh _q
            # alias, so alias-qualified outer refs ('d.doc_id' for
            # 'documents AS d TABLESAMPLE (...)') stopped resolving in
            # the SQL render while the DataFrame render resolved them —
            # an ADVICE r8 dual-path divergence
            sampled_alias, rel = rel.name, rel.input
        sampled = rel.sort(
            SortKey(rk, ascending=True, nulls_first=True),
            SortKey(Col(id_col), ascending=True, nulls_first=True),
        ).limit(int(num))
        return sampled.alias(sampled_alias) if sampled_alias else sampled

    def parse_from_clause(self, left: Plan) -> Plan:
        """Joins, LATERAL VIEW generators, comma-LATERAL subqueries and
        UNPIVOT, in any interleaving — everything this repo's renderer
        can splice into a FROM clause."""
        saw_comma = False
        while True:
            if saw_comma and (
                (self.at_kw("RIGHT", "FULL")
                 and self.peek(1).upper in ("OUTER", "JOIN", "SEMI", "ANTI"))
                or (self.at_kw("NATURAL")
                    and self.peek(1).upper in ("RIGHT", "FULL"))
            ):
                # ADVICE r11: the original guard only peeked for
                # OUTER/JOIN, so NATURAL RIGHT/FULL and RIGHT/FULL
                # SEMI|ANTI spellings slipped past and silently
                # left-folded as (a CROSS b) RIGHT c — the exact
                # regrouping divergence this guard exists to reject
                raise ParseError(
                    "RIGHT/FULL JOIN after an implicit comma cross-join "
                    "regroups under the standard's precedence (comma "
                    "binds loosest) — parenthesize the right-joined "
                    "tables as a subquery, or reorder the FROM list"
                )
            if self.at_kw("LATERAL") and self.peek(1).upper == "VIEW":
                left = self.parse_lateral_view(left)
                continue
            if self.at_op(",") and self.peek(1).upper == "LATERAL":
                self.next()
                self.next()
                self.expect_op("(")
                sub = self.parse_query()
                self.expect_op(")")
                self.eat_kw("AS")
                left = left.lateral(sub, self.ident())
                continue
            if (self.at_op(",") and self.peek(1).upper == "UNNEST"
                    and self.peek(2).text == "("):
                # correlated UNNEST: FROM t, UNNEST(t.arr) AS a(c) — the
                # standard spelling of the Explode node (PG/Trino);
                # narrow per-row generate, no shuffle
                self.next()
                self.next()
                self.next()
                arr = self.parse_expr()
                self.expect_op(")")
                left = left.explode(arr, self._unnest_alias())
                continue
            if self.at_op(","):
                # implicit comma cross-join (SQL-92): FROM a, b [WHERE
                # k-predicates] — the most common join spelling in the
                # wild (the reference renders comma-separated FROM
                # tables, sqlgenerator/src/lib.rs:79-102; corpus intent
                # tests/select.rs:817-837). Parses to Join(cross) and
                # renders back as explicit CROSS JOIN (fixpoint there);
                # the WHERE stays a Filter above, and Catalyst's
                # ExtractFiltersAndInnerJoins folds equality conjuncts
                # into the join condition, so `FROM a, b WHERE a.x=b.y`
                # still plans as a hash equi-join, not a cartesian
                # (plan-gated in tests). Comma binds LOOSER than JOIN
                # in the standard; left-folding is result-equivalent
                # for inner/left/semi/anti/cross chains (their ON sees
                # only the joined pair and left rows are preserved),
                # but NOT for RIGHT/FULL — `a, b RIGHT JOIN c` is
                # a × (b RIGHT c) per the standard, while the left fold
                # NULL-pads the a side of unmatched c rows instead of
                # crossing them (review r11 #2, verified vs DuckDB).
                # Those reject below rather than silently regroup.
                self.next()
                right = self.parse_relation()
                left = left.join(right, how="cross")
                saw_comma = True
                continue
            if self.at_kw("UNPIVOT"):
                left = self.parse_unpivot(left)
                continue
            if self.at_kw("PIVOT") and self.peek(1).text == "(":
                left = self.parse_pivot(left)
                continue
            nxt = self.parse_one_join(left)
            if nxt is None:
                return left
            left = nxt

    def parse_values(self) -> Plan:
        """(VALUES (...), (...)) AS name(c1, c2) — the plans.Values
        inline relation (the generated alias is regenerated on render)."""
        from datafusion_sqlgen_spark.plans.core import Values

        self.expect_kw("VALUES")
        rows: list[tuple] = []
        while True:
            self.expect_op("(")
            vals = [self.parse_expr()]
            while self.eat_op(","):
                vals.append(self.parse_expr())
            self.expect_op(")")
            rows.append(tuple(vals))
            if not self.eat_op(","):
                break
        self.expect_op(")")
        self.eat_kw("AS")
        self.ident()  # generated relation alias (regenerated on render)
        self.expect_op("(")
        cols = [self.ident()]
        while self.eat_op(","):
            cols.append(self.ident())
        self.expect_op(")")
        return Values(tuple(rows), tuple(cols))

    def parse_lateral_view(self, left: Plan) -> Plan:
        """LATERAL VIEW [OUTER] explode|posexplode(e) <gen_alias> AS cols
        — the Spark-dialect render of the Explode node (plans/core.py).
        The generated ``_sqN`` view alias is positional noise; the plan
        regenerates its own on render."""
        self.next()  # LATERAL
        self.next()  # VIEW
        outer = self.eat_kw("OUTER")
        fn = self.ident().lower()
        if fn not in ("explode", "posexplode"):
            raise ParseError(f"unsupported LATERAL VIEW generator {fn!r}")
        self.expect_op("(")
        arr = self.parse_expr()
        self.expect_op(")")
        self.ident()  # generator view alias (regenerated on render)
        self.expect_kw("AS")
        c1 = self.ident()
        c2 = None
        if self.eat_op(","):
            c2 = self.ident()
        if fn == "posexplode":
            if c2 is None:
                raise ParseError("posexplode needs pos and value aliases")
            return left.explode(arr, c2, pos_alias=c1, outer=outer)
        if c2 is not None:
            raise ParseError("explode yields exactly one column")
        return left.explode(arr, c1, outer=outer)

    def parse_unpivot(self, left: Plan) -> Plan:
        """(...) AS a UNPIVOT (val FOR key IN (c1, c2, ...)).

        The Unpivot node re-projects ids+measures itself, so the parsed
        input must expose a plain-column projection to recover the id
        set (the renderer always emits one — plans/core.py Unpivot)."""
        self.next()  # UNPIVOT
        self.expect_op("(")
        value_col = self.ident()
        self.expect_kw("FOR")
        var_col = self.ident()
        self.expect_kw("IN")
        self.expect_op("(")
        cols = [self.ident()]
        while self.eat_op(","):
            cols.append(self.ident())
        self.expect_op(")")
        self.expect_op(")")
        inner = left.input if isinstance(left, SubqueryAlias) else left
        if not (
            isinstance(inner, Project)
            and all(isinstance(p, Col) for p in inner.exprs)
        ):
            raise ParseError(
                "UNPIVOT requires a derived table with a plain column "
                "projection (to recover the id columns)"
            )
        proj_names = [p.name for p in inner.exprs]
        ids = tuple(n for n in proj_names if n not in set(cols))
        return Unpivot(inner.input, ids, tuple(cols), var_col, value_col)

    def parse_pivot(self, left: Plan) -> Plan:
        """(...) [AS a] PIVOT (agg(expr) FOR col IN (v1, v2, ...)) — the
        Snowflake-style FROM-clause pivot both engines execute verbatim.
        Values must be literals (each becomes an output column name)."""
        from datafusion_sqlgen_spark.plans.core import Pivot, SubqueryAlias

        self.next()  # PIVOT
        self.expect_op("(")
        agg_expr = self.parse_expr()
        self.expect_kw("FOR")
        pivot_col = self.ident()
        self.expect_kw("IN")
        self.expect_op("(")
        vals = [self.parse_expr()]
        while self.eat_op(","):
            vals.append(self.parse_expr())
        self.expect_op(")")
        self.expect_op(")")
        for v in vals:
            if not isinstance(v, Lit):
                raise ParseError("PIVOT IN values must be literals")
        # the derived-table alias is positional noise for PIVOT (the
        # node regenerates one on render)
        inner = left.input if isinstance(left, SubqueryAlias) else left
        return Pivot(inner, agg_expr, pivot_col, tuple(vals))

    def parse_one_join(self, left: Plan) -> Optional[Plan]:
        how = None
        if self.at_kw("NATURAL"):
            # NATURAL [INNER|LEFT|RIGHT|FULL [OUTER]] JOIN — USING over
            # every shared column, resolved at execution (no catalog at
            # parse time); rendered natively by both dialects
            self.next()
            if self.eat_kw("INNER"):
                how = "inner"
            elif self.at_kw("LEFT", "RIGHT", "FULL"):
                how = {"LEFT": "left", "RIGHT": "right",
                       "FULL": "full"}[self.next().upper]
                self.eat_kw("OUTER")
            else:
                how = "inner"
            self.expect_kw("JOIN")
            right = self.parse_relation()
            if self.at_kw("ON") or self.at_kw("USING"):
                raise ParseError("NATURAL JOIN takes no ON/USING clause")
            return left.join(right, how=how, natural=True)
        if self.at_kw("ASOF"):
            return self._parse_asof_join(left)
        if self.at_kw("JOIN"):
            how = "inner"
            self.next()
        elif self.at_kw("INNER") and self.peek(1).upper == "JOIN":
            how = "inner"
            self.next(); self.next()
        elif self.at_kw("CROSS") and self.peek(1).upper == "JOIN":
            how = "cross"
            self.next(); self.next()
        elif self.at_kw("SEMI", "ANTI") and self.peek(1).upper == "JOIN":
            # DuckDB-dialect spelling (no LEFT prefix)
            how = "left_semi" if self.peek().upper == "SEMI" else "left_anti"
            self.next(); self.next()
        elif (self.at_kw("LEFT", "RIGHT", "FULL")
              and self.peek(1).upper in ("OUTER", "SEMI", "ANTI", "JOIN")):
            d = self.next().upper
            base_how = {"LEFT": "left", "RIGHT": "right", "FULL": "full"}[d]
            if self.at_kw("SEMI", "ANTI") and d != "LEFT":
                # neither Spark nor DuckDB has RIGHT/FULL SEMI|ANTI;
                # silently parsing it as left_semi/left_anti (the
                # pre-r12 behavior) inverted which side survives
                raise ParseError(
                    f"{d} {self.peek().upper} JOIN is not a supported "
                    "join type — swap the relations and use LEFT "
                    f"{self.peek().upper} JOIN"
                )
            if self.eat_kw("SEMI"):
                how = "left_semi"
            elif self.eat_kw("ANTI"):
                how = "left_anti"
            else:
                self.eat_kw("OUTER")
                how = base_how
            self.expect_kw("JOIN")
        else:
            return None
        if how == "left" and self.at_kw("LATERAL"):
            # LEFT JOIN LATERAL (sub) AS a [ON TRUE] — the NULL-padding
            # lateral (empty per-row output keeps the left row); any
            # real ON condition belongs in the subquery's WHERE
            self.next()
            self.expect_op("(")
            sub = self.parse_query()
            self.expect_op(")")
            self.eat_kw("AS")
            name = self.ident()
            if self.eat_kw("ON"):
                cond = self.parse_expr()
                if not (isinstance(cond, Lit) and cond.value is True):
                    raise ParseError(
                        "LEFT JOIN LATERAL takes ON TRUE only — put "
                        "the correlation in the subquery's WHERE"
                    )
            return left.lateral(sub, name, how="left")
        right = self.parse_relation()
        if self.eat_kw("USING"):
            self.expect_op("(")
            cols = [self.ident()]
            while self.eat_op(","):
                cols.append(self.ident())
            self.expect_op(")")
            return left.join(right, how=how, using=tuple(cols))
        on = self.parse_expr() if self.eat_kw("ON") else None
        return left.join(right, on=on, how=how)

    def _parse_asof_join(self, left: Plan) -> Plan:
        """``l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts`` (DuckDB
        dialect): each left row pairs with the single most recent right
        row at or before its timestamp (``>=``; ``<=`` is the forward
        variant, earliest at or after; strict ``>``/``<`` exclude an
        exactly-equal timestamp — DuckDB's dialect accepts all four).
        ``ASOF LEFT JOIN`` keeps unmatched left rows NULL-padded.

        Parses into the first-class ``AsofJoin`` node (plans/core.py):
        ``to_sql("duckdb")`` renders native ASOF. The Spark dialect has
        no ASOF keyword, so the node's one Spark implementation is the
        one-shuffle union+window shape of ``operators.joins.asof_join``
        built as plan IR (``AsofJoin._spark_desugar`` — no join
        operator in the physical plan at all; a lateral-LIMIT-1 shape
        would compile to a BroadcastNestedLoopJoin), which
        ``to_sql("spark")`` renders as text and ``to_df`` executes::

            left rows  (struct(l.*) AS __l, keys, l.ts AS __ts, NULL AS __p)
            UNION ALL
            right rows (NULL AS __l, keys, r.ts AS __ts, struct(r.*) AS __p)
            match = last(__p) IGNORE NULLS OVER (PARTITION BY keys
                      ORDER BY __ts ...)

        keeping the left rows (all of them for ``ASOF LEFT JOIN``, a
        NULL match NULL-pads; only the matched ones for the inner
        form). The spark render→parse fixpoint lands on the desugared
        form; the duckdb render fixpoints at the ASOF surface form
        itself.

        Preconditions (standard ASOF, documented not checked): the
        right side is unique on (key, time) — on a duplicated pinning
        timestamp every path picks arbitrarily (to_df and the spark
        render: arbitrary tied struct; native DuckDB: arbitrary row),
        so build the right side with a ``GROUP BY key, ts`` the way
        ``parsed_asof_join`` does.
        Right-side columns must be referenced qualified above the join
        (they travel as a struct named by the right alias). NULL
        timestamps/keys match nothing (SQL comparison semantics;
        DuckDB's native ASOF instead sorts NULL as the largest
        ordering value — divergence pinned in tests).
        """
        self.expect_kw("ASOF")
        left_outer = self.eat_kw("LEFT")
        self.expect_kw("JOIN")
        right = self.parse_relation()
        if isinstance(right, Scan):
            rname = right.table
        elif isinstance(right, SubqueryAlias):
            rname = right.name
        else:
            raise ParseError(
                "ASOF JOIN right side must be a named relation or an "
                "aliased subquery"
            )
        if self.eat_kw("USING"):
            # DuckDB's USING shorthand: every column but the LAST is an
            # equality key; the last is the ordering column with ``>=``
            # (backward) semantics.  Desugars to the explicit ON
            # conjunction (qualified both sides), so the render
            # fixpoints at the ON form and all downstream machinery is
            # shared.  Needs a NAMED left relation for qualification —
            # a bare shared column name would be ambiguous in the
            # rendered ON.
            if isinstance(left, Scan):
                lname = left.table
            elif isinstance(left, SubqueryAlias):
                lname = left.name
            else:
                raise ParseError(
                    "ASOF JOIN USING needs a named left relation "
                    "(alias the left side, or spell the ON form)"
                )
            self.expect_op("(")
            cols = [self.ident()]
            while self.eat_op(","):
                cols.append(self.ident())
            self.expect_op(")")
            if len(cols) < 2:
                raise ParseError(
                    "ASOF JOIN USING takes at least two columns (keys "
                    "first, the ordering column last)"
                )
            cond = None
            for c in cols[:-1]:
                eq = BinOp("=", Col(c, lname), Col(c, rname))
                cond = eq if cond is None else BinOp("AND", cond, eq)
            cond = BinOp("AND", cond,
                         BinOp(">=", Col(cols[-1], lname),
                               Col(cols[-1], rname)))
        else:
            self.expect_kw("ON")
            cond = self.parse_expr()

        def conjuncts(e):
            if isinstance(e, BinOp) and e.op == "AND":
                return conjuncts(e.left) + conjuncts(e.right)
            return [e]

        def split(c):
            # returns (r_col, other_expr, op_with_r_on_right) or None
            if not isinstance(c, BinOp) or c.op not in ("=", ">=", "<=",
                                                        ">", "<"):
                return None
            l_is_r = isinstance(c.left, Col) and c.left.table == rname
            r_is_r = isinstance(c.right, Col) and c.right.table == rname
            if l_is_r == r_is_r:  # both or neither reference the right
                return None
            # normalize to (r_col <op> l_expr): moving the right-side
            # column across the comparison flips its direction
            flip = {"=": "=", ">=": "<=", "<=": ">=", ">": "<", "<": ">"}
            if r_is_r:
                return c.right, c.left, flip[c.op]
            return c.left, c.right, c.op

        eqs, ineqs = [], []
        for c in conjuncts(cond):
            parts = split(c)
            if parts is None:
                raise ParseError(
                    "ASOF JOIN ON must be AND-ed comparisons, each "
                    "between a right-side qualified column and a "
                    "left-side expression (= keys plus exactly one "
                    ">=/<=/>/< timestamp bound, optionally a second, "
                    "opposite-direction bound on the same column as a "
                    "merge_asof-style tolerance)"
                )
            rcol, lexpr, op = parts
            if op == "=":
                eqs.append((rcol, lexpr))
            else:
                ineqs.append((rcol, lexpr, op, c))
        if not ineqs:
            raise ParseError(
                "ASOF JOIN needs a >=/<=/>/< timestamp bound in ON"
            )
        if not eqs:
            raise ParseError(
                "ASOF JOIN needs at least one equality key in ON (a "
                "keyless asof ranks the whole right side per left row)"
            )
        tol = None
        if len(ineqs) == 2:
            # merge_asof-style tolerance window: the MATCH bound's left
            # expression reappears inside the other bound shifted by an
            # offset — backward `r.ts <= l.ts AND r.ts >= l.ts - I`,
            # forward `r.ts >= l.ts AND r.ts <= l.ts + I`. The pair
            # (<=, >=) alone is ambiguous (same window, opposite pick
            # ends), so the offset SHAPE disambiguates: exactly one
            # bound must be `<match lexpr> -|+ <offset>` with the sign
            # matching the other bound's direction.
            def as_tol(match, cand):
                mrc, mle, mop, _mc = match
                crc, cle, cop, cc = cand
                if crc.name != mrc.name:
                    return None
                backward = mop in ("<=", "<")
                if (cop in ("<=", "<")) == backward:
                    return None  # same direction: not a window
                want = "-" if backward else "+"
                if (isinstance(cle, BinOp) and cle.op == want
                        and cle.left.to_sql() == mle.to_sql()):
                    return cop, cle, cc
                return None

            a, b = ineqs
            picks = [(m, as_tol(m, c)) for m, c in ((a, b), (b, a))]
            picks = [(m, t) for m, t in picks if t is not None]
            if len(picks) != 1:
                raise ParseError(
                    "ASOF JOIN with two timestamp bounds needs exactly "
                    "one readable as a tolerance: the match bound's "
                    "left expression shifted by an offset in the "
                    "match direction (e.g. backward: r.ts <= l.ts AND "
                    "r.ts >= l.ts - INTERVAL '1' HOUR)"
                )
            (rt_, lts_, op_, _), (tol_op, tol_rhs, tol_conjunct) = picks[0]
            ineq = (rt_, lts_, op_)
            tol = (tol_op, tol_rhs)
            base_cond = None
            for c in conjuncts(cond):
                if c is tol_conjunct:
                    continue
                base_cond = (c if base_cond is None
                             else BinOp("AND", base_cond, c))
        elif len(ineqs) > 2:
            raise ParseError(
                "ASOF JOIN takes at most two >=/<=/>/< bounds (the "
                "match bound plus one tolerance bound)"
            )
        else:
            ineq = ineqs[0][:3]
        rt, lts, op = ineq  # op: l.ts >= r.ts arrives as ('<=')==backward
        strict = op in (">", "<")
        how = "left" if left_outer else "inner"
        node = AsofJoin(
            left=left, right=right, rname=rname,
            eqs=tuple((rcol.name, lexpr) for rcol, lexpr in eqs),
            r_time=rt.name, l_time=lts,
            direction="backward" if op in ("<=", "<") else "forward",
            strict=strict,
            how=how,
            # the native DuckDB render carries only the match
            # conjunction — DuckDB rejects a second ASOF inequality
            # even when the tolerance arrives via WHERE (its optimizer
            # pushes the filter into the join first; probed r12), so
            # the tolerance lives on the node for BOTH hows and the
            # DuckDB render fails closed
            cond=cond if tol is None else base_cond,
            tol_op=tol[0] if tol else None,
            tol_rhs=tol[1] if tol else None,
        )
        return node

    def parse_sort_key(self) -> SortKey:
        e = self.parse_expr()
        ascending = True
        if self.eat_kw("ASC"):
            ascending = True
        elif self.eat_kw("DESC"):
            ascending = False
        nulls_first = ascending  # Spark/DuckDB default: asc->first, desc->last
        if self.eat_kw("NULLS"):
            if self.eat_kw("FIRST"):
                nulls_first = True
            else:
                self.expect_kw("LAST")
                nulls_first = False
        return SortKey(e, ascending=ascending, nulls_first=nulls_first)

    # ---- expressions (Pratt) ---------------------------------------------
    def parse_expr(self, min_bp: int = 0) -> Expr:
        lhs = self.parse_prefix()
        while True:
            t = self.peek()
            if t.kind == "ident":
                kw = t.upper
                if kw == "OR" and min_bp < 1:
                    self.next()
                    lhs = BinOp("OR", lhs, self.parse_expr(1))
                    continue
                if kw == "AND" and min_bp < 2:
                    self.next()
                    lhs = BinOp("AND", lhs, self.parse_expr(2))
                    continue
                if kw == "IS" and min_bp <= 4:
                    self.next()
                    negated = self.eat_kw("NOT")
                    if self.eat_kw("NULL"):
                        lhs = IsNotNull(lhs) if negated else IsNull(lhs)
                    elif self.at_kw("TRUE", "FALSE"):
                        # IS [NOT] TRUE/FALSE: three-valued boolean test,
                        # desugared to the null-safe comparison the IR
                        # already has (x IS TRUE ≡ x IS NOT DISTINCT FROM
                        # TRUE) — renders on both engines
                        b = Lit(self.next().upper == "TRUE")
                        lhs = (IsDistinctFrom(lhs, b) if negated
                               else IsNotDistinctFrom(lhs, b))
                    elif self.eat_kw("UNKNOWN"):
                        # boolean UNKNOWN is NULL
                        lhs = IsNotNull(lhs) if negated else IsNull(lhs)
                    else:
                        self.expect_kw("DISTINCT")
                        self.expect_kw("FROM")
                        rhs = self.parse_expr(5)
                        lhs = (IsNotDistinctFrom(lhs, rhs) if negated
                               else IsDistinctFrom(lhs, rhs))
                    continue
                if (kw in ("BETWEEN", "IN", "LIKE", "ILIKE", "RLIKE",
                           "SIMILAR") and min_bp <= 4):
                    lhs = self.parse_postfix_predicate(lhs, negated=False)
                    continue
                if (kw == "NOT" and min_bp <= 4
                        and self.peek(1).upper in ("BETWEEN", "IN", "LIKE",
                                                   "ILIKE", "RLIKE",
                                                   "SIMILAR")):
                    self.next()
                    lhs = self.parse_postfix_predicate(lhs, negated=True)
                    continue
                break
            if t.kind == "op":
                op = t.text
                if op in _CMP_OPS and min_bp <= 5:
                    self.next()
                    op = "<>" if op == "!=" else op
                    if (self.at_kw("ANY", "SOME", "ALL")
                            and self.peek(1).text == "("
                            and self.peek(2).upper in ("SELECT", "WITH")):
                        # quantified comparison: = ANY / <> ALL map to
                        # exact IN-subqueries; the ordered forms desugar
                        # to a three-valued CASE over min/max/count
                        # scalar subqueries — exact for empty and
                        # NULL-containing subquery results in every
                        # truth context (see _desugar_quantified)
                        quant = self.next().upper
                        self.expect_op("(")
                        sub = self.parse_query()
                        self.expect_op(")")
                        if op == "=" and quant in ("ANY", "SOME"):
                            lhs = InSubquery(lhs, sub)
                        elif op == "<>" and quant == "ALL":
                            lhs = InSubquery(lhs, sub, negated=True)
                        else:
                            lhs = self._desugar_quantified(lhs, op, quant, sub)
                        continue
                    rhs = self.parse_expr(6)
                    if isinstance(lhs, RowExpr) or isinstance(rhs, RowExpr):
                        lhs = self._row_compare(op, lhs, rhs)
                    else:
                        lhs = BinOp(op, lhs, rhs)
                    continue
                if op == "<=>" and min_bp <= 5:
                    self.next()
                    lhs = IsNotDistinctFrom(lhs, self.parse_expr(6))
                    continue
                if op in ("~", "~*", "!~", "!~*") and min_bp <= 5:
                    # PG regex-match operator spellings (the reference
                    # maps all four, datafusion-sqlgen/src/expr.rs:
                    # 202-205), normalized onto the existing RLike
                    # node: `~*`/`!~*` fold case with an inline `(?i)`
                    # flag (Java regex and DuckDB's RE2 both honor
                    # it), `!` negates — so render→parse fixpoints at
                    # the RLIKE spelling, same as the keyword form.
                    self.next()
                    pat = self.parse_expr(6)
                    if not (isinstance(pat, Lit)
                            and isinstance(pat.value, str)):
                        raise ParseError(
                            f"{op} pattern must be a string literal")
                    p = pat.value
                    _reject_backslash(p, f"{op} pattern")
                    if op.endswith("*"):
                        p = "(?i)" + p
                    lhs = RLike(lhs, p, negated=op.startswith("!"))
                    continue
                if op == "||" and min_bp <= 6:
                    self.next()
                    lhs = BinOp("||", lhs, self.parse_expr(7))
                    continue
                if op in ("&", "|", "^") and min_bp <= 6:
                    self.next()
                    lhs = BinOp(op, lhs, self.parse_expr(7))
                    continue
                if op in ("+", "-") and min_bp <= 7:
                    self.next()
                    lhs = BinOp(op, lhs, self.parse_expr(8))
                    continue
                if op in ("*", "/", "%") and min_bp <= 8:
                    self.next()
                    lhs = BinOp(op, lhs, self.parse_expr(9))
                    continue
                if op == "[":
                    # multi-index access `expr[i, j]` (the reference
                    # renders comma-joined index lists,
                    # sqlgenerator/src/expr.rs:179-194) = chained
                    # single indexes into nested arrays; renders back
                    # as `expr[i][j]` (fixpoint there)
                    self.next()
                    lhs = Index(lhs, self.parse_expr())
                    while self.eat_op(","):
                        lhs = Index(lhs, self.parse_expr())
                    self.expect_op("]")
                    continue
                if op == "::":
                    # postgres/DuckDB cast shorthand, tightest binding
                    self.next()
                    lhs = self._mk_cast(lhs, self.parse_type())
                    continue
                break
            break
        return lhs

    _MAP_PRODUCING = {
        "map_from_arrays", "map", "map_concat", "map_from_entries",
        "map_filter", "map_zip_with", "str_to_map",
    }

    def _is_map_typed(self, e: Expr) -> bool:
        """Shallow map-type inference: a call to a map-producing function
        is a map by construction (no schema needed); a bare column is a
        map when the caller's ``schema`` says so."""
        if isinstance(e, Func):
            return e.name.lower() in self._MAP_PRODUCING
        if isinstance(e, Alias):
            return self._is_map_typed(e.operand)
        return (
            isinstance(e, Col)
            and self.schema.get(e.name, "").lower() == "map"
        )

    def _desugar_quantified(
        self, lhs: Expr, op: str, quant: str, sub: "Plan"
    ) -> Expr:
        """Ordered quantified comparisons as EXACT three-valued CASE over
        extrema + count scalar subqueries (round-6 ADVICE fix — the
        bare min/max rewrite returned wrong rows under plain WHERE:
        ``x > ALL (empty)`` is TRUE natively but NULL under ``x > max``,
        and ``x > ALL {1, NULL}`` is UNKNOWN natively but TRUE under
        ``max``-ignores-NULLs).

        SQL-standard semantics reproduced, for ``x <cmp> ALL s``:
        TRUE when s is empty; NULL when x IS NULL (s non-empty); FALSE
        when a non-NULL counterexample exists; NULL when s contains a
        NULL but no counterexample; else TRUE. ``ANY``/``SOME`` mirror
        with FALSE/TRUE swapped and a witness instead of a
        counterexample. Counterexamples/witnesses reduce to min/max
        comparisons, so the rewrite needs only four scalar aggregates
        (min, max, count(*), count(v)) over ONE uncorrelated subquery.
        Catalyst's MergeScalarSubqueries fuses them into struct-valued
        shared aggregates (verified: 2 merged passes per predicate in
        the optimized plan, executed once — not per row), and there is
        still no per-row probe (the correlated-EXISTS alternative).
        ``= ANY`` / ``<> ALL`` never reach here (exact IN-subquery
        sugar upstream)."""
        name = _single_output_name(sub)
        if name is None:
            raise ParseError(
                f"{op} {quant} (subquery): the subquery's single output "
                "column must be a named or aliased expression (alias it, "
                "e.g. SELECT expr AS v ...)"
            )
        mn = ScalarSubquery(sub.group_by().agg(
            Alias(Func("min", (Col(name),)), "__qmin")))
        mx = ScalarSubquery(sub.group_by().agg(
            Alias(Func("max", (Col(name),)), "__qmax")))
        cnt = ScalarSubquery(sub.group_by().agg(
            Alias(Func("count", ()), "__qcnt")))
        cntv = ScalarSubquery(sub.group_by().agg(
            Alias(Func("count", (Col(name),)), "__qcntv")))
        any_ = quant in ("ANY", "SOME")
        if op in (">", ">=", "<", "<="):
            if any_:
                # witness that makes x <cmp> ANY s TRUE (over non-NULLs)
                decisive = {
                    ">": BinOp(">", lhs, mn),
                    ">=": BinOp(">=", lhs, mn),
                    "<": BinOp("<", lhs, mx),
                    "<=": BinOp("<=", lhs, mx),
                }[op]
            else:
                # counterexample that makes x <cmp> ALL s FALSE
                decisive = {
                    ">": BinOp("<=", lhs, mx),
                    ">=": BinOp("<", lhs, mx),
                    "<": BinOp(">=", lhs, mn),
                    "<=": BinOp(">", lhs, mn),
                }[op]
        elif op == "=" and not any_:
            # non-NULL v != x exists ⟺ min != x or max != x
            decisive = BinOp(
                "OR", BinOp("<>", lhs, mn), BinOp("<>", lhs, mx))
        elif op == "<>" and any_:
            decisive = BinOp(
                "OR", BinOp("<>", lhs, mn), BinOp("<>", lhs, mx))
        else:
            raise ParseError(
                f"unsupported quantified comparison {op} {quant}")
        # When count(v) == 0 (all NULL), min/max are NULL so `decisive`
        # is NULL and its WHEN arm is skipped — falling through to the
        # has-NULL arm, which is the correct UNKNOWN.
        empty_result = Lit(False) if any_ else Lit(True)
        decisive_result = Lit(True) if any_ else Lit(False)
        default = Lit(False) if any_ else Lit(True)
        return Case(
            whens=(
                (BinOp("=", cnt, Lit(0)), empty_result),
                (IsNull(lhs), Lit(None)),
                (decisive, decisive_result),
                (BinOp("<", cntv, cnt), Lit(None)),
            ),
            else_=default,
        )

    def _row_compare(self, op: str, lhs: Expr, rhs: Expr) -> Expr:
        """Row-value comparison ``(a, b) = (c, d)`` — pairwise
        conjunction per the standard (identical three-valued logic);
        ``<>`` is its negation.  Only = and <> are supported: the
        lexicographic ordered forms are not portable to Spark."""
        if not (isinstance(lhs, RowExpr) and isinstance(rhs, RowExpr)):
            raise ParseError(
                "row-value comparison needs row values on BOTH sides"
            )
        if len(lhs.exprs) != len(rhs.exprs):
            raise ParseError(
                f"row-value arity mismatch: {len(lhs.exprs)} vs "
                f"{len(rhs.exprs)}"
            )
        if op not in ("=", "<>"):
            raise ParseError(
                f"row-value comparison supports = and <> only, got {op!r}"
            )
        conj = None
        for a, b in zip(lhs.exprs, rhs.exprs):
            eq = BinOp("=", a, b)
            conj = eq if conj is None else BinOp("AND", conj, eq)
        return Not(conj) if op == "<>" else conj

    def parse_postfix_predicate(self, lhs: Expr, negated: bool) -> Expr:
        if self.eat_kw("BETWEEN"):
            symmetric = self.eat_kw("SYMMETRIC")
            lo = self.parse_expr(5)
            self.expect_kw("AND")
            hi = self.parse_expr(5)
            if symmetric:
                # BETWEEN SYMMETRIC: bounds in either order (Spark lacks
                # the keyword — desugar to the two-sided OR)
                both = BinOp(
                    "OR", Between(lhs, lo, hi), Between(lhs, hi, lo)
                )
                return Not(both) if negated else both
            return Between(lhs, lo, hi, negated=negated)
        if self.eat_kw("IN"):
            self.expect_op("(")
            if self.at_kw("SELECT", "WITH"):
                sub = self.parse_query()
                self.expect_op(")")
                return InSubquery(lhs, sub, negated=negated)
            vals = [self.parse_expr()]
            while self.eat_op(","):
                vals.append(self.parse_expr())
            self.expect_op(")")
            if isinstance(lhs, RowExpr):
                # (a, b) IN ((1, 2), ...) — standard row-value IN-list;
                # desugar to the OR of pairwise row equalities (exactly
                # the standard's definition, identical 3VL), since bare
                # row comparison is not portable outside IN (subquery)
                ors = None
                for v in vals:
                    eq = self._row_compare("=", lhs, v)
                    ors = eq if ors is None else BinOp("OR", ors, eq)
                return Not(ors) if negated else ors
            return InList(lhs, tuple(vals), negated=negated)
        ci = False
        if self.eat_kw("ILIKE"):
            ci = True
        elif self.eat_kw("RLIKE"):
            pat = self.next()
            if pat.kind != "string":
                raise ParseError("RLIKE pattern must be a string literal")
            p = _unquote(pat.text)
            _reject_backslash(p, "RLIKE pattern")
            return RLike(lhs, p, negated=negated)
        elif self.eat_kw("SIMILAR"):
            from datafusion_sqlgen_spark.expressions.core import (
                SimilarTo,
                similar_to_regex,
            )

            self.expect_kw("TO")
            pat = self.next()
            if pat.kind != "string":
                raise ParseError(
                    "SIMILAR TO pattern must be a string literal"
                )
            p = _unquote(pat.text)
            try:
                similar_to_regex(p)  # validate portability at parse time
            except ValueError as e:
                raise ParseError(str(e)) from None
            return SimilarTo(lhs, p, negated=negated)
        else:
            self.expect_kw("LIKE")
        pat = self.next()
        if pat.kind != "string":
            raise ParseError("LIKE pattern must be a string literal")
        p = _unquote(pat.text)
        _reject_backslash(p, "LIKE pattern")
        esc = None
        if self.eat_kw("ESCAPE"):
            et = self.next()
            if et.kind != "string" or len(_unquote(et.text)) != 1:
                raise ParseError(
                    "ESCAPE takes a single-character string literal"
                )
            esc = _unquote(et.text)
            _reject_backslash(esc, "ESCAPE character")
        return Like(lhs, p, negated=negated,
                    case_insensitive=ci, escape=esc)

    def _unnest_alias(self) -> str:
        """The column alias for an UNNEST relation: ``AS t(c)``,
        ``AS c``, ``t(c)`` or ``c``. Required — PG defaults the column
        to ``unnest`` and Spark to ``col``, so an unaliased UNNEST
        would name its output differently per engine."""
        self.eat_kw("AS")
        t = self.peek()
        if t.kind not in ("ident", "qident") or t.upper in _CLAUSE_KW:
            raise ParseError(
                "UNNEST requires a column alias (AS t(c) or AS c)"
            )
        name = self.ident()
        if self.eat_op("("):
            name = self.ident()
            self.expect_op(")")
        return name

    def _interval_literal(self) -> Interval:
        """The token(s) after ``INTERVAL``: ``3 DAY``, ``'3' DAY``, or
        the PG quantity-in-string spelling ``'30 days'`` (single unit;
        plural units normalize to the singular both engines accept).
        Multi-unit strings (``'1 year 2 months'``) are rejected — they
        would need engine-specific compound interval types rather than
        the portable single-unit literal."""
        t2 = self.next()
        unit = None
        if t2.kind == "string":
            body = _unquote(t2.text).strip()
            parts = body.split()
            if len(parts) == 2:
                body, unit = parts
            elif len(parts) > 2:
                raise ParseError(
                    "multi-unit INTERVAL strings are not supported; "
                    "add single-unit intervals instead"
                )
        elif t2.kind == "number":
            body = t2.text
        else:
            raise ParseError(f"INTERVAL takes a quantity, got {t2.text!r}")
        try:
            n = int(body)
        except ValueError:
            raise ParseError(
                f"INTERVAL quantity must be an integer, got {body!r}"
            ) from None
        if unit is None:
            unit = self.ident()
        uu = unit.upper()
        if uu.endswith("S") and uu[:-1] in _INTERVAL_UNITS:
            uu = uu[:-1]
        return Interval(n, uu)

    def parse_prefix(self) -> Expr:
        t = self.peek()
        if t.kind == "number":
            self.next()
            txt = t.text
            if "." in txt or "e" in txt or "E" in txt:
                return Lit(float(txt))
            return Lit(int(txt))
        if t.kind == "string":
            self.next()
            return Lit(_unquote(t.text))
        if t.kind == "op":
            if t.text == "(":
                lam = self.try_parse_lambda()
                if lam is not None:
                    return lam
                self.next()
                if self.at_kw("SELECT", "WITH"):
                    sub = self.parse_query()
                    self.expect_op(")")
                    return ScalarSubquery(sub)
                e = self.parse_expr()
                if self.at_op(","):
                    # row-value constructor (e1, e2, ...) — IN-subquery
                    # operand or a pairwise-desugared comparison
                    elems = [e]
                    while self.eat_op(","):
                        elems.append(self.parse_expr())
                    self.expect_op(")")
                    return RowExpr(tuple(elems))
                self.expect_op(")")
                return self.parse_trailing_field(e)
            if t.text == "-":
                self.next()
                # fold a negated numeric literal: Lit(-1) renders "-1",
                # so parsing it back as Neg(Lit(1)) -> "(- 1)" would
                # break the render fixpoint
                if self.peek().kind == "number":
                    v = self.parse_prefix()
                    return Lit(-v.value)
                return Neg(self.parse_expr(9))
            if t.text == "+":
                self.next()
                return self.parse_expr(9)
            raise ParseError(f"unexpected {t.text!r} at offset {t.pos}")
        if t.kind in ("ident", "qident"):
            kw = t.upper if t.kind == "ident" else ""
            if (kw in _CLAUSE_KW and kw != "NOT"
                    and self.peek(1).text != "("):
                # reserved clause word where an expression was expected
                # (keyword followed by "(" is a function call: left(s, 2))
                raise ParseError(
                    f"unexpected keyword {t.text!r} at offset {t.pos}"
                )
            if kw == "NOT":
                self.next()
                return Not(self.parse_expr(3))
            if kw in ("TRUE", "FALSE"):
                self.next()
                return Lit(kw == "TRUE")
            if kw == "NULL":
                self.next()
                return Lit(None)
            if kw in ("CAST", "TRY_CAST"):
                self.next()
                self.expect_op("(")
                e = self.parse_expr()
                self.expect_kw("AS")
                dtype = self.parse_type()
                self.expect_op(")")
                if kw == "TRY_CAST":
                    return TryCast(e, dtype)
                return self._mk_cast(e, dtype)
            if kw == "CASE":
                return self.parse_case()
            # EXISTS (SELECT ...) is the subquery predicate; exists(arr,
            # lambda) is Spark's higher-order function — disambiguate on
            # the token after the paren
            if (kw == "EXISTS" and self.peek(1).text == "("
                    and self.peek(2).upper in ("SELECT", "WITH")):
                self.next()
                self.expect_op("(")
                sub = self.parse_query()
                self.expect_op(")")
                return Exists(sub)
            if kw == "INTERVAL":
                self.next()
                return self._interval_literal()
            if (kw in ("EXTRACT", "SUBSTRING", "SUBSTR", "POSITION", "TRIM")
                    and self.peek(1).text == "("):
                std = self._try_parse_standard_fn(kw)
                if std is not None:
                    return std
            if kw == "ARRAY" and self.peek(1).text == "[":
                # ARRAY[e1, e2, ...] (PG/DuckDB constructor) — the same
                # expression as the registry's array() call (Spark
                # array / DuckDB list_value)
                self.next()
                self.next()  # [
                elems: list[Expr] = []
                if not self.at_op("]"):
                    elems.append(self.parse_expr())
                    while self.eat_op(","):
                        elems.append(self.parse_expr())
                self.expect_op("]")
                return Func("array", tuple(elems))
            if kw in ("DATE", "TIMESTAMP") and self.peek(1).kind == "string":
                import datetime as _dt
                self.next()
                s = _unquote(self.next().text)
                if kw == "DATE":
                    return Lit(_dt.date.fromisoformat(s))
                return Lit(_dt.datetime.fromisoformat(s))
            if (kw in _TYPE_MAP and kw != "CHAR"
                    and self.peek(1).kind == "string"):
                # PG typed literal: INT '42', DOUBLE '1.5', BOOLEAN 't'
                # — plain CAST (DATE/TIMESTAMP above stay real literals)
                self.next()
                s = _unquote(self.next().text)
                return Cast(Lit(s), _TYPE_MAP[kw])
            # single-param lambda: x -> body
            if self.peek(1).kind == "op" and self.peek(1).text == "->":
                param = self.ident()
                self.next()  # ->
                return Lambda((param,), self.parse_expr())
            name = self.ident()
            if self.at_op("("):
                # trailing struct-field access on a call result:
                # named_struct('a', 1).a — same Field postfix the
                # parenthesized-expression branch accepts
                return self.parse_trailing_field(self.parse_call(name))
            if self.eat_op("."):
                return Col(self.ident(), table=name)
            return Col(name)
        raise ParseError(f"unexpected token {t.text!r} at offset {t.pos}")

    # EXTRACT units with a same-named registry function (identical
    # cross-engine semantics); anything else falls through to date_part
    _EXTRACT_FNS = {
        "year", "month", "day", "hour", "minute", "second", "quarter",
        "dayofyear", "weekofyear",
    }
    # "dow" routes through the registry's dayofweek, which pins SPARK's
    # convention (Sunday=1..7) in both dialects. The engines' own
    # EXTRACT(DOW) semantics DISAGREE (Spark 1-7, DuckDB 0-6), so no
    # choice can match both native behaviors — this engine's contract is
    # Spark semantics, and the DuckDB render compensates (+1). A bare
    # date_part('dow', e) fallback would silently return engine-
    # dependent values.
    _EXTRACT_ALIASES = {"doy": "dayofyear", "week": "weekofyear",
                        "dow": "dayofweek"}

    def _try_parse_standard_fn(self, kw: str) -> Optional[Expr]:
        """SQL-standard keyword-separated call forms:

        - ``EXTRACT(unit FROM e)``        -> year(e)/…/date_part('unit', e)
        - ``SUBSTRING(x FROM a [FOR n])`` -> substring(x, a[, n])
        - ``POSITION(sub IN s)``          -> strpos(s, sub)
        - ``TRIM([BOTH|LEADING|TRAILING] [c] FROM x)``
                                          -> trim/btrim/ltrim_chars/rtrim_chars

        Returns None (with position restored) when the parenthesized body
        is NOT the standard form — e.g. plain ``substring(x, 1, 3)`` or
        ``trim(x)`` — so the generic call parser takes over."""
        save = self.i
        try:
            self.next()  # fn keyword
            self.expect_op("(")
            if kw == "EXTRACT":
                unit = self.ident().lower()
                self.expect_kw("FROM")
                e = self.parse_expr()
                self.expect_op(")")
                unit = self._EXTRACT_ALIASES.get(unit, unit)
                if unit in self._EXTRACT_FNS or unit == "dayofweek":
                    return Func(unit, (e,))
                return Func("date_part", (Lit(unit), e))
            if kw in ("SUBSTRING", "SUBSTR"):
                x = self.parse_expr()
                if not self.eat_kw("FROM"):
                    raise ParseError("not standard-form substring")
                start = self.parse_expr()
                args = [x, start]
                if self.eat_kw("FOR"):
                    args.append(self.parse_expr())
                self.expect_op(")")
                return Func("substring", tuple(args))
            if kw == "POSITION":
                # min_bp=5 keeps the operand's own parse from consuming
                # the separating IN as an IN-list predicate
                sub = self.parse_expr(5)
                if not self.eat_kw("IN"):
                    raise ParseError("not standard-form position")
                s = self.parse_expr()
                self.expect_op(")")
                return Func("strpos", (s, sub))
            # TRIM
            spec = "BOTH"
            if self.at_kw("BOTH", "LEADING", "TRAILING"):
                spec = self.next().upper
            chars = None
            if not self.at_kw("FROM"):
                chars = self.parse_expr()
            if not self.eat_kw("FROM"):
                raise ParseError("not standard-form trim")
            x = self.parse_expr()
            self.expect_op(")")
            if chars is None:
                name = {"BOTH": "trim", "LEADING": "ltrim",
                        "TRAILING": "rtrim"}[spec]
                return Func(name, (x,))
            name = {"BOTH": "btrim", "LEADING": "ltrim_chars",
                    "TRAILING": "rtrim_chars"}[spec]
            return Func(name, (x, chars))
        except ParseError:
            self.i = save
            return None

    @staticmethod
    def _mk_cast(e: Expr, dtype: str) -> Expr:
        # CAST(CAST(x AS BIGINT) AS DOUBLE) is the registry's Spark
        # render of numeric trunc — fold it back so the DuckDB re-render
        # keeps TRUNCATION semantics (DuckDB's own float->int CAST
        # rounds, Spark's truncates)
        if dtype == "double" and isinstance(e, Cast) and e.dtype == "bigint":
            return Func("trunc", (e.operand,))
        return Cast(e, dtype)

    def try_parse_lambda(self) -> Optional[Expr]:
        """Multi-param lambda lookahead: (a, b) -> body (at '(')."""
        j = self.i + 1
        saw_ident = False
        while True:
            t = self.toks[min(j, len(self.toks) - 1)]
            if t.kind == "ident" and t.upper not in _CLAUSE_KW:
                saw_ident = True
                j += 1
            elif t.kind == "op" and t.text == ",":
                j += 1
            elif t.kind == "op" and t.text == ")":
                j += 1
                break
            else:
                return None
        nxt = self.toks[min(j, len(self.toks) - 1)]
        if not (saw_ident and nxt.kind == "op" and nxt.text == "->"):
            return None
        self.next()  # (
        params = [self.ident()]
        while self.eat_op(","):
            params.append(self.ident())
        self.expect_op(")")
        self.expect_op("->")
        return Lambda(tuple(params), self.parse_expr())

    def parse_trailing_field(self, e: Expr) -> Expr:
        from datafusion_sqlgen_spark.expressions.core import Field
        while self.at_op("."):
            self.next()
            e = Field(e, self.ident())
        return e

    def parse_call(self, name: str) -> Expr:
        self.expect_op("(")
        distinct = self.eat_kw("DISTINCT")
        ignore_nulls = False
        args: list[Expr] = []
        if not self.at_op(")"):
            if self.at_op("*"):
                self.next()  # count(*) -> zero-arg count
            else:
                def arg():
                    # struct(t.*) — pack a whole relation into one
                    # struct column (the AsofJoin spark-dialect
                    # desugar's payload form, r12); Spark expands the
                    # qualified star inside CreateStruct natively,
                    # DuckDB renders it as the bare relation alias.
                    # ONLY struct takes the form — anywhere else a
                    # qualified star stays a parse error rather than
                    # SQL that fails downstream (review r12 #6)
                    if (name.lower() == "struct"
                            and self.peek().kind == "ident"
                            and self.peek(1).kind == "op"
                            and self.peek(1).text == "."
                            and self.peek(2).kind == "op"
                            and self.peek(2).text == "*"):
                        t = self.ident()
                        self.next(); self.next()
                        from datafusion_sqlgen_spark.expressions.core import (
                            Star,
                        )
                        return Star(table=t)
                    return self.parse_expr()

                args.append(arg())
                while self.eat_op(","):
                    args.append(arg())
        ordered_by: Optional[Expr] = None
        # DuckDB ordered-agg placement: string_agg(v, sep ORDER BY k)
        if self.at_kw("ORDER"):
            self.next()
            self.expect_kw("BY")
            ordered_by = self.parse_expr()
        # DuckDB placement: fn(args IGNORE NULLS); RESPECT NULLS is the
        # default everywhere — parse and drop
        if (self.at_kw("IGNORE", "RESPECT")
                and self.peek(1).upper == "NULLS"):
            ignore_nulls = self.next().upper == "IGNORE"
            self.next()
        self.expect_op(")")
        # Spark placement: fn(args) IGNORE NULLS [OVER ...]
        if (self.at_kw("IGNORE", "RESPECT")
                and self.peek(1).upper == "NULLS"):
            ignore_nulls = self.next().upper == "IGNORE" or ignore_nulls
            self.next()
        # Spark ordered-agg placement: listagg(v, sep) WITHIN GROUP
        # (ORDER BY k) — the registry's render of string_agg
        if self.at_kw("WITHIN") and self.peek(1).upper == "GROUP":
            self.next()
            self.next()
            self.expect_op("(")
            self.expect_kw("ORDER")
            self.expect_kw("BY")
            ordered_by = self.parse_expr()
            self.expect_op(")")
        lname = name.lower()
        # reverse the Spark-dialect renames so a parsed render reaches the
        # same canonical IR function the original plan used (size ->
        # array_size, char -> chr, hex -> to_hex, ...)
        lname = SPARK_NAME_TO_CANONICAL.get(lname, lname)
        # schema-aware map resolution (VERDICT r4 item 7): Spark's
        # size/element_at/cardinality are type-polymorphic over arrays
        # AND maps; with a caller-provided column-type map the parser
        # resolves the MAP reading to the map canonicals so the DuckDB
        # render translates correctly (map_extract/cardinality vs
        # list_extract/len). Without schema info the array reading
        # stands, as documented.
        if args and self._is_map_typed(args[0]):
            if lname in ("array_size", "cardinality", "size"):
                lname = "map_size"
            elif lname in ("element_at", "try_element_at"):
                # review r10b: map-typed try_element_at is a key lookup
                # (NULL on missing key — map_get's contract on both
                # engines); resolving it here also keeps the literal-0
                # rejection below array-only, where Spark's
                # INVALID_INDEX_OF_ZERO actually applies
                lname = "map_get"
        if (lname == "sha2" and len(args) == 2
                and isinstance(args[1], Lit) and args[1].value == 256):
            lname, args = "sha256", args[:1]
        if (lname == "try_element_at" and len(args) == 2
                and isinstance(args[1], Lit) and args[1].value == 0):
            # review r10b: Spark's try_ suppresses only OUT-OF-RANGE —
            # index 0 still raises INVALID_INDEX_OF_ZERO, while the
            # DuckDB twin's subscript returns NULL: a crash-vs-value
            # divergence, so reject the literal form loudly (runtime
            # zeros remain the documented Spark-errors edge)
            raise ParseError(
                "try_element_at index 0: Spark raises "
                "INVALID_INDEX_OF_ZERO (try_ only suppresses "
                "out-of-range); indexes are 1-based"
            )
        if ordered_by is not None:
            if lname in ("percentile_cont", "percentile_disc"):
                # SQL-standard inverse distribution: fn(q) WITHIN GROUP
                # (ORDER BY v) is the canonical fn(v, q) (Spark
                # percentile / DuckDB quantile_cont via the registry)
                if len(args) != 1:
                    raise ParseError(
                        f"{lname} WITHIN GROUP takes exactly one "
                        "fraction argument"
                    )
                args = [ordered_by, args[0]]
            elif lname in ("listagg", "string_agg"):
                # canonical IR form: string_agg(value, sep, order_key);
                # the 2-arg render orders by the value itself
                # (registry.py)
                args = args[:2]
                if ordered_by.to_sql() != args[0].to_sql():
                    args = args + [ordered_by]
                lname = "string_agg"
            elif lname in ("array_agg", "collect_list"):
                # canonical IR form: array_agg(value, order_key) — the
                # always-sorted contract (registry.py); ordering by the
                # value itself stays 1-arg
                args = args[:1]
                if ordered_by.to_sql() != args[0].to_sql():
                    args = args + [ordered_by]
                lname = "array_agg"
            else:
                raise ParseError(
                    f"ordered aggregation is only supported for "
                    f"array_agg/string_agg/listagg/percentile_cont/"
                    f"percentile_disc, got {lname!r}"
                )
        filter_where = None
        # SQL-standard conditional aggregation: fn(args) FILTER (WHERE c)
        if self.at_kw("FILTER") and self.peek(1).text == "(":
            self.next()
            self.expect_op("(")
            self.expect_kw("WHERE")
            filter_where = self.parse_expr()
            self.expect_op(")")
        fn = Func(
            lname, tuple(args), distinct=distinct,
            ignore_nulls=ignore_nulls, filter_where=filter_where,
        )
        if self.eat_kw("OVER"):
            if not self.at_op("("):
                # OVER w — named window from this core's WINDOW clause
                t = self.peek()
                spec = self._named_windows.get(t.text)
                if spec is None:
                    raise ParseError(
                        f"unknown named window {t.text!r} at offset {t.pos}"
                    )
                self.next()
                return self._window_expr(fn, spec)
            return self._window_expr(fn, self.parse_window_spec())
        return fn

    def _window_expr(self, fn: Func, spec) -> WindowExpr:
        if spec.exclude_current or spec.exclude_peers:
            # surface the render-time contract at parse time, where the
            # function name is known
            if (fn.name.lower() not in ("sum", "count", "avg")
                    or fn.distinct or fn.filter_where is not None):
                kind = ("CURRENT ROW" if spec.exclude_current
                        else spec.exclude_peers.upper())
                raise ParseError(
                    f"EXCLUDE {kind} is supported for plain "
                    f"sum/count/avg windows only, got {fn.name!r}"
                )
        return WindowExpr(fn, spec)

    def _prescan_window_clause(self) -> dict:
        """Token-level lookahead for this core's ``WINDOW name AS (...)``
        clause. It syntactically FOLLOWS the projection list, but the
        projections' ``OVER name`` references need the specs first — so
        scan ahead at depth 0 (subqueries live inside parens; depth-0
        set-op/ORDER/')' ends this core), parse the specs, restore
        position."""
        depth = 0
        j = self.i
        found = None
        while True:
            t = self.toks[j]
            if t.kind == "eof":
                break
            if t.kind == "op":
                if t.text == "(":
                    depth += 1
                elif t.text == ")":
                    if depth == 0:
                        break
                    depth -= 1
                elif t.text == ";":
                    if depth == 0:
                        break
            elif t.kind == "ident" and depth == 0:
                u = t.upper
                if u in ("UNION", "INTERSECT", "EXCEPT", "ORDER", "LIMIT",
                         "OFFSET"):
                    break
                if u == "WINDOW":
                    found = j
                    break
            j += 1
        if found is None:
            return {}
        save = self.i
        self.i = found + 1
        specs: dict[str, WindowSpec] = {}
        while True:
            name = self.ident()
            self.expect_kw("AS")
            specs[name] = self.parse_window_spec()
            if not self.eat_op(","):
                break
        self.i = save
        return specs

    def parse_window_spec(self) -> WindowSpec:
        """(PARTITION BY ... ORDER BY ... [ROWS|RANGE BETWEEN b AND b])
        — exactly the shape WindowSpec.to_sql emits, so parse(render(x))
        reproduces x."""
        self.expect_op("(")
        partition_by: list[Expr] = []
        if self.eat_kw("PARTITION"):
            self.expect_kw("BY")
            partition_by.append(self.parse_expr())
            while self.eat_op(","):
                partition_by.append(self.parse_expr())
        order_by: list[SortKey] = []
        if self.eat_kw("ORDER"):
            self.expect_kw("BY")
            order_by.append(self.parse_sort_key())
            while self.eat_op(","):
                order_by.append(self.parse_sort_key())
        rows_between = range_between = groups_between = None
        if self.at_kw("ROWS", "RANGE", "GROUPS"):
            kind = self.next().upper
            self.expect_kw("BETWEEN")
            lo = self.parse_frame_bound()
            self.expect_kw("AND")
            hi = self.parse_frame_bound()
            if kind == "ROWS":
                rows_between = (lo, hi)
            elif kind == "RANGE":
                range_between = (lo, hi)
            else:
                # SQL-standard GROUPS mode: bounds count PEER GROUPS.
                # Spark has no GROUPS frames; the select core desugars
                # to RANGE over a dense_rank() pre-column (peer-group
                # distance IS rank distance) — see _desugar_groups.
                # Bounds must be group counts, not intervals.
                for b in (lo, hi):
                    if isinstance(b, FrameBound):
                        raise ParseError(
                            "GROUPS frame bounds count peer groups — "
                            "interval bounds are a RANGE-mode concept"
                        )
                if not order_by:
                    raise ParseError(
                        "GROUPS frame needs ORDER BY (peer groups are "
                        "undefined without it)"
                    )
                groups_between = (lo, hi)
        exclude_current = False
        exclude_peers = None
        if self.eat_kw("EXCLUDE"):
            # SQL-standard frame exclusion, desugared for sum/count/avg
            # (validated at _window_expr, where the function is known):
            # CURRENT ROW subtracts the current row's contribution;
            # GROUP subtracts the ORDER-BY peer group's (via a second
            # window partitioned by partition+order keys); TIES is
            # GROUP plus the current row added back; NO OTHERS is the
            # default no-op
            if self.eat_kw("CURRENT"):
                self.expect_kw("ROW")
                exclude_current = True
            elif self.eat_kw("GROUP"):
                exclude_peers = "group"
            elif self.eat_kw("TIES"):
                exclude_peers = "ties"
            elif self.eat_kw("NO"):
                self.expect_kw("OTHERS")
            else:
                raise ParseError(
                    "EXCLUDE takes CURRENT ROW, GROUP, TIES, or "
                    "NO OTHERS"
                )
        self.expect_op(")")
        spec = WindowSpec(
            tuple(partition_by), tuple(order_by), rows_between,
            range_between, exclude_current=exclude_current,
            exclude_peers=exclude_peers, groups_between=groups_between,
        )
        if exclude_peers:
            # surface the frame-shape contract at parse time (ROWS
            # frames and frames not spanning the current row reject);
            # a throwaway count(*) probe reuses the render validation
            try:
                WindowExpr(Func("count", ()), spec)._peer_parts()
            except ValueError as e:
                raise ParseError(str(e)) from None
        if exclude_current:
            # review r10b: same parse-time surfacing for CURRENT ROW —
            # a frame not containing the current row makes the
            # subtraction desugar silently wrong, so it rejects in
            # _exclude_parts; probe it here
            try:
                WindowExpr(Func("count", ()), spec)._exclude_parts()
            except ValueError as e:
                raise ParseError(str(e)) from None
        return spec

    def parse_frame_bound(self):
        """UNBOUNDED PRECEDING/FOLLOWING | CURRENT ROW | n PRECEDING |
        n FOLLOWING — IR convention: "unbounded" / 0 / -n / +n
        (expressions/core.py WindowSpec._frame_sql)."""
        if self.eat_kw("UNBOUNDED"):
            if not (self.eat_kw("PRECEDING") or self.eat_kw("FOLLOWING")):
                raise ParseError("expected PRECEDING or FOLLOWING")
            return "unbounded"
        if self.eat_kw("CURRENT"):
            self.expect_kw("ROW")
            return 0
        if self.eat_kw("INTERVAL"):
            from datafusion_sqlgen_spark.expressions.core import FrameBound

            iv = self._interval_literal()
            if self.eat_kw("PRECEDING"):
                return FrameBound(iv, preceding=True)
            self.expect_kw("FOLLOWING")
            return FrameBound(iv, preceding=False)
        t = self.next()
        if t.kind != "number":
            raise ParseError(f"expected frame bound, got {t.text!r}")
        n = int(t.text)
        if self.eat_kw("PRECEDING"):
            return -n
        self.expect_kw("FOLLOWING")
        return n

    def parse_case(self) -> Expr:
        """Searched CASE, plus the operand form ``CASE x WHEN v THEN r``
        desugared at parse time to ``CASE WHEN x = v THEN r`` (the IR has
        only the searched form; the desugar is the render fixpoint)."""
        self.expect_kw("CASE")
        operand = None if self.at_kw("WHEN") else self.parse_expr()
        whens = []
        while self.eat_kw("WHEN"):
            cond = self.parse_expr()
            if operand is not None:
                cond = BinOp("=", operand, cond)
            self.expect_kw("THEN")
            whens.append((cond, self.parse_expr()))
        else_ = self.parse_expr() if self.eat_kw("ELSE") else None
        self.expect_kw("END")
        return Case(tuple(whens), else_)

    def parse_type(self) -> str:
        name = self.ident().upper()
        mapped = _TYPE_MAP.get(name)
        if mapped is None:
            raise ParseError(f"unsupported type {name}")
        if mapped == "decimal":
            if self.eat_op("("):
                p = int(self.next().text)
                self.expect_op(",")
                s = int(self.next().text)
                self.expect_op(")")
                return f"decimal({p},{s})"
            return "decimal(10,0)"
        # swallow CHAR(n)/VARCHAR(n) lengths
        if self.eat_op("("):
            self.next()
            self.expect_op(")")
        return mapped


# aggregate function names for GROUP BY ALL key inference (windowed
# calls are WindowExpr nodes, handled separately in the walk)
_AGG_FN_NAMES = {
    "count", "sum", "avg", "min", "max", "stddev", "stddev_samp",
    "stddev_pop", "var_samp", "var_pop", "variance", "corr",
    "covar_samp", "covar_pop", "median", "mode", "bool_and", "bool_or",
    "any_value", "count_if", "bit_and", "bit_or", "bit_xor",
    "regr_slope", "regr_intercept", "regr_r2", "regr_count",
    "regr_avgx", "regr_avgy", "string_agg", "listagg", "array_agg",
    "collect_list", "collect_set", "first", "last", "percentile",
    "percentile_cont", "percentile_disc", "approx_count_distinct",
    "grouping",
}


def _contains_aggregate(e) -> bool:
    """Tree walk over dataclass fields: does the expression contain a
    (non-windowed) aggregate call? WindowExpr stops the descent — its
    function runs over a frame, not the GROUP BY. Subquery nodes hold
    Plans, which the walk never enters."""
    import dataclasses

    from datafusion_sqlgen_spark.expressions.core import WindowExpr

    if isinstance(e, WindowExpr):
        return False
    if isinstance(e, Func) and e.name in _AGG_FN_NAMES:
        return True
    if not dataclasses.is_dataclass(e):
        return False
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        vals = v if isinstance(v, (tuple, list)) else (v,)
        for item in vals:
            if isinstance(item, Expr) and _contains_aggregate(item):
                return True
    return False


def _unquote(s: str) -> str:
    return s[1:-1].replace("''", "'")


def parse_sql(sql: str, schema: Optional[dict] = None) -> Plan:
    """Parse a SELECT statement into the plan IR.

    ``parse_sql(q).to_sql("spark")`` / ``.to_sql("duckdb")`` /
    ``.to_df(spark)`` then follow the normal dual-render contract.

    ``schema`` (optional) maps column names to type kinds; the one kind
    that changes resolution is ``"map"``, which makes the
    type-polymorphic ``size``/``element_at``/``cardinality`` resolve to
    their MAP reading (``map_size``/``map_get``) so the DuckDB
    translation is correct for map columns."""
    return _Parser(sql, schema=schema).parse_statement()
