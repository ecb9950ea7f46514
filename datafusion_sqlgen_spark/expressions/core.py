"""Expression IR with dual rendering: pyspark Column + SQL text (2 dialects).

This is the Spark-native rebuild of the reference's expression unparser
(/root/reference/datafusion-sqlgen/src/expr.rs:15-108 converts DataFusion
``Expr`` -> sqlparser AST; sqlgenerator/src/expr.rs:10-199 renders tokens).
Where the reference keeps two out-of-sync layers (SURVEY.md §2.4.7), we keep
ONE immutable tree per expression with three renderers:

  * ``to_column()``          -> pyspark.sql.Column (JVM-side, codegen'd)
  * ``to_sql("spark")``      -> Spark SQL text (run via spark.sql)
  * ``to_sql("duckdb")``     -> DuckDB SQL text (the correctness oracle)

Round-trip/dual-render equality of *results* is the test invariant — the
executable strengthening of the reference's textual round-trip test
(tests/select.rs:57-68).

SQL output is fully parenthesized; operator-precedence bugs cannot exist.
Semantics pinned here (SURVEY.md §7 "hard parts"):
  * ``IsDistinctFrom``      == NOT (a <=> b)  (null-safe inequality)
  * array indexing is 1-based (``element_at`` / duckdb ``x[i]``),
    matching the reference (tests/select.rs:276)
  * sort keys always render explicit ASC/DESC + NULLS FIRST/LAST (the
    reference drops/inverts them — sqlgenerator/src/lib.rs:141-148)
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.functions.registry import (
    AGGREGATES,
    canonical,
    render_func,
    spark_agg_column,
    spark_func_column,
)

SPARK = "spark"
DUCKDB = "duckdb"
_DIALECTS = (SPARK, DUCKDB)


# SQL reserved words that would be parse errors as bare identifiers in
# either dialect (union of the common ANSI core both engines reserve).
_RESERVED = frozenset({
    "all", "and", "any", "as", "asc", "between", "both", "by", "case",
    "cast", "check", "collate", "column", "constraint", "create", "cross",
    "current", "default", "desc", "distinct", "drop", "else", "end",
    "escape", "except", "exists", "false", "filter", "for", "foreign",
    "from", "full", "group", "grouping", "having", "in", "inner",
    "intersect", "into", "is", "join", "lateral", "leading", "left",
    "like", "limit", "natural", "not", "null", "offset", "on", "or",
    "order", "outer", "over", "partition", "primary", "qualify",
    "references", "right", "rollup", "select", "semi", "set", "some",
    "table", "then", "to", "trailing", "true", "union", "unique", "using",
    "values", "when", "where", "window", "with",
})


def quote_ident(name: str, dialect: str) -> str:
    """Quote an identifier only when necessary (keeps SQL readable).

    Always quotes reserved words (a column literally named ``order`` or
    ``group`` must not render bare) and anything empty/non-alnum.
    """
    if name == "*":
        return name
    if (
        name
        and name.replace("_", "").isalnum()
        and not name[0].isdigit()
        and name.lower() not in _RESERVED
    ):
        return name
    if dialect == SPARK:
        return "`" + name.replace("`", "``") + "`"
    return '"' + name.replace('"', '""') + '"'


def escape_str(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


ExprLike = Union["Expr", int, float, str, bool, None]


def _wrap(v: ExprLike) -> "Expr":
    return v if isinstance(v, Expr) else Lit(v)


@dataclass(frozen=True)
class Expr:
    """Base node. Subclasses implement to_sql / to_column."""

    # ---- rendering ------------------------------------------------------
    def to_sql(self, dialect: str = SPARK) -> str:
        raise NotImplementedError

    def to_column(self) -> Column:
        raise NotImplementedError

    # ---- builder sugar (mirrors pyspark Column API) ---------------------
    def alias(self, name: str) -> "Alias":
        return Alias(self, name)

    def cast(self, dtype: str) -> "Cast":
        return Cast(self, dtype)

    def try_cast(self, dtype: str) -> "TryCast":
        return TryCast(self, dtype)

    def asc(self, nulls_first: bool = True) -> "SortKey":
        return SortKey(self, ascending=True, nulls_first=nulls_first)

    def desc(self, nulls_first: bool = False) -> "SortKey":
        return SortKey(self, ascending=False, nulls_first=nulls_first)

    def is_null(self) -> "IsNull":
        return IsNull(self)

    def is_not_null(self) -> "IsNotNull":
        return IsNotNull(self)

    def isin(self, *values: ExprLike) -> "InList":
        return InList(self, tuple(_wrap(v) for v in values))

    def between(self, lo: ExprLike, hi: ExprLike) -> "Between":
        return Between(self, _wrap(lo), _wrap(hi))

    def like(self, pattern: str) -> "Like":
        return Like(self, pattern)

    def ilike(self, pattern: str) -> "Like":
        return Like(self, pattern, case_insensitive=True)

    def rlike(self, pattern: str) -> "RLike":
        return RLike(self, pattern)

    def eq_null_safe(self, other: ExprLike) -> "IsNotDistinctFrom":
        return IsNotDistinctFrom(self, _wrap(other))

    def __getitem__(self, i: ExprLike) -> "Index":
        return Index(self, _wrap(i))

    def field(self, name: str) -> "Field":
        return Field(self, name)

    # arithmetic / comparison / boolean operators
    def __add__(self, o): return BinOp("+", self, _wrap(o))
    def __radd__(self, o): return BinOp("+", _wrap(o), self)
    def __sub__(self, o): return BinOp("-", self, _wrap(o))
    def __rsub__(self, o): return BinOp("-", _wrap(o), self)
    def __mul__(self, o): return BinOp("*", self, _wrap(o))
    def __rmul__(self, o): return BinOp("*", _wrap(o), self)
    def __truediv__(self, o): return BinOp("/", self, _wrap(o))
    def __rtruediv__(self, o): return BinOp("/", _wrap(o), self)
    def __mod__(self, o): return BinOp("%", self, _wrap(o))
    def __eq__(self, o): return BinOp("=", self, _wrap(o))  # type: ignore[override]
    def __ne__(self, o): return BinOp("<>", self, _wrap(o))  # type: ignore[override]
    def __lt__(self, o): return BinOp("<", self, _wrap(o))
    def __le__(self, o): return BinOp("<=", self, _wrap(o))
    def __gt__(self, o): return BinOp(">", self, _wrap(o))
    def __ge__(self, o): return BinOp(">=", self, _wrap(o))
    def __and__(self, o): return BinOp("AND", self, _wrap(o))
    def __or__(self, o): return BinOp("OR", self, _wrap(o))
    def __xor__(self, o): return BinOp("^", self, _wrap(o))
    def __invert__(self): return Not(self)
    def __neg__(self): return Neg(self)

    # bitwise (PySpark-style: `&`/`|` stay logical, like Column)
    def bitwise_and(self, o: ExprLike) -> "BinOp": return BinOp("&", self, _wrap(o))
    def bitwise_or(self, o: ExprLike) -> "BinOp": return BinOp("|", self, _wrap(o))
    def bitwise_xor(self, o: ExprLike) -> "BinOp": return BinOp("^", self, _wrap(o))

    def __hash__(self):  # dataclass eq is overridden; keep hashable by id
        return id(self)

    # name the output column would get without an alias
    def default_name(self) -> str:
        return self.to_sql(SPARK)


@dataclass(frozen=True, eq=False)
class Col(Expr):
    """Column reference, bare or table-qualified.

    Reference: datafusion-sqlgen/src/expr.rs:17-32 (Column ->
    Identifier/CompoundIdentifier).
    """

    name: str
    table: Optional[str] = None

    def to_sql(self, dialect: str = SPARK) -> str:
        if self.table:
            return f"{quote_ident(self.table, dialect)}.{quote_ident(self.name, dialect)}"
        return quote_ident(self.name, dialect)

    def to_column(self) -> Column:
        return F.col(f"{self.table}.{self.name}" if self.table else self.name)

    def default_name(self) -> str:
        return self.name


@dataclass(frozen=True, eq=False)
class Star(Expr):
    """``*`` or ``t.*`` (reference: logical_plan.rs:74-85), optionally
    with an exclusion list: Spark ``* EXCEPT (a, b)`` (3.4+) / DuckDB
    ``* EXCLUDE (a, b)`` — same semantics, different keyword."""

    table: Optional[str] = None
    except_cols: tuple = ()

    def to_sql(self, dialect: str = SPARK) -> str:
        base = f"{quote_ident(self.table, dialect)}.*" if self.table else "*"
        if self.except_cols:
            kw = "EXCLUDE" if dialect == DUCKDB else "EXCEPT"
            cols = ", ".join(
                quote_ident(c, dialect) for c in self.except_cols
            )
            return f"{base} {kw} ({cols})"
        return base

    def to_column(self) -> Column:
        if self.except_cols:
            # no Column constructor for star-except; Project.to_df expands
            # it against the input schema instead
            raise NotImplementedError("star-except expands in Project.to_df")
        return F.col(f"{self.table}.*" if self.table else "*")


@dataclass(frozen=True, eq=False)
class Lit(Expr):
    """Literal. Reference: literal_to_sql_value, expr.rs:112-182.

    Unlike the reference (None-valued typed scalars are an *error*,
    expr.rs:116+), any Python None renders as SQL NULL.
    """

    value: Any

    def to_sql(self, dialect: str = SPARK) -> str:
        v = self.value
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        if isinstance(v, str):
            return escape_str(v)
        raise TypeError(f"unsupported literal type: {type(v)}")

    def to_column(self) -> Column:
        return F.lit(self.value)

    def default_name(self) -> str:
        return str(self.value)


_BINOP_COLUMN = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "AND": lambda a, b: a & b,
    "OR": lambda a, b: a | b,
    "&": lambda a, b: a.bitwiseAND(b),
    "|": lambda a, b: a.bitwiseOR(b),
    "^": lambda a, b: a.bitwiseXOR(b),
    "||": lambda a, b: F.concat(a, b),
}

_BINOP_SQL = {  # dialect-specific spellings where needed
    "&": {SPARK: "&", DUCKDB: "&"},
    "|": {SPARK: "|", DUCKDB: "|"},
    "^": {SPARK: "^", DUCKDB: "xor"},  # DuckDB ^ is exponentiation!
}


@dataclass(frozen=True, eq=False)
class BinOp(Expr):
    """Binary op. Reference: expr.rs:183-215 (arith/cmp/bool/bitwise/||)."""

    op: str
    left: Expr
    right: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        l, r = self.left.to_sql(dialect), self.right.to_sql(dialect)
        if dialect == DUCKDB and self.op == "/":
            # DuckDB binds an untyped NULL in `NULL / x` to the
            # INTERVAL/BIGINT overload, so the result poisons enclosing
            # arithmetic (`+(BIGINT, INTERVAL)` binder error). Spark
            # types it DOUBLE; pin the same type explicitly.
            if isinstance(self.left, Lit) and self.left.value is None:
                l = "CAST(NULL AS DOUBLE)"
            if isinstance(self.right, Lit) and self.right.value is None:
                r = "CAST(NULL AS DOUBLE)"
        if self.op == "^" and dialect == DUCKDB:
            return f"xor({l}, {r})"
        if self.op == "||":
            return f"({l} || {r})"
        return f"({l} {self.op} {r})"

    def to_column(self) -> Column:
        return _BINOP_COLUMN[self.op](self.left.to_column(), self.right.to_column())


@dataclass(frozen=True, eq=False)
class Not(Expr):
    operand: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"(NOT {self.operand.to_sql(dialect)})"

    def to_column(self) -> Column:
        return ~self.operand.to_column()


@dataclass(frozen=True, eq=False)
class Neg(Expr):
    operand: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"(- {self.operand.to_sql(dialect)})"

    def to_column(self) -> Column:
        return -self.operand.to_column()


# SURVEY.md §1.3 type map; canonical (Spark-ish) name -> duckdb name.
_DUCKDB_TYPES = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "integer": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
}


@dataclass(frozen=True, eq=False)
class Cast(Expr):
    """CAST(e AS t). Reference: expr.rs:56-59 + datatype_to_sql :217-237."""

    operand: Expr
    dtype: str  # Spark type string, e.g. "int", "double", "decimal(18,2)"

    def to_sql(self, dialect: str = SPARK) -> str:
        t = self.dtype
        if dialect == DUCKDB:
            t = _DUCKDB_TYPES.get(t.lower(), t)
        return f"CAST({self.operand.to_sql(dialect)} AS {t.upper()})"

    def to_column(self) -> Column:
        return self.operand.to_column().cast(self.dtype)


@dataclass(frozen=True, eq=False)
class Interval(Expr):
    """INTERVAL literal (``INTERVAL n UNIT``) — identical syntax in Spark
    and DuckDB for single-unit intervals. The reference has no interval
    type at all (SURVEY.md §1.3: no live date/timestamp path)."""

    n: int
    unit: str  # DAY / MONTH / YEAR / HOUR / MINUTE / SECOND

    def _lit_sql(self) -> str:
        # negative quantities need the quoted ANSI form: DuckDB rejects
        # the bare `INTERVAL -1 DAY` spelling (both engines accept
        # `INTERVAL '-1' DAY`; the parser reads both forms)
        if self.n < 0:
            return f"INTERVAL '{self.n}' {self.unit.upper()}"
        return f"INTERVAL {self.n} {self.unit.upper()}"

    def to_sql(self, dialect: str = SPARK) -> str:
        return self._lit_sql()

    def to_column(self) -> Column:
        return F.expr(self._lit_sql())


class TryCast(Cast):
    """TRY_CAST(e AS t): NULL on conversion failure instead of error —
    the DataFusion ``Expr::TryCast`` analogue (the reference's unparser
    predates it; CAST cited at expr.rs:56-59). Identical syntax in Spark
    and DuckDB."""

    def to_sql(self, dialect: str = SPARK) -> str:
        return "TRY_" + super().to_sql(dialect)

    def to_column(self) -> Column:
        return self.operand.to_column().try_cast(self.dtype)


@dataclass(frozen=True, eq=False)
class Between(Expr):
    """[NOT] BETWEEN. Reference: expr.rs:60-75; sqlgenerator expr.rs:117-151."""

    operand: Expr
    low: Expr
    high: Expr
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        not_kw = "NOT " if self.negated else ""
        return (
            f"({self.operand.to_sql(dialect)} {not_kw}BETWEEN "
            f"{self.low.to_sql(dialect)} AND {self.high.to_sql(dialect)})"
        )

    def to_column(self) -> Column:
        c = self.operand.to_column().between(
            self.low.to_column(), self.high.to_column()
        )
        return ~c if self.negated else c


@dataclass(frozen=True, eq=False)
class IsDistinctFrom(Expr):
    """Null-safe inequality: NOT (a <=> b). Reference: expr.rs:35-39."""

    left: Expr
    right: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        l, r = self.left.to_sql(dialect), self.right.to_sql(dialect)
        return f"({l} IS DISTINCT FROM {r})"

    def to_column(self) -> Column:
        return ~self.left.to_column().eqNullSafe(self.right.to_column())


@dataclass(frozen=True, eq=False)
class IsNotDistinctFrom(Expr):
    """Null-safe equality: a <=> b. Reference: expr.rs:40-44."""

    left: Expr
    right: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        l, r = self.left.to_sql(dialect), self.right.to_sql(dialect)
        return f"({l} IS NOT DISTINCT FROM {r})"

    def to_column(self) -> Column:
        return self.left.to_column().eqNullSafe(self.right.to_column())


@dataclass(frozen=True, eq=False)
class IsNull(Expr):
    operand: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"({self.operand.to_sql(dialect)} IS NULL)"

    def to_column(self) -> Column:
        return self.operand.to_column().isNull()


@dataclass(frozen=True, eq=False)
class IsNotNull(Expr):
    operand: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"({self.operand.to_sql(dialect)} IS NOT NULL)"

    def to_column(self) -> Column:
        return self.operand.to_column().isNotNull()


@dataclass(frozen=True, eq=False)
class Like(Expr):
    operand: Expr
    pattern: str
    negated: bool = False
    case_insensitive: bool = False  # ILIKE (PG-style; both dialects)
    escape: Optional[str] = None  # LIKE ... ESCAPE 'c' (both dialects)

    def to_sql(self, dialect: str = SPARK) -> str:
        kw = "ILIKE" if self.case_insensitive else "LIKE"
        if self.negated:
            kw = "NOT " + kw
        tail = f" ESCAPE {escape_str(self.escape)}" if self.escape else ""
        return (f"({self.operand.to_sql(dialect)} {kw} "
                f"{escape_str(self.pattern)}{tail})")

    def to_column(self) -> Column:
        if self.escape:
            # Column.like has no escape parameter — go through the SQL
            # expression (scalar, no subqueries: F.expr is exact)
            from pyspark.sql import functions as F

            return F.expr(self.to_sql(SPARK))
        op = self.operand.to_column()
        c = op.ilike(self.pattern) if self.case_insensitive else op.like(self.pattern)
        return ~c if self.negated else c


@dataclass(frozen=True, eq=False)
class RLike(Expr):
    """Regex match (PG ``~`` in the reference, expr.rs:202-205)."""

    operand: Expr
    pattern: str
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        s = self.operand.to_sql(dialect)
        if dialect == SPARK:
            e = f"({s} RLIKE {escape_str(self.pattern)})"
        else:
            e = f"regexp_matches({s}, {escape_str(self.pattern)})"
        return f"(NOT {e})" if self.negated else e

    def to_column(self) -> Column:
        c = self.operand.to_column().rlike(self.pattern)
        return ~c if self.negated else c


def similar_to_regex(pat: str) -> str:
    """Compile a SQL-standard ``SIMILAR TO`` pattern to the equivalent
    regex, shared verbatim by both renders so the engines cannot
    diverge: ``%``→``.*``, ``_``→``.``; ``| * + ? {m,n} () […]`` keep
    their regex meaning (per the standard); a literal ``.`` (NOT a
    metachar in SIMILAR TO) becomes the class ``[.]`` — classes, not
    backslash escapes, because Spark SQL string literals consume
    backslashes while DuckDB keeps them raw, so any backslash in a
    rendered pattern would mean different regexes on the two engines
    (and break the render→parse fixpoint). ``\\``/``^``/``$`` are
    rejected for the same reason: their literal spelling is not
    portable across the dual render."""
    out: list[str] = []
    i, n = 0, len(pat)
    in_class = False
    class_len = 0  # members seen since '[' (']' first is literal)
    while i < n:
        c = pat[i]
        if in_class:
            if c == "\\":
                raise ValueError(
                    "backslash in SIMILAR TO character class is not "
                    "portable across the dual render"
                )
            out.append(c)
            # first-position ] is literal per the standard ([]x] …);
            # track the position, not out[-2] — a class whose first
            # member is '[' (e.g. '[[]') would fool the lookback
            if c == "]" and class_len > 0:
                in_class = False
            else:
                class_len += 1
            i += 1
            continue
        if c in ("\\", "^", "$"):
            raise ValueError(
                f"{c!r} in a SIMILAR TO pattern is not portable across "
                "the dual render; use RLIKE for raw regex"
            )
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c == ".":
            out.append("[.]")
        elif c == "[":
            in_class = True
            class_len = 0
            out.append(c)
        else:
            out.append(c)
        i += 1
    if in_class:
        raise ValueError("unterminated character class in SIMILAR TO")
    return "".join(out)


@dataclass(frozen=True, eq=False)
class SimilarTo(Expr):
    """``e [NOT] SIMILAR TO 'pattern'`` — the SQL-standard LIKE/regex
    hybrid (DataFusion carries it as ``Expr::SimilarTo``; the reference
    unparser has no case for it — catch-all expr.rs:103-106). Both
    renders share ONE compiled regex (:func:`similar_to_regex`), Spark
    as an anchored RLIKE, DuckDB as ``regexp_full_match`` (its native
    SIMILAR TO is a raw-regex rewrite, NOT the standard's pattern
    language — ``.`` would go metachar there, so the desugar is the
    portable contract)."""

    operand: Expr
    pattern: str
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        rx = similar_to_regex(self.pattern)
        s = self.operand.to_sql(dialect)
        if dialect == SPARK:
            # NOT anchored RLIKE: Java's '$' also matches before a
            # trailing newline, so 'abc\n' RLIKE '^abc$' is TRUE while
            # DuckDB's regexp_full_match is FALSE — requiring the
            # extracted match to equal the whole string is a true
            # entire-string test ('' on no match never equals a
            # non-empty operand; NULL operand stays NULL)
            e = (f"(regexp_extract({s}, "
                 f"{escape_str('^(?:' + rx + ')$')}, 0) = {s})")
        else:
            e = f"regexp_full_match({s}, {escape_str(rx)})"
        return f"(NOT {e})" if self.negated else e

    def to_column(self) -> Column:
        rx = similar_to_regex(self.pattern)
        op = self.operand.to_column()
        c = F.regexp_extract(op, f"^(?:{rx})$", 0) == op
        return ~c if self.negated else c


@dataclass(frozen=True, eq=False)
class InList(Expr):
    """e [NOT] IN (v1, v2, ...). Absent in reference (catch-all,
    expr.rs:103-106) — listed aspirational in SURVEY.md §2.2."""

    operand: Expr
    values: tuple
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        vals = ", ".join(v.to_sql(dialect) for v in self.values)
        kw = "NOT IN" if self.negated else "IN"
        return f"({self.operand.to_sql(dialect)} {kw} ({vals}))"

    def to_column(self) -> Column:
        c = self.operand.to_column().isin(*[v.to_column() for v in self.values])
        return ~c if self.negated else c


@dataclass(frozen=True, eq=False)
class Case(Expr):
    """CASE WHEN ... THEN ... [ELSE ...] END."""

    whens: tuple  # tuple[(Expr cond, Expr value), ...]
    else_: Optional[Expr] = None

    def to_sql(self, dialect: str = SPARK) -> str:
        parts = ["CASE"]
        for cond, val in self.whens:
            parts.append(f"WHEN {cond.to_sql(dialect)} THEN {val.to_sql(dialect)}")
        if self.else_ is not None:
            parts.append(f"ELSE {self.else_.to_sql(dialect)}")
        parts.append("END")
        return "(" + " ".join(parts) + ")"

    def to_column(self) -> Column:
        conds = list(self.whens)
        c = F.when(conds[0][0].to_column(), conds[0][1].to_column())
        for cond, val in conds[1:]:
            c = c.when(cond.to_column(), val.to_column())
        if self.else_ is not None:
            c = c.otherwise(self.else_.to_column())
        return c

    def when(self, cond: Expr, value: ExprLike) -> "Case":
        return Case(self.whens + ((cond, _wrap(value)),), self.else_)

    def otherwise(self, value: ExprLike) -> "Case":
        return Case(self.whens, _wrap(value))


@dataclass(frozen=True, eq=False)
class Lambda(Expr):
    """Lambda for higher-order array functions: ``x -> body`` /
    ``(a, b) -> body``. Body references params as bare ``Col(name)``;
    SQL lambda params shadow outer columns in both dialects, and outer
    column references remain legal inside the body.

    The reference has no higher-order functions at all (DataFusion 10
    predates them; catch-all expr.rs:103-106)."""

    params: tuple  # tuple[str, ...]
    body: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        body = self.body.to_sql(dialect)
        if len(self.params) == 1:
            return f"{self.params[0]} -> {body}"
        return "(" + ", ".join(self.params) + f") -> {body}"

    def to_column(self) -> Column:
        raise NotImplementedError(
            "a Lambda renders only inside its host higher-order function"
        )

    def to_python(self):
        """Python callable over Columns (for F.transform & friends).
        PySpark introspects the signature — it must have exactly as many
        positional params as the SQL lambda (no *args)."""
        def bind(*cols: Column) -> Column:
            mapping = {p: _RawColumn(c) for p, c in zip(self.params, cols)}
            return substitute(self.body, mapping).to_column()

        n = len(self.params)
        if n == 1:
            return lambda a: bind(a)
        if n == 2:
            return lambda a, b: bind(a, b)
        return lambda a, b, c: bind(a, b, c)


@dataclass(frozen=True, eq=False)
class _RawColumn(Expr):
    """Adapter: a pyspark Column as an Expr leaf (substitution target for
    lambda params on the to_column path). Not SQL-renderable."""

    column: Any

    def to_sql(self, dialect: str = SPARK) -> str:
        raise NotImplementedError("_RawColumn has no SQL rendering")

    def to_column(self) -> Column:
        return self.column


def substitute(e: Expr, mapping: dict) -> Expr:
    """Rebuild ``e`` with bare Col refs named in ``mapping`` replaced.
    Used to bind lambda params; shadowing: an inner Lambda that rebinds a
    param name keeps its own binding."""
    import dataclasses

    if isinstance(e, Col) and e.table is None and e.name in mapping:
        return mapping[e.name]
    if isinstance(e, Lambda):
        inner = {k: v for k, v in mapping.items() if k not in e.params}
        if not inner:
            return e
        return Lambda(e.params, substitute(e.body, inner))
    if not dataclasses.is_dataclass(e):
        return e

    def walk(v):
        if isinstance(v, Expr):
            return substitute(v, mapping)
        if isinstance(v, tuple):
            return tuple(walk(x) for x in v)
        return v

    kwargs = {f.name: walk(getattr(e, f.name)) for f in dataclasses.fields(e)}
    return type(e)(**kwargs)


# higher-order functions: canonical name -> pyspark functions entry
_HOF_COLUMN = {
    "transform": "transform",
    "filter": "filter",
    "exists": "exists",
    "forall": "forall",
    "aggregate": "aggregate",
    "zip_with": "zip_with",
}


@dataclass(frozen=True, eq=False)
class Func(Expr):
    """Scalar or aggregate function call by canonical name.

    Reference passes any DataFusion builtin through by name
    (expr.rs:76-94, ``distinct: false, over: None`` hard-coded); we add
    real DISTINCT and OVER support on top.
    """

    name: str
    args: tuple = ()
    distinct: bool = False
    # IGNORE NULLS for window/navigation functions. Placement differs:
    # Spark `fn(args) IGNORE NULLS OVER ...`, DuckDB `fn(args IGNORE
    # NULLS) OVER ...` — same semantics (first/last/nth/lag/lead).
    ignore_nulls: bool = False
    # SQL-standard conditional aggregation: fn(args) FILTER (WHERE cond)
    # — identical syntax in Spark (>=3.0) and DuckDB. The Column path
    # rewrites to fn(CASE WHEN cond THEN arg END): aggregates skip NULLs,
    # so the rewrite is exact for every single/multi-arg aggregate.
    filter_where: Optional["Expr"] = None

    def to_sql(self, dialect: str = SPARK) -> str:
        base = self._call_sql(dialect)
        if self.filter_where is not None:
            base += f" FILTER (WHERE {self.filter_where.to_sql(dialect)})"
        return base

    def filtered(self, cond: "Expr") -> "Func":
        """fn(args) FILTER (WHERE cond) — conditional aggregation."""
        import dataclasses

        return dataclasses.replace(self, filter_where=cond)

    def _call_sql(self, dialect: str = SPARK) -> str:
        name = canonical(self.name)
        if self.ignore_nulls:
            args = ", ".join(a.to_sql(dialect) for a in self.args)
            if dialect == DUCKDB:
                return f"{name}({args} IGNORE NULLS)"
            return f"{name}({args}) IGNORE NULLS"
        if name == "zip_with" and dialect == DUCKDB:
            # DuckDB 1.0 has no zip_with and list_zip yields *unnamed*
            # structs; index-join the two arrays instead:
            #   list_transform(range(1, len(a)+1), i -> body[a[i]/b[i]])
            arr_a, arr_b, lam = self.args
            assert isinstance(lam, Lambda) and len(lam.params) == 2
            i = Col("__zw_i")
            body = substitute(
                lam.body,
                {lam.params[0]: Index(arr_a, i), lam.params[1]: Index(arr_b, i)},
            )
            a_sql = arr_a.to_sql(dialect)
            b_sql = arr_b.to_sql(dialect)
            # Spark zip_with extends to the LONGER array, padding the
            # shorter with NULL; out-of-range list subscripts yield NULL
            # in DuckDB, so iterating to greatest(len(a), len(b)) matches
            return (
                f"list_transform(range(1, greatest(len({a_sql}), len({b_sql})) + 1), "
                f"__zw_i -> {body.to_sql(dialect)})"
            )
        if (canonical(self.name) == "struct" and len(self.args) == 1
                and isinstance(self.args[0], Star) and self.args[0].table
                and not self.args[0].except_cols):
            # struct(t.*): pack every column of relation t into one
            # named struct. Spark expands the star inside CreateStruct;
            # DuckDB's equivalent is the bare relation alias (row
            # struct with field names) — `SELECT t FROM tbl t`
            if dialect == DUCKDB:
                return quote_ident(self.args[0].table, dialect)
            return f"struct({self.args[0].to_sql(dialect)})"
        args = [a.to_sql(dialect) for a in self.args]
        if self.distinct:
            inner = ", ".join(args)
            return f"{canonical(self.name)}(DISTINCT {inner})"
        if not args and canonical(self.name) == "count":
            return "count(*)"
        return render_func(self.name, args, dialect)

    def to_column(self) -> Column:
        name = canonical(self.name)
        if self.filter_where is not None:
            if name not in AGGREGATES:
                raise ValueError(
                    f"FILTER (WHERE ...) requires an aggregate, got {name!r}"
                )
            cond = self.filter_where.to_column()
            if not self.args:  # count(*) FILTER (WHERE c)
                return F.count(F.when(cond, F.lit(1)))
            cols = [F.when(cond, a.to_column()) for a in self.args]
            return spark_agg_column(name, cols, distinct=self.distinct)
        if self.ignore_nulls:
            cols = [a.to_column() for a in self.args]
            if name in ("last", "last_value"):
                return F.last(cols[0], ignorenulls=True)
            if name in ("first", "first_value"):
                return F.first(cols[0], ignorenulls=True)
            if name == "nth_value":
                return F.nth_value(cols[0], self.args[1].value, ignoreNulls=True)
            # lag/lead have no PySpark ignore-nulls Column form; the plan
            # layer falls back to the generated-SQL path on this error
            raise NotImplementedError(
                f"{name} IGNORE NULLS as a Column; use the SQL rendering path"
            )
        if name in _HOF_COLUMN and any(isinstance(a, Lambda) for a in self.args):
            fn = getattr(F, _HOF_COLUMN[name])
            args = [
                a.to_python() if isinstance(a, Lambda) else a.to_column()
                for a in self.args
            ]
            return fn(*args)
        cols = [a.to_column() for a in self.args]
        if name in AGGREGATES:
            if name == "count" and not cols:
                return F.count(F.lit(1))
            return spark_agg_column(name, cols, distinct=self.distinct)
        return spark_func_column(name, cols)

    def over(
        self,
        partition_by: Sequence[ExprLike] = (),
        order_by: Sequence["SortKey"] = (),
        rows_between: Optional[tuple] = None,
        range_between: Optional[tuple] = None,
    ) -> "WindowExpr":
        return WindowExpr(
            self,
            WindowSpec(
                tuple(_wrap(p) for p in partition_by),
                tuple(order_by),
                rows_between,
                range_between,
            ),
        )

    def default_name(self) -> str:
        return canonical(self.name)


_UNBOUNDED = ("unbounded", None)


@dataclass(frozen=True, eq=False)
class FrameBound:
    """Interval-valued RANGE frame bound: ``INTERVAL n UNIT
    PRECEDING|FOLLOWING`` — the time-based sliding window (identical
    SQL in Spark and DuckDB). The DataFrame API's ``rangeBetween`` only
    takes longs, so plans carrying one render through generated SQL
    (the same documented fallback as IGNORE-NULLS lag/lead)."""

    interval: "Interval"
    preceding: bool = True

    def to_sql(self, dialect: str = SPARK) -> str:
        side = "PRECEDING" if self.preceding else "FOLLOWING"
        return f"{self.interval.to_sql(dialect)} {side}"


def _frame_bound_sql(b) -> str:
    if b is None or b == "unbounded":
        return None  # caller decides PRECEDING/FOLLOWING
    return b


@dataclass(frozen=True, eq=False)
class WindowSpec:
    partition_by: tuple = ()
    order_by: tuple = ()
    rows_between: Optional[tuple] = None  # (start, end): int | "unbounded"
    range_between: Optional[tuple] = None
    # frame exclusion (SQL standard): CURRENT ROW / GROUP / TIES —
    # WindowExpr desugars sum/count/avg to frame_agg minus the excluded
    # contribution ON BOTH DIALECTS (DuckDB's native EXCLUDE re-sums
    # the surviving frame, which differs at the ULP for doubles;
    # min/max are not decomposable and are rejected at parse).
    # GROUP subtracts the whole ORDER-BY peer group (its aggregate is a
    # second window partitioned by partition+order keys — null-safe
    # grouping, exactly the standard's "not distinct" peer test); TIES
    # adds the current row's own contribution back. Both require the
    # peer group to lie inside the frame, which holds for the default
    # frame and any RANGE frame spanning the current row (offset-0
    # peers), and is rejected otherwise at parse.
    exclude_current: bool = False
    exclude_peers: Optional[str] = None  # "group" | "ties"
    # SQL-standard GROUPS frame mode (peer groups as frame units).
    # Spark has no GROUPS frames, so the parser desugars at the select
    # core: a dense_rank() pre-projection turns GROUPS bounds into
    # RANGE bounds over the rank (peer-group distance IS rank
    # distance). A spec that still carries groups_between at render
    # time escaped the desugar — both renders raise.
    groups_between: Optional[tuple] = None

    def _frame_sql(self) -> str:
        if self.groups_between is not None:
            raise RuntimeError(
                "GROUPS frame reached the renderer — it must be "
                "desugared to RANGE over a dense_rank pre-column "
                "(parser._desugar_groups)"
            )
        frame = self.rows_between or self.range_between
        if frame is None:
            return ""
        kw = "ROWS" if self.rows_between else "RANGE"

        def bound(v, side):
            if isinstance(v, FrameBound):
                if v.interval.n == 0:
                    # a zero interval IS the current row (standard:
                    # offset bounds are inclusive, so +/-0 covers every
                    # peer — exactly RANGE's CURRENT ROW). Normalizing
                    # here also dodges a real engine divergence: DuckDB
                    # evaluates INTERVAL '0' x PRECEDING as a HIGH
                    # bound strictly (current row excluded) while Spark
                    # follows the standard (included) — probed r12
                    return "CURRENT ROW"
                return v.to_sql()
            if v == "unbounded" or v is None:
                return f"UNBOUNDED {side}"
            if v == 0:
                return "CURRENT ROW"
            if v < 0:
                return f"{-v} PRECEDING"
            return f"{v} FOLLOWING"

        s, e = frame
        return f" {kw} BETWEEN {bound(s, 'PRECEDING')} AND {bound(e, 'FOLLOWING')}"

    def to_sql(self, dialect: str) -> str:
        parts = []
        if self.partition_by:
            parts.append(
                "PARTITION BY " + ", ".join(p.to_sql(dialect) for p in self.partition_by)
            )
        if self.order_by:
            parts.append(
                "ORDER BY " + ", ".join(k.to_sql(dialect) for k in self.order_by)
            )
        return "(" + " ".join(parts) + self._frame_sql() + ")"

    def to_window(self):
        from pyspark.sql import Window

        if self.groups_between is not None:
            raise RuntimeError(
                "GROUPS frame reached the Column path — it must be "
                "desugared to RANGE over a dense_rank pre-column "
                "(parser._desugar_groups)"
            )
        w = Window.partitionBy(*[p.to_column() for p in self.partition_by])
        if self.order_by:
            w = w.orderBy(*[k.to_column() for k in self.order_by])
        frame = self.rows_between or self.range_between
        if frame is not None:
            lo, hi = frame
            if isinstance(lo, FrameBound) or isinstance(hi, FrameBound):
                # interval bounds have no Column-API form; the plan layer
                # catches this and renders through generated SQL
                raise NotImplementedError(
                    "interval RANGE frame as a Column; use the SQL "
                    "rendering path"
                )
            lo = Window.unboundedPreceding if lo in _UNBOUNDED else lo
            hi = Window.unboundedFollowing if hi in _UNBOUNDED else hi
            w = w.rowsBetween(lo, hi) if self.rows_between else w.rangeBetween(lo, hi)
        return w


@dataclass(frozen=True, eq=False)
class WindowExpr(Expr):
    """fn(...) OVER (spec). Entirely absent in the reference (``over:
    None`` hard-coded, expr.rs:91; intent at tests/select.rs:651-662)."""

    func: Func
    spec: WindowSpec

    def _exclude_parts(self):
        """Validate the EXCLUDE CURRENT ROW desugar inputs and return
        (fn_name, value_expr|None, spec_without_exclude)."""
        import dataclasses

        name = self.func.name.lower()
        if name not in ("sum", "count", "avg") or self.func.distinct \
                or self.func.filter_where is not None:
            raise ValueError(
                "EXCLUDE CURRENT ROW is supported for plain sum/count/"
                f"avg windows only (got {self.func.name!r}) — min/max "
                "are not decomposable into frame minus current row"
            )
        arg = self.func.args[0] if self.func.args else None  # count(*)
        s = self.spec
        frame = (s.rows_between if s.rows_between is not None
                 else s.range_between if s.range_between is not None
                 else s.groups_between)
        if frame is not None:
            lo, hi = frame

            def covers(v, is_lo):
                if v == "unbounded" or v is None:
                    return True
                if isinstance(v, FrameBound):
                    # a zero interval bound IS the current row, so it
                    # spans on either side (ADVICE r11: INTERVAL '0'
                    # DAY FOLLOWING as a low bound was over-rejected)
                    if v.interval.n == 0:
                        return True
                    return v.preceding if is_lo else not v.preceding
                return v <= 0 if is_lo else v >= 0

            if not (covers(lo, True) and covers(hi, False)):
                # review r10b: on a frame NOT containing the current
                # row the standard's EXCLUDE is a no-op, but the
                # subtraction desugar would remove a value that was
                # never in the frame (and the empty-frame NULL guard
                # then fires on the miscomputed count) — reject
                raise ValueError(
                    "EXCLUDE needs a frame that spans the current row "
                    "(start <= CURRENT ROW <= end); outside it the "
                    "exclusion is a no-op the subtraction desugar "
                    "cannot express — drop the EXCLUDE clause"
                )
        return name, arg, dataclasses.replace(self.spec,
                                              exclude_current=False,
                                              exclude_peers=None)

    def _peer_parts(self):
        """Validate the EXCLUDE GROUP/TIES desugar inputs and return
        (fn_name, value_expr|None, frame_spec, peer_spec). The peer
        aggregate is a second window partitioned by partition+order
        keys with no frame; that equals the ORDER-BY peer group only
        when every peer is also in the frame — true for the default
        frame and RANGE frames spanning the current row, rejected
        otherwise."""
        import dataclasses

        name, arg, spec0 = self._exclude_parts()
        s = spec0
        if not s.order_by:
            raise ValueError(
                "EXCLUDE GROUP/TIES needs ORDER BY (without it every "
                "partition row is a peer)"
            )
        if s.rows_between is not None:
            raise ValueError(
                "EXCLUDE GROUP/TIES with a ROWS frame is not "
                "desugarable (peers can fall outside the frame); use a "
                "RANGE frame spanning the current row"
            )
        frame = (s.range_between if s.range_between is not None
                 else s.groups_between)
        if frame is not None:
            lo, hi = frame
            def covers(v, is_lo):
                if v == "unbounded" or v is None:
                    return True
                if isinstance(v, FrameBound):
                    # interval bounds span the current row exactly when
                    # the low bound precedes and the high bound follows
                    # (ADVICE r10 low: this returned False outright, so
                    # RANGE BETWEEN INTERVAL '1' DAY PRECEDING AND
                    # CURRENT ROW was rejected with a message claiming
                    # it does not span the current row); peers sit at
                    # interval distance 0, inside any spanning frame,
                    # so the peer-group subtraction stays exact; a zero
                    # interval IS the current row — spans either side
                    # (ADVICE r11)
                    if v.interval.n == 0:
                        return True
                    return v.preceding if is_lo else not v.preceding
                return v <= 0 if is_lo else v >= 0
            if not (covers(lo, True) and covers(hi, False)):
                raise ValueError(
                    "EXCLUDE GROUP/TIES needs a RANGE/GROUPS frame that "
                    "spans the current row (start <= CURRENT ROW <= end)"
                )
        peer = dataclasses.replace(
            s,
            partition_by=s.partition_by
            + tuple(k.operand for k in s.order_by),
            order_by=(),
            rows_between=None,
            range_between=None,
            groups_between=None,
        )
        return name, arg, s, peer

    def to_sql(self, dialect: str = SPARK) -> str:
        if self.spec.exclude_peers:
            # frame aggregate minus the ORDER-BY peer group's aggregate
            # (a second window partitioned by partition+order keys);
            # TIES adds the current row's own contribution back. Same
            # identical-arithmetic-on-both-dialects contract as EXCLUDE
            # CURRENT ROW below; the empty-after-exclusion sum is
            # NULL-guarded by the surviving count (matching the
            # standard, where DuckDB's native EXCLUDE returns NULL).
            ties = self.spec.exclude_peers == "ties"
            name, arg, s, peer = self._peer_parts()
            w, pw = s.to_sql(dialect), peer.to_sql(dialect)
            if arg is None:  # count(*)
                base = f"(count(*) OVER {w} - count(*) OVER {pw})"
                return f"({base} + 1)" if ties else base
            v = arg.to_sql(dialect)
            cnt = f"(count({v}) OVER {w} - count({v}) OVER {pw})"
            if ties:
                cnt = f"({cnt} + CAST(({v} IS NOT NULL) AS INT))"
            if name == "count":
                return cnt
            ssum = (f"(sum({v}) OVER {w} - "
                    f"coalesce(sum({v}) OVER {pw}, 0))")
            if ties:
                ssum = f"({ssum} + coalesce({v}, 0))"
            if name == "sum":
                return (f"(CASE WHEN ({cnt} = 0) THEN NULL "
                        f"ELSE {ssum} END)")
            return f"({ssum} / nullif({cnt}, 0))"
        if self.spec.exclude_current:
            # desugar on BOTH dialects: DuckDB's native EXCLUDE sums
            # the surviving frame directly, which differs from
            # frame_sum - v at the ULP for doubles — identical
            # arithmetic on both sides is the hash-stable contract
            # (plain window sums already agree engine-to-engine)
            name, arg, spec0 = self._exclude_parts()
            w = spec0.to_sql(dialect)
            if arg is None:  # count(*)
                return f"(count(*) OVER {w} - 1)"
            v = arg.to_sql(dialect)
            # parenthesized operand: the canonical form reparse emits
            cnt = (f"(count({v}) OVER {w} - "
                   f"CAST(({v} IS NOT NULL) AS INT))")
            if name == "count":
                return cnt
            ssum = f"(sum({v}) OVER {w} - coalesce({v}, 0))"
            if name == "sum":
                # NULL-guard the empty-after-exclusion frame (review
                # r10b): a lone row's frame minus itself must be NULL
                # per the standard (DuckDB's native EXCLUDE agrees),
                # not frame_sum - v = 0
                return (f"(CASE WHEN ({cnt} = 0) THEN NULL "
                        f"ELSE {ssum} END)")
            return f"({ssum} / nullif({cnt}, 0))"
        if self.func.filter_where is not None and dialect == SPARK:
            # Spark rejects FILTER on window aggregates ("not supported
            # yet", AnalysisException) though it accepts the clause on
            # grouped aggregates — desugar to the exact CASE rewrite the
            # Column path already uses (aggregates skip NULLs), so the
            # dual render holds; DuckDB keeps the native clause
            import dataclasses

            fw = self.func.filter_where
            name = canonical(self.func.name)
            if name not in AGGREGATES:
                raise ValueError(
                    f"FILTER (WHERE ...) requires an aggregate, got {name!r}"
                )
            if self.func.args:
                args = tuple(Case(((fw, a),)) for a in self.func.args)
            else:  # count(*) FILTER (WHERE c)
                args = (Case(((fw, Lit(1)),)),)
            fn = dataclasses.replace(self.func, name=name, args=args,
                                     filter_where=None)
            return f"{fn.to_sql(dialect)} OVER {self.spec.to_sql(dialect)}"
        return f"{self.func.to_sql(dialect)} OVER {self.spec.to_sql(dialect)}"

    def to_column(self) -> Column:
        if self.spec.exclude_peers:
            ties = self.spec.exclude_peers == "ties"
            name, arg, s, peer = self._peer_parts()
            w, pw = s.to_window(), peer.to_window()
            if arg is None:
                base = (F.count(F.lit(1)).over(w)
                        - F.count(F.lit(1)).over(pw))
                return base + F.lit(1) if ties else base
            v = arg.to_column()
            cnt = F.count(v).over(w) - F.count(v).over(pw)
            if ties:
                cnt = cnt + v.isNotNull().cast("int")
            if name == "count":
                return cnt
            ssum = (F.sum(v).over(w)
                    - F.coalesce(F.sum(v).over(pw), F.lit(0)))
            if ties:
                ssum = ssum + F.coalesce(v, F.lit(0))
            if name == "sum":
                return F.when(cnt == 0, F.lit(None)).otherwise(ssum)
            return ssum / F.nullif(cnt, F.lit(0))
        if self.spec.exclude_current:
            name, arg, spec0 = self._exclude_parts()
            w = spec0.to_window()
            if arg is None:
                return F.count(F.lit(1)).over(w) - F.lit(1)
            v = arg.to_column()
            cnt = (F.count(v).over(w)
                   - v.isNotNull().cast("int"))
            if name == "count":
                return cnt
            ssum = F.sum(v).over(w) - F.coalesce(v, F.lit(0))
            if name == "sum":
                # empty-after-exclusion NULL guard — see to_sql
                return F.when(cnt == 0, F.lit(None)).otherwise(ssum)
            return ssum / F.nullif(cnt, F.lit(0))
        return self.func.to_column().over(self.spec.to_window())

    def default_name(self) -> str:
        return self.func.default_name()


@dataclass(frozen=True, eq=False)
class Index(Expr):
    """1-based array index — reference semantics (tests/select.rs:276:
    ``some_list[1]`` is the first element; SURVEY.md §2.2 Index row)."""

    operand: Expr
    index: Expr

    def to_sql(self, dialect: str = SPARK) -> str:
        if dialect == SPARK:
            return f"element_at({self.operand.to_sql(dialect)}, {self.index.to_sql(dialect)})"
        return f"({self.operand.to_sql(dialect)})[{self.index.to_sql(dialect)}]"

    def to_column(self) -> Column:
        return F.element_at(self.operand.to_column(), self.index.to_column())


@dataclass(frozen=True, eq=False)
class Field(Expr):
    """Struct field access ``(expr).name`` — the struct-key variant of
    indexing the reference only documents in commented tests
    (tests/select.rs:418-445; SURVEY.md §2.2 Index row). Dot syntax is
    valid in both Spark SQL and DuckDB."""

    operand: Expr
    name: str

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"({self.operand.to_sql(dialect)}).{quote_ident(self.name, dialect)}"

    def to_column(self) -> Column:
        return self.operand.to_column().getField(self.name)


@dataclass(frozen=True, eq=False)
class Alias(Expr):
    """e AS name. Reference: logical_plan.rs:86-96."""

    operand: Expr
    name: str

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"{self.operand.to_sql(dialect)} AS {quote_ident(self.name, dialect)}"

    def to_column(self) -> Column:
        return self.operand.to_column().alias(self.name)

    def default_name(self) -> str:
        return self.name


@dataclass(frozen=True, eq=False)
class SortKey(Expr):
    """Sort key with *explicit* direction and null ordering.

    The reference captures asc/nulls_first (logical_plan.rs:50) but the
    renderer inverts direction and drops NULLS FIRST/LAST entirely
    (sqlgenerator/src/lib.rs:141-148; SURVEY.md §2.4.1-2) — we always emit
    both, since Spark/DuckDB/DataFusion defaults all differ.
    """

    operand: Expr
    ascending: bool = True
    nulls_first: bool = True

    def to_sql(self, dialect: str = SPARK) -> str:
        d = "ASC" if self.ascending else "DESC"
        n = "NULLS FIRST" if self.nulls_first else "NULLS LAST"
        return f"{self.operand.to_sql(dialect)} {d} {n}"

    def to_column(self) -> Column:
        c = self.operand.to_column()
        if self.ascending:
            return c.asc_nulls_first() if self.nulls_first else c.asc_nulls_last()
        return c.desc_nulls_first() if self.nulls_first else c.desc_nulls_last()


# --- subquery expressions (need a Plan, imported lazily to avoid cycle) ---


@dataclass(frozen=True, eq=False)
class Exists(Expr):
    """EXISTS (subquery). SQL-only rendering; to_df callers use semi-join
    (plans.Join how='left_semi') instead — same semantics, same plan
    Catalyst produces after decorrelation."""

    subquery: Any  # plans.Plan
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        kw = "NOT EXISTS" if self.negated else "EXISTS"
        return f"{kw} ({self.subquery.to_sql(dialect)})"

    def to_column(self) -> Column:
        raise NotImplementedError(
            "EXISTS as a Column is not constructible in PySpark; "
            "use plans.Join(how='left_semi'/'left_anti') for the DataFrame path"
        )


@dataclass(frozen=True, eq=False)
class InSubquery(Expr):
    """``e [NOT] IN (subquery)``.  Row-value operands are
    predicate-context only by contract: Spark's own PROJECTED
    multi-column IN degrades to existence semantics (ExistenceJoin is
    not null-aware — (NULL, 'O') IN (...) projects FALSE where its
    WHERE form gives UNKNOWN), so the DuckDB desugar follows the
    standard/WHERE three-valued semantics, which Spark matches in every
    filter/HAVING context."""

    operand: Expr
    subquery: Any  # plans.Plan
    negated: bool = False

    def to_sql(self, dialect: str = SPARK) -> str:
        kw = "NOT IN" if self.negated else "IN"
        if isinstance(self.operand, RowExpr) and dialect == DUCKDB:
            # DuckDB has no multi-column IN (subquery), and wrapping
            # both sides into structs is NOT equivalent: struct
            # equality treats NULL as a value, while the standard (and
            # Spark) give three-valued IN — (NULL, 'O') NOT IN (...)
            # must be UNKNOWN, not TRUE.  Desugar to the standard's
            # definition as a correlated scalar aggregate:
            # 2 = some row matches (TRUE), 1 = no match but some
            # comparison UNKNOWN (NULL), else/empty = FALSE.
            cols = ", ".join(
                f"__rv{i + 1}" for i in range(len(self.operand.exprs))
            )
            eq = " AND ".join(
                f"(__rv{i + 1} = {e.to_sql(dialect)})"
                for i, e in enumerate(self.operand.exprs)
            )
            verdict = (
                f"(SELECT coalesce(max(CASE WHEN ({eq}) THEN 2 "
                f"WHEN ({eq}) IS NULL THEN 1 ELSE 0 END), 0) "
                f"FROM ({self.subquery.to_sql(dialect)}) AS __rv({cols}))"
            )
            base = (f"(CASE {verdict} WHEN 2 THEN TRUE "
                    f"WHEN 1 THEN NULL ELSE FALSE END)")
            return f"(NOT {base})" if self.negated else base
        if isinstance(self.operand, RowExpr):
            # render the tuple inline — bare RowExpr.to_sql raises (the
            # IN operand is its only supported rendering context)
            op = ("(" + ", ".join(e.to_sql(dialect)
                                  for e in self.operand.exprs) + ")")
        else:
            op = self.operand.to_sql(dialect)
        return f"({op} {kw} ({self.subquery.to_sql(dialect)}))"

    def to_column(self) -> Column:
        raise NotImplementedError(
            "IN (subquery) as a Column: use plans.Join(how='left_semi')"
        )


@dataclass(frozen=True, eq=False)
class RowExpr(Expr):
    """Row-value constructor ``(e1, e2, ...)`` (round 10).  Kept as a
    node ONLY as the operand of ``IN (subquery)`` — the one place both
    dialects accept it natively (multi-key semi-join membership).  Bare
    row comparisons (``(a, b) = (c, d)``) desugar to pairwise
    conjunctions at parse time instead: Spark has no standalone
    row-value type outside IN."""

    exprs: tuple

    def to_sql(self, dialect: str = SPARK) -> str:
        # a bare row value in a projection / GROUP BY / ORDER BY would
        # render verbatim — Spark has no standalone row-value type
        # (analysis error) and DuckDB would silently build a struct, so
        # the render is rejected loudly instead (InSubquery renders its
        # operand tuple inline; comparisons desugar at parse time)
        raise ValueError(
            "row-value constructor is only supported as an IN "
            "(subquery/list) operand or in a row comparison; project "
            "the columns separately or build a struct() explicitly"
        )

    def to_column(self) -> Column:
        raise NotImplementedError(
            "row-value constructor as a Column: use F.struct or the "
            "SQL rendering path"
        )


@dataclass(frozen=True, eq=False)
class ScalarSubquery(Expr):
    subquery: Any  # plans.Plan

    def to_sql(self, dialect: str = SPARK) -> str:
        return f"({self.subquery.to_sql(dialect)})"

    def to_column(self) -> Column:
        raise NotImplementedError(
            "scalar subquery as a Column: compute it and join/cross-join, "
            "or use the SQL rendering path"
        )


# ---- public constructors -------------------------------------------------


def col(name: str) -> Col:
    """``col("c")`` or ``col("t.c")`` (table-qualified)."""
    if "." in name:
        table, _, c = name.partition(".")
        return Col(c, table)
    return Col(name)


def lit(value: Any) -> Lit:
    return Lit(value)


def fn(name: str, *args: ExprLike) -> Func:
    return Func(name, tuple(_wrap(a) for a in args))


def agg(name: str, *args: ExprLike, distinct: bool = False) -> Func:
    return Func(name, tuple(_wrap(a) for a in args), distinct=distinct)


def when(cond: Expr, value: ExprLike) -> Case:
    return Case(((cond, _wrap(value)),))


def lam(params, body) -> Lambda:
    """Build a lambda for a higher-order function.

    ``lam("x", lambda x: x * 2)`` or ``lam(("a", "b"), lambda a, b: a + b)``;
    ``body`` may also be a pre-built Expr over ``col(param)`` refs.
    """
    if isinstance(params, str):
        params = (params,)
    params = tuple(params)
    if callable(body) and not isinstance(body, Expr):
        body = body(*[Col(p) for p in params])
    return Lambda(params, _wrap(body))


def star(table: Optional[str] = None) -> Star:
    return Star(table)
