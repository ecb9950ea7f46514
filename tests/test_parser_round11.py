"""SQL-surface batch: implicit comma cross-joins (SQL-92), PG regex
operator spellings and multi-index array access. The ASOF JOIN tests
are in ``test_asof.py``.

Verification pattern per the house style: render→parse→render fixpoint,
DuckDB equivalence on an independent formulation, Spark dual-render,
and physical-plan gates.
"""

import duckdb
import pytest

from datafusion_sqlgen_spark.parser import ParseError, parse_sql
from tests.conftest import normalize_rows


def _fixpoint(sql: str) -> str:
    s = parse_sql(sql).to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s, s
    return s


# ---------------------------------------------------------------------------
# Implicit comma cross-join: FROM a, b [WHERE ...]
# ---------------------------------------------------------------------------

def test_comma_join_parses_and_fixpoints_as_cross_join():
    s = _fixpoint("SELECT a.x, b.y FROM a, b WHERE a.x = b.y")
    assert "CROSS JOIN" in s
    d = parse_sql("SELECT a.x, b.y FROM a, b WHERE a.x = b.y").to_sql(
        "duckdb")
    assert "CROSS JOIN" in d


def test_comma_join_three_way_left_folds():
    s = _fixpoint("SELECT 1 AS one FROM a, b, c")
    assert s.count("CROSS JOIN") == 2


def test_comma_join_reference_corpus_shape():
    """The reference's csv_join_unaliased_subqueries intent
    (tests/select.rs:817-837): comma-separated parenthesized
    subqueries in FROM, equality predicate in WHERE."""
    s = _fixpoint(
        "SELECT a.c1, b.c2 FROM (SELECT c_custkey AS c1 FROM customer) "
        "AS a, (SELECT o_custkey AS c2 FROM orders) AS b "
        "WHERE a.c1 = b.c2"
    )
    assert "CROSS JOIN" in s


def test_comma_join_mixes_with_explicit_joins():
    # comma then JOIN: left-folded; equivalent for inner conditions
    s = _fixpoint(
        "SELECT 1 AS one FROM a, b JOIN c ON b.x = c.x WHERE a.y = b.y")
    assert "CROSS JOIN" in s and " JOIN c ON" in s


def test_comma_join_trailing_comma_rejects():
    with pytest.raises(ParseError):
        parse_sql("SELECT 1 FROM a, WHERE x = 1")


def test_comma_join_matches_duckdb_and_explicit_join(spark):
    q = ("SELECT c.c_mktsegment, count(*) AS n FROM customer AS c, "
         "orders AS o WHERE c.c_custkey = o.o_custkey "
         "GROUP BY c.c_mktsegment")
    plan = parse_sql(q)
    mine = normalize_rows(plan.to_df(spark).collect())
    via_sql = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert mine == via_sql
    explicit = parse_sql(
        "SELECT c.c_mktsegment, count(*) AS n FROM customer AS c "
        "JOIN orders AS o ON c.c_custkey = o.o_custkey "
        "GROUP BY c.c_mktsegment")
    assert mine == normalize_rows(explicit.to_df(spark).collect())
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")
    assert mine == normalize_rows(con.execute(q).fetchall())


def test_comma_join_with_equality_plans_as_hash_join(spark):
    """Catalyst's ExtractFiltersAndInnerJoins must fold the WHERE
    equality into the join condition — a comma join with keys is a
    hash equi-join, never a cartesian (the 100-TB property; without
    it the comma spelling would be a scale trap)."""
    q = ("SELECT c.c_name, o.o_orderkey FROM customer AS c, orders AS o "
         "WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000")
    df = parse_sql(q).to_df(spark)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "HashJoin" in phys


# ---------------------------------------------------------------------------
# PG regex operator spellings ~ ~* !~ !~*
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("op,subject,pattern,expect", [
    ("~", "'abc'", "a.c", True),
    ("~", "'xabcx'", "a.c", True),      # PARTIAL match (PG semantics)
    ("~", "'xyz'", "a.c", False),
    ("~*", "'ABC'", "a.c", True),
    ("~*", "'xyz'", "a.c", False),
    ("!~", "'abc'", "a.c", False),
    ("!~", "'xyz'", "a.c", True),
    ("!~*", "'ABC'", "a.c", False),
    ("!~*", "'xyz'", "a.c", True),
])
def test_pg_regex_ops_fixpoint_and_duckdb(op, subject, pattern, expect):
    q = f"SELECT {subject} {op} '{pattern}' AS m"
    plan = parse_sql(q)
    s = plan.to_sql("spark")
    assert "RLIKE" in s
    assert parse_sql(s).to_sql("spark") == s
    got = duckdb.connect().execute(plan.to_sql("duckdb")).fetchone()[0]
    assert got is expect, (q, got)


def test_pg_regex_partial_match_not_duckdb_native_full_match():
    """PG `~` is a PARTIAL (contains) match; DuckDB's own native `~`
    operator is regexp_full_match — a different operator.  The duckdb
    render must therefore spell regexp_matches, never the bare
    operator, or 'xabcx' ~ 'a.c' silently flips."""
    d = parse_sql("SELECT 'xabcx' ~ 'a.c' AS m").to_sql("duckdb")
    assert "regexp_matches" in d and "~" not in d
    assert duckdb.connect().execute(d).fetchone()[0] is True
    # DuckDB's native operator on the same inputs disagrees — the trap
    assert duckdb.connect().execute(
        "SELECT 'xabcx' ~ 'a.c'").fetchone()[0] is False


def test_pg_regex_ops_execute_on_spark(spark):
    rows = parse_sql(
        "SELECT ('abc' ~ 'a.c') AS a, ('ABC' ~* 'a.c') AS b, "
        "('xyz' !~ 'a.c') AS c, ('XYZ' !~* 'a.c') AS d"
    ).to_df(spark).collect()
    assert rows == [(True, True, True, True)]


def test_pg_regex_rejections():
    with pytest.raises(ParseError, match="string literal"):
        parse_sql("SELECT x ~ y FROM t")
    with pytest.raises(ParseError, match="backslash"):
        parse_sql(r"SELECT x ~ 'a\d' FROM t")


# ---------------------------------------------------------------------------
# Multi-index array access expr[i, j]
# ---------------------------------------------------------------------------

def test_multi_index_parses_to_chained_element_at():
    s = parse_sql("SELECT m[1, 2] AS v FROM t").to_sql("spark")
    assert s == "SELECT element_at(element_at(m, 1), 2) AS v FROM t"
    assert parse_sql(s).to_sql("spark") == s


def test_multi_index_duckdb_render_and_execution():
    plan = parse_sql(
        "SELECT array(array(10, 20), array(30, 40))[2, 1] AS v")
    assert duckdb.connect().execute(
        plan.to_sql("duckdb")).fetchone()[0] == 30


def test_multi_index_dual_render(spark):
    plan = parse_sql(
        "SELECT array(array(10, 20), array(30, 40))[2, 1] AS v")
    a = plan.to_df(spark).collect()
    b = spark.sql(plan.to_sql("spark")).collect()
    assert a == b == [(30,)]


# ---------------------------------------------------------------------------
# Comma-join edge cases
# ---------------------------------------------------------------------------

def test_comma_join_right_full_suffix_rejected():
    """Review r11 #2 (verified vs DuckDB): comma binds loosest, so
    left-folding a following RIGHT/FULL JOIN regroups — unmatched
    right rows would NULL-pad the crossed side instead of being
    crossed with every row.  Reject loudly instead of silently
    diverging; inner/left/semi/anti suffixes stay accepted (their
    left fold is result-equivalent)."""
    for bad in (
        "SELECT 1 FROM a, b RIGHT JOIN c ON b.y = c.z",
        "SELECT 1 FROM a, b FULL JOIN c ON b.y = c.z",
        "SELECT 1 FROM a, b JOIN c ON b.y = c.z "
        "RIGHT JOIN d ON c.z = d.w",
    ):
        with pytest.raises(ParseError, match="comma binds loosest"):
            parse_sql(bad)
    # without a comma, RIGHT/FULL parse as before
    s = parse_sql(
        "SELECT 1 AS one FROM a RIGHT JOIN b ON a.x = b.y").to_sql(
        "spark")
    assert "RIGHT JOIN" in s


def test_comma_join_keyless_is_honest_cartesian(spark):
    """With no predicate the comma join IS a cross product — it must
    execute (tiny dims are legitimate), not error."""
    q = "SELECT r.r_name, n.n_name FROM region AS r, nation AS n"
    df = parse_sql(q).to_df(spark)
    assert df.count() == 5 * 25
