"""ASOF [LEFT] JOIN (DuckDB dialect) on both renderings of the plan.

The parser builds an ``AsofJoin`` node. Its DuckDB render is the native
``ASOF`` keyword with the original ON conjunction; its Spark rendering
is one union + last-non-null-window desugar (``_spark_desugar``), which
``to_sql("spark")`` prints and ``to_df`` executes. Checked here:
render→parse→render fixpoints, loud rejection of malformed ON clauses,
DuckDB's native ASOF as the independent formulation (the desugar
re-rendered for DuckDB must equal it), join-free physical plans, the
strict bounds and the merge_asof-style tolerance bound, star expansion
above the join, and the Spark dual render (``to_df`` ≡
``spark.sql(to_sql("spark"))``). ``test_fuzz_asof.py`` fuzzes the
DuckDB side.
"""

import dataclasses

import duckdb
import pytest

from datafusion_sqlgen_spark.expressions.core import Col, Func
from datafusion_sqlgen_spark.parser import ParseError, parse_sql
from datafusion_sqlgen_spark.plans.core import AsofJoin, Plan
from tests.conftest import normalize_rows

_ASOF = ("SELECT l.k, l.ts, l.ev, r.ts AS rts, r.price "
         "FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts")


def _asof_duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE l AS SELECT * FROM (VALUES (1,10,'a'),(1,25,'b'),"
        "(2,5,'c'),(2,99,'d'),(3,7,'e')) t(k,ts,ev)"
    )
    con.execute(
        "CREATE TABLE r AS SELECT * FROM (VALUES (1,8,1.0),(1,20,2.0),"
        "(1,30,3.0),(2,7,4.0)) t(k,ts,price)"
    )
    return con


def _asof_strict_duck():
    con = duckdb.connect()
    # l.ts=10 ties r.ts=10 for k=1: the strict/non-strict boundary row
    con.execute("CREATE TABLE l AS SELECT * FROM (VALUES (1,10,'a'),"
                "(1,25,'b'),(2,5,'c'),(2,99,'d'),(3,7,'e')) t(k,ts,ev)")
    con.execute("CREATE TABLE r AS SELECT * FROM (VALUES (1,10,1.0),"
                "(1,20,2.0),(1,30,3.0),(2,7,4.0)) t(k,ts,price)")
    return con


def _views(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW a12l AS SELECT * FROM VALUES "
        "(1,10,'a'),(1,25,'b'),(2,5,'c'),(2,99,'d'),(3,7,'e') t(k,ts,ev)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW a12r AS SELECT * FROM VALUES "
        "(1,8,CAST(1.0 AS DOUBLE)),(1,20,2.0),(1,30,3.0),(2,7,4.0) "
        "t(k,ts,price)"
    )


def _walk(plan):
    yield plan
    for f in dataclasses.fields(plan):
        v = getattr(plan, f.name)
        if isinstance(v, Plan):
            yield from _walk(v)


# ---------------------------------------------------------------------------
# the DuckDB render and the desugar against DuckDB's native ASOF
# ---------------------------------------------------------------------------

def test_asof_join_desugar_matches_duckdb_native_backward():
    """The SPARK-dialect desugar, re-rendered for DuckDB via the
    round-trip, equals DuckDB's native ASOF JOIN — the independent
    formulation.  (``to_sql('duckdb')`` itself renders native ASOF, so
    the desugar must be reached through the spark render.)"""
    con = _asof_duck()
    desugared = parse_sql(parse_sql(_ASOF).to_sql("spark")).to_sql("duckdb")
    assert "ASOF JOIN" not in desugared.upper()
    mine = con.execute(
        f"SELECT * FROM ({desugared}) ORDER BY ALL"
    ).fetchall()
    native = con.execute(
        "SELECT l.k, l.ts, l.ev, r.ts, r.price FROM l ASOF JOIN r "
        "ON l.k = r.k AND l.ts >= r.ts ORDER BY ALL"
    ).fetchall()
    assert mine == native and len(mine) == 3  # k=2@5 and k=3 unmatched


def test_asof_join_duckdb_render_is_native_and_refixpoints():
    """``to_sql('duckdb')`` renders the native ASOF keyword with the
    original ON conjunction, and re-parsing that text reconstructs the
    node (surface-form fixpoint on the DuckDB dialect)."""
    s = parse_sql(_ASOF).to_sql("duckdb")
    assert "ASOF JOIN" in s and "ON ((l.k = r.k) AND (l.ts >= r.ts))" in s
    assert parse_sql(s).to_sql("duckdb") == s
    con = _asof_duck()
    assert len(con.execute(s).fetchall()) == 3


def test_asof_join_desugar_matches_duckdb_native_forward():
    con = _asof_duck()
    q = ("SELECT l.k, l.ts, r.ts AS rts FROM l ASOF JOIN r "
         "ON l.k = r.k AND l.ts <= r.ts")
    desugared = parse_sql(parse_sql(q).to_sql("spark")).to_sql("duckdb")
    assert "ASOF JOIN" not in desugared.upper()
    mine = con.execute(
        f"SELECT * FROM ({desugared}) ORDER BY ALL"
    ).fetchall()
    native = con.execute(
        "SELECT l.k, l.ts, r.ts FROM l ASOF JOIN r "
        "ON l.k = r.k AND l.ts <= r.ts ORDER BY ALL"
    ).fetchall()
    assert mine == native and len(mine) == 3


def test_asof_join_fixpoint_at_desugared_form():
    # the spark render is the union+window desugar (join-free, the
    # plan to_df executes), not a join + correlated max
    s = parse_sql(_ASOF).to_sql("spark")
    assert "UNION ALL" in s and "IGNORE NULLS OVER" in s
    assert "JOIN" not in s.replace("UNION ALL", "")
    assert parse_sql(s).to_sql("spark") == s


def test_asof_join_reversed_operands_same_direction():
    # r.ts <= l.ts is the same backward match as l.ts >= r.ts
    a = parse_sql(_ASOF).to_sql("spark")
    b = parse_sql(_ASOF.replace("l.ts >= r.ts", "r.ts <= l.ts")).to_sql(
        "spark")
    assert ("max(" in a) == ("max(" in b)


def test_asof_join_rejections():
    for sql, msg in [
        # malformed ON clauses reject alike for the LEFT and inner forms
        ("SELECT 1 FROM l ASOF LEFT JOIN r ON l.k = r.k",
         "timestamp bound"),
        ("SELECT 1 FROM l ASOF JOIN r ON l.k = r.k", "timestamp bound"),
        ("SELECT 1 FROM l ASOF JOIN r ON l.ts >= r.ts", "equality key"),
        ("SELECT 1 FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts "
         "AND l.ts <= r.ts", "exactly one"),
        ("SELECT 1 FROM l ASOF JOIN r ON l.k = r.k OR l.ts >= r.ts",
         "AND-ed comparisons"),
    ]:
        with pytest.raises(ParseError, match=msg):
            parse_sql(sql)


def test_asof_join_dual_render(spark):
    sql = (
        "SELECT l.event_id, l.ts, r.ts AS purchase_ts, r.pval "
        "FROM (SELECT event_id, ts, user_id FROM events "
        "WHERE event_type = 'click' AND event_id % 40 = 0) AS l "
        "ASOF JOIN (SELECT user_id, ts, max(value) AS pval FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id, ts) AS r "
        "ON l.user_id = r.user_id AND l.ts >= r.ts"
    )
    plan = parse_sql(sql)
    df = normalize_rows(plan.to_df(spark).collect())
    via_sql = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert df == via_sql


def test_asof_left_join_matches_duckdb_native():
    con = _asof_duck()
    q = ("SELECT l.k, l.ts, l.ev, r.ts AS rts, r.price "
         "FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts")
    plan = parse_sql(q)
    s = plan.to_sql("spark")
    # the spark render is the union+window desugar — join-free
    assert "UNION ALL" in s and "IGNORE NULLS OVER" in s
    assert parse_sql(s).to_sql("spark") == s
    # the duckdb render is native ASOF LEFT; the union+window desugar is
    # the independent formulation, reached through the spark render
    assert "ASOF LEFT JOIN" in plan.to_sql("duckdb")
    desugared = parse_sql(s).to_sql("duckdb")
    assert "ASOF JOIN" not in desugared.upper()
    mine = con.execute(
        f"SELECT * FROM ({desugared}) ORDER BY k, ts"
    ).fetchall()
    native = con.execute(
        "SELECT l.k, l.ts, l.ev, r.ts, r.price FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts >= r.ts ORDER BY l.k, l.ts"
    ).fetchall()
    assert mine == native and len(mine) == 5
    assert sum(1 for r in mine if r[3] is None) == 2  # k=2@5, k=3


def test_asof_left_join_forward_matches_native():
    con = _asof_duck()
    q = ("SELECT l.k, l.ts, r.ts AS rts FROM l ASOF LEFT JOIN r "
         "ON l.k = r.k AND l.ts <= r.ts")
    desugared = parse_sql(parse_sql(q).to_sql("spark")).to_sql("duckdb")
    assert "ASOF JOIN" not in desugared.upper()
    mine = con.execute(
        f"SELECT * FROM ({desugared}) ORDER BY k, ts"
    ).fetchall()
    native = con.execute(
        "SELECT l.k, l.ts, r.ts FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts <= r.ts ORDER BY l.k, l.ts"
    ).fetchall()
    assert mine == native


# ---------------------------------------------------------------------------
# join-free physical plans
# ---------------------------------------------------------------------------

def test_asof_left_join_plan_no_join_at_all(spark):
    """A LEFT JOIN LATERAL … LIMIT 1 execution compiles to a
    BroadcastNestedLoopJoin (the left key set broadcast — it grows with
    the data).  The union+window shape has NO join operator in the
    physical plan at all, just the one partition-by-key exchange; gate
    both BNLJ and Cartesian so neither can slip back in.  Dual-render:
    to_df must equal the executable spark-SQL text row-for-row."""
    q = ("SELECT l.event_id, r.pval FROM "
         "(SELECT event_id, ts, user_id FROM events "
         "WHERE event_type = 'click' AND event_id % 40 = 0) AS l "
         "ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval "
         "FROM events WHERE event_type = 'purchase' "
         "GROUP BY user_id, ts) AS r "
         "ON l.user_id = r.user_id AND l.ts >= r.ts")
    df = parse_sql(q).to_df(spark)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys
    assert "CartesianProduct" not in phys
    assert "Join" not in phys  # union+window: no join operator exists
    assert "Window" in phys
    via_sql = spark.sql(parse_sql(q).to_sql("spark"))
    assert normalize_rows(df.collect()) == normalize_rows(
        via_sql.collect())


def test_asof_inner_join_plan_no_join_at_all(spark):
    """The inner form routes through the same union+window shape —
    same physical-plan gate."""
    q = ("SELECT l.event_id, r.pval FROM "
         "(SELECT event_id, ts, user_id FROM events "
         "WHERE event_type = 'click' AND event_id % 40 = 0) AS l "
         "ASOF JOIN (SELECT user_id, ts, max(value) AS pval "
         "FROM events WHERE event_type = 'purchase' "
         "GROUP BY user_id, ts) AS r "
         "ON l.user_id = r.user_id AND l.ts >= r.ts")
    df = parse_sql(q).to_df(spark)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys
    assert "CartesianProduct" not in phys
    assert "Join" not in phys
    assert "Window" in phys


@pytest.mark.parametrize("q", [
    "SELECT l.k AS k, l.ts AS lts, r.ts AS rts, r.price AS p "
    "FROM a12l AS l ASOF JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts",
    "SELECT l.k AS k, l.ts AS lts, r.ts AS rts "
    "FROM a12l AS l ASOF LEFT JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts",
    "SELECT l.k AS k, l.ts AS lts, r.ts AS rts "
    "FROM a12l AS l ASOF JOIN a12r AS r ON l.k = r.k AND l.ts <= r.ts",
])
def test_asof_spark_text_plans_join_free(spark, q):
    _views(spark)
    plan = parse_sql(q)
    s = plan.to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s  # render->parse fixpoint
    df = spark.sql(s)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in phys, phys[:400]
    assert "Window" in phys
    # and the TEXT computes the same rows as to_df
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, plan.to_df(spark).collect()))


def test_asof_spark_text_matches_duckdb_native(spark):
    _views(spark)
    con = _asof_duck()
    q = ("SELECT l.k AS k, l.ts AS lts, r.ts AS rts, r.price AS p "
         "FROM a12l AS l ASOF LEFT JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts")
    srows = sorted(map(tuple, spark.sql(parse_sql(q).to_sql("spark"))
                       .collect()))
    native = sorted(con.execute(
        "SELECT l.k, l.ts, r.ts, r.price FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts >= r.ts"
    ).fetchall(), key=lambda t: tuple((v is None, v) for v in t))
    srows = sorted(srows, key=lambda t: tuple((v is None, v) for v in t))
    assert len(srows) == 5
    assert [tuple(r) for r in srows] == [tuple(r) for r in native]


# ---------------------------------------------------------------------------
# NULL edges, strict bounds, USING
# ---------------------------------------------------------------------------

def test_asof_join_to_df_null_edges_match_duckdb_native(spark):
    """The union+window execution on NULL edges: a NULL left timestamp
    matches nothing, NULL left keys null-pad (LEFT) / drop (inner), and
    NULL right keys/timestamps never match — all per join comparison
    semantics, checked against DuckDB's native ASOF on the same rows."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW al AS SELECT * FROM VALUES "
        "(1, 10, 'a'), (1, NULL, 'b'), (NULL, 10, 'c'), (2, 5, 'd') "
        "AS t(k, ts, ev)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ar AS SELECT * FROM VALUES "
        "(1, 8, 1.0), (1, NULL, 2.0), (CAST(NULL AS INT), 9, 3.0), "
        "(2, 7, 4.0) AS t(k, ts, price)"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE al AS SELECT * FROM (VALUES "
                "(1, 10, 'a'), (1, NULL, 'b'), (NULL, 10, 'c'), "
                "(2, 5, 'd')) t(k, ts, ev)")
    con.execute("CREATE TABLE ar AS SELECT * FROM (VALUES "
                "(1, 8, 1.0), (1, NULL, 2.0), (NULL, 9, 3.0), "
                "(2, 7, 4.0)) t(k, ts, price)")
    for kw in ("ASOF JOIN", "ASOF LEFT JOIN"):
        q = (f"SELECT l.k, l.ts, l.ev, r.ts AS rts, r.price FROM al AS l "
             f"{kw} ar AS r ON l.k = r.k AND l.ts >= r.ts")
        mine = normalize_rows(parse_sql(q).to_df(spark).collect())
        native = normalize_rows(con.execute(q).fetchall())
        # DuckDB 1.0's native ASOF sorts NULL as the LARGEST ordering
        # value, so a NULL left timestamp matches the greatest right
        # row — an implementation quirk, not comparison semantics.  We
        # follow SQL comparison semantics (NULL matches nothing), the
        # same answer our own spark-SQL desugar and pandas merge_asof
        # give, so compare against native only on non-NULL timestamps
        # and pin the NULL rows explicitly.
        mine_nn = [r for r in mine if r[1] is not None]
        native_nn = [r for r in native if r[1] is not None]
        assert mine_nn == native_nn, (kw, mine_nn, native_nn)
        null_ts = [r for r in mine if r[1] is None]
        if kw == "ASOF JOIN":
            assert null_ts == []  # no match -> inner drops
        else:
            assert null_ts == [(1, None, 'b', None, None)]  # null-padded


@pytest.mark.parametrize("kw", ["ASOF JOIN", "ASOF LEFT JOIN"])
@pytest.mark.parametrize("op", [">", "<", ">=", "<="])
def test_asof_strict_bounds_match_duckdb_native(kw, op):
    """Both the native duckdb render and the desugared spark render
    (re-run on DuckDB) equal DuckDB's native ASOF for every bound op,
    including the strict forms at an exactly-equal timestamp."""
    con = _asof_strict_duck()
    q = (f"SELECT l.k, l.ts, l.ev, r.ts AS rts FROM l {kw} r "
         f"ON l.k = r.k AND l.ts {op} r.ts")
    plan = parse_sql(q)
    d = plan.to_sql("duckdb")
    assert parse_sql(d).to_sql("duckdb") == d  # surface-form fixpoint
    native = sorted(con.execute(q).fetchall())
    assert sorted(con.execute(d).fetchall()) == native
    des = parse_sql(plan.to_sql("spark")).to_sql("duckdb")
    assert "ASOF JOIN" not in des.upper()
    assert sorted(con.execute(f"SELECT * FROM ({des})").fetchall()) \
        == native


@pytest.mark.parametrize("op,expect_equal_match", [
    (">=", True), (">", False),
])
def test_asof_strict_to_df_equal_timestamp(spark, op, expect_equal_match):
    """The union+window tie order: a strict bound must exclude the
    exactly-equal right row, the non-strict form must match it."""
    spark.sql("CREATE OR REPLACE TEMP VIEW sl AS SELECT * FROM VALUES "
              "(1, 10) AS t(k, ts)")
    spark.sql("CREATE OR REPLACE TEMP VIEW sr AS SELECT * FROM VALUES "
              "(1, 10, 1.0), (1, 5, 2.0) AS t(k, ts, price)")
    q = (f"SELECT l.k, l.ts, r.ts AS rts, r.price FROM sl AS l "
         f"ASOF JOIN sr AS r ON l.k = r.k AND l.ts {op} r.ts")
    rows = parse_sql(q).to_df(spark).collect()
    assert len(rows) == 1
    assert (rows[0]["rts"] == 10) is expect_equal_match
    assert (rows[0]["price"] == (1.0 if expect_equal_match else 2.0))


@pytest.mark.parametrize("kw", ["ASOF JOIN", "ASOF LEFT JOIN"])
def test_asof_using_shorthand_matches_on_form(kw):
    """DuckDB's USING shorthand (keys first, ordering column last, >=
    semantics) desugars to the explicit qualified ON conjunction."""
    con = _asof_strict_duck()
    q_using = (f"SELECT l.k, l.ts, l.ev, r.price FROM l {kw} r "
               f"USING (k, ts)")
    q_on = (f"SELECT l.k, l.ts, l.ev, r.price FROM l {kw} r "
            f"ON l.k = r.k AND l.ts >= r.ts")
    pu = parse_sql(q_using)
    d = pu.to_sql("duckdb")
    assert "USING" not in d and "l.ts >= r.ts" in d.replace("(", "").replace(")", "")
    assert parse_sql(d).to_sql("duckdb") == d
    assert sorted(con.execute(d).fetchall()) \
        == sorted(con.execute(q_on).fetchall()) \
        == sorted(con.execute(q_using).fetchall())


def test_asof_using_rejections():
    with pytest.raises(ParseError, match="at least two"):
        parse_sql("SELECT 1 FROM l ASOF JOIN r USING (ts)")
    with pytest.raises(ParseError, match="named left relation"):
        parse_sql("SELECT 1 FROM a JOIN b ON a.x = b.x "
                  "ASOF JOIN r USING (k, ts)")


# ---------------------------------------------------------------------------
# star expansion above the join, composition
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("proj", ["*", "l.*", "r.*", "l.ts, r.*"])
def test_asof_select_star_flattens_like_sql(spark, proj):
    """SELECT * / l.* / r.* above an ASOF join: to_df must flatten the
    match struct to the same column shape both SQL renders produce
    (native duckdb ASOF and the spark-dialect desugar flatten stars)."""
    spark.sql("CREATE OR REPLACE TEMP VIEW fl AS SELECT * FROM VALUES "
              "(1, 10), (1, 25), (2, 5) AS t(k, ts)")
    spark.sql("CREATE OR REPLACE TEMP VIEW fr AS SELECT * FROM VALUES "
              "(1, 8, 1.0), (1, 20, 2.0) AS t(k, ts, price)")
    con = duckdb.connect()
    con.execute("CREATE TABLE fl AS SELECT * FROM (VALUES (1, 10), "
                "(1, 25), (2, 5)) t(k, ts)")
    con.execute("CREATE TABLE fr AS SELECT * FROM (VALUES (1, 8, 1.0), "
                "(1, 20, 2.0)) t(k, ts, price)")
    q = (f"SELECT {proj} FROM fl AS l ASOF LEFT JOIN fr AS r "
         "ON l.k = r.k AND l.ts >= r.ts")
    plan = parse_sql(q)
    mine = plan.to_df(spark)
    via_sql = spark.sql(plan.to_sql("spark"))
    assert mine.columns == via_sql.columns, (proj, mine.columns,
                                             via_sql.columns)
    native = con.execute(q)
    assert mine.columns == [d[0] for d in native.description]
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    a = sorted(map(tuple, normalize_rows(mine.collect())), key=key)
    b = sorted(map(tuple, normalize_rows(native.fetchall())), key=key)
    c = sorted(map(tuple, normalize_rows(via_sql.collect())), key=key)
    assert a == b == c


def test_asof_star_flatten_matches_between_text_and_df(spark):
    """`SELECT *` above an asof join flattens the payload struct in the
    spark TEXT too (`* EXCEPT (r), r.*`), matching to_df and DuckDB."""
    _views(spark)
    for proj in ("*", "l.*", "r.*"):
        plan = parse_sql(
            f"SELECT {proj} FROM a12l AS l ASOF LEFT JOIN a12r AS r "
            "ON l.k = r.k AND l.ts >= r.ts"
        )
        via_sql = spark.sql(plan.to_sql("spark"))
        assert plan.to_df(spark).columns == via_sql.columns, proj


def test_asof_select_star_flattens_through_where(spark):
    """A WHERE between the star and the ASOF join interposes a Filter;
    the star expansion must see through it (and ORDER/LIMIT) or to_df
    surfaces the match struct while both SQL renders flatten — a
    dual-path column-shape divergence."""
    spark.sql("CREATE OR REPLACE TEMP VIEW wl AS SELECT * FROM VALUES "
              "(1, 10), (1, 25), (2, 5) AS t(k, ts)")
    spark.sql("CREATE OR REPLACE TEMP VIEW wr AS SELECT * FROM VALUES "
              "(1, 8, 1.0), (1, 20, 2.0) AS t(k, ts, price)")
    con = duckdb.connect()
    con.execute("CREATE TABLE wl AS SELECT * FROM (VALUES (1, 10), "
                "(1, 25), (2, 5)) t(k, ts)")
    con.execute("CREATE TABLE wr AS SELECT * FROM (VALUES (1, 8, 1.0), "
                "(1, 20, 2.0)) t(k, ts, price)")
    for q in (
        "SELECT * FROM wl AS l ASOF LEFT JOIN wr AS r "
        "ON l.k = r.k AND l.ts >= r.ts WHERE l.ts > 5",
        "SELECT l.* FROM wl AS l ASOF LEFT JOIN wr AS r "
        "ON l.k = r.k AND l.ts >= r.ts WHERE l.ts > 5 "
        "ORDER BY l.ts LIMIT 2",
    ):
        plan = parse_sql(q)
        mine = plan.to_df(spark)
        native = con.execute(q)
        assert mine.columns == [d[0] for d in native.description], (
            q, mine.columns)
        key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
        assert sorted(map(tuple, normalize_rows(mine.collect())),
                      key=key) \
            == sorted(map(tuple, normalize_rows(native.fetchall())),
                      key=key)


def test_asof_star_with_unknown_alias_errors_like_sql(spark):
    """A star qualified by an alias that is neither side must raise
    (like both SQL renders do), never silently resolve to the left
    columns."""
    spark.sql("CREATE OR REPLACE TEMP VIEW wl AS SELECT * FROM VALUES "
              "(1, 10) AS t(k, ts)")
    spark.sql("CREATE OR REPLACE TEMP VIEW wr AS SELECT * FROM VALUES "
              "(1, 8, 1.0) AS t(k, ts, price)")
    plan = parse_sql(
        "SELECT q.* FROM wl AS l ASOF JOIN wr AS r "
        "ON l.k = r.k AND l.ts >= r.ts")
    with pytest.raises(Exception, match="q|resolve|found"):
        plan.to_df(spark).collect()


def test_star_except_over_asof_fails_closed_on_spark_render():
    """The user's except list cannot be split between the two star arms
    without the schema, so the spark render raises instead of emitting
    SQL that breaks on one side."""
    plan = parse_sql(
        "SELECT * EXCLUDE (ev) FROM l ASOF JOIN r "
        "ON l.k = r.k AND l.ts >= r.ts"
    )
    with pytest.raises(ValueError, match="no schema-free"):
        plan.to_sql("spark")
    # the DuckDB render (native ASOF, flat columns) still works
    assert "EXCLUDE" in plan.to_sql("duckdb")


def test_asof_composes_in_cte_subquery_and_join_chain(spark):
    """AsofJoin as a CTE body, as a derived table joined onward, and
    chained with a further join at the same FROM level — all three
    render-fixpoint, execute on DuckDB equal to the native form, and
    the chain resolves struct-qualified right columns through the
    downstream join on the DataFrame path too."""
    con = _asof_strict_duck()
    cte = ("WITH m AS (SELECT l.k, l.ts, r.price FROM l ASOF LEFT JOIN "
           "r ON l.k = r.k AND l.ts >= r.ts) "
           "SELECT k, count(*) AS n, sum(price) AS sp FROM m GROUP BY k")
    chain = ("SELECT l.k, r.price, x.ev FROM l ASOF JOIN r "
             "ON l.k = r.k AND l.ts >= r.ts "
             "JOIN l AS x ON x.k = l.k AND x.ts = l.ts")
    for q in (cte, chain):
        d = parse_sql(q).to_sql("duckdb")
        assert parse_sql(d).to_sql("duckdb") == d
        assert sorted(con.execute(d).fetchall()) \
            == sorted(con.execute(q).fetchall())
    # Spark DataFrame path for the chain: the match struct survives the
    # downstream join and keeps resolving r.price
    spark.sql("CREATE OR REPLACE TEMP VIEW cl AS SELECT * FROM VALUES "
              "(1, 10, 'a'), (1, 25, 'b'), (2, 5, 'c') AS t(k, ts, ev)")
    spark.sql("CREATE OR REPLACE TEMP VIEW cr AS SELECT * FROM VALUES "
              "(1, 8, 1.0), (1, 20, 2.0) AS t(k, ts, price)")
    qs = ("SELECT l.k, r.price, x.ev FROM cl AS l ASOF JOIN cr AS r "
          "ON l.k = r.k AND l.ts >= r.ts "
          "JOIN cl AS x ON x.k = l.k AND x.ts = l.ts")
    rows = sorted(map(tuple, parse_sql(qs).to_df(spark).collect()))
    con2 = duckdb.connect()
    con2.execute("CREATE TABLE cl AS SELECT * FROM (VALUES "
                 "(1, 10, 'a'), (1, 25, 'b'), (2, 5, 'c')) t(k, ts, ev)")
    con2.execute("CREATE TABLE cr AS SELECT * FROM (VALUES "
                 "(1, 8, 1.0), (1, 20, 2.0)) t(k, ts, price)")
    assert rows == sorted(con2.execute(qs).fetchall())


def test_asof_fold_unnamed_right_uses_rname():
    """The DuckDB render wraps a non-named right side as ``AS rname``,
    the alias the ON conjunction addresses by contract (a fresh alias
    would leave the qualifier dangling). Unreachable via the parser;
    pinned for direct construction."""
    parsed = parse_sql(
        "SELECT l.event_id AS eid, r.p AS pval "
        "FROM events AS l ASOF JOIN "
        "(SELECT device_id AS d, ts, p FROM readings) AS r "
        "ON r.d = l.device_id AND r.ts <= l.ts"
    )
    node = next(p for p in _walk(parsed) if isinstance(p, AsofJoin))
    # strip the SubqueryAlias wrapper: the right side is then a bare
    # projection, the direct-construction shape the parser forbids
    bare = dataclasses.replace(node, right=node.right.input)
    sql = bare.to_sql("duckdb")
    assert f"AS {node.rname}" in sql
    # the ON conjunction's r.-qualified refs must resolve: execute it
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        "(1, 10, TIMESTAMP '2024-01-01 00:05:00')) "
        "v(event_id, device_id, ts)"
    )
    con.execute(
        "CREATE TABLE readings AS SELECT * FROM (VALUES "
        "(10, TIMESTAMP '2024-01-01 00:00:00', 7.5)) v(device_id, ts, p)"
    )
    # bare is the join node itself (no projection above): one matched
    # row whose right payload is 7.5
    rows = con.execute(sql).fetchall()
    assert len(rows) == 1 and float(rows[0][-1]) == 7.5


# ---------------------------------------------------------------------------
# tolerance bound (merge_asof semantics)
# ---------------------------------------------------------------------------

def test_asof_inner_tolerance_matches_windowed_twin(spark):
    _views(spark)
    con = _asof_duck()
    plan = parse_sql(
        "SELECT l.k AS k, l.ts AS lts, r.ts AS rts FROM a12l AS l ASOF JOIN a12r AS r "
        "ON l.k = r.k AND l.ts >= r.ts AND r.ts >= l.ts - 6"
    )
    oracle = con.execute(
        "SELECT k, ts, rts FROM (SELECT l.k, l.ts, (SELECT max(r.ts) "
        "FROM r WHERE r.k=l.k AND r.ts<=l.ts) AS rts FROM l) "
        "WHERE rts IS NOT NULL AND rts >= ts - 6 ORDER BY ALL"
    ).fetchall()
    s = plan.to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s
    assert sorted(map(tuple, spark.sql(s).collect())) == oracle
    assert sorted(map(tuple, plan.to_df(spark).collect())) == oracle
    assert oracle == [(1, 10, 8), (1, 25, 20)]  # k=2@99 match 7 is stale


def test_asof_left_tolerance_nulls_instead_of_dropping(spark):
    _views(spark)
    plan = parse_sql(
        "SELECT l.k AS k, l.ts AS lts, r.ts AS rts FROM a12l AS l ASOF "
        "LEFT JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts "
        "AND r.ts >= l.ts - 6"
    )
    want = [(1, 10, 8), (1, 25, 20), (2, 5, None), (2, 99, None),
            (3, 7, None)]  # k=2@99: nearest (7) outside window -> NULLed
    key = lambda t: tuple((v is None, v) for v in t)
    assert sorted(map(tuple, plan.to_df(spark).collect()), key=key) == want
    s = plan.to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s
    assert sorted(map(tuple, spark.sql(s).collect()), key=key) == want


def test_asof_forward_tolerance(spark):
    _views(spark)
    plan = parse_sql(
        "SELECT l.k AS k, l.ts AS lts, r.ts AS rts FROM a12l AS l ASOF JOIN a12r AS r "
        "ON l.k = r.k AND l.ts <= r.ts AND r.ts <= l.ts + 6"
    )
    # forward matches: (1,25)->30 within +6; (2,5)->7 within +6;
    # (1,10)->20 is 10 ahead -> dropped
    assert sorted(map(tuple, plan.to_df(spark).collect())) == [
        (1, 25, 30), (2, 5, 7)]
    assert sorted(map(tuple,
                      spark.sql(plan.to_sql("spark")).collect())) == [
        (1, 25, 30), (2, 5, 7)]


def test_asof_tolerance_duckdb_render_fails_closed():
    plan = parse_sql(
        "SELECT 1 FROM a12l AS l ASOF JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts "
        "AND r.ts >= l.ts - 6"
    )
    with pytest.raises(ValueError, match="no native DuckDB render"):
        plan.to_sql("duckdb")


@pytest.mark.parametrize("bad", [
    # same-direction pair is not a window
    "ON l.k = r.k AND l.ts >= r.ts AND r.ts <= l.ts - 6",
    # offset sign contradicts the match direction (backward needs '-')
    "ON l.k = r.k AND l.ts >= r.ts AND r.ts >= l.ts + 6",
    # second bound on a DIFFERENT right column
    "ON l.k = r.k AND l.ts >= r.ts AND r.price >= l.ts - 6",
])
def test_asof_tolerance_rejections(bad):
    with pytest.raises(ParseError):
        parse_sql(f"SELECT 1 FROM a12l AS l ASOF JOIN a12r AS r {bad}")


def test_asof_three_bounds_rejected():
    with pytest.raises(ParseError, match="at most two"):
        parse_sql(
            "SELECT 1 FROM a12l AS l ASOF JOIN a12r AS r ON l.k = r.k AND l.ts >= r.ts "
            "AND r.ts >= l.ts - 6 AND r.ts >= l.ts - 9"
        )


# ---------------------------------------------------------------------------
# to_df executes the desugar
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("name", ["last", "first"])
def test_ignore_nulls_navigation_is_a_column(name):
    # the desugar's match is last/first(__p) IGNORE NULLS: it must build
    # as a Column, or Project.to_df would fall back to spark.sql
    from pyspark.sql import Column

    assert isinstance(
        Func(name, (Col("x"),), ignore_nulls=True).to_column(), Column)


def test_asof_to_df_makes_no_sql_call(spark, monkeypatch):
    _views(spark)
    plan = parse_sql(
        "SELECT l.k AS k, r.price AS p FROM a12l AS l ASOF LEFT JOIN "
        "a12r AS r ON l.k = r.k AND l.ts >= r.ts AND r.ts >= l.ts - 6"
    )
    calls = []
    monkeypatch.setattr(spark, "sql", lambda *a, **k: calls.append(a))
    plan.to_df(spark)
    assert calls == []


def test_asof_left_column_named_like_machinery_builds(spark):
    """The left row travels inside struct(l.*), so a left column may
    share a name with the desugar's own columns."""
    spark.sql("CREATE OR REPLACE TEMP VIEW ml AS SELECT * FROM VALUES "
              "(1, 10, 0), (1, 25, 1) AS t(k, __ts, __is_r)")
    _views(spark)
    plan = parse_sql(
        "SELECT * FROM ml AS l ASOF LEFT JOIN a12r AS r "
        "ON l.k = r.k AND l.__ts >= r.ts"
    )
    df = plan.to_df(spark)
    via_sql = spark.sql(plan.to_sql("spark"))
    assert df.columns == via_sql.columns == [
        "k", "__ts", "__is_r", "k", "ts", "price"]
    assert sorted(map(tuple, df.collect())) \
        == sorted(map(tuple, via_sql.collect())) \
        == [(1, 10, 0, 1, 8, 1.0), (1, 25, 1, 1, 20, 2.0)]


def test_asof_left_column_named_like_right_alias_raises(spark):
    spark.sql("CREATE OR REPLACE TEMP VIEW cl2 AS SELECT * FROM VALUES "
              "(1, 10, 7) AS t(k, ts, R)")
    _views(spark)
    plan = parse_sql(
        "SELECT l.k FROM cl2 AS l ASOF JOIN a12r AS r "
        "ON l.k = r.k AND l.ts >= r.ts"
    )
    with pytest.raises(ValueError, match="left column 'R' collides"):
        plan.to_df(spark)


def test_asof_after_a_join_fails_closed_on_spark(spark):
    """The left row travels as one struct, so the qualifiers of a left
    join's relations cannot resolve above the desugar: both Spark paths
    raise naming the cause; the native DuckDB render still works."""
    plan = parse_sql(
        "SELECT a.k, b.tag, r.price FROM a JOIN b ON a.k = b.kk "
        "ASOF LEFT JOIN r ON r.k = a.k AND r.ts <= a.ts"
    )
    for render in (lambda: plan.to_sql("spark"),
                   lambda: plan.to_df(spark)):
        with pytest.raises(ValueError, match="ASOF JOIN after a join"):
            render()
    assert "ASOF LEFT JOIN" in plan.to_sql("duckdb")
