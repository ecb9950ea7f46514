"""SQL-surface batch: NATURAL JOIN, window frame EXCLUDE GROUP / TIES
(desugared to frame-minus-peer-group arithmetic), window FILTER,
multi-statement scripts, GROUPS frames, DISTINCT window aggregates and
LEFT JOIN LATERAL. The ASOF JOIN tests are in ``test_asof.py``.

Verification pattern per the house style: render→parse→render fixpoint,
loud rejection of the unsupported combinations, DuckDB native-feature
equivalence (the independent formulation), and Spark dual-render
(``to_df()`` ≡ ``spark.sql(to_sql())``).
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
# NATURAL JOIN
# ---------------------------------------------------------------------------

def test_natural_join_fixpoint_and_dialects():
    for sql, kw in [
        ("SELECT * FROM a NATURAL JOIN b", "NATURAL JOIN"),
        ("SELECT * FROM a NATURAL INNER JOIN b", "NATURAL JOIN"),
        ("SELECT * FROM a NATURAL LEFT JOIN b", "NATURAL LEFT JOIN"),
        ("SELECT * FROM a NATURAL LEFT OUTER JOIN b", "NATURAL LEFT JOIN"),
        ("SELECT * FROM a NATURAL RIGHT JOIN b", "NATURAL RIGHT JOIN"),
        ("SELECT * FROM a NATURAL FULL JOIN b", "NATURAL FULL JOIN"),
    ]:
        s = _fixpoint(sql)
        assert kw in s, (sql, s)
        assert kw in parse_sql(sql).to_sql("duckdb")


def test_natural_join_rejects_on_using():
    with pytest.raises(ParseError, match="no ON/USING"):
        parse_sql("SELECT * FROM a NATURAL JOIN b ON a.x = b.x")
    with pytest.raises(ParseError, match="no ON/USING"):
        parse_sql("SELECT * FROM a NATURAL JOIN b USING (x)")


def test_natural_join_no_shared_columns_raises(spark):
    plan = parse_sql(
        "SELECT * FROM (SELECT 1 AS a) AS l NATURAL JOIN "
        "(SELECT 2 AS b) AS r"
    )
    with pytest.raises(ValueError, match="share no column"):
        plan.to_df(spark).collect()


def test_natural_join_dual_render(spark):
    sql = (
        "SELECT custkey, c_name, n_orders FROM "
        "(SELECT c_custkey AS custkey, c_name FROM customer "
        "WHERE c_acctbal > 9000) AS c NATURAL JOIN "
        "(SELECT o_custkey AS custkey, count(*) AS n_orders "
        "FROM orders GROUP BY o_custkey) AS o"
    )
    plan = parse_sql(sql)
    df = normalize_rows(plan.to_df(spark).collect())
    via_sql = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert df == via_sql and len(df) > 0


def test_natural_left_join_matches_explicit_using(spark):
    nat = parse_sql(
        "SELECT custkey, n_orders FROM "
        "(SELECT c_custkey AS custkey FROM customer "
        "WHERE c_custkey < 50) AS c NATURAL LEFT JOIN "
        "(SELECT o_custkey AS custkey, count(*) AS n_orders "
        "FROM orders GROUP BY o_custkey) AS o"
    )
    explicit = parse_sql(
        "SELECT custkey, n_orders FROM "
        "(SELECT c_custkey AS custkey FROM customer "
        "WHERE c_custkey < 50) AS c LEFT JOIN "
        "(SELECT o_custkey AS custkey, count(*) AS n_orders "
        "FROM orders GROUP BY o_custkey) AS o USING (custkey)"
    )
    assert normalize_rows(nat.to_df(spark).collect()) == normalize_rows(
        explicit.to_df(spark).collect())


# ---------------------------------------------------------------------------
# Window frame EXCLUDE GROUP / TIES
# ---------------------------------------------------------------------------

_EXC_FNS = ("sum(x)", "count(x)", "avg(x)", "count(*)")


def _exclude_duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, 10, 5), (1, 10, 7), (1, 10, NULL), (1, 20, 1), (1, 30, NULL), "
        "(2, 5, 2), (2, 5, 3), (3, 1, NULL), (3, 1, NULL)) v(k, o, x)"
    )
    return con


@pytest.mark.parametrize("mode", ["GROUP", "TIES"])
@pytest.mark.parametrize("fn", _EXC_FNS)
def test_exclude_peers_matches_duckdb_native(mode, fn):
    """The desugar (frame agg minus peer-group agg, NULL-guarded by the
    surviving count) equals DuckDB's native EXCLUDE on a fixture with
    real ties, NULL values, and an all-NULL peer group."""
    con = _exclude_duck()
    mine = parse_sql(
        f"SELECT k, o, x, {fn} OVER (PARTITION BY k ORDER BY o "
        f"EXCLUDE {mode}) AS v FROM t"
    ).to_sql("duckdb")
    native = (
        f"SELECT k, o, x, {fn} OVER (PARTITION BY k ORDER BY o "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW "
        f"EXCLUDE {mode}) AS v FROM t"
    )
    order = "ORDER BY k, o, coalesce(x, -1), v NULLS FIRST"
    a = con.execute(f"SELECT * FROM ({mine}) {order}").fetchall()
    b = con.execute(f"SELECT * FROM ({native}) {order}").fetchall()
    if fn.startswith("avg"):
        a = normalize_rows(a)
        b = normalize_rows(b)
    assert a == b


def test_exclude_peers_fixpoint():
    for mode in ("GROUP", "TIES"):
        _fixpoint(
            "SELECT sum(o_totalprice) OVER (PARTITION BY o_orderstatus "
            f"ORDER BY o_orderdate EXCLUDE {mode}) AS s FROM orders"
        )


def test_exclude_peers_range_frame_spanning_current_accepted():
    _fixpoint(
        "SELECT sum(o_custkey) OVER (ORDER BY o_orderkey RANGE BETWEEN "
        "5 PRECEDING AND 5 FOLLOWING EXCLUDE GROUP) AS s FROM orders"
    )


def test_exclude_peers_rejections():
    for sql, msg in [
        # ROWS frame: peers can fall outside the frame
        ("SELECT sum(x) OVER (ORDER BY o ROWS BETWEEN 1 PRECEDING AND "
         "CURRENT ROW EXCLUDE GROUP) FROM t", "ROWS frame"),
        # RANGE frame not spanning the current row
        ("SELECT sum(x) OVER (ORDER BY o RANGE BETWEEN 5 PRECEDING AND "
         "1 PRECEDING EXCLUDE TIES) FROM t", "spans"),
        # no ORDER BY: every partition row is a peer
        ("SELECT sum(x) OVER (PARTITION BY k EXCLUDE GROUP) FROM t",
         "ORDER BY"),
        # non-decomposable function
        ("SELECT max(x) OVER (ORDER BY o EXCLUDE TIES) FROM t",
         "sum/count/avg"),
    ]:
        with pytest.raises(ParseError, match=msg):
            parse_sql(sql)


def test_exclude_group_dual_render(spark):
    sql = (
        "SELECT o_orderkey, "
        "CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderdate EXCLUDE GROUP) AS BIGINT) AS sg, "
        "count(*) OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderdate EXCLUDE TIES) AS ct "
        "FROM orders WHERE o_orderkey < 500"
    )
    plan = parse_sql(sql)
    df = normalize_rows(plan.to_df(spark).collect())
    via_sql = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert df == via_sql and len(df) > 0


def test_exclude_group_differs_from_exclude_current_on_ties(duck):
    """The new modes are not EXCLUDE CURRENT ROW in disguise: on a
    tied ORDER BY key the peer-group subtraction removes more than the
    current row."""
    grp = parse_sql(
        "SELECT sum(x) OVER (ORDER BY o EXCLUDE GROUP) AS v FROM t"
    ).to_sql("duckdb")
    cur = parse_sql(
        "SELECT sum(x) OVER (ORDER BY o EXCLUDE CURRENT ROW) AS v FROM t"
    ).to_sql("duckdb")
    con = _exclude_duck()
    a = con.execute(f"SELECT * FROM ({grp}) ORDER BY v NULLS FIRST").fetchall()
    b = con.execute(f"SELECT * FROM ({cur}) ORDER BY v NULLS FIRST").fetchall()
    assert a != b


# ---------------------------------------------------------------------------
# FILTER (WHERE ...) on window aggregates (Spark render desugars to CASE)
# ---------------------------------------------------------------------------

_WFILTER = (
    "SELECT o_orderkey, sum(o_totalprice) FILTER "
    "(WHERE o_orderstatus = 'O') OVER (PARTITION BY o_custkey) AS s "
    "FROM orders WHERE o_orderkey < 200"
)


def test_window_filter_spark_render_desugars_to_case():
    plan = parse_sql(_WFILTER)
    s = plan.to_sql("spark")
    assert "FILTER" not in s and "CASE WHEN" in s, s
    assert parse_sql(s).to_sql("spark") == s
    # DuckDB keeps the native clause
    assert "FILTER (WHERE" in plan.to_sql("duckdb")


def test_window_filter_dual_render_and_oracle(spark, duck):
    plan = parse_sql(_WFILTER)
    df = normalize_rows(plan.to_df(spark).collect())
    via_sql = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    oracle = normalize_rows(duck.execute(plan.to_sql("duckdb")).fetchall())
    assert df == via_sql == oracle and len(df) > 0


def test_window_filter_requires_aggregate():
    plan = parse_sql(
        "SELECT row_number() FILTER (WHERE o_orderkey > 1) "
        "OVER (ORDER BY o_orderkey) AS r FROM orders"
    )
    with pytest.raises(ValueError, match="requires an aggregate"):
        plan.to_sql("spark")


# ---------------------------------------------------------------------------
# Multi-statement scripts: CREATE TEMP VIEW chain -> one With
# ---------------------------------------------------------------------------

def test_script_views_desugar_and_fixpoint():
    s = parse_sql(
        "CREATE TEMP VIEW a AS SELECT 1 AS x; "
        "CREATE OR REPLACE TEMPORARY VIEW b AS SELECT x + 1 AS y FROM a; "
        "SELECT y FROM b"
    ).to_sql("spark")
    assert s.startswith("WITH a AS"), s
    assert parse_sql(s).to_sql("spark") == s


def test_script_views_merge_with_final_with():
    s = parse_sql(
        "CREATE TEMP VIEW v AS SELECT 1 AS x; "
        "WITH w AS (SELECT 2 AS y) SELECT x, y FROM v CROSS JOIN w"
    ).to_sql("spark")
    assert s == ("WITH v AS (SELECT 1 AS x), w AS (SELECT 2 AS y) "
                 "SELECT x, y FROM v CROSS JOIN w")


def test_script_views_rejections():
    for bad, msg in [
        ("CREATE VIEW v AS SELECT 1 AS x; SELECT * FROM v",
         "TEMP/TEMPORARY VIEW"),
        ("CREATE TEMP VIEW v AS SELECT 1 AS x; "
         "CREATE TEMP VIEW v AS SELECT 2 AS x; SELECT * FROM v",
         "defined twice"),
        ("CREATE TEMP VIEW w AS SELECT 1 AS x; "
         "WITH w AS (SELECT 2 AS y) SELECT * FROM w", "collide"),
        ("CREATE TEMP VIEW v AS SELECT 1 AS x SELECT * FROM v",
         "end with ';'"),
    ]:
        with pytest.raises(ParseError, match=msg):
            parse_sql(bad)


def test_script_views_execute_on_spark(spark):
    plan = parse_sql(
        "CREATE TEMP VIEW hi_bal AS SELECT c_custkey FROM customer "
        "WHERE c_acctbal > 5000; "
        "SELECT count(*) AS n FROM hi_bal"
    )
    rows = plan.to_df(spark).collect()
    via_sql = spark.sql(plan.to_sql("spark")).collect()
    assert rows[0].n == via_sql[0].n > 0


# ---------------------------------------------------------------------------
# try_ scalars
# ---------------------------------------------------------------------------

def test_try_funcs_cross_engine(spark, duck):
    sql = ("SELECT try_divide(10.0, 0) AS a, try_divide(7.0, 2) AS b, "
           "try_element_at(split('x-y', '-'), 5) AS c, "
           "try_element_at(split('x-y', '-'), 2) AS d")
    plan = parse_sql(sql)
    s_row = spark.sql(plan.to_sql("spark")).collect()[0]
    d_row = duck.execute(plan.to_sql("duckdb")).fetchone()
    assert (s_row.a, s_row.b, s_row.c, s_row.d) == (None, 3.5, None, "y")
    assert tuple(d_row) == (None, 3.5, None, "y")


def test_groups_frame_mode_now_supported():
    # GROUPS was initially rejected with a pointer; the same session
    # implemented the pointer's recipe (RANGE over dense_rank) as the
    # real desugar — see the GROUPS section below
    s = parse_sql(
        "SELECT o_orderkey, sum(o_totalprice) OVER (ORDER BY o_orderdate "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s FROM orders"
    ).to_sql("spark")
    assert "dense_rank() OVER" in s and "RANGE BETWEEN" in s


# ---------------------------------------------------------------------------
# Review fixes (round 10b)
# ---------------------------------------------------------------------------

def test_exclude_current_row_lone_row_is_null():
    """Review r10b: a lone row's frame minus itself is the EMPTY frame —
    sum must be NULL (native EXCLUDE agrees), not 0."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1, 1, 10), (2, 1, 5), "
        "(2, 2, 7)) v(k, o, x)"
    )
    q = ("SELECT k, o, sum(x) OVER (PARTITION BY k ORDER BY o ROWS "
         "BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS s "
         "FROM t")
    mine = con.execute(
        f"SELECT * FROM ({parse_sql(q).to_sql('duckdb')}) ORDER BY k, o"
    ).fetchall()
    native = con.execute(f"SELECT * FROM ({q}) ORDER BY k, o").fetchall()
    assert mine == native
    assert mine[0][2] is None  # the lone row


def test_try_element_at_literal_zero_rejected():
    with pytest.raises(ParseError, match="INVALID_INDEX_OF_ZERO"):
        parse_sql("SELECT try_element_at(split('a-b', '-'), 0) AS v")


def test_script_view_duplicate_names_case_insensitive():
    for bad in [
        "CREATE TEMP VIEW V AS SELECT 1 AS x; "
        "CREATE TEMP VIEW v AS SELECT 2 AS x; SELECT * FROM v",
        "CREATE TEMP VIEW W AS SELECT 1 AS x; "
        "WITH w AS (SELECT 2 AS y) SELECT * FROM w",
    ]:
        with pytest.raises(ParseError):
            parse_sql(bad)


# ---------------------------------------------------------------------------
# GROUPS frame mode (desugared to RANGE over a dense_rank pre-column)
# ---------------------------------------------------------------------------

def _groups_reference(rows, lo, hi, fn):
    """Pure-Python peer-group frame semantics — the independent oracle
    (DuckDB 1.0 lacks GROUPS mode too: 'not implemented yet')."""
    from collections import defaultdict

    parts = defaultdict(list)
    for r in rows:
        parts[r[0]].append(r)
    out = []
    for _k, rs in parts.items():
        keys = sorted({r[1] for r in rs})
        rank = {o: i for i, o in enumerate(keys)}
        for r in rs:
            g = rank[r[1]]
            glo = 0 if lo is None else g + lo
            ghi = len(keys) - 1 if hi is None else g + hi
            vals = [q[2] for q in rs if glo <= rank[q[1]] <= ghi]
            nn = [v for v in vals if v is not None]
            if fn == "sum":
                v = sum(nn) if nn else None
            elif fn == "count":
                v = len(nn)
            elif fn == "countstar":
                v = len(vals)
            elif fn == "min":
                v = min(nn) if nn else None
            elif fn == "max":
                v = max(nn) if nn else None
            else:
                v = sum(nn) / len(nn) if nn else None
            out.append((r[0], r[1], r[2], v))
    return out


_GROUPS_FRAMES = [
    ("GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING", -1, 1),
    ("GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW", None, 0),
    ("GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW", -2, 0),
    ("GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING", 0, 1),
]
_GROUPS_FNS = [("sum(x)", "sum"), ("count(x)", "count"),
               ("count(*)", "countstar"), ("min(x)", "min"),
               ("max(x)", "max"), ("avg(x)", "avg")]


@pytest.mark.parametrize("frame,lo,hi", _GROUPS_FRAMES)
@pytest.mark.parametrize("fsql,fkey", _GROUPS_FNS)
def test_groups_frame_matches_reference(frame, lo, hi, fsql, fkey):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, 10, 5), (1, 10, 7), (1, 10, NULL), (1, 20, 1), (1, 30, 4), "
        "(1, 40, 9), (2, 5, 2), (2, 5, 3), (2, 6, 8), (3, 1, NULL), "
        "(3, 1, 6)) v(k, o, x)"
    )
    rows = con.execute("SELECT k, o, x FROM t").fetchall()
    q = (f"SELECT k, o, x, {fsql} OVER (PARTITION BY k ORDER BY o "
         f"{frame}) AS v FROM t")
    plan = parse_sql(q)
    s = plan.to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s
    mine = con.execute(plan.to_sql("duckdb")).fetchall()
    want = _groups_reference(rows, lo, hi, fkey)
    assert normalize_rows(mine, 9) == normalize_rows(want, 9), (frame, fsql)


def test_groups_frame_dual_render(spark):
    q = ("SELECT o_orderkey, "
         "CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus "
         "ORDER BY o_orderdate GROUPS BETWEEN 1 PRECEDING AND "
         "1 FOLLOWING) AS BIGINT) AS sg "
         "FROM orders WHERE o_orderkey < 300")
    plan = parse_sql(q)
    a = normalize_rows(plan.to_df(spark).collect())
    b = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert a == b and len(a) == 300


def test_groups_frame_shares_one_sort(spark):
    """The dense_rank pre-pass and the main window sort on the same
    (partition, order-prefix) keys — Catalyst must plan ONE exchange,
    not two."""
    q = ("SELECT o_orderkey, "
         "sum(o_custkey) OVER (PARTITION BY o_orderstatus "
         "ORDER BY o_orderdate GROUPS BETWEEN 1 PRECEDING AND "
         "1 FOLLOWING) AS sg FROM orders WHERE o_orderkey < 300")
    plan = parse_sql(q).to_df(spark)
    phys = plan._jdf.queryExecution().executedPlan().toString()
    import re
    exchanges = len(re.findall(r"Exchange hashpartitioning", phys))
    assert exchanges == 1, phys


def test_groups_frame_rejections():
    for bad, msg in [
        ("SELECT sum(x) OVER (PARTITION BY k GROUPS BETWEEN 1 PRECEDING "
         "AND 1 FOLLOWING) AS v FROM t", "ORDER BY"),
        ("SELECT k, sum(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING "
         "AND CURRENT ROW) AS v FROM t GROUP BY k", "aggregated"),
        ("SELECT *, sum(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING "
         "AND CURRENT ROW) AS v FROM t", "projection"),
        ("SELECT sum(x) OVER (ORDER BY o GROUPS BETWEEN INTERVAL '1' DAY "
         "PRECEDING AND CURRENT ROW) AS v FROM t", "interval"),
    ]:
        with pytest.raises(ParseError, match=msg):
            parse_sql(bad)


def test_groups_frame_composes_with_exclude():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1, 10, 5), (1, 10, 7), "
        "(1, 20, 1), (1, 30, 4), (2, 5, 2), (2, 5, 3), (2, 6, 8)) "
        "v(k, o, x)"
    )
    q = ("SELECT k, o, x, sum(x) OVER (PARTITION BY k ORDER BY o GROUPS "
         "BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS v FROM t")
    plan = parse_sql(q)
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) ORDER BY k, o, x"
    ).fetchall()
    native = con.execute(
        "WITH r AS (SELECT k, o, x, dense_rank() OVER (PARTITION BY k "
        "ORDER BY o) AS dr FROM t) SELECT k, o, x, sum(x) OVER ("
        "PARTITION BY k ORDER BY dr RANGE BETWEEN 1 PRECEDING AND "
        "1 FOLLOWING EXCLUDE GROUP) AS v FROM r ORDER BY k, o, x"
    ).fetchall()
    assert mine == native


# ---------------------------------------------------------------------------
# DISTINCT aggregates over windows
# ---------------------------------------------------------------------------

def test_win_distinct_matches_duckdb_native():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1,5),(1,5),(1,7),"
        "(1,NULL),(2,3),(2,3),(3,NULL)) v(k,x)"
    )
    q = ("SELECT k, x, count(DISTINCT x) OVER (PARTITION BY k) AS c, "
         "sum(DISTINCT x) OVER (PARTITION BY k) AS s, "
         "avg(DISTINCT x) OVER (PARTITION BY k) AS a, "
         "max(DISTINCT x) OVER (PARTITION BY k) AS m FROM t")
    plan = parse_sql(q)
    sp = plan.to_sql("spark")
    assert "DISTINCT" not in sp and "__dst" in sp
    assert parse_sql(sp).to_sql("spark") == sp
    order = "ORDER BY k, coalesce(x, -1)"
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) {order}").fetchall()
    native = con.execute(f"SELECT * FROM ({q}) {order}").fetchall()
    assert normalize_rows(mine, 9) == normalize_rows(native, 9)
    # all-NULL partition: count 0, sum/avg NULL
    assert mine[-1][2] == 0 and mine[-1][3] is None


def test_win_distinct_dual_render(spark):
    q = ("SELECT o_orderkey, count(DISTINCT o_orderpriority) OVER "
         "(PARTITION BY o_custkey) AS n_prio FROM orders "
         "WHERE o_orderkey < 300")
    plan = parse_sql(q)
    a = normalize_rows(plan.to_df(spark).collect())
    b = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert a == b and len(a) == 300


def test_win_distinct_rejections():
    for bad, msg in [
        # ordered default-frame windows are supported (running
        # distinct); explicit sliding frames are not
        ("SELECT count(DISTINCT x) OVER (PARTITION BY k ORDER BY x "
         "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c FROM t",
         "sliding"),
        ("SELECT string_agg(DISTINCT x, ',') OVER (PARTITION BY k) "
         "AS c FROM t", "not desugarable"),
        ("SELECT *, count(DISTINCT x) OVER (PARTITION BY k) AS c FROM t",
         "projection"),
    ]:
        with pytest.raises(ParseError, match=msg):
            parse_sql(bad)


@pytest.mark.parametrize("fn", ["count(DISTINCT x)", "sum(DISTINCT x)",
                                "avg(DISTINCT x)"])
def test_win_running_distinct_matches_native(fn):
    """Ordered DISTINCT windows (running distinct): the flag-ordered
    desugar equals DuckDB's native ordered DISTINCT window, including
    re-seen values, NULLs, and a DESC ordering."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1,1,5),(1,2,5),"
        "(1,2,7),(1,3,NULL),(1,4,5),(1,5,9),(2,1,3),(2,2,3)) v(k,o,x)"
    )
    q = (f"SELECT k, o, x, {fn} OVER (PARTITION BY k ORDER BY o) AS v "
         "FROM t")
    plan = parse_sql(q)
    s = plan.to_sql("spark")
    assert parse_sql(s).to_sql("spark") == s
    order = "ORDER BY k, o, coalesce(x, -1), v NULLS FIRST"
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) {order}").fetchall()
    native = con.execute(f"SELECT * FROM ({q}) {order}").fetchall()
    assert normalize_rows(mine, 9) == normalize_rows(native, 9)


def test_win_running_distinct_desc_and_sliding_reject():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1,1,5),(1,2,5),"
        "(1,3,7)) v(k,o,x)"
    )
    q = ("SELECT k, o, count(DISTINCT x) OVER (PARTITION BY k "
         "ORDER BY o DESC) AS v FROM t")
    plan = parse_sql(q)
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) ORDER BY k, o"
    ).fetchall()
    native = con.execute(f"SELECT * FROM ({q}) ORDER BY k, o").fetchall()
    assert mine == native
    with pytest.raises(ParseError, match="sliding"):
        parse_sql(
            "SELECT count(DISTINCT x) OVER (PARTITION BY k ORDER BY o "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS v FROM t"
        )


def test_win_running_distinct_dual_render(spark):
    q = ("SELECT event_id, count(DISTINCT user_id) OVER ("
         "PARTITION BY event_type ORDER BY ts, event_id) AS u "
         "FROM events WHERE event_id % 25 = 0")
    plan = parse_sql(q)
    a = normalize_rows(plan.to_df(spark).collect())
    b = normalize_rows(spark.sql(plan.to_sql("spark")).collect())
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# LEFT JOIN LATERAL
# ---------------------------------------------------------------------------


def test_left_join_lateral_parses_and_rejects_real_on():
    s = parse_sql(
        "SELECT a.x, b.y FROM (SELECT 1 AS x) AS a LEFT JOIN LATERAL "
        "(SELECT a.x + 1 AS y) AS b ON TRUE"
    ).to_sql("spark")
    assert "LEFT JOIN LATERAL" in s
    assert parse_sql(s).to_sql("spark") == s
    with pytest.raises(ParseError, match="ON TRUE only"):
        parse_sql(
            "SELECT 1 FROM a LEFT JOIN LATERAL (SELECT 1 AS y) AS b "
            "ON a.x = b.y"
        )


# ---------------------------------------------------------------------------
# Review fixes, second pass (round 10b)
# ---------------------------------------------------------------------------

def test_exclude_current_nonspanning_frame_rejected():
    """Review r10b-2: on a frame not containing the current row the
    standard's EXCLUDE is a no-op; the subtraction desugar would remove
    a value that was never in the frame (and NULL-guard on the
    miscomputed count), so it rejects at parse."""
    for bad in [
        "SELECT sum(x) OVER (ORDER BY o ROWS BETWEEN 3 PRECEDING AND "
        "1 PRECEDING EXCLUDE CURRENT ROW) AS v FROM t",
        "SELECT sum(x) OVER (ORDER BY o GROUPS BETWEEN 2 PRECEDING AND "
        "1 PRECEDING EXCLUDE CURRENT ROW) AS v FROM t",
        "SELECT sum(x) OVER (ORDER BY o RANGE BETWEEN 1 FOLLOWING AND "
        "5 FOLLOWING EXCLUDE CURRENT ROW) AS v FROM t",
    ]:
        with pytest.raises(ParseError, match="spans the current row"):
            parse_sql(bad)
    # spanning frames stay legal
    parse_sql(
        "SELECT sum(x) OVER (ORDER BY o ROWS BETWEEN 3 PRECEDING AND "
        "3 FOLLOWING EXCLUDE CURRENT ROW) AS v FROM t"
    )


def test_groups_and_distinct_windows_outside_projections_reject():
    """Review r10b-2: the desugars rewrite projections only — the same
    constructs in ORDER BY / HAVING / WHERE must reject at parse, not
    crash one engine at execution."""
    for bad in [
        "SELECT k FROM t ORDER BY count(DISTINCT x) OVER (PARTITION BY k)",
        "SELECT k FROM t ORDER BY sum(x) OVER (ORDER BY o GROUPS "
        "BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    ]:
        with pytest.raises(ParseError, match="projection list only"):
            parse_sql(bad)


def test_try_element_at_map_key_zero_allowed():
    """Review r10b-2: INVALID_INDEX_OF_ZERO is array-only — a map-typed
    try_element_at with key 0 is a legal lookup and resolves to the
    map_get canonical."""
    p = parse_sql("SELECT try_element_at(m, 0) AS v FROM t",
                  schema={"m": "map"})
    assert "map_extract" in p.to_sql("duckdb")


def test_min_max_distinct_with_frame_allowed():
    """Review r10b-2: DISTINCT is a no-op for min/max, so frames stay
    legal there (the sliding-frame rejection is count/sum/avg-only)."""
    s = parse_sql(
        "SELECT min(DISTINCT x) OVER (PARTITION BY k ORDER BY o ROWS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS m FROM t"
    ).to_sql("spark")
    assert "DISTINCT" not in s and "min(x)" in s
