"""SQL->IR parser round-trip: the reference's own invariant, closed.

The reference pipeline is SQL -> plan -> SQL asserted as text identity
(/root/reference/datafusion-sqlgen/tests/select.rs:57-68). Here the
equivalent invariant is *fixpoint after one render*: parsing a query and
rendering it yields a string that re-parses and re-renders to the
IDENTICAL string, in both dialects — plus execution equality of the two
rendered dialects on fixture data mirroring the reference's tables.

The 10 queries below are the reference's live tests, verbatim
(tests/select.rs:71-281): select / distinct / order-by / limit / between
/ IS [NOT] DISTINCT FROM / CAST arithmetic / function calls / array
index / no-FROM literal selects.
"""

import duckdb
import pytest

from datafusion_sqlgen_spark.parser import ParseError, parse_sql

# tests/select.rs:80 (it_works), :97 (select), :134 (select_distinct),
# :155/:171 (select_distinct_simple_1/2), :188 (select_distinct_simple_4),
# :206 (select_distinct_from), :225 (select_distinct_from_utf8),
# :240 (use_between_expression_in_select_query),
# :276 (query_get_indexed_field)
REF_QUERIES = {
    "it_works": "SELECT table1.id, table1.bool_col FROM table1\nWHERE table1.bool_col = TRUE;",
    "select": "SELECT aggregate_simple.c1 FROM aggregate_simple\nORDER BY aggregate_simple.c1;",
    "select_distinct": "SELECT DISTINCT aggregate_simple.c1, aggregate_simple.c2, aggregate_simple.c3, aggregate_simple.c4, aggregate_simple.c5, aggregate_simple.c6, aggregate_simple.c7, aggregate_simple.c8, aggregate_simple.c9, aggregate_simple.c10, aggregate_simple.c11, aggregate_simple.c12, aggregate_simple.c13 FROM aggregate_simple;",
    "select_distinct_simple_1": "SELECT DISTINCT aggregate_simple.c1 FROM aggregate_simple\nORDER BY aggregate_simple.c1;",
    "select_distinct_simple_2": "SELECT DISTINCT aggregate_simple.c1, aggregate_simple.c2 FROM aggregate_simple\nORDER BY aggregate_simple.c1;",
    "select_distinct_simple_4": "SELECT DISTINCT CAST(aggregate_simple.c1 AS INT) + aggregate_simple.c2 AS a FROM aggregate_simple;",
    "select_distinct_from": "SELECT 1 IS DISTINCT FROM CAST(NULL AS INT) AS a, 1 IS DISTINCT FROM 1 AS b, 1 IS NOT DISTINCT FROM CAST(NULL AS INT) AS c, 1 IS NOT DISTINCT FROM 1 AS d, NULL IS DISTINCT FROM NULL AS e, NULL IS NOT DISTINCT FROM NULL AS f, NULL IS DISTINCT FROM 1 AS g, NULL IS NOT DISTINCT FROM 1 AS h ;",
    "select_distinct_from_utf8": "SELECT 'x' IS DISTINCT FROM NULL AS a, 'x' IS DISTINCT FROM 'x' AS b, 'x' IS NOT DISTINCT FROM NULL AS c, 'x' IS NOT DISTINCT FROM 'x' AS d ;",
    "use_between": "SELECT abs(aggregate_simple.c1) BETWEEN 0 AND log(aggregate_simple.c1 * 100) FROM aggregate_simple;",
    "get_indexed_field": "SELECT ints.some_list[1] AS i0 FROM ints\nLIMIT 3;",
}

# fixture rows mirror the reference tables' shapes; c1 holds
# integral-valued doubles so CAST(... AS INT) agrees across engines
# (Spark truncates, DuckDB rounds — integral values make both exact)
_AGG_ROWS = [
    (1.0, 4, 11, 21, 31, 41, 51, 61, 71, 81, 1.5, 2.5, "a"),
    (2.0, 5, 12, 22, 32, 42, 52, 62, 72, 82, 1.6, 2.6, "b"),
    (3.0, 4, 11, 21, 31, 41, 51, 61, 71, 81, 1.5, 2.5, "a"),
    (1.0, 4, 11, 21, 31, 41, 51, 61, 71, 81, 1.5, 2.5, "a"),  # dup row
]
_AGG_COLS = [f"c{i}" for i in range(1, 14)]
_TABLE1_ROWS = [(1, True), (2, False), (3, True)]
_INTS_ROWS = [([0, 1, 2],), ([4, 5, 6],), ([7, 8, 9],)]


@pytest.fixture(scope="module")
def pduck():
    con = duckdb.connect()
    con.execute("CREATE TABLE table1 (id INT, bool_col BOOLEAN)")
    con.executemany("INSERT INTO table1 VALUES (?, ?)", _TABLE1_ROWS)
    cols = ", ".join(
        f"c1 DOUBLE, c2 INT, c3 INT, c4 INT, c5 INT, c6 BIGINT, c7 INT, "
        f"c8 INT, c9 INT, c10 INT, c11 DOUBLE, c12 DOUBLE, c13 VARCHAR".split(", ")
    )
    con.execute(f"CREATE TABLE aggregate_simple ({cols})")
    con.executemany(
        "INSERT INTO aggregate_simple VALUES (" + ", ".join("?" * 13) + ")",
        _AGG_ROWS,
    )
    con.execute("CREATE TABLE ints (some_list BIGINT[])")
    con.executemany("INSERT INTO ints VALUES (?)", _INTS_ROWS)
    return con


@pytest.fixture(scope="module")
def pspark(spark):
    spark.createDataFrame(_TABLE1_ROWS, "id int, bool_col boolean") \
        .createOrReplaceTempView("table1")
    schema = ("c1 double, c2 int, c3 int, c4 int, c5 int, c6 bigint, c7 int, "
              "c8 int, c9 int, c10 int, c11 double, c12 double, c13 string")
    spark.createDataFrame(_AGG_ROWS, schema) \
        .createOrReplaceTempView("aggregate_simple")
    spark.createDataFrame(_INTS_ROWS, "some_list array<bigint>") \
        .createOrReplaceTempView("ints")
    return spark


@pytest.mark.parametrize("name", sorted(REF_QUERIES))
def test_roundtrip_fixpoint(name):
    """text -> IR -> text reaches a fixpoint after ONE render, per dialect."""
    q = REF_QUERIES[name]
    p = parse_sql(q)
    for dialect in ("spark", "duckdb"):
        s1 = p.to_sql(dialect)
        s2 = parse_sql(s1).to_sql(dialect)
        assert s1 == s2, f"{dialect} render is not a parse fixpoint:\n{s1}\n{s2}"


@pytest.mark.parametrize("name", sorted(REF_QUERIES))
def test_parsed_plan_executes_identically(name, pspark, pduck):
    """The parsed IR's two renders return the same values, and the
    DataFrame path agrees with the generated-SQL path."""
    q = REF_QUERIES[name]
    p = parse_sql(q)
    via_sql = pspark.sql(p.to_sql("spark"))
    via_df = p.to_df(pspark)
    sp = sorted(tuple(r) for r in via_sql.collect())
    df = sorted(tuple(r) for r in via_df.collect())
    du = sorted(tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall())
    assert sp == df, f"DataFrame path diverges from generated SQL:\n{sp}\n{df}"
    assert sp == du, f"Spark vs DuckDB divergence:\n{sp}\n{du}"
    assert len(sp) > 0


@pytest.mark.parametrize(
    "name", sorted(n for n in REF_QUERIES if n != "use_between")
)
def test_original_text_matches_on_duckdb(name, pduck):
    """The ORIGINAL reference text, run on DuckDB (same 1-based indexing
    and IS DISTINCT FROM semantics as DataFusion), returns exactly what
    the parsed IR's DuckDB render returns — i.e. parsing lost nothing.

    `use_between` is excluded: DuckDB's bare log() is log10 while
    DataFusion's (and Spark's, and this IR's) is natural log, so the
    original text means something different to DuckDB by design."""
    q = REF_QUERIES[name]
    p = parse_sql(q)
    orig = sorted(tuple(r) for r in pduck.execute(q).fetchall())
    rendered = sorted(
        tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall()
    )
    assert orig == rendered


def test_window_and_cte_roundtrip(pspark, pduck):
    """Round 3's parser rejected OVER (...) and WITH ... AS (VERDICT r3
    'What's missing' §2); both must now parse, re-render to a fixpoint,
    and execute identically on both engines."""
    qs = [
        "SELECT id, row_number() OVER (ORDER BY id ASC NULLS FIRST) AS rn "
        "FROM table1",
        "SELECT c2, sum(c1) OVER (PARTITION BY c2 ORDER BY c1 ASC NULLS "
        "FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs "
        "FROM aggregate_simple",
        "SELECT c2, avg(c1) OVER (PARTITION BY c2 ORDER BY c1 ASC NULLS "
        "FIRST RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS ma "
        "FROM aggregate_simple",
        "WITH t AS (SELECT c2, count(*) AS n FROM aggregate_simple "
        "GROUP BY c2) SELECT c2, n FROM t WHERE n > 1",
        "WITH RECURSIVE r(v) AS ((SELECT 1 AS v) UNION ALL "
        "(SELECT v + 1 AS v FROM r WHERE v < 5)) "
        "SELECT v FROM r ORDER BY v ASC NULLS FIRST",
    ]
    for q in qs:
        p = parse_sql(q)
        for dialect in ("spark", "duckdb"):
            s1 = p.to_sql(dialect)
            assert parse_sql(s1).to_sql(dialect) == s1, s1
        sp = sorted(tuple(r) for r in pspark.sql(p.to_sql("spark")).collect())
        df = sorted(tuple(r) for r in p.to_df(pspark).collect())
        du = sorted(
            tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall()
        )
        assert sp == df, f"{q}\n{sp}\n{df}"
        assert sp == du, f"{q}\n{sp}\n{du}"
        assert len(sp) > 0


# renders that re-parse to a *semantically identical* plan whose own
# render differs textually (and is then stable): stacked-filter paren
# normalization, and regenerated `_sqN` aliases for LATERAL VIEW /
# UNPIVOT derived tables
_KNOWN_NORMALIZED = {
    "ref_nested_slots",
    "lat_explode_words",
    "lat_posexplode_embedding",
    "unpivot_measures",
}


def _catalog_plans():
    from datafusion_sqlgen_spark.workloads import _ir_workloads

    return _ir_workloads()


def test_catalog_render_parse_fixpoint():
    """EVERY IR workload's Spark render re-parses, and the re-render is a
    parse fixpoint; all but a known normalized handful are exact."""
    normalized = []
    for name, plan in _catalog_plans().items():
        sql = plan.to_sql("spark")
        s1 = parse_sql(sql).to_sql("spark")
        s2 = parse_sql(s1).to_sql("spark")
        assert s1 == s2, f"{name}: reparse render unstable\n{s1}\n{s2}"
        if s1 != sql:
            normalized.append(name)
    assert set(normalized) <= _KNOWN_NORMALIZED, (
        f"new normalization drift: {set(normalized) - _KNOWN_NORMALIZED}"
    )


def test_catalog_reparse_preserves_semantics():
    """Parsing a workload's Spark render and executing the parsed plan's
    DuckDB render returns exactly what the original plan's DuckDB render
    returns — parsing lost nothing, across the whole catalog.

    Since round 5 this includes `expr_map_funcs`: the parser infers the
    MAP reading of type-polymorphic `size`/`element_at` from
    map-producing call expressions (and from the optional `schema`
    argument for bare map columns), so the DuckDB translation is
    correct without any exclusion."""
    import os

    import duckdb as _duckdb

    from datafusion_sqlgen_spark.catalog import TABLES
    from tests.conftest import SF_DIR

    con = _duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    def norm(rows):
        return sorted(tuple(str(v) for v in r) for r in rows)

    from datafusion_sqlgen_spark.workloads import catalog

    for name, plan in _catalog_plans().items():
        try:
            orig_sql = plan.to_sql("duckdb")
        except ValueError:
            # documented fail-closed render (ASOF + tolerance: DuckDB
            # rejects a second ASOF inequality even via WHERE) — the
            # workload's hand-written windowed oracle stands in as the
            # original semantics; the REPARSED spark desugar still
            # must execute on DuckDB and agree with it
            orig_sql = catalog()[name].oracle
        orig = norm(con.execute(orig_sql).fetchall())
        reparsed = parse_sql(plan.to_sql("spark")).to_sql("duckdb")
        back = norm(con.execute(reparsed).fetchall())
        assert orig == back, f"{name}: reparse changed DuckDB results"


def test_interval_range_frame_roundtrip(pspark, pduck):
    """Time-based sliding windows: RANGE BETWEEN INTERVAL n UNIT
    PRECEDING AND CURRENT ROW parses, re-renders to a fixpoint, and the
    value-based frame is tie-safe across engines (round 4)."""
    q = ("SELECT id, sum(id) OVER (ORDER BY ts ASC NULLS FIRST "
         "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS s "
         "FROM tstab")
    pspark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:30:00"),
         (3, "2024-01-01 12:00:00")],
        "id int, ts_s string",
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts") \
        .createOrReplaceTempView("tstab")
    pduck.execute(
        "CREATE OR REPLACE TABLE tstab AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01 10:00:00'), "
        "(2, TIMESTAMP '2024-01-01 10:30:00'), "
        "(3, TIMESTAMP '2024-01-01 12:00:00')) t(id, ts)"
    )
    p = parse_sql(q)
    for dialect in ("spark", "duckdb"):
        s1 = p.to_sql(dialect)
        assert parse_sql(s1).to_sql(dialect) == s1
    sp = sorted(tuple(r) for r in p.to_df(pspark).collect())
    du = sorted(tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall())
    assert sp == du == [(1, 1), (2, 3), (3, 3)]


def test_values_relation_roundtrip(pspark, pduck):
    """The plans.Values inline relation parses back from its own render
    (round-4: the last plan node the front end couldn't read)."""
    from datafusion_sqlgen_spark.expressions import col
    from datafusion_sqlgen_spark.plans.core import Values

    p = (
        Values(((1, "a"), (2, "b"), (3, "a")), ("k", "tag"))
        .filter(col("k") > 1)
        .select(col("k"), col("tag"))
    )
    for dialect in ("spark", "duckdb"):
        s1 = p.to_sql(dialect)
        r1 = parse_sql(s1).to_sql(dialect)
        assert r1 == s1, f"{dialect}:\n{s1}\n{r1}"
    rp = parse_sql(p.to_sql("spark"))
    sp = sorted(tuple(r) for r in rp.to_df(pspark).collect())
    du = sorted(tuple(r) for r in pduck.execute(rp.to_sql("duckdb")).fetchall())
    assert sp == du == [(2, "b"), (3, "a")]


def test_parse_rejects_garbage():
    for bad in ("SELEKT 1", "SELECT FROM", "SELECT 1 FROM t WHERE", "",
                "SELECT 1; SELECT 2"):
        with pytest.raises((ParseError, ValueError, IndexError)):
            parse_sql(bad)


def test_parser_covers_renderer_surface(pspark, pduck):
    """Queries using the wider clause surface the renderer emits must
    also round-trip (joins, GROUP BY/HAVING, set ops, subqueries, CASE,
    IN, LIKE, OFFSET) — so any IR the repo renders re-parses."""
    qs = [
        "SELECT t.id FROM table1 AS t LEFT JOIN table1 AS u ON t.id = u.id "
        "WHERE t.id IN (1, 2) ORDER BY t.id ASC NULLS FIRST LIMIT 2",
        "SELECT c2, count(*) AS n FROM aggregate_simple GROUP BY c2 "
        "HAVING count(*) > 1 ORDER BY n DESC NULLS LAST",
        "SELECT c13 FROM aggregate_simple WHERE c13 LIKE 'a%' "
        "UNION SELECT 'z' AS c13",
        "SELECT CASE WHEN c1 > 1 THEN 'big' ELSE 'small' END AS size_tag "
        "FROM aggregate_simple WHERE EXISTS "
        "(SELECT 1 FROM table1 WHERE table1.id = CAST(aggregate_simple.c2 AS INT) - 3)",
        "SELECT c1 FROM aggregate_simple ORDER BY c1 ASC NULLS FIRST "
        "LIMIT 2 OFFSET 1",
    ]
    for q in qs:
        p = parse_sql(q)
        for dialect in ("spark", "duckdb"):
            s1 = p.to_sql(dialect)
            assert parse_sql(s1).to_sql(dialect) == s1, s1
        sp = sorted(tuple(r) for r in pspark.sql(p.to_sql("spark")).collect())
        du = sorted(tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall())
        assert sp == du, f"{q}\n{sp}\n{du}"


def test_round4b_surface_roundtrip(pspark, pduck):
    """Named WINDOW clause, QUALIFY, USING joins, `::` casts, top-level
    VALUES: parse, reach a per-dialect fixpoint, and execute identically
    on both engines. (The renderer inlines named windows and rewrites
    QUALIFY as a nested post-window filter — fixpoint is on the
    normalized form, so assert re-parse of the render, not equality with
    the original text.)"""
    qs = [
        # named windows, shared and separate
        "SELECT c2, sum(c1) OVER w AS s, count(*) OVER w AS n "
        "FROM aggregate_simple WINDOW w AS (PARTITION BY c2) "
        "ORDER BY c2 ASC NULLS FIRST, s ASC NULLS FIRST",
        # QUALIFY referencing a windowed projection alias
        "SELECT c13, row_number() OVER (PARTITION BY c2 "
        "ORDER BY c1 ASC NULLS FIRST, c13 ASC NULLS FIRST) AS rn "
        "FROM aggregate_simple QUALIFY rn <= 1 "
        "ORDER BY c13 ASC NULLS FIRST",
        # USING join merges the join column (single c2 output column)
        "SELECT c2, count(*) AS n FROM aggregate_simple "
        "JOIN (SELECT 4 AS c2 UNION SELECT 5 AS c2) AS d USING (c2) "
        "GROUP BY c2 ORDER BY c2 ASC NULLS FIRST",
        # :: cast shorthand normalizes to CAST
        "SELECT DISTINCT c1::BIGINT + c2 AS a FROM aggregate_simple "
        "ORDER BY a ASC NULLS FIRST",
        # top-level VALUES gets Spark's col1..colN names
        "VALUES (1, 'a'), (2, 'b')",
    ]
    for q in qs:
        p = parse_sql(q)
        for dialect in ("spark", "duckdb"):
            s1 = p.to_sql(dialect)
            assert parse_sql(s1).to_sql(dialect) == s1, s1
        sp = sorted(tuple(r) for r in pspark.sql(p.to_sql("spark")).collect())
        du = sorted(tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall())
        assert sp == du, f"{q}\nspark: {sp}\nduck: {du}"
        # dual render: the DataFrame path agrees with the SQL path
        df = sorted(tuple(r) for r in p.to_df(pspark).collect())
        assert df == sp, f"{q}\ndf: {df}\nsql: {sp}"


def test_group_by_all(pspark, pduck):
    """GROUP BY ALL desugars to the explicit non-aggregate keys at parse
    time; execution matches DuckDB running the ORIGINAL text (both
    engines support the sugar natively, pinning the desugar rules)."""
    q = ("SELECT c2, c13, count(*) AS n, round(sum(c1), 2) AS s "
         "FROM aggregate_simple GROUP BY ALL "
         "ORDER BY c2 ASC NULLS FIRST, c13 ASC NULLS FIRST")
    p = parse_sql(q)
    assert "GROUP BY c2, c13" in p.to_sql("spark")
    sp = [tuple(r) for r in pspark.sql(p.to_sql("spark")).collect()]
    du_desugar = [tuple(r) for r in pduck.execute(p.to_sql("duckdb")).fetchall()]
    du_native = [tuple(r) for r in pduck.execute(q).fetchall()]
    assert sp == du_desugar == du_native
    with pytest.raises(ParseError):
        parse_sql("SELECT count(*) AS n FROM t GROUP BY ALL")
    # aggregate-free GROUP BY ALL is DISTINCT since round 10 (both
    # engines read it that way) — no longer a rejection; pinned in
    # test_group_by_all_without_aggregates_is_distinct


def test_quantified_comparisons_desugar_to_extrema(pspark, pduck):
    """Ordered quantified comparisons (> ANY, <= ALL, = ALL, <> ANY, ...)
    desugar to a three-valued CASE over min/max/count scalar subqueries
    (round-6 ADVICE fix); results must match DuckDB's NATIVE ANY/ALL on
    both renders — including EMPTY and NULL-containing subquery results,
    NULL lhs rows, and both WHERE and WHERE NOT truth contexts."""
    pduck.execute(
        "CREATE OR REPLACE TABLE qt AS SELECT * FROM (VALUES "
        "(1, 10.0), (2, 20.0), (3, 30.0), (4, 20.0), (5, NULL)) t(id, v)"
    )
    pspark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 20.0), (5, None)],
        "id int, v double",
    ).createOrReplaceTempView("qt")
    sub_plain = "(SELECT v FROM qt WHERE id >= 2 AND v IS NOT NULL)"
    sub_empty = "(SELECT v FROM qt WHERE id > 99)"
    sub_nulls = "(SELECT v FROM qt WHERE id >= 2)"  # contains a NULL
    sub_all_null = "(SELECT v FROM qt WHERE v IS NULL)"
    ops = [(">", "ANY"), (">=", "ANY"), ("<", "SOME"), ("<=", "ANY"),
           (">", "ALL"), (">=", "ALL"), ("<", "ALL"), ("<=", "ALL"),
           ("=", "ALL"), ("<>", "ANY")]
    for subs in (sub_plain, sub_empty, sub_nulls, sub_all_null):
        for op, quant in ops:
            for tmpl in ("SELECT id FROM qt WHERE v {c}",
                         "SELECT id FROM qt WHERE NOT (v {c})"):
                q = tmpl.format(c=f"{op} {quant} {subs}")
                p = parse_sql(q)
                for dialect in ("spark", "duckdb"):
                    s1 = p.to_sql(dialect)
                    assert parse_sql(s1).to_sql(dialect) == s1  # fixpoint
                sp = sorted(
                    r.id for r in pspark.sql(p.to_sql("spark")).collect())
                du = sorted(
                    r[0]
                    for r in pduck.execute(p.to_sql("duckdb")).fetchall())
                native = sorted(r[0] for r in pduck.execute(q).fetchall())
                assert sp == du == native, f"{q}: {sp} {du} {native}"
    # unnamable single column -> actionable error
    with pytest.raises(ParseError):
        parse_sql("SELECT id FROM qt WHERE v > ANY (SELECT v + 1 FROM qt)")
    # multi-column subquery -> actionable error
    with pytest.raises(ParseError):
        parse_sql("SELECT id FROM qt WHERE v > ANY (SELECT id, v FROM qt)")


def test_map_resolution_from_expression_and_schema(pspark, pduck):
    """Type-polymorphic size/element_at resolve to the MAP reading when
    the argument is a map-producing call (no schema needed) or a column
    the caller's schema marks as map (VERDICT r4 item 7)."""
    q = ("SELECT element_at(map_from_arrays(array('a','b'), array(1, 2)), 'b') AS v, "
         "size(map_from_arrays(array('a'), array(1))) AS n")
    p = parse_sql(q)
    sp = pspark.sql(p.to_sql("spark")).collect()[0]
    du = pduck.execute(p.to_sql("duckdb")).fetchall()[0]
    assert (sp["v"], sp["n"]) == (du[0], du[1]) == (2, 1)
    # schema-driven: bare column of map type
    pspark.sql(
        "SELECT map('x', 7, 'y', 8) AS m, 1 AS id"
    ).createOrReplaceTempView("mtab")
    pduck.execute(
        "CREATE OR REPLACE TABLE mtab AS "
        "SELECT map(['x','y'], [7, 8]) AS m, 1 AS id"
    )
    q2 = "SELECT element_at(m, 'y') AS v, size(m) AS n FROM mtab"
    p2 = parse_sql(q2, schema={"m": "map"})
    sp2 = pspark.sql(p2.to_sql("spark")).collect()[0]
    du2 = pduck.execute(p2.to_sql("duckdb")).fetchall()[0]
    assert (sp2["v"], sp2["n"]) == (du2[0], du2[1]) == (8, 2)
    # without schema info the array reading stands (documented), whose
    # DuckDB render would list_extract — assert the resolution differs
    assert "map_extract" in p2.to_sql("duckdb")
    assert "map_extract" not in parse_sql(q2).to_sql("duckdb")


# ---- round 10: SQL-standard / DuckDB spellings closed this round ----

def test_group_by_all_without_aggregates_is_distinct(pspark, pduck):
    """DuckDB and Spark >= 3.4 both read GROUP BY ALL over an
    aggregate-free projection as DISTINCT; previously rejected."""
    q = "SELECT c2, c3 FROM aggregate_simple GROUP BY ALL"
    p = parse_sql(q)
    assert "DISTINCT" in p.to_sql("spark")
    sp = sorted(map(tuple, pspark.sql(p.to_sql("spark")).collect()))
    du = sorted(map(tuple, pduck.execute(p.to_sql("duckdb")).fetchall()))
    assert sp == du
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1


def test_array_bracket_constructor(pspark, pduck):
    """ARRAY[e1, ...] is the registry array() call: Spark `array`,
    DuckDB `list_value` — identical elements both sides."""
    q = "SELECT ARRAY[1, 2, 3] AS a, ARRAY[c2, c3] AS b FROM aggregate_simple"
    p = parse_sql(q)
    sp = sorted(
        (tuple(r["a"]), tuple(r["b"]))
        for r in pspark.sql(p.to_sql("spark")).collect()
    )
    du = sorted(
        (tuple(r[0]), tuple(r[1]))
        for r in pduck.execute(p.to_sql("duckdb")).fetchall()
    )
    assert sp == du and sp[0][0] == (1, 2, 3)


def test_select_all_noise_word(pspark):
    p = parse_sql("SELECT ALL c2 FROM aggregate_simple")
    assert p.to_sql("spark") == "SELECT c2 FROM aggregate_simple"


def test_fetch_first_without_order_by(pspark):
    """FETCH was missing from the clause-keyword set, so a bare
    `FROM t FETCH FIRST n ROWS ONLY` ate FETCH as the table alias and
    died on trailing input."""
    p = parse_sql("SELECT c2 FROM aggregate_simple FETCH FIRST 4 ROWS ONLY")
    assert p.to_sql("spark").endswith("LIMIT 4")
    assert len(pspark.sql(p.to_sql("spark")).collect()) == 4


def test_row_value_in_subquery(spark, duck):
    """(a, b) IN (SELECT x, y ...) — multi-key membership, the one
    place both dialects take a row value natively; executes as a
    semi-join in Spark."""
    from tests.test_operators import check

    q = ("SELECT o_orderkey FROM orders "
         "WHERE (o_custkey, o_orderstatus) IN "
         "(SELECT c_custkey, 'O' FROM customer WHERE c_acctbal > 5000) "
         "ORDER BY o_orderkey ASC NULLS FIRST")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) > 0  # the membership actually selects rows
    via_sql = [tuple(r) for r in spark.sql(s1).collect()]
    assert via_sql == [tuple(r) for r in p.to_df(spark).collect()]


def test_row_value_in_list_desugars_pairwise(spark, duck):
    """(a, b) IN ((v1, v2), ...) desugars to the OR of pairwise row
    equalities (the standard's own definition) — portable, identical
    3VL, and fixpoint-stable."""
    from tests.test_operators import check

    q = ("SELECT o_orderkey FROM orders "
         "WHERE (o_orderstatus, o_orderpriority) IN "
         "(('O', '1-URGENT'), ('F', '2-HIGH')) "
         "ORDER BY o_orderkey ASC NULLS FIRST")
    p = parse_sql(q)
    assert "IN" not in p.to_sql("spark")  # desugared away
    rows = check(spark, duck, p.to_df(spark), """
        SELECT o_orderkey FROM orders
        WHERE (o_orderstatus = 'O' AND o_orderpriority = '1-URGENT')
           OR (o_orderstatus = 'F' AND o_orderpriority = '2-HIGH')
        ORDER BY o_orderkey ASC NULLS FIRST
    """)
    assert len(rows) > 0


def test_row_value_equality_desugars(spark):
    p = parse_sql("SELECT (1, 2) = (1, 2) AS eq, (1, 2) <> (1, 3) AS ne")
    r = spark.sql(p.to_sql("spark")).collect()[0]
    assert (r["eq"], r["ne"]) == (True, True)


def test_percentile_within_group(spark, duck):
    """percentile_cont/disc(q) WITHIN GROUP (ORDER BY v) — the standard
    inverse-distribution spelling — is the canonical 2-arg form (Spark
    percentile / DuckDB quantile_cont)."""
    from tests.test_operators import check

    q = ("SELECT o_orderstatus, "
         "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)"
         " AS med FROM orders GROUP BY o_orderstatus "
         "ORDER BY o_orderstatus ASC NULLS FIRST")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))


def test_cte_materialized_hint_is_noise(pspark):
    for q in ("WITH t AS MATERIALIZED (SELECT 1 AS x) SELECT * FROM t",
              "WITH t AS NOT MATERIALIZED (SELECT 1 AS x) SELECT * FROM t"):
        p = parse_sql(q)
        assert "MATERIALIZED" not in p.to_sql("spark")
        assert pspark.sql(p.to_sql("spark")).collect()[0]["x"] == 1


def test_tablesample_then_where_is_fixpoint(pspark):
    """WHERE over a TABLESAMPLE desugar previously stacked two Filter
    nodes whose render `(a) AND (b)` re-parsed as one BinOp rendering
    `(a AND b)` — not a fixpoint.  The parser now merges at
    construction."""
    q = ("SELECT id FROM table1 "
         "TABLESAMPLE (50 PERCENT ON id) WHERE id > 0")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1


def test_like_escape(spark, duck):
    """LIKE ... ESCAPE: '!%' must match a literal percent, and the
    un-escaped pattern must still wildcard — proven by constant
    predicates so the semantics (not the data) decide the row set."""
    from tests.test_operators import check

    q = ("SELECT o_orderkey FROM orders "
         "WHERE ('ab%cd' LIKE '%!%%' ESCAPE '!') "
         "AND NOT ('abXcd' LIKE '%!%%' ESCAPE '!') "
         "AND o_orderkey < 40 ORDER BY o_orderkey ASC NULLS FIRST")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1 and "ESCAPE" in s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) > 0  # both constant predicates resolved TRUE
    # DataFrame path == generated SQL (Column.like has no escape —
    # the node routes through F.expr)
    a = [tuple(r) for r in p.to_df(spark).collect()]
    b = [tuple(r) for r in spark.sql(s1).collect()]
    assert a == b


def test_similar_to(spark, duck):
    """[NOT] SIMILAR TO — SQL-standard pattern language (% _ wildcards
    PLUS regex alternation/classes/quantifiers, literal '.'): both
    renders share ONE compiled regex (Spark anchored RLIKE, DuckDB
    regexp_full_match — its native SIMILAR TO is a raw-regex rewrite
    where '.' goes metachar, so the desugar is the portable form)."""
    from datafusion_sqlgen_spark.expressions.core import similar_to_regex
    from tests.test_operators import check

    # the translator itself: '.' literal, % and _ wildcards, classes
    assert similar_to_regex("a.b%") == "a[.]b.*"
    assert similar_to_regex("a_[0-9]+") == "a.[0-9]+"
    assert similar_to_regex("(x|y){2}") == "(x|y){2}"
    for bad in ["a\\%b", "a^b", "a$b", "[abc"]:
        with pytest.raises(ValueError):
            similar_to_regex(bad)

    qs = [
        # entire-string match: LIKE-style % plus a trailing class
        "SELECT c_name FROM customer WHERE c_name SIMILAR TO "
        "'Customer#%[0-9]' ORDER BY c_name ASC NULLS FIRST LIMIT 5",
        # literal '.' must NOT wildcard (constant predicates decide)
        "SELECT o_orderkey FROM orders "
        "WHERE ('a.b' SIMILAR TO 'a.b') AND NOT ('axb' SIMILAR TO 'a.b') "
        "AND o_orderkey < 40 ORDER BY o_orderkey ASC NULLS FIRST",
        # NOT SIMILAR TO with alternation
        "SELECT p_name FROM part WHERE p_name NOT SIMILAR TO "
        "'(a|b|c|d|e|f|g|h|i|j|k|l|m)%' "
        "ORDER BY p_name ASC NULLS FIRST LIMIT 5",
    ]
    for q in qs:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert parse_sql(s1).to_sql("spark") == s1, q
        rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
        assert len(rows) > 0, q
        a = [tuple(r) for r in p.to_df(spark).collect()]
        b = [tuple(r) for r in spark.sql(s1).collect()]
        assert a == b, q
    with pytest.raises(ParseError):
        parse_sql("SELECT 1 AS x FROM orders WHERE 'a' SIMILAR TO 'a\\b'")


def test_interval_quoted_quantity(spark, duck):
    """INTERVAL '30 days' (PG quantity-in-string) and plural units
    normalize to the portable single-unit literal; bad quantities and
    multi-unit strings are ParseError, not a raw ValueError."""
    from tests.test_operators import check

    q = ("SELECT o_orderkey, o_orderdate + INTERVAL '30 days' AS d30, "
         "o_orderdate + INTERVAL '2' MONTHS AS m2, "
         "o_orderdate - INTERVAL 1 WEEK AS w1 "
         "FROM orders ORDER BY o_orderkey ASC NULLS FIRST LIMIT 5")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    assert "INTERVAL 30 DAY" in s1 and "INTERVAL 2 MONTH" in s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) == 5
    for bad in [
        "SELECT o_orderdate + INTERVAL '1 year 2 months' AS d FROM orders",
        "SELECT o_orderdate + INTERVAL '1.5 days' AS d FROM orders",
        "SELECT o_orderdate + INTERVAL 'x' DAY AS d FROM orders",
    ]:
        with pytest.raises(ParseError):
            parse_sql(bad)


def test_array_agg_ordered(spark, duck):
    """array_agg(v [ORDER BY k]) — ALWAYS sorted (collect_list order is
    partition-dependent, so the deterministic sort is the only
    dual-render-safe contract); ties on the key break by the value on
    both engines. collect_list(v ORDER BY k) canonicalizes to it."""
    from tests.test_operators import check

    qs = [
        "SELECT o_orderstatus, array_agg(o_orderkey ORDER BY o_totalprice)"
        " AS a FROM orders WHERE o_orderkey < 50 GROUP BY o_orderstatus "
        "ORDER BY o_orderstatus ASC NULLS FIRST",
        "SELECT n_regionkey, array_agg(n_name) AS names FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey ASC NULLS FIRST",
    ]
    for q in qs:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert parse_sql(s1).to_sql("spark") == s1, q
        rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
        assert len(rows) > 0, q
    with pytest.raises(ParseError):
        parse_sql("SELECT sum(o_totalprice ORDER BY o_orderkey) AS s "
                  "FROM orders")


def test_cte_column_list_nonrecursive(spark, duck):
    """WITH a(x, y) AS (...) — positional rename of the CTE body's
    projection (previously RECURSIVE-only); star bodies stay rejected
    with an actionable message."""
    from tests.test_operators import check

    q = ("WITH a(k, nm) AS (SELECT n_nationkey, n_name FROM nation) "
         "SELECT k, nm FROM a WHERE k < 3 ORDER BY k ASC NULLS FIRST")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) == 3
    with pytest.raises(ParseError):
        parse_sql("WITH a(x) AS (SELECT * FROM nation) SELECT x FROM a")


def test_typed_literals(spark, duck):
    """PG typed literals (INT '42', DOUBLE '1.5', BOOLEAN 'true') parse
    as plain CASTs; DATE/TIMESTAMP keep their real-literal reading."""
    from tests.test_operators import check

    q = ("SELECT INT '42' AS i, DOUBLE '1.5' AS d, BOOLEAN 'true' AS b, "
         "BIGINT '9000000000' AS g, DATE '1997-01-01' AS dt")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) == 1


def test_window_exclude_current_row(spark, duck):
    """Frame EXCLUDE CURRENT ROW for sum/count/avg — desugared to
    frame_agg minus the current row's contribution on BOTH dialects
    (DuckDB's native EXCLUDE re-sums the surviving frame, ULP-different
    for doubles); min/max and GROUP/TIES are rejected at parse."""
    from tests.test_operators import check

    qs = [
        "SELECT o_orderkey, sum(o_totalprice) OVER (PARTITION BY "
        "o_orderstatus ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND "
        "3 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM orders "
        "WHERE o_orderkey < 100 ORDER BY o_orderkey ASC NULLS FIRST",
        "SELECT o_orderkey, avg(o_totalprice) OVER (ORDER BY o_orderkey "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) "
        "AS a, count(*) OVER (ORDER BY o_orderkey ROWS BETWEEN 2 "
        "PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS c "
        "FROM orders WHERE o_orderkey < 50 "
        "ORDER BY o_orderkey ASC NULLS FIRST",
        # default frame; EXCLUDE NO OTHERS is the no-op spelling
        "SELECT o_orderkey, sum(o_totalprice) OVER (ORDER BY o_orderkey "
        "EXCLUDE CURRENT ROW) AS s FROM orders WHERE o_orderkey < 30 "
        "ORDER BY o_orderkey ASC NULLS FIRST",
        "SELECT o_orderkey, sum(o_totalprice) OVER (ORDER BY o_orderkey "
        "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE NO OTHERS) "
        "AS s FROM orders WHERE o_orderkey < 30 "
        "ORDER BY o_orderkey ASC NULLS FIRST",
    ]
    for q in qs:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert parse_sql(s1).to_sql("spark") == s1, q
        rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
        assert len(rows) > 0, q
        a = [tuple(r) for r in p.to_df(spark).collect()]
        b = [tuple(r) for r in spark.sql(s1).collect()]
        assert a == b, q
    # validated against DuckDB's NATIVE exclusion on exact integers
    p = parse_sql(
        "SELECT o_orderkey, sum(o_custkey) OVER (ORDER BY o_orderkey "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) "
        "AS s FROM orders WHERE o_orderkey < 200 "
        "ORDER BY o_orderkey ASC NULLS FIRST"
    )
    native = duck.execute(
        "SELECT o_orderkey, sum(o_custkey) OVER (ORDER BY o_orderkey "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) "
        "AS s FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey"
    ).fetchall()
    ours = duck.execute(p.to_sql("duckdb")).fetchall()
    assert [tuple(map(str, r)) for r in ours] == \
        [tuple(map(str, r)) for r in native]
    for bad in [
        "SELECT max(o_totalprice) OVER (ORDER BY o_orderkey EXCLUDE "
        "CURRENT ROW) AS m FROM orders",
        # TIES/GROUP are supported since round 10b — but not with a
        # ROWS frame, where peers can fall outside the frame
        "SELECT sum(o_totalprice) OVER (ORDER BY o_orderkey ROWS "
        "BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE TIES) AS m "
        "FROM orders",
        "SELECT sum(DISTINCT o_totalprice) OVER (ORDER BY o_orderkey "
        "EXCLUDE CURRENT ROW) AS m FROM orders",
    ]:
        with pytest.raises(ParseError):
            parse_sql(bad)


def test_row_value_in_three_valued_on_null_keys(spark, duck):
    """Row-value [NOT] IN (subquery) with NULL keys: the DuckDB render
    must NOT be struct equality (NULL-as-value — (NULL,'O') NOT IN ...
    would keep the row) but the standard's three-valued CASE-aggregate
    desugar, matching Spark's WHERE-context semantics. Projected
    multi-column IN is NOT contract-covered: Spark's own ExistenceJoin
    degrades it to existence semantics (see InSubquery docstring)."""
    spark.createDataFrame(
        [(1, "O"), (2, "F"), (None, "O"), (3, None)], "a int, b string"
    ).createOrReplaceTempView("rv_o")
    spark.createDataFrame(
        [(1, "O"), (3, "O"), (None, "F"), (None, "O")], "x int, y string"
    ).createOrReplaceTempView("rv_t")
    duck.execute("CREATE OR REPLACE TABLE rv_o(a INT, b VARCHAR)")
    duck.execute("INSERT INTO rv_o VALUES (1,'O'),(2,'F'),(NULL,'O'),"
                 "(3,NULL)")
    duck.execute("CREATE OR REPLACE TABLE rv_t(x INT, y VARCHAR)")
    duck.execute("INSERT INTO rv_t VALUES (1,'O'),(3,'O'),(NULL,'F'),"
                 "(NULL,'O')")
    qs = [
        "SELECT a, b FROM rv_o WHERE (a, b) IN (SELECT x, y FROM rv_t)",
        # the struct-wrap bug: this kept (NULL,'O') and (3,NULL) on
        # DuckDB while Spark dropped them (UNKNOWN)
        "SELECT a, b FROM rv_o WHERE (a, b) NOT IN "
        "(SELECT x, y FROM rv_t)",
        "SELECT a, b FROM rv_o WHERE (a, b) IN "
        "(SELECT x, y FROM rv_t WHERE 1 = 0)",
        "SELECT a, b FROM rv_o WHERE (a, b) NOT IN "
        "(SELECT x, y FROM rv_t WHERE 1 = 0)",
    ]
    for q in qs:
        p = parse_sql(q)
        s = sorted(tuple(map(str, r))
                   for r in spark.sql(p.to_sql("spark")).collect())
        d = sorted(tuple(map(str, r))
                   for r in duck.execute(p.to_sql("duckdb")).fetchall())
        assert s == d, (q, s, d)
    assert sorted(
        tuple(map(str, r)) for r in duck.execute(
            parse_sql(qs[1]).to_sql("duckdb")).fetchall()
    ) == []


def test_struct_field_on_call_result(spark, duck):
    """Trailing .field on a function-call result (named_struct(...).a)
    — the same Field postfix the parenthesized branch already takes."""
    from tests.test_operators import check

    q = ("SELECT named_struct('a', o_orderkey, 'b', o_totalprice).a AS k "
         "FROM orders ORDER BY k ASC NULLS FIRST LIMIT 3")
    p = parse_sql(q)
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert len(rows) == 3


def test_no_from_where(spark, duck):
    """SELECT <exprs> WHERE <pred> with no FROM — both engines filter
    the one-row relation (0 or 1 rows out): the guard-row idiom.
    GROUP BY without FROM stays rejected."""
    from tests.test_operators import check

    p = parse_sql("SELECT 'seen' AS flag WHERE EXISTS "
                  "(SELECT 1 FROM orders WHERE o_totalprice > 0)")
    s1 = p.to_sql("spark")
    assert parse_sql(s1).to_sql("spark") == s1
    rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
    assert [tuple(r) for r in rows] == [("seen",)]
    p2 = parse_sql("SELECT 1 AS x WHERE 1 = 2")
    assert p2.to_df(spark).count() == 0
    assert len(duck.execute(p2.to_sql("duckdb")).fetchall()) == 0
    with pytest.raises(ParseError):
        parse_sql("SELECT 1 AS x GROUP BY x")


def test_trailing_comma_tolerated(pspark):
    """A trailing comma before FROM / end-of-select parses (DuckDB
    convenience) and never renders back; keyword-named functions
    (left, right) still parse as projections after a comma."""
    p = parse_sql("SELECT id, id * 2 AS d, FROM table1")
    s1 = p.to_sql("spark")
    assert s1 == "SELECT id, (id * 2) AS d FROM table1"
    assert len(pspark.sql(s1).collect()) == 3
    p2 = parse_sql("SELECT id, left('ab', 1) AS l FROM table1")
    assert "left('ab', 1)" in p2.to_sql("spark")
    with pytest.raises(ParseError):
        parse_sql("SELECT id,, id FROM table1")


def test_table_shorthand(pspark):
    p = parse_sql("TABLE table1")
    assert p.to_sql("spark") == "SELECT * FROM table1"
    assert len(pspark.sql(p.to_sql("spark")).collect()) == 3


def test_generate_series_table_function(spark, duck):
    """FROM generate_series(start, stop[, step]) — DuckDB/PG table
    function, stop inclusive, column named generate_series; the Spark
    render is the explode(sequence(...)) derived table (zero-input
    generate, no shuffle), joinable and aliasable like any relation."""
    from tests.test_operators import check

    qs = [
        "SELECT * FROM generate_series(1, 5)",
        "SELECT g.generate_series FROM generate_series(0, 10, 2) AS g",
        "SELECT count(*) AS n FROM generate_series(1, 100) "
        "WHERE generate_series % 3 = 0",
        "SELECT c_custkey FROM customer JOIN generate_series(1, 3) AS g "
        "ON c_custkey = g.generate_series "
        "ORDER BY c_custkey ASC NULLS FIRST",
    ]
    for q in qs:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert parse_sql(s1).to_sql("spark") == s1, q
        rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
        assert len(rows) > 0
        a = sorted(tuple(r) for r in p.to_df(spark).collect())
        b = sorted(tuple(r) for r in spark.sql(s1).collect())
        assert a == b, q


def test_unnest_in_from(spark, duck):
    """FROM UNNEST(arr) AS t(c) — standalone (Explode over the one-row
    relation, projected to just the unnested column) and correlated
    (`FROM t, UNNEST(expr)` = the Explode node's standard spelling).
    The column alias is required: the engines' default names differ
    (PG `unnest`, Spark `col`)."""
    from tests.test_operators import check

    qs = [
        "SELECT u FROM UNNEST(ARRAY[1, 2, 3]) AS t(u) "
        "ORDER BY u ASC NULLS FIRST",
        # SELECT * must see ONLY the unnested column, not the dummy 1
        "SELECT * FROM UNNEST(ARRAY['a', 'b']) AS u "
        "ORDER BY u ASC NULLS FIRST",
        # correlated: per-document word explode, narrow per-row
        # generate — no shuffle below the aggregate
        "SELECT lang, count(*) AS n "
        "FROM documents, UNNEST(split(text, ' ')) AS w(word) "
        "WHERE doc_id < 20 GROUP BY lang ORDER BY lang ASC NULLS FIRST",
    ]
    for q in qs:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert parse_sql(s1).to_sql("spark") == s1, q
        rows = check(spark, duck, p.to_df(spark), p.to_sql("duckdb"))
        assert len(rows) > 0, q
        a = [tuple(r) for r in p.to_df(spark).collect()]
        b = [tuple(r) for r in spark.sql(s1).collect()]
        assert sorted(map(str, a)) == sorted(map(str, b)), q
    with pytest.raises(ParseError):
        parse_sql("SELECT * FROM UNNEST(ARRAY[1, 2])")  # alias required


def test_respect_nulls_parses_as_default(pspark):
    """RESPECT NULLS (both placements) is the default everywhere —
    parse-and-drop, never rendered, fixpoint-stable."""
    for q in [
        "SELECT last_value(id) RESPECT NULLS OVER (ORDER BY id) AS v "
        "FROM table1",
        "SELECT last_value(id RESPECT NULLS) OVER (ORDER BY id) AS v "
        "FROM table1",
    ]:
        p = parse_sql(q)
        s1 = p.to_sql("spark")
        assert "RESPECT" not in s1 and "IGNORE" not in s1
        assert parse_sql(s1).to_sql("spark") == s1
        assert len(pspark.sql(s1).collect()) == 3


def test_generate_series_reparse_resugars(duck):
    """Reparsing the Spark render (the explode(sequence(...)) derived
    table) must re-sugar back to the GenerateSeries node: the generic
    subquery reading would carry `explode` — a Spark generator DuckDB
    lacks — into the oracle render, breaking the catalog fixpoint
    (caught by test_catalog_reparse_preserves_semantics on
    parsed_series_spine, round 10)."""
    from datafusion_sqlgen_spark.plans.core import GenerateSeries

    for args in [(0, 9), (1, 100, 3)]:
        p = GenerateSeries(args, table_alias="g")
        rp = parse_sql(p.to_sql("spark"))
        assert isinstance(rp, GenerateSeries)
        assert "explode" not in rp.to_sql("duckdb")
        a = duck.execute(p.to_sql("duckdb")).fetchall()
        b = duck.execute(rp.to_sql("duckdb")).fetchall()
        assert sorted(a) == sorted(b)
    # a real derived table that merely *aliases* explode output to the
    # magic name but has a FROM is NOT re-sugared
    q = ("SELECT * FROM (SELECT explode(sequence(0, c_custkey)) "
         "AS generate_series FROM customer) AS g")
    assert not isinstance(parse_sql(q), GenerateSeries)


def test_struct_star_parses_and_renders_both_dialects():
    """``struct(t.*)`` (the ASOF desugar's row form) parses as a
    function argument: Spark expands the star inside CreateStruct,
    DuckDB renders the bare relation alias (row struct)."""
    p = parse_sql("SELECT struct(l.*) AS s FROM nation l")
    s = p.to_sql("spark")
    assert "struct(l.*)" in s
    assert parse_sql(s).to_sql("spark") == s
    d = p.to_sql("duckdb")
    assert " l AS s" in d  # bare relation alias = row struct in DuckDB
    con = duckdb.connect()
    con.execute("CREATE TABLE nation AS SELECT 1 AS a, 'x' AS b")
    assert con.execute(f"SELECT s.* FROM ({d})").fetchall() == [(1, 'x')]


def test_struct_star_executes_on_spark(spark):
    # fresh view name: redefining a shared fixture view (nation etc.)
    # would leak into later tests in the session-scoped SparkSession
    spark.sql("CREATE OR REPLACE TEMP VIEW ss_rel12 AS SELECT 1 AS a, "
              "'x' AS b")
    rows = spark.sql(
        parse_sql("SELECT struct(l.*) AS s FROM ss_rel12 l")
        .to_sql("spark")
    ).collect()
    assert rows[0].s.a == 1 and rows[0].s.b == "x"
