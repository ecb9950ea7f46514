"""The query catalog: every operator from SURVEY.md §2 as a named,
oracle-checked workload.

Each workload is declared once, as a ``registry.Workload`` record: how
Spark builds it, the DuckDB SQL that checks it, whether the bench
headline times it, and its plan contract. Two kinds:

* **Plan workloads** — built with the plan/expression IR; the Spark side
  executes the plan's Spark SQL, ``spark.sql(plan.to_sql("spark"))``,
  and the catalog gate holds ``plan.to_df(spark)`` to it. The oracle is
  hand-written in a deliberately different formulation from
  ``plan.to_sql("duckdb")``, so a rendering bug shared by both dialects
  cannot confirm itself.
* **Operator workloads** — the LLM-pipeline operators (dedup/similarity/
  text/as-of), whose Spark side is higher-order-function DataFrame code
  and whose oracle is DuckDB SQL shipped next to each operator.

``catalog()`` holds the records in the driver-sample rotation order;
``build_queries()`` / ``build_oracles()`` are the driver's views of it.

Naming/aliasing rule (driver contract): every computed column is aliased
identically on both sides so the driver's sorted-column value hash
matches.

Float determinism: aggregate/similarity outputs are rounded (2-6 digits)
*inside* the query on both sides, so IEEE summation-order differences
between engines cannot flip the hash.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable, Mapping
from functools import lru_cache
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.catalog import register_tables
from datafusion_sqlgen_spark.expressions import col, fn, agg, lam, lit, star, when
from datafusion_sqlgen_spark.expressions.core import (
    Exists,
    Func,
    InSubquery,
    Interval,
    IsDistinctFrom,
    ScalarSubquery,
)
from datafusion_sqlgen_spark.plans import (
    EmptyRelation,
    Plan,
    RecursiveWith,
    SetOp,
    With,
    scan,
)
from datafusion_sqlgen_spark.operators import (
    affinity,
    dedup,
    graph,
    joins,
    multimodal,
    profiling,
    sampling,
    similarity,
    text,
    timeseries,
)
from datafusion_sqlgen_spark.functions import udfs
from datafusion_sqlgen_spark.materialize import (
    materialize, release_session, work_dir,
)
from datafusion_sqlgen_spark.registry import Workload, planned
from datafusion_sqlgen_spark.tpch import tpch_workloads


# --------------------------------------------------------------------------
# Plan workloads: the IR plan runs on Spark, a hand-written oracle on DuckDB
# --------------------------------------------------------------------------

def _money(e):
    """Exact-decimal arithmetic for monetary columns.

    The driver's data stores money as 2-decimal doubles. ``round(sum(x), 2)``
    on doubles is engine-divergent at exact .xx5 boundaries (Spark rounds
    the shortest decimal string HALF_UP; DuckDB rounds the binary value),
    so monetary aggregates are computed in DECIMAL — bit-exact and
    identical in Spark and DuckDB — and cast back to double at the end.
    """
    return e.cast("decimal(18,4)")


def _money_out(e, digits=2):
    return fn("round", e, lit(digits)).cast("double")


# Quantified comparisons over orders: Spark runs the parser's desugar,
# DuckDB its native quantified forms; the text is both the workload's
# SQL and its oracle.
_QUANTIFIED_FORMS_SQL = """
SELECT c_custkey,
       c_acctbal > ALL (SELECT o_totalprice AS v FROM orders
                         WHERE o_custkey = 999999999) AS gt_all_empty,
       c_acctbal * 100 >= ANY (SELECT o_totalprice AS v FROM orders
                                WHERE o_orderkey % 1000 = 0) AS ge_any_mix,
       c_acctbal < ALL (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                    ELSE o_totalprice END AS v
                          FROM orders WHERE o_custkey < 100) AS lt_all_nulls
FROM customer
"""


def _plan_workloads() -> dict[str, Workload]:
    w: dict[str, Workload] = {}

    # --- the reference's live surface (SURVEY.md §2.1 ✅ rows) ---

    # it_works shape: scan+filter+projection (tests/select.rs:71-85)
    w["ref_scan_filter"] = planned(
        scan("customer")
        .filter(col("c_mktsegment") == "BUILDING")
        .select(col("c_custkey"), col("c_name")),
        headline=True,
        # equality filter as null-guarded double negation
        oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT (c_mktsegment <> 'BUILDING') AND c_mktsegment IS NOT NULL
""")

    # select_distinct_simple_4 shape: DISTINCT + CAST + arith + alias
    w["ref_project_cast_arith"] = planned(
        scan("lineitem")
        .filter(col("l_orderkey") < 200)
        .select(
            col("l_orderkey"),
            col("l_linenumber"),
            _money_out(_money(col("l_extendedprice")) * (lit(1) - _money(col("l_discount"))))
            .alias("net_price"),
        ),
        headline=True,
        # price*(1-d) re-derived by the distributive law — exact in
        # DECIMAL, so the two routes must agree to the last digit
        oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,4))
                  - CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4)), 2) AS DOUBLE)
           AS net_price
FROM lineitem WHERE l_orderkey < 200
""")

    w["ref_distinct"] = planned(
        scan("lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
        # DISTINCT as GROUP BY
        oracle="""
SELECT l_returnflag, l_linestatus FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")

    # explicit direction + nulls ordering (the reference drops these)
    w["ref_sort_limit_offset"] = planned(
        scan("orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .sort(col("o_totalprice").desc(nulls_first=False), col("o_orderkey").asc())
        .offset(5)
        .limit(20),
        # LIMIT/OFFSET as row_number arithmetic (rows 6..25)
        oracle="""
WITH r AS (
    SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC NULLS LAST,
                              o_orderkey ASC NULLS FIRST) AS rn
    FROM orders
)
SELECT o_orderkey, o_totalprice FROM r
WHERE rn > 5 AND rn <= 25
ORDER BY rn
""")

    # BETWEEN + scalar functions (use_between_expression, tests/select.rs:234-249)
    w["ref_between_scalar_fns"] = planned(
        scan("lineitem")
        .filter(col("l_quantity").between(10, 20))
        .select(
            col("l_orderkey"),
            col("l_linenumber"),
            fn("abs", col("l_extendedprice") * lit(-1)).alias("abs_price"),
            fn("round", fn("ln", col("l_extendedprice")), lit(6)).alias("ln_price"),
        ),
        # BETWEEN as double negation; abs as greatest(x, -x)
        oracle="""
SELECT l_orderkey, l_linenumber,
       greatest(l_extendedprice, -l_extendedprice) AS abs_price,
       round(ln(l_extendedprice), 6) AS ln_price
FROM lineitem
WHERE NOT (l_quantity < 10) AND NOT (l_quantity > 20)
""")

    # IS [NOT] DISTINCT FROM on a no-FROM relation (tests/select.rs:199-231)
    w["ref_null_safe_cmp"] = planned(
        EmptyRelation().select(
            IsDistinctFrom(lit(1), lit(None)).alias("a"),
            IsDistinctFrom(lit(None), lit(None)).alias("b"),
            lit(1).eq_null_safe(lit(1)).alias("c"),
            lit("x").eq_null_safe(lit(None)).alias("d"),
        ),
        # three-valued IS [NOT] DISTINCT FROM truth table folded by hand
        oracle="""
SELECT TRUE AS a, FALSE AS b, TRUE AS c, FALSE AS d
""")

    # 1-based array indexing (query_get_indexed_field, tests/select.rs:252-281)
    w["ref_array_index"] = planned(
        scan("embeddings")
        .filter(col("vec_id") < 100)
        .select(
            col("vec_id"),
            fn("round", col("embedding")[1].cast("double"), lit(6)).alias("dim1"),
            fn("round", col("embedding")[64].cast("double"), lit(6)).alias("dim64"),
        ),
        # array indexing replayed through unnest + subscripts + pick-outs
        oracle="""
SELECT vec_id,
       round(CAST(max(CASE WHEN i = 1 THEN x END) AS DOUBLE), 6) AS dim1,
       round(CAST(max(CASE WHEN i = 64 THEN x END) AS DOUBLE), 6) AS dim64
FROM (SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id < 100) u
GROUP BY vec_id
""")

    # stacked filters AND-merge + stacked projections nest (§2.4.6 fix)
    w["ref_nested_slots"] = planned(
        scan("customer")
        .select(col("c_custkey"), (_money(col("c_acctbal")) * 2).alias("bal2"),
                col("c_mktsegment"))
        .filter(col("bal2") > 5000)
        .filter(col("c_mktsegment") != "BUILDING")
        .select(col("c_custkey"), _money_out(col("bal2")).alias("bal2")),
        # nested projection slots flattened away: filter and output both
        # inline the decimal arithmetic on base columns (no subquery)
        oracle="""
SELECT c_custkey,
       CAST(round(CAST(c_acctbal AS DECIMAL(18,4)) * 2, 2) AS DOUBLE)
           AS bal2
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(18,4)) * 2 > 5000
  AND c_mktsegment <> 'BUILDING'
""")

    # wildcard projection (reference renders `*`/`t.*` but its AST layer
    # silently drops them — SURVEY.md §2.4.7; ours round-trips them)
    w["ref_wildcard"] = planned(
        scan("region").select(star()).filter(col("r_regionkey") < 4),
        # wildcard expansion written out by hand; filter as NOT(negation)
        oracle="""
SELECT r_regionkey, r_name FROM region WHERE NOT (r_regionkey >= 4)
""")

    # --- aspirational surface: expressions (§2.2) ---

    w["expr_like_rlike_concat"] = planned(
        scan("part")
        .filter(
            col("p_type").like("%AND%")          # STANDARD
            | col("p_name").ilike("%RED%")       # 'red widget' (case-insens.)
            | col("p_name").rlike("^blue b")
        )
        .select(
            col("p_partkey"),
            fn("concat", col("p_brand"), lit("/"), col("p_type")).alias("brand_type"),
            fn("upper", col("p_name")).alias("uname"),
        ),
        # LIKE/ILIKE/RLIKE replayed as contains/starts_with; concat as ||
        oracle="""
SELECT p_partkey,
       p_brand || '/' || p_type AS brand_type,
       ucase(p_name) AS uname
FROM part
WHERE contains(p_type, 'AND')
   OR contains(lcase(p_name), 'red')
   OR starts_with(p_name, 'blue b')
""")

    w["expr_case_in_isnull"] = planned(
        scan("orders").select(
            col("o_orderkey"),
            when(col("o_orderstatus") == "F", "finished")
            .when(col("o_orderstatus") == "O", "open")
            .otherwise("partial")
            .alias("status_label"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_hot"),
            col("o_totalprice").is_not_null().alias("has_price"),
        ),
        # CASE as a VALUES lookup; IN as OR-equality; IS NOT NULL negated
        oracle="""
SELECT o.o_orderkey,
       coalesce(m.lbl, 'partial') AS status_label,
       (o.o_orderpriority = '1-URGENT'
        OR o.o_orderpriority = '2-HIGH') AS is_hot,
       NOT (o.o_totalprice IS NULL) AS has_price
FROM orders o
LEFT JOIN (VALUES ('F', 'finished'), ('O', 'open')) AS m(st, lbl)
       ON m.st = o.o_orderstatus
""")

    # bitwise &, |, ^ (DuckDB renders ^ as xor()) and unary NOT / -
    w["expr_bitwise_unary"] = planned(
        scan("nation")
        .select(
            col("n_nationkey"),
            col("n_nationkey").bitwise_and(3).alias("and3"),
            col("n_nationkey").bitwise_or(8).alias("or8"),
            col("n_nationkey").bitwise_xor(5).alias("xor5"),
            (-col("n_nationkey")).alias("neg"),
            (~(col("n_nationkey") > 10)).alias("not_gt10"),
        ),
        # every bitwise op replayed as modular arithmetic (valid for the
        # non-negative key domain): &3 = %4, |8 and xor5 from bit
        # decomposition, NOT > as <=
        oracle="""
SELECT n_nationkey,
       n_nationkey % 4 AS and3,
       n_nationkey + 8 * (1 - ((n_nationkey // 8) % 2)) AS or8,
       n_nationkey + 5
           - 2 * ((n_nationkey % 2) + 4 * ((n_nationkey // 4) % 2))
           AS xor5,
       0 - n_nationkey AS neg,
       n_nationkey <= 10 AS not_gt10
FROM nation
""")

    # struct build + field access (reference documents struct keys only in
    # commented tests, tests/select.rs:418-445)
    w["expr_struct_field"] = planned(
        scan("customer")
        .filter(col("c_custkey") < 100)
        .select(
            col("c_custkey"),
            fn("named_struct", lit("seg"), col("c_mktsegment"),
               lit("nk"), col("c_nationkey")).field("seg").alias("seg"),
            fn("named_struct", lit("seg"), col("c_mktsegment"),
               lit("nk"), col("c_nationkey")).field("nk").cast("int").alias("nk"),
        ),
        # struct pack-then-extract is the identity on the base columns
        oracle="""
SELECT c_custkey, c_mktsegment AS seg, CAST(c_nationkey AS INTEGER) AS nk
FROM customer WHERE c_custkey < 100
""")

    w["expr_string_funcs"] = planned(
        scan("part").select(
            col("p_partkey"),
            fn("lower", col("p_name")).alias("lname"),
            fn("length", col("p_name")).cast("bigint").alias("name_len"),
            fn("substr", col("p_brand"), lit(1), lit(6)).alias("brand6"),
            fn("replace", col("p_type"), lit(" "), lit("_")).alias("type_snake"),
            fn("lpad", col("p_size").cast("string"), lit(3), lit("0")).alias("size_pad"),
            fn("reverse", col("p_brand")).alias("brand_rev"),
        ),
        # every string function replayed through a different one: lower
        # via lcase, length via len, substr via left, replace via global
        # regexp, lpad via printf
        oracle="""
SELECT p_partkey,
       lcase(p_name) AS lname,
       CAST(len(p_name) AS BIGINT) AS name_len,
       left(p_brand, 6) AS brand6,
       regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
       printf('%03d', CAST(p_size AS INTEGER)) AS size_pad,
       reverse(p_brand) AS brand_rev
FROM part
""")

    w["expr_math_funcs"] = planned(
        scan("lineitem")
        .filter(col("l_orderkey") < 50)
        .select(
            col("l_orderkey"),
            col("l_linenumber"),
            fn("round", fn("sqrt", col("l_extendedprice")), lit(6)).alias("sqrt_price"),
            fn("round", fn("exp", col("l_discount")), lit(6)).alias("exp_disc"),
            fn("round", fn("log10", col("l_extendedprice")), lit(6)).alias("log10_price"),
            fn("ceil", col("l_quantity")).cast("bigint").alias("ceil_qty"),
            fn("floor", col("l_tax") * 100).cast("bigint").alias("floor_tax_pct"),
            fn("round", fn("pow", col("l_discount"), lit(2)), lit(8)).alias("disc_sq"),
        ),
        # ceil as -floor(-x), floor as x - x%1, pow(d,2) as d*d (IEEE-
        # identical single rounding); transcendentals restructured via CTE
        oracle="""
WITH b AS (
    SELECT l_orderkey, l_linenumber, l_extendedprice AS p,
           l_discount AS d, l_quantity AS q, l_tax * 100 AS t100
    FROM lineitem WHERE l_orderkey < 50
)
SELECT l_orderkey, l_linenumber,
       round(sqrt(p), 6) AS sqrt_price,
       round(exp(d), 6) AS exp_disc,
       round(log10(p), 6) AS log10_price,
       CAST(-floor(-q) AS BIGINT) AS ceil_qty,
       CAST(t100 - (t100 % 1) AS BIGINT) AS floor_tax_pct,
       round(d * d, 8) AS disc_sq
FROM b
""")

    w["expr_date_funcs"] = planned(
        scan("orders")
        .filter(col("o_orderkey") < 300)
        .select(
            col("o_orderkey"),
            fn("year", col("o_orderdate")).cast("bigint").alias("y"),
            fn("month", col("o_orderdate")).cast("bigint").alias("m"),
            fn("day", col("o_orderdate")).cast("bigint").alias("d"),
            fn("hour", col("o_orderdate")).cast("bigint").alias("h"),
            fn("date_trunc", lit("month"), col("o_orderdate")).alias("month_start"),
        ),
        # date parts via strftime, month-truncation rebuilt with
        # make_timestamp
        oracle="""
SELECT o_orderkey,
       CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS y,
       CAST(strftime(o_orderdate, '%m') AS BIGINT) AS m,
       CAST(strftime(o_orderdate, '%d') AS BIGINT) AS d,
       CAST(strftime(o_orderdate, '%H') AS BIGINT) AS h,
       make_timestamp(CAST(strftime(o_orderdate, '%Y') AS INTEGER),
                      CAST(strftime(o_orderdate, '%m') AS INTEGER),
                      1, 0, 0, 0.0) AS month_start
FROM orders WHERE o_orderkey < 300
""")

    # array function suite over the embeddings vector column (the
    # reference's one complex type is List, 1-based — §2.2 Array index)
    w["expr_array_funcs"] = planned(
        scan("embeddings")
        .filter(col("vec_id") < 200)
        .select(
            col("vec_id"),
            fn("array_size", col("embedding")).cast("bigint").alias("dim"),
            fn("round", fn("array_max", col("embedding")).cast("double"), lit(5))
            .alias("vmax"),
            fn("round", fn("array_min", col("embedding")).cast("double"), lit(5))
            .alias("vmin"),
            fn("round",
               fn("slice", col("embedding"), lit(2), lit(4))[2].cast("double"),
               lit(5)).alias("s2"),
            fn("round", col("embedding")[8].cast("double"), lit(5)).alias("e8"),
            fn("array_contains",
               fn("array", col("vec_id") % 5, lit(2), lit(7)), lit(2))
            .alias("has2"),
            fn("array_position",
               fn("array", lit(7), col("vec_id") % 3, lit(7)), lit(7))
            .cast("bigint").alias("pos7"),
        ),
        # array probes re-derived: length/extremes/picks over unnest;
        # slice-then-index collapsed to the direct element; the two
        # list-literal membership probes constant-fold (2 and the leading
        # 7 are literally present whatever vec_id is)
        oracle="""
SELECT vec_id,
       CAST(max(i) AS BIGINT) AS dim,
       round(CAST(max(x) AS DOUBLE), 5) AS vmax,
       round(CAST(min(x) AS DOUBLE), 5) AS vmin,
       round(CAST(max(CASE WHEN i = 3 THEN x END) AS DOUBLE), 5) AS s2,
       round(CAST(max(CASE WHEN i = 8 THEN x END) AS DOUBLE), 5) AS e8,
       TRUE AS has2,
       CAST(1 AS BIGINT) AS pos7
FROM (SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id < 200) u
GROUP BY vec_id
""")

    # Higher-order array functions (lambda exprs): transform / filter /
    # exists / forall / aggregate / zip_with. DataFusion 10 (the
    # reference's pin) predates HOFs entirely; Spark-side these are
    # codegen'd JVM expressions — the fast path for array columns at
    # scale (never a Python UDF). Floats fold left-to-right in both
    # engines; round exactly once at output.
    w["expr_higher_order"] = planned(
        scan("embeddings")
        .filter(col("vec_id") < 300)
        .select(
            col("vec_id"),
            fn("round",
               fn("aggregate", col("embedding"), lit(0.0).cast("double"),
                  lam(("acc", "x"), lambda acc, x: acc + x)),
               lit(5)).alias("vsum"),
            fn("array_size",
               fn("filter", col("embedding"), lam("x", lambda x: x > lit(0))))
            .cast("bigint").alias("n_pos"),
            fn("exists", col("embedding"),
               lam("x", lambda x: x > lit(0.45))).alias("has_big"),
            fn("forall", col("embedding"),
               lam("x", lambda x: x > lit(-1))).alias("bounded"),
            fn("round",
               fn("aggregate",
                  fn("zip_with", col("embedding"), col("embedding"),
                     lam(("a", "b"), lambda a, b: a * b)),
                  lit(0.0).cast("double"),
                  lam(("acc", "x"), lambda acc, x: acc + x)),
               lit(5)).alias("dot_self"),
            fn("round",
               fn("transform", col("embedding"),
                  lam("x", lambda x: x * lit(2.0)))[3].cast("double"),
               lit(5)).alias("t3"),
        ),
        headline=True,
        # integer/boolean folds re-derived over unnest (exact regardless
        # of order); the two float folds keep the rendered left-fold —
        # the ONLY order that reproduces Spark's doubles bit-for-bit
        oracle="""
WITH u AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings WHERE vec_id < 300
),
agg AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           bool_or(x > 0.45) AS has_big,
           bool_and(x > -1) AS bounded,
           round(CAST(max(CASE WHEN i = 3 THEN x END) AS DOUBLE)
                 * 2.0, 5) AS t3
    FROM u GROUP BY vec_id
),
folds AS (
    SELECT vec_id,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 embedding), (acc, x) -> acc + x), 5) AS vsum,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(embedding, x -> x * x)),
                 (acc, x) -> acc + x), 5) AS dot_self
    FROM embeddings WHERE vec_id < 300
)
SELECT a.vec_id, f.vsum, a.n_pos, a.has_big, a.bounded, f.dot_self, a.t3
FROM agg a JOIN folds f ON f.vec_id = a.vec_id
""")

    # Scalar function batch 3: levenshtein / printf / regexp_like /
    # width_bucket / hyperbolics / cbrt / factorial / datediff / make_date /
    # make_timestamp. DuckDB 1.0 lacks sinh/cosh/tanh and width_bucket —
    # the registry renders exp-identities and a CASE formula for the oracle.
    w["expr_scalar_funcs3"] = planned(
        scan("lineitem")
        .filter(col("l_orderkey") < 400)
        .select(
            col("l_orderkey"),
            col("l_linenumber").cast("bigint").alias("line_no"),
            fn("levenshtein", col("l_returnflag"), col("l_linestatus"))
            .cast("bigint").alias("lev"),
            fn("printf", lit("%s-%03d"), col("l_returnflag"),
               (col("l_orderkey") % lit(1000)).cast("int")).alias("tag"),
            fn("regexp_like", col("l_returnflag"), lit("^(A|R)$")).alias("is_ret"),
            fn("width_bucket", col("l_extendedprice"), lit(0), lit(100000),
               lit(20)).cast("bigint").alias("price_bkt"),
            fn("round", fn("sinh", col("l_discount")), lit(9)).alias("sh"),
            fn("round", fn("cosh", col("l_discount")), lit(9)).alias("ch"),
            fn("round", fn("tanh", col("l_discount")), lit(9)).alias("th"),
            fn("round", fn("cbrt", col("l_quantity")), lit(9)).alias("cb"),
            fn("factorial", col("l_linenumber").cast("int"))
            .cast("bigint").alias("fact"),
            fn("datediff", col("l_shipdate"),
               fn("make_date", lit(1995), lit(1), lit(1)))
            .cast("bigint").alias("days_since"),
            fn("make_timestamp", lit(2020),
               ((col("l_orderkey") % lit(12)) + lit(1)).cast("int"),
               lit(3), lit(4), lit(5), lit(6.5)).alias("mts"),
        ),
        # levenshtein of 1-char flags is an inequality test; printf
        # rebuilt by concat+lpad; regexp anchor as OR-equality; factorial
        # as a lookup list; day-diff as DATE subtraction; hyperbolics
        # share single exp() CTE values (same doubles, same ops)
        oracle="""
WITH b AS (
    SELECT *, exp(l_discount) AS e1, exp(-l_discount) AS em1,
           exp(2 * l_discount) AS e2
    FROM lineitem WHERE l_orderkey < 400
)
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS line_no,
       CAST(CASE WHEN l_returnflag = l_linestatus THEN 0 ELSE 1 END
            AS BIGINT) AS lev,
       l_returnflag || '-'
           || lpad(CAST(l_orderkey % 1000 AS VARCHAR), 3, '0') AS tag,
       (l_returnflag = 'A' OR l_returnflag = 'R') AS is_ret,
       CAST(CASE WHEN l_extendedprice < 0 THEN 0
                 WHEN l_extendedprice >= 100000 THEN 21
                 ELSE CAST(floor((l_extendedprice - 0) * 20
                                 / (100000 - 0)) AS BIGINT) + 1
            END AS BIGINT) AS price_bkt,
       round((e1 - em1) / 2, 9) AS sh,
       round((e1 + em1) / 2, 9) AS ch,
       round((e2 - 1) / (e2 + 1), 9) AS th,
       round(cbrt(l_quantity), 9) AS cb,
       CAST(list_extract([1, 2, 6, 24, 120, 720, 5040],
                         CAST(l_linenumber AS INTEGER)) AS BIGINT) AS fact,
       CAST(CAST(l_shipdate AS DATE) - DATE '1995-01-01' AS BIGINT)
           AS days_since,
       make_timestamp(2020, CAST((l_orderkey % 12) + 1 AS INTEGER),
                      3, 4, 5, 6.5) AS mts
FROM b
""")

    # Array function batch 2: array_distinct / flatten / array_intersect.
    # Element order of distinct/intersect differs between engines —
    # sort_array before joining to a hashable string.
    w["expr_array_funcs2"] = planned(
        scan("orders")
        .filter(col("o_orderkey") < 500)
        .select(
            col("o_orderkey"),
            fn("array_join",
               fn("sort_array",
                  fn("array_distinct",
                     fn("array", col("o_orderkey") % lit(3),
                        col("o_orderkey") % lit(5),
                        col("o_orderkey") % lit(3), lit(2)))),
               lit(",")).alias("dedup"),
            fn("array_join",
               fn("flatten",
                  fn("array", fn("array", col("o_orderkey") % lit(2)),
                     fn("array", col("o_orderkey") % lit(3), lit(7)))),
               lit(",")).alias("flat"),
            fn("array_join",
               fn("sort_array",
                  fn("array_intersect",
                     fn("array", lit(1), lit(2), lit(3),
                        col("o_orderkey") % lit(4)),
                     fn("array", lit(2), lit(3), lit(9)))),
               lit(",")).alias("ixn"),
        ),
        # list surgeries rebuilt from scalar arithmetic: distinct-sort
        # from a reordered construction, flatten from the flat literal,
        # and the intersection constant-folds to '2,3' (k%4 never adds a
        # new member and list_intersect dedups)
        oracle="""
SELECT o_orderkey,
       array_to_string(list_sort(list_distinct(list_value(
           o_orderkey % 5, 2, o_orderkey % 3, o_orderkey % 3))), ',')
           AS dedup,
       array_to_string(list_value(o_orderkey % 2, o_orderkey % 3, 7),
                       ',') AS flat,
       '2,3' AS ixn
FROM orders WHERE o_orderkey < 500
""")

    # Linear-regression aggregates + bitwise aggregates + count_if —
    # single hash aggregate, partial+final (map-side combine carries six
    # regr moments per group, not rows).
    _rx, _ry = col("l_quantity"), col("l_extendedprice")
    _bits = (col("l_orderkey") % lit(256)).cast("int")
    w["agg_regr_bitwise"] = planned(
        scan("lineitem")
        .group_by(col("l_returnflag"))
        .agg(
            agg("count_if", col("l_discount") > lit(0.05))
            .cast("bigint").alias("n_disc"),
            fn("round", agg("regr_slope", _ry, _rx), lit(4)).alias("slope"),
            fn("round", agg("regr_intercept", _ry, _rx), lit(4)).alias("icept"),
            fn("round", agg("regr_r2", _ry, _rx), lit(6)).alias("r2"),
            agg("regr_count", _ry, _rx).cast("bigint").alias("n"),
            fn("round", agg("regr_avgx", _ry, _rx), lit(4)).alias("avg_x"),
            fn("round", agg("regr_avgy", _ry, _rx), lit(4)).alias("avg_y"),
            agg("bit_and", _bits).cast("bigint").alias("k_and"),
            agg("bit_or", _bits).cast("bigint").alias("k_or"),
            agg("bit_xor", _bits).cast("bigint").alias("k_xor"),
        )
        .sort(col("l_returnflag")),
        headline=True,
        # regression family recomputed from raw power sums (a third
        # algorithm vs Spark's and DuckDB's native covariance updates), bit
        # ops unchanged
        oracle="""
WITH sums AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_disc,
           sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
           sum(l_quantity * l_quantity) AS sxx,
           sum(l_extendedprice * l_extendedprice) AS syy,
           sum(l_quantity * l_extendedprice) AS sxy,
           CAST(bit_and(CAST(l_orderkey % 256 AS INT)) AS BIGINT) AS k_and,
           CAST(bit_or(CAST(l_orderkey % 256 AS INT)) AS BIGINT) AS k_or,
           CAST(bit_xor(CAST(l_orderkey % 256 AS INT)) AS BIGINT) AS k_xor
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    GROUP BY l_returnflag
)
SELECT l_returnflag, n_disc,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
       round(sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n), 4)
           AS icept,
       round(power(n * sxy - sx * sy, 2)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
       n AS n,
       round(sx / n, 4) AS avg_x,
       round(sy / n, 4) AS avg_y,
       k_and, k_or, k_xor
FROM sums
ORDER BY l_returnflag ASC
""")

    # mode() (global — the corpus-dominant language is unambiguous at
    # every SF; per-group mode risks engine-divergent tie-breaks) and
    # ordered string_agg (listagg WITHIN GROUP <-> string_agg ORDER BY);
    # the unique order key makes the concatenation deterministic.
    w["agg_mode_global"] = planned(
        scan("documents")
        .group_by()
        .agg(
            agg("mode", col("lang")).alias("top_lang"),
            agg("count_if", col("n_chars") > lit(1000))
            .cast("bigint").alias("n_long"),
            agg("count").alias("n_docs"),
        ),
        # mode as an explicit count ranking (exact when the mode is unique,
        # which the driver data guarantees; ties would be engine-defined)
        oracle="""
WITH counts AS (
    SELECT lang, count(*) AS c FROM documents GROUP BY lang
),
top AS (
    SELECT lang FROM counts ORDER BY c DESC, lang ASC LIMIT 1
)
SELECT (SELECT lang FROM top) AS top_lang,
       CAST(sum(CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_long,
       count(*) AS n_docs
FROM documents
""")
    w["agg_string_agg"] = planned(
        scan("customer")
        .filter(col("c_custkey") < 150)
        .group_by(col("c_nationkey"))
        .agg(
            agg("string_agg", col("c_name"), lit(","), col("c_custkey"))
            .alias("names"),
            agg("count").alias("n"),
        ),
        # ordered string_agg as list(... ORDER BY) + array_to_string
        oracle="""
SELECT c_nationkey,
       array_to_string(list(c_name ORDER BY c_custkey), ',') AS names,
       count(*) AS n
FROM customer WHERE c_custkey < 150
GROUP BY c_nationkey
""")

    # JSON path extraction over the events payload column — semi-structured
    # access is table stakes for event pipelines; NULL (not error) on
    # missing path in both engines
    w["expr_json_extract"] = planned(
        scan("events")
        .filter(col("event_id") < 2000)
        .select(
            col("event_id"),
            col("event_type"),
            fn("get_json_object", col("props"), lit("$.k"))
            .cast("bigint")
            .alias("k_val"),
            fn("get_json_object", col("props"), lit("$.missing")).alias("absent"),
        ),
        # JSON path access through DuckDB's arrow operator instead of the
        # registry's get_json_object mapping; missing key -> NULL not error
        oracle="""
SELECT event_id, event_type,
       CAST(props->>'$.k' AS BIGINT) AS k_val,
       props->>'$.missing' AS absent
FROM events WHERE event_id < 2000
""")

    # --- aggregates (§2.1 Aggregate + grouping sets) ---

    # TPC-H Q1 (pricing summary) — the canonical agg benchmark shape
    w["agg_tpch_q1"] = planned(
        scan("lineitem")
        .filter(col("l_shipdate") <= fn("to_timestamp", lit("2024-11-01 00:00:00")))
        .group_by(col("l_returnflag"), col("l_linestatus"))
        .agg(
            _money_out(agg("sum", _money(col("l_quantity")))).alias("sum_qty"),
            _money_out(agg("sum", _money(col("l_extendedprice")))).alias("sum_base_price"),
            _money_out(
               agg("sum", _money(col("l_extendedprice")) * (lit(1) - _money(col("l_discount"))))
               ).alias("sum_disc_price"),
            _money_out(
               agg("sum", _money(col("l_extendedprice")) * (lit(1) - _money(col("l_discount")))
                   * (lit(1) + _money(col("l_tax"))))
               ).alias("sum_charge"),
            fn("round", agg("avg", col("l_quantity")), lit(4)).alias("avg_qty"),
            fn("round", agg("avg", col("l_discount")), lit(4)).alias("avg_disc"),
            agg("count").alias("count_order"),
        )
        .sort(col("l_returnflag").asc(), col("l_linestatus").asc()),
        headline=True,
        # TPC-H Q1 via correlated scalar subqueries per distinct group —
        # the oracle never runs a GROUP BY over the measures at all
        oracle="""
WITH g AS (
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
)
SELECT l_returnflag, l_linestatus,
  (SELECT CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS sum_qty,
  (SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS sum_base_price,
  (SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS sum_disc_price,
  (SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4)))
                         * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS sum_charge,
  (SELECT round(avg(l_quantity), 4)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS avg_qty,
  (SELECT round(avg(l_discount), 4)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS avg_disc,
  (SELECT count(*)
   FROM lineitem li WHERE li.l_returnflag = g.l_returnflag
     AND li.l_linestatus = g.l_linestatus
     AND li.l_shipdate <= TIMESTAMP '2024-11-01 00:00:00') AS count_order
FROM g
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
""")

    w["agg_distinct"] = planned(
        scan("orders")
        .group_by(col("o_orderstatus"))
        .agg(
            agg("count", col("o_custkey"), distinct=True).alias("n_cust"),
            agg("count").alias("n_orders"),
        ),
        # distinct counts from a pre-deduplicated subquery join instead of
        # count(DISTINCT) inside the aggregate
        oracle="""
WITH d AS (
    SELECT o_orderstatus, count(*) AS n_cust
    FROM (SELECT DISTINCT o_orderstatus, o_custkey FROM orders)
    GROUP BY o_orderstatus
),
t AS (
    SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY 1
)
SELECT o_orderstatus, d.n_cust, t.n_orders
FROM d JOIN t USING (o_orderstatus)
""")

    w["agg_rollup"] = planned(
        scan("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(agg("count").alias("cnt"),
             _money_out(agg("sum", _money(col("l_quantity")))).alias("sum_qty")),
        headline=True,
        # rollup = explicit union of the three grouping levels
        oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
UNION ALL
SELECT l_returnflag, CAST(NULL AS VARCHAR), count(*),
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), count(*),
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
FROM lineitem
""")

    w["agg_cube"] = planned(
        scan("orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(agg("count").alias("cnt")),
        # cube = union of all four grouping levels
        oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
FROM orders GROUP BY o_orderstatus, o_orderpriority
UNION ALL
SELECT o_orderstatus, CAST(NULL AS VARCHAR), count(*)
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT CAST(NULL AS VARCHAR), o_orderpriority, count(*)
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), count(*)
FROM orders
""")

    # GROUPING() disambiguates "NULL because subtotal" from "NULL in data"
    w["agg_rollup_grouping"] = planned(
        scan("lineitem")
        .rollup(col("l_returnflag"))
        .agg(
            fn("grouping", col("l_returnflag")).cast("int").alias("is_total"),
            agg("count").alias("cnt"),
        ),
        # rollup + GROUPING() as the explicit two-level union
        oracle="""
SELECT l_returnflag, 0 AS is_total, count(*) AS cnt
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT CAST(NULL AS VARCHAR), 1, count(*) FROM lineitem
""")

    w["agg_grouping_sets"] = planned(
        scan("orders")
        .grouping_sets(
            [[col("o_orderstatus"), col("o_orderpriority")], [col("o_orderstatus")], []],
            col("o_orderstatus"), col("o_orderpriority"),
        )
        .agg(agg("count").alias("cnt")),
        # grouping sets = explicit union of exactly the requested sets
        oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
FROM orders GROUP BY o_orderstatus, o_orderpriority
UNION ALL
SELECT o_orderstatus, CAST(NULL AS VARCHAR), count(*)
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), count(*)
FROM orders
""")

    w["agg_stats"] = planned(
        scan("lineitem")
        .group_by(col("l_returnflag"))
        .agg(
            fn("round", agg("stddev_samp", col("l_quantity")), lit(4)).alias("sd_qty"),
            fn("round", agg("var_samp", col("l_discount")), lit(6)).alias("var_disc"),
            fn("round", agg("corr", col("l_quantity"), col("l_extendedprice")), lit(4))
            .alias("corr_qty_price"),
            agg("min", col("l_shipdate")).alias("first_ship"),
            agg("max", col("l_shipdate")).alias("last_ship"),
        ),
        # sample stats from raw power sums (third algorithm vs both
        # engines' native streaming-update implementations)
        oracle="""
WITH sums AS (
    SELECT l_returnflag,
           count(*) AS n,
           sum(l_quantity) AS sq, sum(l_quantity * l_quantity) AS sqq,
           sum(l_discount) AS sd, sum(l_discount * l_discount) AS sdd,
           sum(l_extendedprice) AS sp,
           sum(l_extendedprice * l_extendedprice) AS spp,
           sum(l_quantity * l_extendedprice) AS sqp,
           min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round(sqrt((sqq - sq * sq / n) / (n - 1)), 4) AS sd_qty,
       round((sdd - sd * sd / n) / (n - 1), 6) AS var_disc,
       round((n * sqp - sq * sp)
             / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 4)
           AS corr_qty_price,
       first_ship, last_ship
FROM sums
""")

    w["agg_percentiles"] = planned(
        scan("lineitem")
        .group_by(col("l_returnflag"))
        .agg(
            fn("round", agg("percentile_cont", col("l_quantity"), lit(0.5)), lit(4))
            .alias("p50_qty"),
            fn("round", agg("percentile_cont", col("l_extendedprice"), lit(0.95)), lit(4)).alias("p95_price"),
            fn("round", agg("median", col("l_discount")), lit(4)).alias("med_disc"),
        ),
        headline=True,
        # interpolated percentiles derived from row_number arithmetic
        # (h = 1 + (n-1)p; value = lo + frac * (hi - lo)), not the native
        # quantile_cont the plan's DuckDB render uses
        oracle="""
WITH q AS (
    SELECT l_returnflag, l_quantity AS v,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS r,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
p AS (
    SELECT l_returnflag, l_extendedprice AS v,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS r,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
d AS (
    SELECT l_returnflag, l_discount AS v,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_discount) AS r,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
qq AS (
    SELECT l_returnflag,
           round(max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END)
                 + ((n - 1) * 0.5 - floor((n - 1) * 0.5))
                   * (coalesce(max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 2 THEN v END),
                               max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END))
                      - max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END)), 4)
               AS p50_qty
    FROM q GROUP BY l_returnflag, n
),
pp AS (
    SELECT l_returnflag,
           round(max(CASE WHEN r = CAST(floor((n - 1) * 0.95) AS BIGINT) + 1 THEN v END)
                 + ((n - 1) * 0.95 - floor((n - 1) * 0.95))
                   * (coalesce(max(CASE WHEN r = CAST(floor((n - 1) * 0.95) AS BIGINT) + 2 THEN v END),
                               max(CASE WHEN r = CAST(floor((n - 1) * 0.95) AS BIGINT) + 1 THEN v END))
                      - max(CASE WHEN r = CAST(floor((n - 1) * 0.95) AS BIGINT) + 1 THEN v END)), 4)
               AS p95_price
    FROM p GROUP BY l_returnflag, n
),
dd AS (
    SELECT l_returnflag,
           round(max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END)
                 + ((n - 1) * 0.5 - floor((n - 1) * 0.5))
                   * (coalesce(max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 2 THEN v END),
                               max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END))
                      - max(CASE WHEN r = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN v END)), 4)
               AS med_disc
    FROM d GROUP BY l_returnflag, n
)
SELECT l_returnflag, qq.p50_qty, pp.p95_price, dd.med_disc
FROM qq JOIN pp USING (l_returnflag) JOIN dd USING (l_returnflag)
""")

    # deterministic array agg: collect_list wrapped in sort_array, joined
    # to a string so the driver's value hash is structure-free
    w["agg_collect"] = planned(
        scan("orders")
        .filter(col("o_custkey") < 30)
        .group_by(col("o_custkey"))
        .agg(
            fn("array_join",
               fn("sort_array", agg("collect_list", col("o_orderkey"))),
               lit(",")).alias("order_keys"),
            agg("count").alias("n"),
        ),
        # ordered collect via string_agg instead of sort_array(collect_list)
        oracle="""
SELECT o_custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
           AS order_keys,
       count(*) AS n
FROM orders WHERE o_custkey < 30
GROUP BY o_custkey
""")

    w["agg_having"] = planned(
        scan("orders")
        .group_by(col("o_custkey"))
        .agg(agg("count").alias("n"),
             _money_out(agg("sum", _money(col("o_totalprice")))).alias("spend"))
        .filter(col("n") > 12),
        # HAVING as WHERE over the aggregated subquery
        oracle="""
SELECT o_custkey, n, spend FROM (
    SELECT o_custkey, count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS spend
    FROM orders GROUP BY o_custkey
) WHERE n > 12
""")

    # --- joins (§2.1 Join row, all modes) ---

    w["join_broadcast_dims"] = planned(
        scan("customer")
        .join(scan("orders"), on=col("c_custkey") == col("o_custkey"))
        .join(scan("nation"), on=col("c_nationkey") == col("n_nationkey"), broadcast=True)
        .join(scan("region"), on=col("n_regionkey") == col("r_regionkey"), broadcast=True)
        .group_by(col("r_name"), col("n_name"))
        .agg(
            _money_out(agg("sum", _money(col("o_totalprice")))).alias("revenue"),
            agg("count").alias("n_orders"),
        ),
        headline=True,
        # dimension rollup with the order aggregation PUSHED BELOW the
        # dimension joins (partial-aggregate reassociation is exact
        # because the money sums stay DECIMAL until the final round)
        oracle="""
WITH po AS (
    SELECT o_custkey,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
           count(*) AS n
    FROM orders GROUP BY o_custkey
)
SELECT r_name, n_name,
       CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
       CAST(sum(n) AS BIGINT) AS n_orders
FROM po
JOIN customer ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""")

    w["join_left"] = planned(
        scan("nation")
        .join(scan("supplier"), on=col("n_nationkey") == col("s_nationkey"), how="left")
        .group_by(col("n_name"))
        .agg(agg("count", col("s_suppkey")).alias("n_suppliers")),
        # left outer as matched counts UNION zero rows for unmatched keys
        oracle="""
SELECT n_name, CAST(coalesce(m.c, 0) AS BIGINT) AS n_suppliers
FROM nation
LEFT JOIN (SELECT s_nationkey, count(*) AS c FROM supplier GROUP BY 1) m
       ON m.s_nationkey = n_nationkey
""")

    w["join_right"] = planned(
        scan("supplier")
        .join(scan("nation"), on=col("s_nationkey") == col("n_nationkey"), how="right")
        .group_by(col("n_name"))
        .agg(agg("count", col("s_suppkey")).alias("n_suppliers")),
        # right outer == the same aggregate keyed from the preserved side
        oracle="""
SELECT n_name, CAST(coalesce(m.c, 0) AS BIGINT) AS n_suppliers
FROM nation
LEFT JOIN (SELECT s_nationkey, count(*) AS c FROM supplier GROUP BY 1) m
       ON m.s_nationkey = n_nationkey
""")

    w["join_semi"] = planned(
        scan("customer")
        .join(scan("orders"), on=col("c_custkey") == col("o_custkey"), how="left_semi")
        .select(col("c_custkey"), col("c_name")),
        headline=True,
        # semi join as EXISTS (the decorrelated twin of the join-operator form)
        oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")

    # anti against a FILTERED right side: every customer has *some*
    # order at every sf, which made the original anti-join return 0 rows
    # — a trivially-matching correctness row. Customers with no URGENT
    # order is non-empty and actually discriminates.
    w["join_anti"] = planned(
        scan("customer")
        .join(
            scan("orders").filter(col("o_orderpriority") == lit("1-URGENT")),
            on=col("c_custkey") == col("o_custkey"),
            how="left_anti",
        )
        .select(col("c_custkey"), col("c_name")),
        # anti join as NOT EXISTS against the filtered right side
        oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
""")

    w["join_full_outer"] = planned(
        scan("customer").filter(col("c_custkey") < 50).alias("c")
        .join(
            scan("orders").filter(col("o_custkey") > 30).alias("o"),
            on=col("c_custkey") == col("o_custkey"),
            how="full",
        )
        .select(col("c_custkey"), col("o_orderkey")),
        # FULL OUTER as inner + left-only + right-only union
        oracle="""
WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey < 50),
o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey > 30)
SELECT c.c_custkey, o.o_orderkey FROM c JOIN o ON c.c_custkey = o.o_custkey
UNION ALL
SELECT c.c_custkey, NULL FROM c
WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT NULL, o.o_orderkey FROM o
WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.c_custkey = o.o_custkey)
""")

    w["join_cross_small"] = planned(
        scan("region")
        .join(scan("nation").filter(col("n_nationkey") < 3), how="cross")
        .select(col("r_name"), col("n_name")),
        # CROSS JOIN as an inner join whose condition touches one side
        oracle="""
SELECT r_name, n_name
FROM region JOIN nation ON n_nationkey < 3
""",
        bnlj_bounded=(
            "explicit CROSS JOIN of region (5 rows, fixed TPC-H dimension) x "
            "nation filtered to n_nationkey < 3 (3 rows) — bounded by "
            "construction; the catalog's intentional cross-join coverage row"
        ),
    )

    w["join_nonequi_range"] = planned(
        scan("lineitem")
        .join(
            scan("part"),
            on=(col("l_partkey") == col("p_partkey"))
            & (col("l_extendedprice") > col("p_retailprice") * 20),
            broadcast=True,
        )
        .select(col("l_orderkey"), col("l_partkey"),
                fn("round", col("l_extendedprice"), lit(2)).alias("price")),
        # range join spelled as join + WHERE, broadcast-free formulation
        oracle="""
SELECT l.l_orderkey, l.l_partkey, round(l.l_extendedprice, 2) AS price
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_extendedprice > p.p_retailprice * 20
""")

    # TPC-H Q5-ish: local supplier volume (6-way join)
    w["join_tpch_q5ish"] = planned(
        scan("customer")
        .join(scan("orders"), on=col("c_custkey") == col("o_custkey"))
        .join(scan("lineitem"), on=col("o_orderkey") == col("l_orderkey"))
        .join(scan("supplier"),
              on=(col("l_suppkey") == col("s_suppkey"))
              & (col("c_nationkey") == col("s_nationkey")))
        .join(scan("nation"), on=col("s_nationkey") == col("n_nationkey"), broadcast=True)
        .group_by(col("n_name"))
        .agg(
            _money_out(
               agg("sum", _money(col("l_extendedprice")) * (lit(1) - _money(col("l_discount"))))
               ).alias("revenue"),
        ),
        headline=True,
        # revenue pushed below the joins as a per-(order, supplier)
        # DECIMAL partial aggregate — exact, so the reassociated total
        # must match the flat join-then-aggregate to the last cent
        oracle="""
WITH li AS (
    SELECT l_orderkey, l_suppkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev
    FROM lineitem GROUP BY 1, 2
)
SELECT n_name, CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
FROM li
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""")

    # --- set ops ---
    cust_nk = scan("customer").select(col("c_nationkey").cast("int").alias("nk"))
    supp_nk = scan("supplier").select(col("s_nationkey").cast("int").alias("nk"))
    w["setop_union_all"] = planned(
        SetOp(cust_nk, supp_nk, "union_all"),
        headline=True,
        # UNION ALL as bag arithmetic: per-key multiplicities from a FULL
        # OUTER join of per-table counts, rows regenerated by unnest(range)
        oracle="""
WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n FROM customer GROUP BY 1),
ss AS (SELECT s_nationkey AS nk, count(*) AS n FROM supplier GROUP BY 1),
m AS (
    SELECT coalesce(cc.nk, ss.nk) AS nk,
           coalesce(cc.n, 0) + coalesce(ss.n, 0) AS n
    FROM cc FULL JOIN ss ON cc.nk = ss.nk
)
SELECT CAST(nk AS INTEGER) AS nk
FROM (SELECT nk, unnest(range(n)) FROM m)
""")
    w["setop_union"] = planned(
        SetOp(cust_nk, supp_nk, "union"),
        # UNION distinct via GROUP BY over the bag union
        oracle="""
SELECT nk FROM (
    SELECT CAST(c_nationkey AS INT) AS nk FROM customer
    UNION ALL
    SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
) GROUP BY nk
""")
    w["setop_intersect"] = planned(
        SetOp(cust_nk.distinct(), supp_nk.distinct(), "intersect"),
        # INTERSECT as EXISTS + GROUP BY (no set operator)
        oracle="""
SELECT CAST(c_nationkey AS INTEGER) AS nk
FROM customer c
WHERE EXISTS (SELECT 1 FROM supplier s
              WHERE s.s_nationkey = c.c_nationkey)
GROUP BY 1
""")
    # EXCEPT against a filtered right side: suppliers cover all 25
    # nations at every sf, so the original distinct-except returned 0
    # rows — trivially matching. Nations with no negative-balance
    # supplier is non-empty and discriminating.
    supp_nk_neg = (
        scan("supplier")
        .filter(col("s_acctbal") < lit(0))
        .select(col("s_nationkey").cast("int").alias("nk"))
    )
    w["setop_except"] = planned(
        SetOp(cust_nk.distinct(), supp_nk_neg.distinct(), "except"),
        # EXCEPT as NOT EXISTS + GROUP BY (no set operator)
        oracle="""
SELECT CAST(c_nationkey AS INTEGER) AS nk
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_nationkey = c.c_nationkey
                    AND s.s_acctbal < 0)
GROUP BY 1
""")
    # bag semantics: multiplicity-aware intersect/except.  EXCEPT ALL
    # keeps left multiplicities beyond the right's — customers outnumber
    # suppliers ~15x per nation AT EVERY SCALE FACTOR (both tables scale
    # together), so the uncapped customer bag minus the supplier bag is
    # non-empty and multiplicity-sensitive at any sf.  (Round-6 history:
    # the original supplier-minus-customer direction was always empty,
    # and a first fix capping customers at c_custkey <= 400 was again
    # empty at sf >= ~0.04 where suppliers outnumber the capped slice.)
    w["setop_intersect_all"] = planned(
        SetOp(cust_nk, supp_nk, "intersect_all"),
        # INTERSECT ALL as multiplicity arithmetic: least(cn, sn) repeats
        oracle="""
WITH c AS (SELECT CAST(c_nationkey AS INT) AS nk, count(*) AS cn
           FROM customer GROUP BY 1),
s AS (SELECT CAST(s_nationkey AS INT) AS nk, count(*) AS sn
      FROM supplier GROUP BY 1),
reps AS (
    SELECT c.nk, least(c.cn, s.sn) AS r FROM c JOIN s USING (nk)
)
SELECT nk FROM (SELECT nk, unnest(range(r)) AS i FROM reps)
""")
    w["setop_except_all"] = planned(
        SetOp(cust_nk, supp_nk, "except_all"),
        # EXCEPT ALL as multiplicity arithmetic: per-key counts, left minus
        # right, each surviving key repeated (cn - sn) times
        oracle="""
WITH c AS (SELECT CAST(c_nationkey AS INT) AS nk, count(*) AS cn
           FROM customer GROUP BY 1),
s AS (SELECT CAST(s_nationkey AS INT) AS nk, count(*) AS sn
      FROM supplier GROUP BY 1),
reps AS (
    SELECT c.nk, c.cn - coalesce(s.sn, 0) AS r
    FROM c LEFT JOIN s USING (nk)
    WHERE c.cn - coalesce(s.sn, 0) > 0
)
SELECT nk FROM (SELECT nk, unnest(range(r)) AS i FROM reps)
""")

    # --- CTE + subqueries ---
    rev = (
        scan("orders")
        .group_by(col("o_custkey"))
        .agg(_money_out(agg("sum", _money(col("o_totalprice")))).alias("total"))
    )
    w["cte_top_customers"] = planned(
        With(
            (("cust_rev", rev),),
            scan("cust_rev")
            .filter(col("total") > 200000)
            .select(col("o_custkey"), col("total")),
        ),
        # CTE + filter = plain GROUP BY ... HAVING
        oracle="""
SELECT o_custkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS total
FROM orders GROUP BY o_custkey
HAVING CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
       > 200000
""")

    w["subq_scalar_avg"] = planned(
        scan("orders")
        .filter(
            col("o_totalprice")
            > ScalarSubquery(
                scan("orders").group_by().agg(agg("avg", col("o_totalprice")).alias("a"))
            )
        )
        .select(col("o_orderkey"), _money_out(_money(col("o_totalprice"))).alias("price")),
        # scalar-avg filter = cross-joined 1-row aggregate
        oracle="""
SELECT o.o_orderkey,
       CAST(round(CAST(o.o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
           AS price
FROM orders o, (SELECT avg(o_totalprice) AS a FROM orders) t
WHERE o.o_totalprice > t.a
""")

    w["subq_in"] = planned(
        scan("customer")
        .filter(
            InSubquery(
                col("c_custkey"),
                scan("orders")
                .filter(col("o_totalprice") > 400000)
                .select(col("o_custkey")),
            )
        )
        .select(col("c_custkey"), col("c_mktsegment")),
        # IN-subquery = correlated EXISTS
        oracle="""
SELECT c.c_custkey, c.c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 400000)
""")

    w["subq_exists"] = planned(
        scan("customer")
        .filter(
            Exists(
                scan("orders")
                .filter((col("o_custkey") == col("c_custkey")) & (col("o_totalprice") > 300000))
                .select(lit(1))
            )
        )
        .select(col("c_custkey"), col("c_name")),
        # EXISTS = key-set membership
        oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
""")

    # --- windows ---
    w["win_rank_topn"] = planned(
        scan("orders")
        .select(
            col("o_orderkey"),
            col("o_custkey"),
            _money_out(_money(col("o_totalprice"))).alias("price"),
            fn("row_number")
            .over(
                partition_by=[col("o_custkey")],
                order_by=[col("o_totalprice").desc(), col("o_orderkey").asc()],
            )
            .alias("rn"),
            fn("rank")
            .over(
                partition_by=[col("o_custkey")],
                order_by=[col("o_orderstatus").asc()],
            )
            .alias("status_rank"),
        )
        .filter(col("rn") <= 3),
        headline=True,
        # row_number/rank = correlated order-statistic counts
        oracle="""
SELECT * FROM (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(round(CAST(o.o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price,
         (SELECT count(*) FROM orders o2
           WHERE o2.o_custkey = o.o_custkey
             AND (o2.o_totalprice > o.o_totalprice
                  OR (o2.o_totalprice = o.o_totalprice
                      AND o2.o_orderkey <= o.o_orderkey))) AS rn,
         (SELECT 1 + count(*) FROM orders o3
           WHERE o3.o_custkey = o.o_custkey
             AND o3.o_orderstatus < o.o_orderstatus) AS status_rank
  FROM orders o
) t WHERE rn <= 3
""")

    w["win_running_sum"] = planned(
        scan("events").select(
            col("event_id"),
            col("user_id"),
            fn("round",
               agg("sum", col("value")).over(
                   partition_by=[col("user_id")],
                   order_by=[col("ts").asc(), col("event_id").asc()],
                   rows_between=("unbounded", 0),
               ), lit(2)).alias("running_value"),
        ),
        headline=True,
        # hand-typed named-WINDOW forms (same frame semantics, authored
        # independently of the renderer's OVER emission; frame addition
        # order is preserved so float running sums stay bit-comparable)
        oracle="""
SELECT event_id, user_id,
       round(sum(value) OVER w, 2) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
             ROWS UNBOUNDED PRECEDING)
""")

    w["win_lag_lead"] = planned(
        scan("events").select(
            col("event_id"),
            col("user_id"),
            fn("round",
               (col("value") - fn("lag", col("value"), lit(1)).over(
                   partition_by=[col("user_id")],
                   order_by=[col("ts").asc(), col("event_id").asc()],
               )), lit(2)).alias("delta_prev"),
            fn("lead", col("event_type"), lit(1)).over(
                partition_by=[col("user_id")],
                order_by=[col("ts").asc(), col("event_id").asc()],
            ).alias("next_type"),
        ),
        oracle="""
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 2) AS delta_prev,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
""")

    w["win_first_last"] = planned(
        scan("events").select(
            col("event_id"),
            col("user_id"),
            fn("first_value", col("event_type"))
            .over(
                partition_by=[col("user_id")],
                order_by=[col("ts").asc(), col("event_id").asc()],
                rows_between=("unbounded", "unbounded"),
            )
            .alias("first_type"),
            fn("last_value", col("event_type"))
            .over(
                partition_by=[col("user_id")],
                order_by=[col("ts").asc(), col("event_id").asc()],
                rows_between=("unbounded", "unbounded"),
            )
            .alias("last_type"),
        ),
        # first/last over the full frame as joins against per-user extreme
        # rows (row_number ranking both directions), no window navigation fns
        oracle="""
WITH r AS (
    SELECT event_id, user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS rf,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rl
    FROM events
),
f AS (SELECT user_id, event_type AS first_type FROM r WHERE rf = 1),
l AS (SELECT user_id, event_type AS last_type FROM r WHERE rl = 1)
SELECT e.event_id, e.user_id, f.first_type, l.last_type
FROM events e JOIN f USING (user_id) JOIN l USING (user_id)
""")

    # IGNORE NULLS navigation: LOCF of the last click value per user —
    # Spark renders `last_value(x) IGNORE NULLS OVER`, DuckDB
    # `last_value(x IGNORE NULLS) OVER`; the Column path maps to
    # F.last(ignorenulls=True)
    w["win_ignore_nulls_locf"] = planned(
        scan("events")
        .filter(col("event_id") < 5000)
        .select(
            col("event_id"),
            col("user_id"),
            fn("round",
               Func("last_value",
                    (when(col("event_type") == "click", col("value")),),
                    ignore_nulls=True)
               .over(
                   partition_by=[col("user_id")],
                   order_by=[col("ts").asc(), col("event_id").asc()],
                   rows_between=("unbounded", 0),
               ),
               lit(4)).alias("last_click_value"),
        ),
        # LOCF without IGNORE NULLS: segment ids from a running count of
        # non-null clicks, then the segment's single non-null via max()
        oracle="""
WITH e AS (
    SELECT event_id, user_id, ts,
           CASE WHEN event_type = 'click' THEN value END AS cv
    FROM events WHERE event_id < 5000
),
g AS (
    SELECT event_id, user_id, cv,
           count(cv) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
    FROM e
)
SELECT event_id, user_id,
       round(max(cv) OVER (PARTITION BY user_id, grp), 4)
           AS last_click_value
FROM g
""")

    # RANGE frame: value-based window over a numeric ordering key
    w["win_range_frame"] = planned(
        scan("orders")
        .filter(col("o_custkey") < 50)
        .select(
            col("o_orderkey"),
            col("o_custkey"),
            fn("round",
               agg("sum", _money(col("o_totalprice"))).over(
                   partition_by=[col("o_custkey")],
                   order_by=[col("o_orderkey").asc()],
                   range_between=(-1000, 0),
               ).cast("double"), lit(2)).alias("near_sum"),
            fn("nth_value", col("o_orderstatus"), lit(2)).over(
                partition_by=[col("o_custkey")],
                order_by=[col("o_orderkey").asc()],
                rows_between=("unbounded", "unbounded"),
            ).alias("second_status"),
        ),
        # RANGE frame + nth_value = correlated aggregates / ordered OFFSET
        oracle="""
SELECT o.o_orderkey, o.o_custkey,
       round(CAST((SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,4)))
                     FROM orders o2
                    WHERE o2.o_custkey = o.o_custkey
                      AND o2.o_orderkey BETWEEN o.o_orderkey - 1000
                                            AND o.o_orderkey) AS DOUBLE),
             2) AS near_sum,
       (SELECT o3.o_orderstatus FROM orders o3
         WHERE o3.o_custkey = o.o_custkey
         ORDER BY o3.o_orderkey LIMIT 1 OFFSET 1) AS second_status
FROM orders o WHERE o.o_custkey < 50
""")

    # the remaining ranking/analytic family over one partition spec
    w["win_analytic_suite"] = planned(
        scan("orders")
        .filter(col("o_custkey") < 100)
        .select(
            col("o_orderkey"),
            col("o_custkey"),
            fn("dense_rank")
            .over(
                partition_by=[col("o_custkey")],
                order_by=[col("o_totalprice").desc(), col("o_orderkey").asc()],
            )
            .alias("drnk"),
            fn("ntile", lit(4))
            .over(
                partition_by=[col("o_custkey")],
                order_by=[col("o_totalprice").desc(), col("o_orderkey").asc()],
            )
            .cast("bigint")
            .alias("quartile"),
            fn("round",
               fn("percent_rank").over(
                   partition_by=[col("o_custkey")],
                   order_by=[col("o_totalprice").desc(), col("o_orderkey").asc()],
               ), lit(6)).alias("pct_rank"),
            fn("round",
               fn("cume_dist").over(
                   partition_by=[col("o_custkey")],
                   order_by=[col("o_totalprice").desc(), col("o_orderkey").asc()],
               ), lit(6)).alias("cdist"),
        ),
        # ranking family recomputed from row_number + group-size arithmetic
        # (exact because the ordering is a total order: no ties); ntile uses
        # the SQL big-tiles-first rule explicitly
        oracle="""
WITH r AS (
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders WHERE o_custkey < 100
)
SELECT o_orderkey, o_custkey,
       CAST(rn AS BIGINT) AS drnk,
       CAST(CASE
           WHEN rn <= (n % 4) * (n // 4 + 1)
               THEN (rn - 1) // (n // 4 + 1) + 1
           ELSE (n % 4) + ((rn - 1) - (n % 4) * (n // 4 + 1)) // (n // 4) + 1
       END AS BIGINT) AS quartile,
       round(CAST(rn - 1 AS DOUBLE) / (n - 1), 6) AS pct_rank,
       round(CAST(rn AS DOUBLE) / n, 6) AS cdist
FROM r
""")

    w["win_moving_avg"] = planned(
        scan("events").select(
            col("event_id"),
            fn("round",
               agg("avg", col("value")).over(
                   partition_by=[col("user_id")],
                   order_by=[col("ts").asc(), col("event_id").asc()],
                   rows_between=(-3, 0),
               ), lit(4)).alias("avg_4"),
        ),
        # moving average from ordered per-user arrays and list slices, not a
        # window frame
        oracle="""
WITH u AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS vs,
           list(event_id ORDER BY ts, event_id) AS ids
    FROM events GROUP BY user_id
),
x AS (
    SELECT unnest(ids) AS event_id,
           unnest(vs) AS v,
           generate_subscripts(ids, 1) AS i,
           vs
    FROM u
)
SELECT event_id,
       round(list_aggregate(vs[CASE WHEN i > 3 THEN i - 3 ELSE 1 END : i],
                            'avg'), 4) AS avg_4
FROM x
""")

    # time-based sliding window: RANGE over an INTERVAL — the value-based
    # frame is tie-safe (all rows in the trailing hour, however many),
    # where a ROWS frame would be under-determined on equal timestamps.
    # Round 4: interval FrameBound in the IR + parser; no Column-API form
    # exists (rangeBetween takes longs), so to_df goes through the
    # generated SQL — same Catalyst plan either way.
    from datafusion_sqlgen_spark.expressions.core import FrameBound

    # exact arithmetic inside the frame: double avg is summation-order-
    # sensitive and round(sum/n) can land on a cross-engine half-way case
    # (observed at sf0.01) — round the exact DECIMAL sum instead, the
    # catalog's established deterministic-aggregate pattern
    _w1h = dict(
        partition_by=[col("event_type")],
        order_by=[col("ts").asc()],
        range_between=(FrameBound(Interval(1, "HOUR")), 0),
    )
    w["ts_sliding_1h_stats"] = planned(
        scan("events").select(
            col("event_id"),
            col("event_type"),
            fn("round", agg("sum", col("value").cast("decimal(18,6)")).over(**_w1h),
               lit(2)).cast("double").alias("sum_1h"),
            agg("count").over(**_w1h).alias("n_1h"),
        ),
        # RANGE interval frame as an explicit self-join window (decimal
        # sums are exact, so join order is irrelevant)
        oracle="""
SELECT a.event_id, a.event_type,
       CAST(round(sum(CAST(b.value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_1h,
       count(*) AS n_1h
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts
GROUP BY a.event_id, a.event_type
""")

    # --- time-series rollup on the events table (streaming-shape, batch) ---
    w["events_hourly_rollup"] = planned(
        scan("events")
        .group_by(
            fn("date_trunc", lit("hour"), col("ts")).alias("hour"),
            col("event_type"),
        )
        .agg(
            agg("count").alias("n"),
            fn("round", agg("sum", col("value")), lit(2)).alias("sum_value"),
        ),
        headline=True,
        # hour bucket from integer epoch arithmetic instead of date_trunc
        oracle="""
SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600)
            AS TIMESTAMP) AS hour,
       event_type,
       CAST(sum(1) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
        max_exchanges=1,
    )

    w["events_sessionize_gap"] = planned(
        # session boundaries: gap > 30 min per user (classic sessionization
        # via window lag + cumulative sum of boundary flags)
        scan("events")
        .select(
            col("event_id"),
            col("user_id"),
            when(
                (fn("unix_timestamp", col("ts"))
                 - fn("unix_timestamp",
                      fn("lag", col("ts"), lit(1)).over(
                          partition_by=[col("user_id")],
                          order_by=[col("ts").asc(), col("event_id").asc()],
                      ))) > 1800,
                1,
            ).otherwise(0).alias("new_session"),
        ),
        # previous-event timestamp via a correlated tuple-ordered LIMIT 1
        # subquery instead of lag()
        oracle="""
SELECT event_id, user_id,
       CASE WHEN epoch(ts) - epoch(
                (SELECT e2.ts FROM events e2
                 WHERE e2.user_id = e.user_id
                   AND (e2.ts, e2.event_id) < (e.ts, e.event_id)
                 ORDER BY e2.ts DESC, e2.event_id DESC LIMIT 1)) > 1800
            THEN 1 ELSE 0 END AS new_session
FROM events e
""",
        max_exchanges=1,
    )

    # remainder of the DataFusion-10 builtin string surface (the
    # reference passes ANY DF builtin through by name, expr.rs:76-94)
    w["expr_string_funcs2"] = planned(
        scan("part")
        .filter(col("p_partkey") < 500)
        .select(
            col("p_partkey"),
            fn("ascii", col("p_name")).cast("int").alias("first_byte"),
            fn("chr", ((col("p_partkey") % 26) + 65).cast("int")).alias("letter"),
            fn("bit_length", col("p_name")).cast("int").alias("bits"),
            fn("octet_length", col("p_name")).cast("int").alias("octets"),
            fn("split_part", col("p_name"), lit(" "), lit(2)).alias("second_word"),
            fn("translate", col("p_brand"), lit("#"), lit("-")).alias("brand_t"),
            fn("to_hex", col("p_partkey")).alias("hex_key"),
            fn("sha256", col("p_name")).alias("sha"),
            fn("btrim", col("p_type"), lit("DS")).alias("trimmed"),
        ),
        # every function swapped for an equivalent formulation: unicode for
        # ascii, alphabet substr for chr, byte-length identities, list index
        # for split_part, replace for translate, printf for to_hex,
        # ltrim+rtrim for trim(charset)
        oracle="""
SELECT p_partkey,
       unicode(p_name) AS first_byte,
       substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ',
              CAST((p_partkey % 26) + 1 AS INTEGER), 1) AS letter,
       CAST(strlen(p_name) * 8 AS INTEGER) AS bits,
       CAST(strlen(p_name) AS INTEGER) AS octets,
       coalesce(string_split(p_name, ' ')[2], '') AS second_word,
       replace(p_brand, '#', '-') AS brand_t,
       upper(printf('%x', p_partkey)) AS hex_key,
       sha256(p_name) AS sha,
       rtrim(ltrim(p_type, 'DS'), 'DS') AS trimmed
FROM part WHERE p_partkey < 500
""")

    # inline VALUES lookup joined (broadcast) to a fact table — the
    # classic tiny-dim pattern (plans.Values; DataFusion's
    # LogicalPlan::Values, which the reference's tests replace with
    # MemTables, tests/select.rs:253-273)
    from datafusion_sqlgen_spark.plans.core import Values

    _prio_rank = Values(
        (
            ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
            ("4-NOT SPECIFIED", 4), ("5-LOW", 5),
        ),
        ("prio", "rank"),
    )
    w["values_lookup_join"] = planned(
        scan("orders")
        .join(_prio_rank, on=col("o_orderpriority") == col("prio"),
              how="left", broadcast=False)
        .group_by(col("rank"))
        .agg(
            agg("count").alias("n_orders"),
            fn("round", agg("sum", col("o_totalprice").cast("decimal(18,4)")),
               lit(2)).cast("double").alias("total"),
        ),
        # VALUES lookup folded into a CASE mapping (LEFT JOIN miss == CASE
        # ELSE NULL)
        oracle="""
SELECT CASE o_orderpriority
           WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
           WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
           WHEN '5-LOW' THEN 5 END AS rank,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS total
FROM orders
GROUP BY 1
""",
        # the VALUES relation is a LocalRelation with size statistics,
        # so the planner broadcasts it in place of a sort-merge join
        max_exchanges=3,
    )

    # SQL-standard FILTER (WHERE ...) conditional aggregation — one pass
    # computes disjoint conditional aggregates (the k-scan UNION ALL or
    # self-join would be the anti-pattern at scale). Column path rewrites
    # to fn(CASE WHEN cond THEN arg END), SQL path renders the clause.
    w["agg_filter_where"] = planned(
        scan("orders")
        .group_by(col("o_orderstatus"))
        .agg(
            agg("count").alias("n"),
            agg("count").filtered(col("o_totalprice") > lit(200000))
            .alias("n_big"),
            fn("round",
               agg("sum", col("o_totalprice").cast("decimal(18,4)"))
               .filtered(col("o_orderpriority") == lit("1-URGENT")),
               lit(2)).cast("double").alias("urgent_total"),
            agg("max", col("o_totalprice"))
            .filtered(col("o_orderpriority") == lit("5-LOW"))
            .alias("low_max"),
        ),
        # FILTER (WHERE ...) as CASE-conditional aggregation
        oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_big,
       CAST(round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN CAST(o_totalprice AS DECIMAL(18,4)) END),
                  2) AS DOUBLE) AS urgent_total,
       max(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END)
           AS low_max
FROM orders GROUP BY o_orderstatus
""")

    # the DataFusion-10 builtin stragglers
    # (signum/trunc/initcap/digest/regexp_match/to_timestamp_* — the
    # reference forwards every BuiltinScalarFunction by name,
    # datafusion-sqlgen/src/expr.rs:76-94). Deterministic subset only;
    # now()/random() exist in the registry but have no stable oracle.
    w["expr_scalar_funcs5"] = planned(
        scan("orders")
        .filter(col("o_orderkey") < 500)
        .select(
            col("o_orderkey"),
            fn("signum", col("o_totalprice") - lit(150000))
            .cast("double").alias("sgn"),
            fn("trunc", col("o_totalprice") / lit(1000)).alias("price_k"),
            fn("initcap", fn("lower", col("o_orderpriority"))).alias("prio_t"),
            fn("digest", col("o_orderpriority"), lit("sha256")).alias("prio_sha"),
            fn("digest", col("o_orderpriority"), lit("md5")).alias("prio_md5"),
            fn("array_join",
               fn("regexp_match", col("o_orderpriority"), lit("[A-Z]+")),
               lit(",")).alias("prio_words"),
            fn("to_timestamp_seconds", col("o_orderkey") * lit(86400))
            .alias("ts_s"),
            fn("to_timestamp_millis", col("o_orderkey") * lit(86400000))
            .alias("ts_ms"),
            fn("to_timestamp_micros",
               col("o_orderkey").cast("bigint") * lit(86400000000))
            .alias("ts_us"),
        ),
        headline=True,
        # sign/trunc as CASE arithmetic; initcap + regexp word extraction
        # hand-constant-folded over the closed priority domain; the three
        # epoch constructors swapped for each other (same instants)
        oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 150000 THEN 1.0
            WHEN o_totalprice < 150000 THEN -1.0 ELSE 0.0 END AS sgn,
       CASE WHEN o_totalprice >= 0 THEN floor(o_totalprice / 1000)
            ELSE ceil(o_totalprice / 1000) END AS price_k,
       CASE o_orderpriority
           WHEN '1-URGENT' THEN '1-urgent' WHEN '2-HIGH' THEN '2-high'
           WHEN '3-MEDIUM' THEN '3-medium'
           WHEN '4-NOT SPECIFIED' THEN '4-not Specified'
           WHEN '5-LOW' THEN '5-low' END AS prio_t,
       sha256(o_orderpriority) AS prio_sha,
       md5(o_orderpriority) AS prio_md5,
       CASE o_orderpriority
           WHEN '1-URGENT' THEN 'URGENT' WHEN '2-HIGH' THEN 'HIGH'
           WHEN '3-MEDIUM' THEN 'MEDIUM'
           WHEN '4-NOT SPECIFIED' THEN 'NOT,SPECIFIED'
           WHEN '5-LOW' THEN 'LOW' END AS prio_words,
       epoch_ms(CAST(o_orderkey * 86400 AS BIGINT) * 1000) AS ts_s,
       CAST(to_timestamp(o_orderkey * 86400) AS TIMESTAMP) AS ts_ms,
       CAST(to_timestamp(o_orderkey * 86400) AS TIMESTAMP) AS ts_us
FROM orders WHERE o_orderkey < 500
""")

    # recursive CTE (Spark >= 4.0 WITH RECURSIVE ≡ DuckDB): generate a
    # dense month spine by iteration, left-join monthly order revenue —
    # months with no orders appear with rev 0
    _m0 = fn("to_timestamp", lit("1995-01-01 00:00:00"))
    _monthly = (
        scan("orders")
        .group_by(fn("date_trunc", lit("month"), col("o_orderdate")).alias("mo"))
        .agg(_money_out(agg("sum", _money(col("o_totalprice")))).alias("rev"))
    )
    w["cte_recursive_month_spine"] = planned(
        RecursiveWith(
            name="month_spine",
            columns=("m",),
            base=EmptyRelation().select(_m0.alias("m")),
            step=(
                scan("month_spine")
                .filter(col("m") < fn("to_timestamp", lit("1996-12-01 00:00:00")))
                .select((col("m") + Interval(1, "MONTH")).alias("m"))
            ),
            body=(
                scan("month_spine")
                .join(_monthly.alias("mrev"), on=col("mo") == col("m"), how="left")
                .select(col("m"), fn("coalesce", col("rev"), lit(0).cast("double")).alias("rev"))
                .sort(col("m").asc())
            ),
        ),
        headline=True,
        # recursive spine = generate_series (inclusive stop, same months)
        oracle="""
SELECT m, coalesce(rev, CAST(0 AS DOUBLE)) AS rev
FROM (SELECT CAST(g AS TIMESTAMP) AS m
        FROM generate_series(TIMESTAMP '1995-01-01 00:00:00',
                             TIMESTAMP '1996-12-01 00:00:00',
                             INTERVAL 1 MONTH) t(g)) spine
LEFT JOIN (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                       AS DOUBLE) AS rev
             FROM orders GROUP BY 1) mrev ON mo = m
ORDER BY m
""")

    # scalar subquery in the SELECT list (projection side; the filter
    # side is subq_scalar_avg) — to_df falls back to generated SQL
    w["subq_scalar_in_select"] = planned(
        scan("nation")
        .select(
            col("n_nationkey"),
            col("n_name"),
            ScalarSubquery(
                scan("customer")
                .group_by()
                .agg(agg("count").alias("c"))
            ).alias("total_customers"),
            ScalarSubquery(
                scan("customer")
                .filter(col("c_nationkey") == col("n_nationkey"))
                .group_by()
                .agg(agg("count").alias("c"))
            ).alias("nation_customers"),
        )
        .sort(col("n_nationkey").asc()),
        # scalar-in-SELECT = cross-joined total + left-join group count
        oracle="""
SELECT n.n_nationkey, n.n_name, t.total_customers,
       count(c.c_custkey) AS nation_customers
FROM nation n
CROSS JOIN (SELECT count(*) AS total_customers FROM customer) t
LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_nationkey, n.n_name, t.total_customers
ORDER BY n.n_nationkey
""")

    # extended date parts (engine numbering aligned: Spark dayofweek is
    # Sunday=1, DuckDB Sunday=0) + TRY_CAST null-on-failure semantics
    w["expr_date_parts_trycast"] = planned(
        scan("orders")
        .filter(col("o_orderkey") < 500)
        .select(
            col("o_orderkey"),
            fn("dayofweek", col("o_orderdate")).cast("int").alias("dow"),
            fn("dayofyear", col("o_orderdate")).cast("int").alias("doy"),
            fn("weekofyear", col("o_orderdate")).cast("int").alias("woy"),
            fn("quarter", col("o_orderdate")).cast("int").alias("q"),
            fn("last_day", col("o_orderdate")).cast("timestamp").alias("month_end"),
            col("o_orderstatus").try_cast("int").alias("bad_cast"),
            fn("concat", lit("4"), lit("2")).try_cast("int").alias("good_cast"),
        ),
        # date parts from strftime formatting, month end from interval
        # arithmetic, try_cast from a regex guard
        oracle="""
SELECT o_orderkey,
       CAST(strftime(o_orderdate, '%w') AS INTEGER) + 1 AS dow,
       CAST(strftime(o_orderdate, '%j') AS INTEGER) AS doy,
       CAST(strftime(o_orderdate, '%V') AS INTEGER) AS woy,
       (CAST(strftime(o_orderdate, '%m') AS INTEGER) + 2) // 3 AS q,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
            + INTERVAL 1 MONTH - INTERVAL 1 DAY AS TIMESTAMP) AS month_end,
       CASE WHEN regexp_matches(o_orderstatus, '^[+-]?[0-9]+$')
            THEN CAST(o_orderstatus AS INTEGER) END AS bad_cast,
       CAST(40 + 2 AS INTEGER) AS good_cast
FROM orders WHERE o_orderkey < 500
""")

    # map type end-to-end: build, extract (value-or-NULL), keys/size
    _m = fn(
        "map",
        lit("st"), col("o_orderstatus"),
        lit("pri"), col("o_orderpriority"),
    )
    w["expr_map_funcs"] = planned(
        scan("orders")
        .filter(col("o_orderkey") < 500)
        .select(
            col("o_orderkey"),
            fn("map_get", _m, lit("st")).alias("st"),
            fn("map_get", _m, lit("absent")).alias("missing"),
            fn("map_size", _m).cast("int").alias("n_entries"),
            fn("array_join", fn("map_keys", _m), lit(",")).alias("ks"),
            fn("map_contains_key", _m, lit("pri")).alias("has_pri"),
        ),
        # the map literal is constant-foldable by hand: every output is a
        # direct expression over the row, no map functions at all
        oracle="""
SELECT o_orderkey,
       o_orderstatus AS st,
       CAST(NULL AS VARCHAR) AS missing,
       CAST(2 AS INTEGER) AS n_entries,
       'st,pri' AS ks,
       TRUE AS has_pri
FROM orders WHERE o_orderkey < 500
""")

    # --- lateral / unnest (DataFusion Unnest plan node; absent in the
    # reference -> catch-all logical_plan.rs:200-203) ---

    # explode a computed array (word list), aggregate over the rows
    w["lat_explode_words"] = planned(
        scan("documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), fn("split", col("text"), lit(" ")).alias("words"))
        .explode(col("words"), "word")
        .filter(fn("length", col("word")) > 0)
        .group_by(col("word"))
        .agg(agg("count").alias("n"))
        .sort(col("n").desc(), col("word").asc())
        .limit(50),
        headline=True,
        # tokens via regexp_extract_all of non-space runs instead of
        # split + unnest + length filter
        oracle="""
SELECT word, count(*) AS n
FROM (
    SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS word
    FROM documents WHERE doc_id < 50
)
GROUP BY word
ORDER BY n DESC NULLS LAST, word ASC NULLS FIRST
LIMIT 50
""")

    # posexplode with 0-based position over a stored float array
    w["lat_posexplode_embedding"] = planned(
        scan("embeddings")
        .filter(col("vec_id") < 10)
        .explode(col("embedding"), "val", pos_alias="pos")
        .select(
            col("vec_id"),
            col("pos").cast("int").alias("pos"),
            fn("round", col("val").cast("double"), lit(4)).alias("val"),
        )
        .sort(col("vec_id").asc(), col("pos").asc()),
        # positional explode as a join against an index range + list index
        oracle="""
SELECT vec_id, CAST(i AS INTEGER) AS pos,
       round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE), 4) AS val
FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
WHERE vec_id < 10
ORDER BY vec_id ASC NULLS FIRST, pos ASC NULLS FIRST
""")

    # UNPIVOT: wide per-nation measure columns -> long (measure, val)
    # rows. Narrow flatMap, no shuffle beyond the feeding aggregate;
    # measures share DOUBLE type (UNPIVOT requires a common type).
    w["unpivot_measures"] = planned(
        scan("customer")
        .group_by(col("c_nationkey"))
        .agg(
            _money_out(agg("sum", _money(col("c_acctbal")))).alias("m_bal"),
            agg("count").cast("double").alias("m_cnt"),
            # max, not avg: avg needs a division and DuckDB 1.0 divides
            # DECIMALs to DOUBLE (typeof(d/d) = DOUBLE), which half-even
            # rounds at .xx5 while Spark's decimal avg rounds HALF_UP —
            # no exact cross-engine formulation exists for avg-of-money
            _money_out(agg("max", _money(col("c_acctbal")))).alias("m_max"),
        )
        .unpivot(["c_nationkey"], ["m_bal", "m_cnt", "m_max"],
                 var_col="measure", value_col="val")
        .sort(col("c_nationkey").asc(), col("measure").asc()),
        # manual unpivot: UNION ALL of one SELECT per measure
        oracle="""
WITH a AS (
    SELECT c_nationkey,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS m_bal,
           CAST(count(*) AS DOUBLE) AS m_cnt,
           CAST(round(max(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS m_max
    FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, 'm_bal' AS measure, m_bal AS val FROM a
UNION ALL
SELECT c_nationkey, 'm_cnt' AS measure, m_cnt AS val FROM a
UNION ALL
SELECT c_nationkey, 'm_max' AS measure, m_max AS val FROM a
ORDER BY c_nationkey ASC NULLS FIRST, measure ASC NULLS FIRST
""")

    # LATERAL: per-nation top-1 customer by balance — a correlated,
    # ordered, limited subquery per outer row. Catalyst decorrelates this
    # into a rank-over-window join (no N round-trips); the unique
    # c_custkey tiebreak makes the pick deterministic in both engines.
    _best = (
        scan("customer")
        .filter(col("c_nationkey") == col("nation.n_nationkey"))
        .select(col("c_name"), col("c_acctbal"), col("c_custkey"))
        .sort(col("c_acctbal").desc(), col("c_custkey").asc())
        .limit(1)
    )
    w["lat_topn_per_group"] = planned(
        scan("nation")
        .lateral(_best, "best")
        .select(
            col("n_name"),
            col("best.c_name").alias("top_customer"),
            fn("round", col("best.c_acctbal").cast("double"), lit(2))
            .alias("top_balance"),
        )
        .sort(col("n_name").asc()),
        headline=True,
        # greatest-per-group via max-join + min-custkey tie-break, no
        # LATERAL and no window
        oracle="""
WITH m AS (
    SELECT c_nationkey, max(c_acctbal) AS mb FROM customer GROUP BY 1
),
b AS (
    SELECT c.c_nationkey, c.c_name, c.c_acctbal, c.c_custkey
    FROM customer c JOIN m
      ON c.c_nationkey = m.c_nationkey AND c.c_acctbal = m.mb
),
best AS (
    SELECT * FROM b
    WHERE c_custkey = (SELECT min(b2.c_custkey) FROM b b2
                       WHERE b2.c_nationkey = b.c_nationkey)
)
SELECT n_name, best.c_name AS top_customer,
       round(CAST(best.c_acctbal AS DOUBLE), 2) AS top_balance
FROM nation JOIN best ON n_nationkey = best.c_nationkey
ORDER BY n_name ASC NULLS FIRST
""")

    # Adapted TPC-H suite (q3-q22): the canonical multi-join / subquery /
    # CTE shapes the reference's commented-out corpus aspires to.
    w.update(tpch_workloads())

    # SQL text -> IR front end (parser.py): the reference's own entry
    # direction (DFParser -> SqlToRel, tests/select.rs:57-68). These plans
    # are built by PARSING SQL text, then dual-rendered like every other
    # IR workload — so the parser itself sits inside the correctness gate.
    from datafusion_sqlgen_spark.parser import parse_sql

    w["parsed_scan_filter_sort"] = planned(
        parse_sql(
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            "WHERE c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 100 AND 5000 "
            "ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST LIMIT 50"
        ),
        # top-50 via row_number arithmetic instead of ORDER BY ... LIMIT
        oracle="""
WITH r AS (
    SELECT c_custkey, c_name, c_acctbal,
           row_number() OVER (ORDER BY c_acctbal DESC NULLS LAST,
                              c_custkey ASC NULLS FIRST) AS rn
    FROM customer
    WHERE c_mktsegment IN ('BUILDING')
      AND c_acctbal >= 100 AND c_acctbal <= 5000
)
SELECT c_custkey, c_name, c_acctbal FROM r WHERE rn <= 50
ORDER BY rn
""")
    w["parsed_join_agg_having"] = planned(
        parse_sql(
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "GROUP BY c_mktsegment HAVING count(*) > 10 "
            "ORDER BY c_mktsegment ASC NULLS FIRST"
        ),
        # HAVING as a filtered subquery; orders pre-aggregated per customer
        # first (counts and decimal sums re-aggregate exactly)
        oracle="""
WITH per_cust AS (
    SELECT o_custkey, count(*) AS n,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
    FROM orders GROUP BY o_custkey
),
seg AS (
    SELECT c_mktsegment,
           CAST(sum(n) AS BIGINT) AS n_orders,
           CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
    FROM customer JOIN per_cust ON c_custkey = o_custkey
    GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_orders, revenue FROM seg
WHERE n_orders > 10
ORDER BY c_mktsegment ASC NULLS FIRST
""")
    w["parsed_case_in_distinct"] = planned(
        parse_sql(
            "SELECT DISTINCT o_orderstatus, "
            "CASE WHEN o_totalprice > 200000 THEN 'big' "
            "WHEN o_totalprice > 50000 THEN 'mid' ELSE 'small' END AS bucket "
            "FROM orders WHERE o_orderstatus IN ('F', 'O') "
            "ORDER BY o_orderstatus ASC NULLS FIRST, bucket ASC NULLS FIRST"
        ),
        # bucket from boolean arithmetic list-indexing, not a CASE chain;
        # IN-list as disjunction; DISTINCT as GROUP BY
        oracle="""
SELECT o_orderstatus,
       list_extract(['small', 'mid', 'big'],
                    1 + CAST(coalesce(o_totalprice > 50000, FALSE) AS INTEGER)
                      + CAST(coalesce(o_totalprice > 200000, FALSE) AS INTEGER))
           AS bucket
FROM orders
WHERE o_orderstatus = 'F' OR o_orderstatus = 'O'
GROUP BY 1, 2
ORDER BY o_orderstatus ASC NULLS FIRST, bucket ASC NULLS FIRST
""")
    # window + CTE SQL through the parser (the two clause families)
    w["parsed_win_topn"] = planned(
        parse_sql(
            "WITH ranked AS (SELECT o_custkey, o_orderkey, o_totalprice, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER "
            "(PARTITION BY o_custkey), 2) AS DOUBLE) AS cust_total "
            "FROM orders) "
            "SELECT o_custkey, o_orderkey, o_totalprice, cust_total FROM ranked "
            "WHERE rn = 1 AND o_custkey < 300 "
            "ORDER BY o_custkey ASC NULLS FIRST"
        ),
        # top-1-per-customer via max-join + min-orderkey tie-break instead
        # of row_number
        oracle="""
WITH g AS (
    SELECT o_custkey, max(o_totalprice) AS mp,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS cust_total
    FROM orders WHERE o_custkey < 300 GROUP BY o_custkey
),
cand AS (
    SELECT o.o_custkey, o.o_orderkey, o.o_totalprice, g.cust_total
    FROM orders o JOIN g
      ON o.o_custkey = g.o_custkey AND o.o_totalprice = g.mp
)
SELECT o_custkey, o_orderkey, o_totalprice, cust_total
FROM cand
WHERE o_orderkey = (SELECT min(c2.o_orderkey) FROM cand c2
                    WHERE c2.o_custkey = cand.o_custkey)
ORDER BY o_custkey ASC NULLS FIRST
""")
    # parser surface in one query: named WINDOW clause shared
    # by two functions, QUALIFY (renders as a nested post-window
    # filter), a USING join (merged join column), and `::` casts
    w["parsed_qualify_using"] = planned(
        parse_sql(
            "SELECT c_mktsegment, c_custkey, "
            "c_acctbal::DOUBLE AS bal, "
            "row_number() OVER w AS rn, "
            "count(*) OVER w AS seg_n "
            "FROM customer JOIN (SELECT c_custkey FROM customer "
            "WHERE c_custkey % 3 = 0) AS picked USING (c_custkey) "
            "WINDOW w AS (PARTITION BY c_mktsegment "
            "ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST) "
            "QUALIFY rn <= 5 "
            "ORDER BY c_mktsegment ASC NULLS FIRST, rn ASC NULLS FIRST"
        ),
        # QUALIFY top-5 via a correlated tuple-rank count subquery; also
        # encodes that the running count(*) over a unique ORDER BY equals
        # row_number, so seg_n is emitted as rn
        oracle="""
WITH picked AS (
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM customer WHERE c_custkey % 3 = 0
),
r AS (
    SELECT p.c_mktsegment, p.c_custkey,
           CAST(p.c_acctbal AS DOUBLE) AS bal,
           (SELECT count(*) FROM picked q
            WHERE q.c_mktsegment = p.c_mktsegment
              AND (q.c_acctbal > p.c_acctbal
                   OR (q.c_acctbal = p.c_acctbal
                       AND q.c_custkey < p.c_custkey))) + 1 AS rn
    FROM picked p
)
SELECT c_mktsegment, c_custkey, bal, rn, rn AS seg_n
FROM r WHERE rn <= 5
ORDER BY c_mktsegment ASC, rn ASC
""")
    w["parsed_cte_agg"] = planned(
        parse_sql(
            "WITH region_nations AS (SELECT n_nationkey, n_name, r_name "
            "FROM nation JOIN region ON n_regionkey = r_regionkey), "
            "cust_per_nation AS (SELECT c_nationkey, count(*) AS n_cust, "
            "CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS bal "
            "FROM customer GROUP BY c_nationkey) "
            "SELECT r_name, n_name, n_cust, bal FROM region_nations "
            "JOIN cust_per_nation ON n_nationkey = c_nationkey "
            "ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"
        ),
        # the two CTEs inlined into one flat join + aggregate
        oracle="""
SELECT r_name, n_name, count(*) AS n_cust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
""")
    # reader-side surface in one query: operand-form CASE,
    # EXTRACT, SUBSTRING FROM/FOR, TRIM spec, POSITION IN, IS NOT TRUE,
    # quoted INTERVAL arithmetic
    w["parsed_reader_forms"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            "CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done' "
            "ELSE 'other' END AS status_word, "
            "EXTRACT(YEAR FROM o_orderdate) AS yr, "
            "SUBSTRING(o_orderpriority FROM 1 FOR 1) AS prio, "
            "TRIM(BOTH '0' FROM CAST(o_orderkey AS VARCHAR)) AS trimmed, "
            "POSITION('URGENT' IN o_orderpriority) AS urg_pos, "
            "o_orderdate + INTERVAL '30' DAY AS due, "
            "(o_totalprice > 100000) IS NOT TRUE AS small_order "
            "FROM orders WHERE o_orderkey < 2000 "
            "ORDER BY o_orderkey ASC NULLS FIRST"
        ),
        # every scalar replayed through a different function: CASE as a
        # VALUES lookup, year via strftime, substring as left, trim as
        # two-sided regexp, strpos via split_part, IS DISTINCT FROM TRUE
        # as <= on the non-null price
        oracle="""
SELECT o.o_orderkey,
       coalesce(m.word, 'other') AS status_word,
       CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS yr,
       left(o.o_orderpriority, 1) AS prio,
       regexp_replace(regexp_replace(CAST(o.o_orderkey AS VARCHAR),
                                     '^0+', ''), '0+$', '') AS trimmed,
       CASE WHEN o.o_orderpriority LIKE '%URGENT%'
            THEN length(split_part(o.o_orderpriority, 'URGENT', 1)) + 1
            ELSE 0 END AS urg_pos,
       o.o_orderdate + INTERVAL 30 DAY AS due,
       o.o_totalprice <= 100000 AS small_order
FROM orders o
LEFT JOIN (VALUES ('O', 'open'), ('F', 'done')) AS m(st, word)
       ON m.st = o.o_orderstatus
WHERE o.o_orderkey < 2000
ORDER BY o.o_orderkey ASC
""")
    # FROM-clause PIVOT (Snowflake-style syntax both engines execute
    # verbatim; plans.Pivot node; decimal sum keeps values bit-exact)
    w["parsed_pivot_status"] = planned(
        parse_sql(
            "SELECT o_custkey, CAST(O AS DOUBLE) AS open_total, "
            "CAST(F AS DOUBLE) AS filled_total, "
            "CAST(P AS DOUBLE) AS pending_total "
            "FROM (SELECT o_custkey, o_orderstatus, "
            "CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders "
            "WHERE o_orderkey < 5000) "
            "PIVOT (sum(price) FOR o_orderstatus IN ('O', 'F', 'P')) "
            "ORDER BY o_custkey ASC NULLS FIRST"
        ),
        headline=True,
        # PIVOT as FILTERed conditional aggregation (no PIVOT clause)
        oracle="""
SELECT o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS filled_total,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS pending_total
FROM orders
WHERE o_orderkey < 5000
GROUP BY o_custkey
ORDER BY o_custkey ASC
""")
    # DISTINCT ON desugar: first row per group in ORDER BY order via the
    # row_number group-limit window (no Spark-native equivalent)
    w["parsed_distinct_on"] = planned(
        parse_sql(
            "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_name, c_acctbal "
            "FROM customer "
            "ORDER BY c_nationkey ASC NULLS FIRST, c_acctbal DESC NULLS LAST, "
            "c_custkey ASC NULLS FIRST"
        ),
        # DISTINCT ON as a NOT EXISTS greatest-per-group anti-pattern (no
        # window at all)
        oracle="""
SELECT c_nationkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM customer d
    WHERE d.c_nationkey = c.c_nationkey
      AND (d.c_acctbal > c.c_acctbal
           OR (d.c_acctbal = c.c_acctbal AND d.c_custkey < c.c_custkey))
)
ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey ASC
""")

    # the exact three-valued quantified-comparison desugar,
    # driver-checked against DuckDB's NATIVE ANY/ALL (maximum
    # independence: the oracle never sees the CASE rewrite). The three
    # projection columns pin the three fixed edges: empty subquery (TRUE
    # for ALL), plain TRUE/FALSE mix, and a NULL-containing subquery
    # whose undecided rows must be NULL.
    w["parsed_quantified_forms"] = planned(
        parse_sql(_QUANTIFIED_FORMS_SQL),
        # DuckDB executes its NATIVE quantified comparisons; Spark runs the
        # parser's three-valued CASE desugar — the two meet only in results
        oracle=_QUANTIFIED_FORMS_SQL,
        max_exchanges=24,
    )

    # the two statement forms a pipeline's
    # maintenance job writes, entering through SQL text like every other
    # parsed_* row.  MERGE INTO desugars to the joins.upsert shape
    # (updates ∪ target-ANTI-updates); the source mixes in-place updates
    # (custkey % 7) with brand-new keys (custkey % 11, shifted past the
    # keyspace) so BOTH merge arms produce rows at every SF.
    w["parsed_merge_upsert"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
            "'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 7 = 0 "
            "UNION ALL "
            "SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey, "
            "c_acctbal, 'INSERTED' AS c_mktsegment FROM customer "
            "WHERE c_custkey % 11 = 0) AS s "
            "ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ),
        headline=True,
        # MERGE upsert replayed WITHOUT any join: source ⊂ target keys become
        # a CASE rewrite over the whole table; the shifted insert arm appends.
        # Maximum independence — the oracle never sees ANTI JOIN or UNION
        # of survivors.
        oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END
           AS c_mktsegment
FROM customer
UNION ALL
SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, 'INSERTED'
FROM customer WHERE c_custkey % 11 = 0
""")
    # TABLESAMPLE in its deterministic dialect (ON <id_col> — random
    # sampling can never hash-match across engines) desugars to the
    # sampling.stable_sample md5-bucket filter.
    w["parsed_tablesample"] = planned(
        parse_sql(
            "SELECT doc_id, lang, length(text) AS text_len FROM documents "
            "TABLESAMPLE (10 PERCENT ON doc_id) REPEATABLE ('r8') "
            "ORDER BY doc_id ASC NULLS FIRST"
        ),
        headline=True,
        # deterministic TABLESAMPLE: substr + || instead of the render's
        # substring + concat, threshold hex hard-coded (0.10 * 65536 = 6553
        # -> '1999')
        oracle="""
SELECT doc_id, lang, length(text) AS text_len FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':r8'), 1, 4) < '1999'
ORDER BY doc_id ASC
""")
    # ... and its exactly-n ROWS form (stable_topk_sample's permutation
    # prefix; TakeOrdered plan, never a global sort)
    w["parsed_tablesample_rows"] = planned(
        parse_sql(
            "SELECT doc_id, lang FROM documents "
            "TABLESAMPLE (40 ROWS ON doc_id)"
        ),
        # ROWS form as a window rank instead of ORDER BY ... LIMIT
        oracle="""
SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':topk'), doc_id
           ) AS rn
    FROM documents
) WHERE rn <= 40
""")
    # per-column UPDATE SET MERGE: one left join, SET columns re-emitted
    # last via CASE over the matched test (source keys unique by
    # construction — a projection of the target's own keys)
    w["parsed_merge_update_set"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey % 3 = 0) AS s "
            "ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal * 2, "
            "c_mktsegment = 'BOOSTED'"
        ),
        # per-column SET replayed WITHOUT any join: source ⊂ target keys
        # become CASE rewrites in place (column order: SET columns last,
        # matching the t.* EXCEPT desugar)
        oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2
            ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 3 = 0 THEN 'BOOSTED'
            ELSE c_mktsegment END AS c_mktsegment
FROM customer
""")

    # the remaining common MERGE
    # statement forms.  Conditional arm — the condition ANDs into the
    # CASE's match test, so matched-but-condition-false rows keep their
    # target values (three-valued: NULL conditions do not fire).
    w["parsed_merge_conditional"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey % 3 = 0) AS s "
            "ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED AND s.c_acctbal > 5000 "
            "THEN UPDATE SET c_acctbal = s.c_acctbal * 2, "
            "c_mktsegment = 'HIGHROLLER'"
        ),
        headline=True,
        # conditional arm folded into a plain CASE over the whole table
        oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 3 = 0 AND c_acctbal > 5000
            THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 3 = 0 AND c_acctbal > 5000
            THEN 'HIGHROLLER' ELSE c_mktsegment END AS c_mktsegment
FROM customer
""")
    # snapshot full sync (scd2_merge's close-missing as a statement):
    # UPDATE SET * + BY SOURCE DELETE = the survivors union loses its
    # anti-join arm, leaving one semi join
    w["parsed_merge_full_sync"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
            "'SYNCED' AS c_mktsegment FROM customer "
            "WHERE c_custkey % 2 = 0) AS s "
            "ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        ),
        headline=True,
        # full sync (UPDATE SET * + BY SOURCE DELETE) = the source filter,
        # applied directly — the oracle never sees the semi join
        oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       'SYNCED' AS c_mktsegment
FROM customer WHERE c_custkey % 2 = 0
""")
    # column-list INSERT with an arm condition: the list defines the
    # merged output layout (every arm projects exactly those columns),
    # the condition filters only the insert arm
    w["parsed_merge_insert_cols"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey + 10000000 AS new_key, c_name, c_acctbal "
            "FROM customer WHERE c_custkey % 9 = 0) AS s "
            "ON t.c_custkey = s.new_key "
            "WHEN NOT MATCHED AND s.c_acctbal > 0 "
            "THEN INSERT (c_custkey, c_name, c_acctbal) "
            "VALUES (s.new_key, s.c_name, s.c_acctbal)"
        ),
        headline=True,
        # column-list INSERT: target re-projected to the listed layout plus
        # the shifted, condition-filtered insert arm
        oracle="""
SELECT c_custkey, c_name, c_acctbal FROM customer
UNION ALL
SELECT c_custkey + 10000000, c_name, c_acctbal
FROM customer WHERE c_custkey % 9 = 0 AND c_acctbal > 0
""")

    # cascaded multi-arm chain, first
    # match wins — one left join, one filter for the DELETE arm, one
    # nested CASE per set column; all three arms fire at every SF
    # (negative / >5000 / remaining balances all exist in customer)
    w["parsed_merge_multi_arm"] = planned(
        parse_sql(
            "MERGE INTO customer AS t USING ("
            "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey % 2 = 0) AS s "
            "ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE "
            "WHEN MATCHED AND s.c_acctbal > 5000 "
            "THEN UPDATE SET c_acctbal = s.c_acctbal * 2, "
            "c_mktsegment = 'HIGH' "
            "WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 100"
        ),
        headline=True,
        oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 2 = 0 AND NOT (c_acctbal < 0)
                 AND c_acctbal > 5000
            THEN c_acctbal * 2
            WHEN c_custkey % 2 = 0 AND NOT (c_acctbal < 0)
            THEN c_acctbal + 100
            ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 2 = 0 AND NOT (c_acctbal < 0)
                 AND c_acctbal > 5000
            THEN 'HIGH' ELSE c_mktsegment END AS c_mktsegment
FROM customer
WHERE NOT (c_custkey % 2 = 0 AND c_acctbal < 0)
""")
    # the insert-side cascade twin — first-match-wins
    # WHEN NOT MATCHED value chains over ONE anti join (per-column
    # CASE; no arm claimed → row not inserted, here via the trailing
    # unconditioned arm)
    w["parsed_merge_insert_arms"] = planned(
        parse_sql(
            "MERGE INTO region AS t USING ("
            "SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS rk "
            "FROM nation) AS s ON t.r_regionkey = s.k "
            "WHEN NOT MATCHED AND s.rk = 0 "
            "THEN INSERT (r_regionkey, r_name) VALUES (s.k, upper(s.nm)) "
            "WHEN NOT MATCHED AND s.rk = 1 "
            "THEN INSERT (r_regionkey, r_name) VALUES (s.k + 100, lower(s.nm)) "
            "WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name) "
            "VALUES (s.k, 'OTHER')"
        ),
        headline=True,
        # insert-cascade replayed with NO merge machinery: the appended
        # rows re-derived from nation with plain CASE arms and an
        # anti-EXISTS, target passed through untouched
        oracle="""
SELECT r_regionkey, r_name FROM region
UNION ALL
SELECT CASE WHEN n_regionkey = 1 THEN n_nationkey + 100
            ELSE n_nationkey END AS r_regionkey,
       CASE WHEN n_regionkey = 0 THEN upper(n_name)
            WHEN n_regionkey = 1 THEN lower(n_name)
            ELSE 'OTHER' END AS r_name
FROM nation
WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_nationkey)
""")

    # the remaining single-table DML statement forms, same
    # batch contract as MERGE (tests/test_parser_dml.py) — UPDATE is
    # the CASE projection, DELETE the NOT-TRUE filter (three-valued:
    # NULL predicates neither update nor delete), INSERT the
    # positional append with the column list renaming the SELECT
    # row-value membership — the multi-key semi join entered
    # as standard SQL (Spark takes the bare multi-column IN, the DuckDB
    # render wraps the subquery outputs into one struct); Catalyst
    # plans it as a LeftSemi on both keys
    w["parsed_row_in_subquery"] = planned(
        parse_sql(
            "SELECT o_orderkey, o_totalprice FROM orders "
            "WHERE (o_custkey, o_orderstatus) IN ("
            "SELECT c_custkey, 'O' FROM customer WHERE c_acctbal > 5000)"
        ),
        headline=True,
        # row-value IN replayed as a correlated EXISTS + literal equality —
        # no row-value syntax, no struct wrap
        oracle="""
SELECT o_orderkey, o_totalprice FROM orders o
WHERE o.o_orderstatus = 'O'
  AND EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
""")
    # generate_series spine joined to data — the gap-proof
    # per-bucket count idiom (left join FROM the generated axis so
    # empty buckets surface as zeros)
    w["parsed_series_spine"] = planned(
        parse_sql(
            "SELECT g.generate_series AS bucket, count(o_orderkey) AS n "
            "FROM generate_series(0, 9) AS g "
            "LEFT JOIN orders ON o_orderkey % 10 = g.generate_series "
            "GROUP BY g.generate_series"
        ),
        headline=True,
        # series spine replayed over DuckDB's end-EXCLUSIVE range() —
        # different generator, different bound convention
        oracle="""
SELECT b.bucket, count(o.o_orderkey) AS n
FROM (SELECT range AS bucket FROM range(0, 10)) b
LEFT JOIN orders o ON o.o_orderkey % 10 = b.bucket
GROUP BY b.bucket
""")
    # SIMILAR TO (the standard's LIKE/regex hybrid — both
    # renders share one compiled regex, Spark anchored RLIKE / DuckDB
    # regexp_full_match) plus PG quantity-in-string INTERVAL arithmetic
    w["parsed_similar_to"] = planned(
        parse_sql(
            "SELECT o_orderpriority, count(*) AS n "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE c_name SIMILAR TO 'Customer#%[0-4]' "
            "AND o_orderdate < DATE '1995-01-01' + INTERVAL '6 months' "
            "GROUP BY o_orderpriority"
        ),
        headline=True,
        # SIMILAR TO replayed with NO pattern language at all: the prefix
        # as a substring test, the [0-4] class as a last-char IN-list, the
        # interval arithmetic as the pre-computed literal date
        oracle="""
SELECT o_orderpriority, count(*) AS n
FROM orders o, customer c
WHERE o.o_custkey = c.c_custkey
  AND substr(c.c_name, 1, 9) = 'Customer#'
  AND substr(c.c_name, length(c.c_name), 1) IN ('0','1','2','3','4')
  AND o.o_orderdate < DATE '1995-07-01'
GROUP BY o_orderpriority
""")
    # ordered array_agg — the always-sorted contract
    # (collect_list order is partition-dependent; both engines sort by
    # (key, value) so ties cannot diverge)
    # (array output stringified — the agg_collect driver-compare
    # pattern: array cells don't hash in the value compare)
    w["parsed_array_agg_ordered"] = planned(
        parse_sql(
            "SELECT o_orderstatus, "
            "array_join(array_agg(CAST(o_orderkey AS STRING) "
            "ORDER BY o_totalprice), ',') AS keys_by_price, "
            "count(*) AS n "
            "FROM orders WHERE o_orderkey < 200 GROUP BY o_orderstatus"
        ),
        headline=True,
        # ordered array_agg replayed via DuckDB's list() (a different
        # aggregate spelling) with the same (key, value) tie-break
        oracle="""
SELECT o_orderstatus,
       array_to_string(list(CAST(o_orderkey AS VARCHAR)
           ORDER BY o_totalprice, CAST(o_orderkey AS VARCHAR)), ',')
           AS keys_by_price,
       count(*) AS n
FROM orders WHERE o_orderkey < 200
GROUP BY o_orderstatus
""")
    # frame EXCLUDE CURRENT ROW — desugared to frame_agg
    # minus the current row on BOTH renders (exact integer arithmetic
    # here, so the hand oracle can use DuckDB's NATIVE exclusion)
    w["parsed_win_exclude_current"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            "CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_orderkey ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING "
            "EXCLUDE CURRENT ROW) AS BIGINT) AS s, "
            "count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey "
            "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) "
            "AS c "
            "FROM orders WHERE o_orderkey < 3000"
        ),
        headline=True,
        # EXCLUDE CURRENT ROW replayed via DuckDB's NATIVE frame exclusion
        # — exact integer sums, so native-vs-desugar cannot ULP-diverge
        oracle="""
SELECT o_orderkey,
       CAST(sum(o_custkey) OVER w AS BIGINT) AS s,
       count(*) OVER w AS c
FROM orders WHERE o_orderkey < 3000
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
             EXCLUDE CURRENT ROW)
""")
    # correlated UNNEST in FROM (the standard spelling of the
    # Explode node) — the word-frequency idiom over documents; explode
    # is a narrow per-row generate, so the only shuffle is the count
    w["parsed_unnest_words"] = planned(
        parse_sql(
            "SELECT word, count(*) AS n "
            "FROM documents, UNNEST(split(text, ' ')) AS t(word) "
            "WHERE lang = 'en' AND length(word) > 4 "
            "GROUP BY word ORDER BY n DESC, word ASC NULLS FIRST LIMIT 20"
        ),
        headline=True,
        # correlated UNNEST replayed as a SELECT-list unnest over plain
        # str_split (not the FROM-clause table form, not the regex split)
        oracle="""
SELECT word, count(*) AS n
FROM (SELECT unnest(str_split(text, ' ')) AS word
      FROM documents WHERE lang = 'en') u
WHERE length(word) > 4
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
""")

    w["parsed_update_where"] = planned(
        parse_sql(
            "UPDATE customer SET c_acctbal = c_acctbal * 2, "
            "c_mktsegment = 'DOUBLED' WHERE c_acctbal > 5000"
        ),
        headline=True,
        oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal * 2 AS c_acctbal,
       'DOUBLED' AS c_mktsegment
FROM customer WHERE c_acctbal > 5000
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE NOT (c_acctbal > 5000)
""")
    w["parsed_delete_where"] = planned(
        parse_sql(
            "DELETE FROM customer WHERE c_acctbal < 0 OR c_custkey % 5 = 0"
        ),
        headline=True,
        oracle="""
SELECT * FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM customer d
    WHERE d.c_custkey = c.c_custkey
      AND (d.c_acctbal < 0 OR d.c_custkey % 5 = 0)
)
""")
    w["parsed_insert_select"] = planned(
        parse_sql(
            "INSERT INTO region (r_regionkey, r_name) "
            "SELECT r_regionkey + 50 AS shifted, upper(r_name) FROM region"
        ),
        headline=True,
        oracle="""
SELECT r_regionkey, r_name FROM region
UNION ALL
SELECT r_regionkey + 50, upper(r_name) FROM region
""")

    # frame EXCLUDE GROUP / TIES — the remaining standard
    # exclusion modes, desugared to frame_agg minus the ORDER-BY peer
    # group's aggregate (a second window partitioned by
    # partition+order keys; TIES adds the current row back). Integer
    # sums, and o_orderdate is coarse so peer groups are wide — both
    # modes differ from EXCLUDE CURRENT ROW on real ties here. The
    # hand oracle replays DuckDB's NATIVE exclusion.
    w["parsed_win_exclude_group"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            "CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_orderdate EXCLUDE GROUP) AS BIGINT) AS sg, "
            "count(*) OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_orderdate EXCLUDE TIES) AS ct "
            "FROM orders WHERE o_orderkey < 3000"
        ),
        headline=True,
        oracle="""
SELECT o_orderkey,
       CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus
            ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            EXCLUDE GROUP) AS BIGINT) AS sg,
       count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            EXCLUDE TIES) AS ct
FROM orders WHERE o_orderkey < 3000
""")
    # NATURAL JOIN — USING over every shared column name,
    # resolved from the two schemas at execution (both engines render
    # the keyword natively); the derived tables rename to a shared key
    # the way heterogeneous-source pipelines do
    w["parsed_natural_join"] = planned(
        parse_sql(
            "SELECT custkey, c_name, n_orders, total "
            "FROM (SELECT c_custkey AS custkey, c_name FROM customer "
            "WHERE c_acctbal > 9000) AS c "
            "NATURAL JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
            "FROM orders GROUP BY o_custkey) AS o"
        ),
        headline=True,
        # NATURAL JOIN replayed with NO natural/using machinery: the
        # pre-rename base tables joined on explicit equality
        oracle="""
SELECT c.c_custkey AS custkey, c.c_name, o.n_orders, o.total
FROM customer c
JOIN (SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
      FROM orders GROUP BY o_custkey) o
  ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000
""")
    # ASOF JOIN (DuckDB dialect) —
    # each click pairs with the same user's most recent purchase at or
    # before it. Parses to the AsofJoin node, whose Spark SQL is the
    # one-shuffle union+window shape (no join operator in the physical
    # plan); the right side is GROUP BY (user_id, ts)-unique, the ASOF
    # precondition. The hand oracle is DuckDB's NATIVE ASOF JOIN.
    w["parsed_asof_join"] = planned(
        parse_sql(
            "SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, r.pval "
            "FROM (SELECT event_id, ts, user_id FROM events "
            "WHERE event_type = 'click' AND event_id % 20 = 0) AS l "
            "ASOF JOIN (SELECT user_id, ts, max(value) AS pval FROM events "
            "WHERE event_type = 'purchase' GROUP BY user_id, ts) AS r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        headline=True,
        # ASOF replayed via DuckDB's NATIVE ASOF JOIN (the desugar is the
        # inner join + correlated-max filter — entirely different machinery)
        oracle="""
SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, r.pval
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'click' AND event_id % 20 = 0) l
ASOF JOIN (SELECT user_id, ts, max(value) AS pval FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts) r
ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        max_exchanges=2,
    )
    # GROUPS frame mode — Spark has none, so the parser
    # desugars to RANGE over a dense_rank pre-projection (peer-group
    # distance IS rank distance; one shared sort for both windows).
    # DuckDB 1.0 has no GROUPS either ("not implemented yet"), so the
    # hand oracle replays WINDOW-FRAME-FREE: a rank self-join with
    # conditional aggregation. Integer sums.
    w["parsed_win_groups_frame"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            "CAST(sum(o_custkey) OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_orderdate GROUPS BETWEEN 1 PRECEDING AND "
            "1 FOLLOWING) AS BIGINT) AS sg, "
            "count(*) OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_orderdate GROUPS BETWEEN 2 PRECEDING AND "
            "CURRENT ROW) AS cg "
            "FROM orders WHERE o_orderkey < 3000"
        ),
        headline=True,
        # GROUPS frame replayed with NO window frame at all: a dense_rank
        # self-join with conditional aggregation (peer-group distance as an
        # explicit join band) — the desugar's RANGE-over-rank machinery
        # never runs
        oracle="""
WITH r AS (
    SELECT o_orderkey, o_orderstatus, o_custkey,
           dense_rank() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_orderdate) AS dr
    FROM orders WHERE o_orderkey < 3000
)
SELECT a.o_orderkey,
       CAST(sum(CASE WHEN b.dr BETWEEN a.dr - 1 AND a.dr + 1
                     THEN b.o_custkey END) AS BIGINT) AS sg,
       count(CASE WHEN b.dr BETWEEN a.dr - 2 AND a.dr
                  THEN 1 END) AS cg
FROM r a JOIN r b
  ON b.o_orderstatus = a.o_orderstatus
 AND b.dr BETWEEN a.dr - 2 AND a.dr + 1
GROUP BY a.o_orderkey
""")
    # DISTINCT aggregates over windows — Spark rejects them
    # outright ("Distinct window functions are not supported"); the
    # desugar marks one row per (partition, value) group with a
    # row_number pre-column and wraps the argument in CASE WHEN
    # __dst = 1, so the plain windowed aggregate sees each distinct
    # value once. DECIMAL below the sum; the hand oracle replays
    # DuckDB's NATIVE DISTINCT-over-window.
    w["parsed_win_distinct_agg"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            "count(DISTINCT o_orderpriority) OVER "
            "(PARTITION BY o_custkey) AS n_prio, "
            "CAST(sum(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) OVER "
            "(PARTITION BY o_orderstatus) AS DOUBLE) AS s_price, "
            "avg(DISTINCT o_custkey % 100) OVER "
            "(PARTITION BY o_orderstatus) AS a_mod "
            "FROM orders WHERE o_orderkey < 4000"
        ),
        headline=True,
        # DISTINCT-over-window replayed via DuckDB's NATIVE distinct window
        # aggregates (the desugar's first-occurrence-flag machinery never
        # runs)
        oracle="""
SELECT o_orderkey,
       count(DISTINCT o_orderpriority) OVER
           (PARTITION BY o_custkey) AS n_prio,
       CAST(sum(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) OVER
           (PARTITION BY o_orderstatus) AS DOUBLE) AS s_price,
       avg(DISTINCT o_custkey % 100) OVER
           (PARTITION BY o_orderstatus) AS a_mod
FROM orders WHERE o_orderkey < 4000
""")
    # ASOF LEFT JOIN — unmatched
    # clicks survive NULL-padded. The AsofJoin node's union+window
    # to_df keeps them naturally (NULL match struct); a
    # lateral-LIMIT-1 execution compiled to a BroadcastNestedLoopJoin
    # (9.55s at sf0.1 vs ~0.5s now — plan-gated: no join operator at
    # all). Hand oracle: native ASOF LEFT.
    w["parsed_asof_left_join"] = planned(
        parse_sql(
            "SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, "
            "r.pval "
            "FROM (SELECT event_id, ts, user_id FROM events "
            "WHERE event_type = 'click' AND event_id % 20 = 0) AS l "
            "ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval "
            "FROM events WHERE event_type = 'purchase' "
            "GROUP BY user_id, ts) AS r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        headline=True,
        # ASOF LEFT replayed via DuckDB's NATIVE ASOF LEFT JOIN (the
        # lateral-LIMIT-1 desugar machinery never runs)
        oracle="""
SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, r.pval
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'click' AND event_id % 20 = 0) l
ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval FROM events
                WHERE event_type = 'purchase'
                GROUP BY user_id, ts) r
ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        max_exchanges=2,
    )
    # ASOF with a merge_asof-style
    # TOLERANCE bound — a second, opposite-direction range conjunct on
    # the right time column bounds the match window (the feature-store
    # shape: a click only joins a purchase from the last day; the
    # streaming twin is point_in_time_enrich_stream, streaming/ops.py).
    # Inner drops out-of-window clicks; LEFT keeps them with a NULLed
    # payload. DuckDB's native ASOF rejects a second inequality even
    # via WHERE (optimizer pushes the filter into the join), so the
    # node's duckdb render fails closed and both rows carry HAND
    # oracles: native ASOF inside a MATERIALIZED CTE (a pushdown
    # barrier), tolerance applied outside.
    w["parsed_asof_tolerance"] = planned(
        parse_sql(
            "SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, "
            "r.pval "
            "FROM (SELECT event_id, ts, user_id FROM events "
            "WHERE event_type = 'click' AND event_id % 20 = 0) AS l "
            "ASOF JOIN (SELECT user_id, ts, max(value) AS pval "
            "FROM events WHERE event_type = 'purchase' "
            "GROUP BY user_id, ts) AS r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts "
            "AND r.ts >= l.ts - INTERVAL '1' DAY"
        ),
        headline=True,
        # ASOF + tolerance replayed via DuckDB's NATIVE ASOF inside a
        # MATERIALIZED CTE (pushdown barrier — DuckDB would otherwise push
        # the tolerance WHERE into the join and reject it as a second ASOF
        # inequality), tolerance applied OUTSIDE: inner filters the row
        # out, LEFT nulls the payload and keeps the row. The repo-side
        # union+window desugar machinery never runs here.
        oracle="""
WITH m AS MATERIALIZED (
    SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, r.pval
    FROM (SELECT event_id, ts, user_id FROM events
          WHERE event_type = 'click' AND event_id % 20 = 0) l
    ASOF JOIN (SELECT user_id, ts, max(value) AS pval FROM events
               WHERE event_type = 'purchase' GROUP BY user_id, ts) r
    ON l.user_id = r.user_id AND l.ts >= r.ts)
SELECT event_id, ts, user_id, purchase_ts, pval
FROM m WHERE purchase_ts >= ts - INTERVAL 1 DAY
""",
        max_exchanges=2,
    )
    # MULTI-KEY asof with an EXPRESSION-valued left key —
    # the union+window desugar generalizes to N equality keys
    # (plans/core.py AsofJoin.eqs); DuckDB's native ASOF takes the same
    # multi-equality ON, so the plan's DuckDB render is native ASOF
    w["parsed_asof_multikey"] = planned(
        parse_sql(
            "SELECT l.event_id, l.ts, r.ts AS obs_ts, r.v AS obs_v "
            "FROM (SELECT event_id, ts, user_id FROM events "
            "WHERE event_type = 'click' AND event_id % 10 = 0) AS l "
            "ASOF JOIN (SELECT user_id, event_id % 4 AS grp, ts, "
            "max(value) AS v FROM events WHERE event_type = 'purchase' "
            "GROUP BY user_id, event_id % 4, ts) AS r "
            "ON l.user_id = r.user_id AND r.grp = l.event_id % 4 "
            "AND l.ts >= r.ts"
        ),
        headline=True,
        # multi-key asof replayed WITHOUT the ASOF keyword at all:
        # correlated max / max_by scalar subqueries over both equality keys
        # (the union+window desugar machinery and DuckDB's native ASOF
        # executor both never run)
        oracle="""
WITH l AS (SELECT event_id, ts, user_id FROM events
           WHERE event_type = 'click' AND event_id % 10 = 0),
r AS (SELECT user_id, event_id % 4 AS grp, ts, max(value) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, event_id % 4, ts)
SELECT event_id, ts, obs_ts, obs_v FROM (
    SELECT l.event_id, l.ts,
           (SELECT max(r.ts) FROM r
             WHERE r.user_id = l.user_id AND r.grp = l.event_id % 4
               AND r.ts <= l.ts) AS obs_ts,
           (SELECT max_by(r.v, r.ts) FROM r
             WHERE r.user_id = l.user_id AND r.grp = l.event_id % 4
               AND r.ts <= l.ts) AS obs_v
    FROM l
) WHERE obs_ts IS NOT NULL
""",
        max_exchanges=2,
    )
    w["parsed_asof_tolerance_left"] = planned(
        parse_sql(
            "SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, "
            "r.pval "
            "FROM (SELECT event_id, ts, user_id FROM events "
            "WHERE event_type = 'click' AND event_id % 20 = 0) AS l "
            "ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval "
            "FROM events WHERE event_type = 'purchase' "
            "GROUP BY user_id, ts) AS r "
            "ON l.user_id = r.user_id AND l.ts >= r.ts "
            "AND r.ts >= l.ts - INTERVAL '1' DAY"
        ),
        headline=True,
        oracle="""
WITH m AS MATERIALIZED (
    SELECT l.event_id, l.ts, l.user_id, r.ts AS purchase_ts, r.pval
    FROM (SELECT event_id, ts, user_id FROM events
          WHERE event_type = 'click' AND event_id % 20 = 0) l
    ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS pval FROM events
                    WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) r
    ON l.user_id = r.user_id AND l.ts >= r.ts)
SELECT event_id, ts, user_id,
       CASE WHEN purchase_ts >= ts - INTERVAL 1 DAY
            THEN purchase_ts END AS purchase_ts,
       CASE WHEN purchase_ts >= ts - INTERVAL 1 DAY
            THEN pval END AS pval
FROM m
""",
        max_exchanges=2,
    )
    # RUNNING distinct count (cumulative unique users) — the
    # ordered extension of the DISTINCT-over-window desugar: the
    # first-occurrence flag is ordered by the window's keys, so "seen
    # at or before this position" is exactly "flag row in the running
    # frame". Hand oracle: DuckDB's native ordered DISTINCT window.
    w["parsed_win_running_distinct"] = planned(
        parse_sql(
            "SELECT event_id, "
            "count(DISTINCT user_id) OVER (PARTITION BY event_type "
            "ORDER BY ts, event_id) AS uniq_users "
            "FROM events WHERE event_id % 5 = 0"
        ),
        headline=True,
        # running distinct replayed via DuckDB's NATIVE ordered DISTINCT
        # window (the flag machinery never runs)
        oracle="""
SELECT event_id,
       count(DISTINCT user_id) OVER (PARTITION BY event_type
           ORDER BY ts, event_id) AS uniq_users
FROM events WHERE event_id % 5 = 0
""")
    # FILTER (WHERE ...) on a WINDOW aggregate — Spark
    # rejects the clause there ("not supported yet"), so the Spark
    # render desugars to the exact CASE rewrite while DuckDB keeps the
    # native clause; DECIMAL below the window so the conditional sum is
    # engine-order-proof. The hand oracle replays the native clause.
    w["parsed_win_filter"] = planned(
        parse_sql(
            "SELECT o_orderkey, o_custkey, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
            "FILTER (WHERE o_orderstatus = 'O') "
            "OVER (PARTITION BY o_custkey) AS DOUBLE) AS open_total, "
            "count(*) FILTER (WHERE o_totalprice > 100000) "
            "OVER (PARTITION BY o_custkey) AS big_n "
            "FROM orders WHERE o_orderkey < 4000"
        ),
        headline=True,
        # window FILTER replayed via DuckDB's NATIVE FILTER clause on the
        # window aggregate (the Spark render is the CASE desugar — native
        # vs desugar cannot both be wrong the same way)
        oracle="""
SELECT o_orderkey, o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O')
            OVER (PARTITION BY o_custkey) AS DOUBLE) AS open_total,
       count(*) FILTER (WHERE o_totalprice > 100000)
            OVER (PARTITION BY o_custkey) AS big_n
FROM orders WHERE o_orderkey < 4000
""")
    # multi-statement script — CREATE TEMP VIEW chain + final
    # SELECT desugars to ONE With (a CTE IS a session-scoped named
    # query, bound inside the query text, so no view outlives it).
    # Counts are integer-exact.
    w["parsed_script_views"] = planned(
        parse_sql(
            "CREATE TEMP VIEW big_cust AS "
            "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000; "
            "CREATE OR REPLACE TEMP VIEW cust_orders AS "
            "SELECT b.c_custkey, b.c_name, count(*) AS n FROM big_cust b "
            "JOIN orders ON o_custkey = b.c_custkey "
            "GROUP BY b.c_custkey, b.c_name; "
            "SELECT c_name, n FROM cust_orders WHERE n > 12"
        ),
        headline=True,
        # script views replayed with NO WITH clause at all: each view
        # manually inlined as a nested derived table
        oracle="""
SELECT c_name, n FROM (
    SELECT b.c_custkey, b.c_name, count(*) AS n
    FROM (SELECT c_custkey, c_name FROM customer
          WHERE c_acctbal > 5000) b
    JOIN orders ON o_custkey = b.c_custkey
    GROUP BY b.c_custkey, b.c_name
) cust_orders
WHERE n > 12
""")
    # ANSI-mode error-safe scalars — try_divide (NULL on /0,
    # always float division) and try_element_at (NULL out of range);
    # Spark natives, DuckDB twins spell the NULL contract out
    w["expr_try_funcs"] = planned(
        parse_sql(
            "SELECT o_orderkey, "
            # one FP division is correctly rounded — bit-exact cross-engine
            "try_divide(o_totalprice, o_custkey % 3) AS d, "
            "try_element_at(split(o_orderpriority, '-'), 2) AS p2, "
            "try_element_at(split(o_orderpriority, '-'), 5) AS p5 "
            "FROM orders WHERE o_orderkey < 2000"
        ),
        headline=True,
        # try_ scalars replayed with explicit CASE guards (no nullif, no
        # bare subscript: the out-of-range probe checks len() first)
        oracle="""
SELECT o_orderkey,
       CASE WHEN o_custkey % 3 = 0 THEN NULL
            ELSE o_totalprice / (o_custkey % 3) END AS d,
       CASE WHEN len(string_split(o_orderpriority, '-')) >= 2
            THEN string_split(o_orderpriority, '-')[2] END AS p2,
       CASE WHEN len(string_split(o_orderpriority, '-')) >= 5
            THEN string_split(o_orderpriority, '-')[5] END AS p5
FROM orders WHERE o_orderkey < 2000
""")
    # implicit comma cross-join (SQL-92, the most common join
    # spelling in the wild; the reference renders
    # comma-separated FROM tables, sqlgenerator/src/lib.rs:79-102,
    # corpus intent tests/select.rs:817-837 csv_join_unaliased_
    # subqueries). Parses to Join(cross) + Filter; Catalyst's
    # ExtractFiltersAndInnerJoins folds the WHERE equality into a hash
    # equi-join, so the plan is identical to the explicit-ON spelling
    # (plan-gated: no CartesianProduct). DECIMAL below the sum; the
    # hand oracle replays with explicit JOIN ... ON.
    # PG regex-match operator spellings ~ ~* !~ !~* (the
    # reference's DF side maps all four,
    # datafusion-sqlgen/src/expr.rs:202-205). Parse-time normalization
    # onto RLike: partial-match PG semantics on both engines (NOTE:
    # DuckDB's own native `~` is regexp_full_match — a different
    # operator — so the duckdb render spells regexp_matches, never the
    # bare operator). Case-folding via inline (?i). Hand oracle counts
    # matches with regexp_extract_all instead of testing membership.
    w["parsed_pg_regex_match"] = planned(
        parse_sql(
            "SELECT o_orderkey, o_orderpriority, "
            "(o_orderpriority ~ 'HIGH$') AS is_high, "
            "(o_orderpriority ~* '^[0-4]-[a-z]+') AS pri_ci, "
            "(o_orderpriority !~ '[3-5]') AS pri_low, "
            "(o_orderstatus !~* '[fo]') AS status_p "
            "FROM orders WHERE o_orderkey < 2000"
        ),
        headline=True,
        # PG regex operators replayed via regexp_extract_all match COUNTS
        # (len(...) > 0 / = 0) with the 'i' options flag for the
        # case-folded forms — a different mechanism from the engine render
        # (regexp_matches membership with an inline (?i) flag)
        oracle="""
SELECT o_orderkey, o_orderpriority,
       len(regexp_extract_all(o_orderpriority, 'HIGH$')) > 0 AS is_high,
       len(regexp_extract_all(o_orderpriority, '^[0-4]-[a-z]+', 0, 'i'))
           > 0 AS pri_ci,
       len(regexp_extract_all(o_orderpriority, '[3-5]')) = 0 AS pri_low,
       len(regexp_extract_all(o_orderstatus, '[fo]', 0, 'i')) = 0
           AS status_p
FROM orders WHERE o_orderkey < 2000
""")
    w["parsed_comma_join"] = planned(
        parse_sql(
            "SELECT c.c_mktsegment, n.n_name, count(*) AS n_orders, "
            "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
            "AS revenue "
            "FROM customer AS c, orders AS o, nation AS n "
            "WHERE c.c_custkey = o.o_custkey "
            "AND c.c_nationkey = n.n_nationkey "
            "AND c.c_acctbal > 1000 "
            "GROUP BY c.c_mktsegment, n.n_name"
        ),
        headline=True,
        # comma cross-join replayed with explicit INNER JOIN ... ON — the
        # engine side parses the SQL-92 comma spelling to Join(cross) +
        # Filter, so the oracle's explicit-ON formulation shares none of
        # that desugar path
        oracle="""
SELECT c.c_mktsegment, n.n_name, count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > 1000
GROUP BY c.c_mktsegment, n.n_name
""")

    return w


# --------------------------------------------------------------------------
# Operator workloads: DataFrame code on Spark, the operator's DuckDB oracle
# --------------------------------------------------------------------------

def _union_by_name(s: SparkSession) -> DataFrame:
    """Schema-aligned union: the right side's columns arrive in a
    different order (the classic heterogeneous-source append);
    ``unionByName`` aligns by name where positional UNION would silently
    mis-pair columns. Narrow op — no shuffle."""
    left = s.table("customer").selectExpr(
        "c_custkey AS id", "c_name AS name", "c_acctbal AS bal"
    ).filter("c_custkey < 100")
    right = s.table("supplier").selectExpr(
        "s_acctbal AS bal", "s_suppkey AS id", "s_name AS name"  # reordered
    ).filter("s_suppkey < 50")
    return left.unionByName(right)


_UNION_BY_NAME_ORACLE = """
SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
FROM customer WHERE c_custkey < 100
UNION ALL
SELECT s_suppkey AS id, s_name AS name, s_acctbal AS bal
FROM supplier WHERE s_suppkey < 50
"""


def _source_jsonl_roundtrip(s: SparkSession) -> DataFrame:
    """Write documents metadata as JSON-lines, read it back through the
    JSON source with an explicit schema (schema-on-read: no inference
    job), aggregate per language. First driver-sampled workload through
    the JSON source path; values must match aggregating the parquet
    source directly — which is what the oracle does."""

    from pyspark.sql import types as T

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("src_jsonl_") + "/docs_meta"
    src = s.table("documents").select("doc_id", "lang", "n_chars")
    sio.write_json(src, out)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    back = sio.read_json(s, out, schema=schema)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_SOURCE_JSONL_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def _source_schema_evolution(s: SparkSession) -> DataFrame:
    """Schema evolution across parquet writes — the long-lived-corpus
    reality: generation 1 lacks a column generation 2 adds. Write both
    generations to one dataset, read with ``merge_schema=True`` (footers
    reconciled by name; old files surface NULL for the new column), and
    aggregate per language counting which rows carry the new column.
    The oracle computes the same split from the source table directly."""

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("src_evo_") + "/docs_evolved"
    docs = s.table("documents")
    gen1 = docs.filter(F.col("doc_id") < 250).select("doc_id", "lang", "n_chars")
    gen2 = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", "lang", "n_chars",
        F.lit("scored").alias("quality_tier"),
    )
    sio.write_parquet(gen1, out)
    sio.write_parquet(gen2, out, mode="append")
    back = sio.read_parquet(s, out, merge_schema=True)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("quality_tier").cast("bigint").alias("n_with_tier"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_SOURCE_EVOLUTION_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_tier,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def _sink_zorder_roundtrip(s: SparkSession) -> DataFrame:
    """Z-order-clustered write of orders on (o_custkey, o_totalprice),
    then a read-back aggregate proving the clustered copy is the same
    multiset. The layout property itself (tight per-file footer spans on
    BOTH dimensions) is pinned by
    tests/test_multimodal_sources_udfs.py::test_zorder_write_tightens_footers."""

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("sink_z_") + "/orders_z"
    orders = s.table("orders")
    # bounds computed inside the write job (broadcast 1-row min/max) —
    # no .first() driver round-trip
    sio.write_zordered_auto(
        orders, out, ["o_custkey", "o_totalprice"], n_files=8
    )
    back = sio.read_parquet(s, out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_SINK_ZORDER_ORACLE = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus
"""




def _streaming_rollup_result(s: SparkSession) -> DataFrame:
    """Bounded-stream replay of the materialized-rollup sink: events are
    staged as 4 files and replayed one file per trigger through
    ``rollup_merge_batch``, so the standing state table is built by 4
    successive merges (the additive state algebra and the batch-id
    idempotency guard); the finalized table is hash-checked against the
    batch rollup of all raw rows."""
    from datafusion_sqlgen_spark.streaming.ops import (
        run_bounded_rollup,
        stage_replay,
    )

    work, src = stage_replay(s.table("events"), "stream_rollup_")
    return run_bounded_rollup(s, src, work)


def _streaming_drift_psi_result(s: SparkSession) -> DataFrame:
    """STREAMING drift monitoring: the purchase value stream is bucketed
    against FIXED reference edges (min/max of the batch click cohort —
    the reference snapshot) and counted per (event-time day, bucket)
    through a streaming query replayed over 4 file triggers into a
    complete-mode memory table; the PSI terms are then finalized
    batch-side against the click distribution (streaming/ops.py
    drift_psi_stream + drift_psi_finalize — the streaming twin of
    operators.profiling.drift_psi). The edge lookup is a 1-row
    aggregate collect at plan-build time (setup, not per-row
    compute)."""

    from datafusion_sqlgen_spark.streaming.ops import (
        drift_psi_finalize,
        drift_psi_stream,
        read_events_stream,
        replay,
        stage_replay,
    )

    n = 10
    ref_src = s.table("events").where(
        "event_type = 'click' AND value IS NOT NULL")
    lo, hi = ref_src.agg(
        F.min("value"), F.max("value")).first()  # 1-row edge collect
    width = (hi - lo) / float(n)
    if hi <= lo:
        bucket = F.lit(0)
    else:
        bucket = F.least(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width))
            .cast("int"),
            F.lit(n - 1),
        )
    ref = ref_src.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ref"))

    work, src = stage_replay(s.table("events"), "stream_psi_")
    cur = replay(
        drift_psi_stream(read_events_stream(s, src), lo, hi, n), work,
        "streaming_drift_psi_tbl", "complete",
    )
    return drift_psi_finalize(cur, ref, n)


# Batch SQL twin of the streamed per-day PSI: same fixed click-cohort
# edges, same full day x bucket grid, same eps-floored proportions and
# 1e-6 term snap — the stream replay must land on exactly this table.
_STREAMING_DRIFT_PSI_ORACLE = """
WITH ref_src AS (
    SELECT value AS v FROM events
    WHERE event_type = 'click' AND value IS NOT NULL
),
mm AS (SELECT min(v) AS lo, max(v) AS hi FROM ref_src),
ref AS (
    SELECT CASE WHEN hi <= lo THEN 0
                ELSE least(CAST(floor((v - lo) / ((hi - lo) / 10.0))
                                AS INT), 9) END AS bucket,
           CAST(count(*) AS BIGINT) AS n_ref
    FROM ref_src, mm GROUP BY 1
),
cur AS (
    -- CAST: DuckDB's date_trunc('day', ...) returns DATE while Spark's
    -- window start is a TIMESTAMP — the driver's value hash formats
    -- the two differently (caught by the test_entry driver mimic)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN hi <= lo THEN 0
                ELSE greatest(least(CAST(floor((value - lo) /
                                               ((hi - lo) / 10.0))
                                         AS INT), 9), 0) END AS bucket,
           CAST(count(*) AS BIGINT) AS n_cur
    FROM events, mm
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY 1, 2
),
tot_ref AS (SELECT sum(n_ref) AS tr FROM ref),
tot_day AS (SELECT day, sum(n_cur) AS td FROM cur GROUP BY day),
grid AS (
    SELECT d.day, CAST(r.range AS INT) AS bucket
    FROM (SELECT DISTINCT day FROM cur) d, range(0, 10) r
),
j AS (
    SELECT g.day, g.bucket,
           coalesce(c.n_cur, 0) AS n_cur,
           coalesce(rf.n_ref, 0) AS n_ref,
           td.td, tr.tr
    FROM grid g
    LEFT JOIN cur c ON c.day = g.day AND c.bucket = g.bucket
    LEFT JOIN ref rf ON rf.bucket = g.bucket
    JOIN tot_day td ON td.day = g.day
    CROSS JOIN tot_ref tr
)
SELECT day, bucket, CAST(n_cur AS BIGINT) AS n_cur,
       (floor(((greatest(CAST(n_cur AS DOUBLE) / td, 1e-06)
                - greatest(CAST(n_ref AS DOUBLE) / tr, 1e-06))
               * ln(greatest(CAST(n_cur AS DOUBLE) / td, 1e-06)
                    / greatest(CAST(n_ref AS DOUBLE) / tr, 1e-06)))
              * 1000000 + 0.5) / 1000000) AS psi_term
FROM j
"""


def _streaming_kmeans_result(s: SparkSession) -> DataFrame:
    """STREAMING k-means model maintenance: embeddings are hash-split
    into 4 files (vec_id % 4 — deterministic batch membership, unlike
    repartition) with strictly increasing mtimes, replayed one file per
    trigger through ``kmeans_update_batch``: each trigger assigns its
    vectors to the CURRENT centroids and accumulates order-free
    fixed-point per-(cell, dim) sums into a new state generation (the
    MODEL state-algebra class — a batch's contribution depends on the
    state it observed, so batch order is load-bearing and the replay
    guard is mandatory). The finalized model (cell, dim, n, centroid)
    is hash-checked against the same 4 batches replayed as unrolled SQL
    stages."""
    from datafusion_sqlgen_spark.streaming.ops import (
        run_bounded_kmeans,
        stage_replay,
    )

    emb = s.table("embeddings").withColumn("__b", F.col("vec_id") % 4)
    work, src = stage_replay(emb, "stream_km_", bucket="__b")
    return run_bounded_kmeans(s, src, work, k=8)


def _streaming_kmeans_oracle(k: int = 8, n_batches: int = 4) -> str:
    """The SAME batch sequence replayed as unrolled SQL stages: stage i
    assigns batch i (vec_id % n_batches = i) against the centroids of
    the state AFTER batch i-1 (cumulative fixed-point means), merges
    its per-(cell, dim) sums, and the final state is emitted with the
    same 1e-6 centroid snap. Distances are order-free fixed-point
    BIGINT sums of per-dim snapped squared diffs, ties break on the
    lower cell id — bit-identical to the Spark sink's algebra."""
    fp, dfp = "1000000.0", "1000000000000.0"
    parts = [f"""
WITH pts AS (
    SELECT b, pid, CAST(i AS INT) - 1 AS dim,
           CAST(embedding[i] AS DOUBLE) AS val
    FROM (
        SELECT vec_id % {n_batches} AS b, vec_id AS pid, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings
    )
),
seed AS (
    SELECT vec_id AS sid,
           CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell
    FROM embeddings WHERE vec_id % {n_batches} = 0
    ORDER BY vec_id LIMIT {k}
),
cent0 AS (
    SELECT s.cell, p.dim, p.val AS c FROM seed s
    JOIN pts p ON p.pid = s.sid
)"""]
    for i in range(n_batches):
        parts.append(f""",
d{i} AS (
    SELECT p.pid, c.cell,
           SUM(CAST(floor((p.val - c.c) * (p.val - c.c) * {dfp} + 0.5)
                    AS BIGINT)) AS dist
    FROM pts p JOIN cent{i} c USING (dim)
    WHERE p.b = {i}
    GROUP BY p.pid, c.cell
),
a{i} AS (
    SELECT pid, cell FROM (
        SELECT pid, cell, row_number() OVER (PARTITION BY pid
            ORDER BY dist ASC, cell ASC) AS rn FROM d{i}
    ) WHERE rn = 1
),
bs{i} AS (
    SELECT a.cell, p.dim,
           SUM(CAST(floor(p.val * {fp} + 0.5) AS BIGINT)) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM a{i} a JOIN pts p ON p.pid = a.pid AND p.b = {i}
    GROUP BY 1, 2
)""")
        if i == 0:
            parts.append(f""",
st{i + 1} AS (SELECT cell, dim, s, n FROM bs0)""")
        else:
            parts.append(f""",
st{i + 1} AS (
    SELECT coalesce(b.cell, o.cell) AS cell,
           coalesce(b.dim, o.dim) AS dim,
           coalesce(b.s, 0) + coalesce(o.s, 0) AS s,
           coalesce(b.n, 0) + coalesce(o.n, 0) AS n
    FROM bs{i} b FULL JOIN st{i} o
      ON b.cell = o.cell AND b.dim = o.dim
)""")
        if i < n_batches - 1:
            parts.append(f""",
cent{i + 1} AS (
    SELECT cell, dim,
           CAST(s AS DOUBLE) / {fp} / CAST(n AS DOUBLE) AS c
    FROM st{i + 1}
)""")
    parts.append(f"""
SELECT cell, dim, CAST(n AS BIGINT) AS n,
       (floor((CAST(s AS DOUBLE) / {fp} / CAST(n AS DOUBLE))
              * 1000000 + 0.5) / 1000000) AS centroid
FROM st{n_batches}
""")
    return "".join(parts)


def _streaming_topk_result(s: SparkSession) -> DataFrame:
    """STREAMING windowed top-k: per-day per-user event counts
    aggregated through a streaming query replayed over 4 file-triggers
    (state O(open windows x distinct users) — the honest exact-top-k
    cost; the CMS sketch sink is the unbounded-key fallback), then the
    top-5 users per day cut batch-side with id tie-breaks
    (streaming/ops.py windowed_topk_stream + topk_finalize)."""

    from datafusion_sqlgen_spark.streaming.ops import (
        read_events_stream,
        replay,
        stage_replay,
        topk_finalize,
        windowed_topk_stream,
    )

    work, src = stage_replay(s.table("events"), "stream_topk_")
    return topk_finalize(replay(
        windowed_topk_stream(read_events_stream(s, src)), work,
        "streaming_topk_tbl", "complete",
    ))


# Batch SQL twin of the streamed windowed top-k: same day truncation
# (CAST — DuckDB's date_trunc returns DATE), same count, same rank cut
# with user_id tie-breaks.
_STREAMING_TOPK_ORACLE = """
WITH counts AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           user_id, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT day, user_id, n, rnk FROM (
    SELECT day, user_id, n,
           CAST(row_number() OVER (PARTITION BY day
               ORDER BY n DESC, user_id ASC NULLS LAST) AS INT) AS rnk
    FROM counts
) WHERE rnk <= 5
"""


def _streaming_scd2_result(s: SparkSession) -> DataFrame:
    """STREAMING CDC-apply / SCD2 sink: events are split into 4
    TIME-ORDERED files (ntile(4) over event_id — deterministic batch
    membership AND chronological batch order, so the versioned history
    reads like a real CDC feed) with strictly increasing mtimes,
    replayed one file per trigger through ``scd2_apply_batch``: each
    trigger CDC-compacts its batch (last row per user by ts) and applies
    it as a type-2 merge to the standing history — changed users close
    their open version at their event time and re-open from it (the
    HISTORY state-algebra class: a batch's merge depends on the open
    slice it observed, so the batch-id replay guard is mandatory). The
    final history table is hash-checked against the same 4 merges
    unrolled as MATERIALIZED CTE stages."""
    return _run_scd2_replay(s)


def _streaming_scd2_tombstones_result(s: SparkSession) -> DataFrame:
    """The CDC-DELETE variant: same 4 time-ordered file triggers, but a
    compacted row matching ``event_type = 'error'`` is a TOMBSTONE — it
    closes the key's open version at its event time without re-opening
    (the key may re-appear later as a fresh version). Hash-checked
    against the tombstone-armed unrolled batch twin."""
    return _run_scd2_replay(s, tombstone_where="event_type = 'error'")


def _run_scd2_replay(
    s: SparkSession, tombstone_where: str | None = None
) -> DataFrame:
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.streaming.ops import (
        run_bounded_scd2,
        stage_replay,
    )

    ev = s.table("events").withColumn(
        "__b",
        F.ntile(4).over(Window.orderBy(F.col("event_id").asc())) - 1,
    )
    work, src = stage_replay(ev, "stream_scd2_", bucket="__b")
    return run_bounded_scd2(s, src, work, tombstone_where=tombstone_where)


def _streaming_scd2_oracle(
    n_batches: int = 4, tombstone_where: str | None = None
) -> str:
    """The SAME batch sequence replayed as unrolled SQL merges: stage i
    CDC-compacts batch i (ntile bucket i, last row per user by ts then
    event_id) and applies the scd2 arms — closed-history passthrough,
    tombstone-close (when ``tombstone_where`` marks the compacted row a
    CDC delete), unchanged-open passthrough, close-at-event-time,
    open-from-event-time — against the history AFTER stage i-1.
    MATERIALIZED pins each stage: h(i) references h(i-1) four-plus
    times, so an inlined plan would re-derive the whole prefix
    exponentially."""
    tomb = tombstone_where
    tomb_sel = (
        f",\n           coalesce({tomb}, FALSE) AS tomb" if tomb else "")
    parts = [f"""src AS (
    SELECT user_id, event_type, ts, event_id,
           ntile({n_batches}) OVER (ORDER BY event_id ASC) AS b
    FROM events
)"""]
    for i in range(1, n_batches + 1):
        parts.append(f"""snap{i} AS MATERIALIZED (
    SELECT user_id, event_type, ts{", tomb" if tomb else ""} FROM (
        SELECT user_id, event_type, ts{tomb_sel},
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM src WHERE b = {i}
    ) WHERE rn = 1
)""")
        live = f"(SELECT * FROM snap{i} WHERE NOT tomb)" if tomb \
            else f"snap{i}"
        if i == 1:
            parts.append(f"""h1 AS MATERIALIZED (
    SELECT user_id, event_type, ts AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM {live}
)""")
            continue
        p = i - 1
        tomb_arm = ""
        tomb_guard = ""
        if tomb:
            tomb_arm = f"""
    UNION ALL
    SELECT c.user_id, c.event_type, c.valid_from, t.ts, FALSE
    FROM (SELECT * FROM h{p} WHERE is_current) c
    JOIN (SELECT * FROM snap{i} WHERE tomb) t
      ON c.user_id = t.user_id"""
            tomb_guard = f"""
    LEFT JOIN (SELECT * FROM snap{i} WHERE tomb) t
      ON c.user_id = t.user_id"""
        unchanged_where = (
            "WHERE (s.user_id IS NULL\n"
            "       OR c.event_type IS NOT DISTINCT FROM s.event_type)")
        if tomb:
            unchanged_where += "\n      AND t.user_id IS NULL"
        parts.append(f"""h{i} AS MATERIALIZED (
    SELECT user_id, event_type, valid_from, valid_to, is_current
    FROM h{p} WHERE NOT is_current{tomb_arm}
    UNION ALL
    SELECT c.user_id, c.event_type, c.valid_from, c.valid_to,
           c.is_current
    FROM (SELECT * FROM h{p} WHERE is_current) c
    LEFT JOIN {live} s ON c.user_id = s.user_id{tomb_guard}
    {unchanged_where}
    UNION ALL
    SELECT c.user_id, c.event_type, c.valid_from, s.ts, FALSE
    FROM (SELECT * FROM h{p} WHERE is_current) c
    JOIN {live} s ON c.user_id = s.user_id
    WHERE c.event_type IS DISTINCT FROM s.event_type
    UNION ALL
    SELECT s.user_id, s.event_type, s.ts,
           CAST(NULL AS TIMESTAMP), TRUE
    FROM {live} s
    LEFT JOIN (SELECT * FROM h{p} WHERE is_current) c
      ON c.user_id = s.user_id
    WHERE c.user_id IS NULL
       OR c.event_type IS DISTINCT FROM s.event_type
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT user_id, event_type, valid_from, valid_to, "
          f"is_current FROM h{n_batches}"
    )


def _scd2_pointlookup_oracle(n_batches: int = 4) -> str:
    """Temporal-lookup twin: build the same unrolled history, then each
    event picks the version current at its timestamp (LEFT join — the
    batch-side mirror of joins.scd2_point_in_time)."""
    hist = _streaming_scd2_oracle(n_batches)
    with_block = hist[: hist.rindex("\nSELECT user_id")]
    return (
        with_block
        + f"""
SELECT e.event_id, e.user_id, e.ts,
       h.event_type AS dim_event_type
FROM events e
LEFT JOIN h{n_batches} h
  ON e.user_id = h.user_id
 AND e.ts >= h.valid_from
 AND (h.valid_to IS NULL OR e.ts < h.valid_to)"""
    )


def _mm_binary_ingest(s: SparkSession) -> DataFrame:
    """Write the first 40 documents' bytes as individual .bin files
    (setup), then ingest the directory through the binaryFile source
    and fingerprint each payload executor-side."""
    import os

    work = work_dir("mm_bin_")
    rows = (
        s.table("documents")
        .where("doc_id < 40 AND text IS NOT NULL")
        .select("doc_id", "text")
        .collect()  # 40 small rows: file-writing setup, not compute
    )
    for r in rows:
        with open(os.path.join(work, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    mm = multimodal.ingest_binary_files(s, work)
    return mm.select(
        "doc_id", "n_bytes", F.md5(F.col("payload")).alias("payload_md5")
    )


def _mm_phash_pairs(s: SparkSession) -> DataFrame:
    """Perceptual near-dup pairs over documents plus a doc_id+10M twin
    copy (planted exact duplicates keep the result non-empty at every
    SF — the 0-row trivially-green-trap rule). max_hamming=32 exceeds
    n_chunks-1, so the output contract deliberately includes the LSH
    band predicate; the oracle states the same predicate."""
    docs = s.table("documents").select("doc_id", "text")
    twin = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    mm = multimodal.as_multimodal(docs.unionByName(twin))
    return multimodal.phash_near_dup_pairs(mm, max_hamming=32, n_chunks=4)


def _streaming_hll_result(s: SparkSession) -> DataFrame:
    """Bounded-stream replay of the streaming-sketch sink: events staged
    as 4 files and replayed one file per trigger through
    ``sketch_merge_batch``, so the standing HLL register table is built
    by 4 successive max-merges (the idempotent state class, vs the
    rollup sink's additive class), then hash-checked against the
    one-pass register build (union law)."""

    from datafusion_sqlgen_spark.streaming.ops import (
        run_bounded_sketch,
        stage_replay,
    )

    work, src = stage_replay(s.table("events"), "stream_hll_")
    return run_bounded_sketch(s, src, work)


def _streaming_sessions_result(s: SparkSession) -> DataFrame:
    """Session-window aggregation through a streaming query: events
    staged as 4 files and replayed one file per trigger into
    ``session_window_stream`` (complete-mode memory table), so sessions
    MERGE across triggers — the stateful-session path, not a batch
    re-run.  DECIMAL-exact value sums make the result hash-identical to
    the DuckDB gaps-and-islands twin."""

    from datafusion_sqlgen_spark.streaming.ops import (
        read_events_stream,
        replay,
        session_window_stream,
        stage_replay,
    )

    work, src = stage_replay(s.table("events"), "stream_sess_")
    return replay(
        session_window_stream(
            read_events_stream(s, src), watermark=None, exact=True),
        work, "streaming_sessions_tbl", "complete",
    )


# Gaps-and-islands batch twin of the streaming session windows: a new
# session starts when the previous event of the user is > gap away;
# session_end is Spark's last-event + gap convention.
_STREAMING_SESSIONS_ORACLE = """
WITH o AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
    FROM events
),
g AS (
    SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS session_value
FROM g
GROUP BY user_id, sid
"""


def _streaming_running_totals_result(s: SparkSession) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) through a
    streaming query: per-user running totals accumulate in 1e4
    fixed-point BIGINT state across 4 file-triggers; the final snapshot
    per user is its max-n_events emission in the update-mode memory
    table (the counter is strictly increasing)."""
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.streaming.ops import (
        read_events_stream,
        replay,
        stage_replay,
        user_running_totals_stream_exact,
    )

    work, src = stage_replay(s.table("events"), "stream_totals_")
    totals = replay(
        user_running_totals_stream_exact(read_events_stream(s, src)),
        work, "streaming_totals_tbl", "update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        totals.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_fx")
    )


_STREAMING_TOTALS_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_fx
FROM events
GROUP BY user_id
"""


def _streaming_sliding_result(s: SparkSession) -> DataFrame:
    """Sliding event-time windows through a streaming query: events
    staged as 4 files and replayed one file per trigger into
    ``sliding_window_stream`` without a watermark (complete-mode memory
    table over an id-split replay — the sessions workload's documented
    pattern), so overlapping windows accumulate counts ACROSS triggers.
    Pure counts: no float hazard anywhere."""

    from datafusion_sqlgen_spark.streaming.ops import (
        read_events_stream,
        replay,
        sliding_window_stream,
        stage_replay,
    )

    work, src = stage_replay(s.table("events"), "stream_slide_")
    return replay(
        sliding_window_stream(read_events_stream(s, src), watermark=None),
        work, "streaming_sliding_tbl", "complete",
    )


# Each event lands in exactly window/slide = 2 overlapping windows:
# start = slide-aligned bucket minus k*slide for k in {0, 1}.  Spark
# aligns window origins to the epoch, so integer epoch arithmetic
# replays the assignment exactly (floor(epoch(ts)), not CAST — CAST
# rounds fractional seconds).
_STREAMING_SLIDING_ORACLE = """
WITH s AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
w AS (
    SELECT (CAST(floor(e / 1800) AS BIGINT) - k.k) * 1800 AS ws
    FROM s CROSS JOIN (VALUES (0), (1)) AS k(k)
)
SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS window_start,
       CAST(to_timestamp(ws + 3600) AS TIMESTAMP) AS window_end,
       CAST(count(*) AS BIGINT) AS n
FROM w
GROUP BY ws
"""


def _streaming_enrich_result(s: SparkSession) -> DataFrame:
    """Stream-static broadcast enrichment through a streaming query:
    events replay one file per trigger and every micro-batch
    broadcast-joins the STATIC customer dimension — the
    facts-stream/dims-broadcast pattern, stateless (append mode, no
    watermark, no state store).  Exact integer/string columns only."""

    from datafusion_sqlgen_spark.streaming.ops import (
        read_events_stream,
        replay,
        stage_replay,
        stream_static_enrich,
    )

    work, src = stage_replay(s.table("events"), "stream_enrich_")
    dim = s.table("customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
        "c_nationkey",
    )
    enriched = stream_static_enrich(
        read_events_stream(s, src), dim, on="user_id"
    ).select(
        "event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey"
    )
    return replay(enriched, work, "streaming_enrich_tbl")


_STREAMING_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, c.c_nationkey
FROM events e
LEFT JOIN customer c ON c.c_custkey = e.user_id
"""


def _streaming_attribution_result(s: SparkSession) -> DataFrame:
    """Stream-stream interval join through a streaming query: events
    staged as 4 files replayed one per trigger; purchases attribute to
    prior clicks within 30 minutes across trigger boundaries (the
    stateful stream-join path).  The replay watermark is deliberately
    wide — the 4 files are not time-ordered, and a production-width
    watermark would drop whole earlier-timestamped batches as late;
    inner joins emit matches immediately, so the watermark only governs
    eviction. ``exact=True`` passes values through unrounded
    (bit-identical doubles, no cross-engine rounding hazard)."""

    from datafusion_sqlgen_spark.streaming.ops import (
        click_purchase_attribution_stream,
        read_events_stream,
        replay,
        stage_replay,
    )

    work, src = stage_replay(s.table("events"), "stream_attr_")
    return replay(
        click_purchase_attribution_stream(
            read_events_stream(s, src), watermark="3650 days", exact=True
        ),
        work, "streaming_attribution_tbl", shuffle_partitions=4,
    )


_STREAMING_ATTRIBUTION_ORACLE = """
SELECT c.user_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       p.value AS value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def _sentinel_quartiles(s: SparkSession) -> DataFrame:
    """The watermark-eviction replay input shared by the LEFT OUTER
    attribution and point-in-time enrichment workloads: the events
    table as four event-TIME quartiles (``__b`` 0-3, staged as files in
    that trigger order), plus one trailing sentinel click+purchase pair
    for reserved ``user_id -1`` (``__b`` 4, 10 days past max ts) that
    advances BOTH sides' watermark nodes past all real data. Watermarks
    computed in batch N evict and emit in batch N+1: here that is the
    no-data micro-batch Spark runs by default once the sentinel's batch
    has moved the watermark, and it flushes every real unmatched row.
    Callers filter sentinel rows out by user_id sign."""
    import datetime

    from pyspark.sql import Window

    ev = s.table("events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # 1-row fixture agg
    q = ev.withColumn(
        "__b", F.ntile(4).over(Window.orderBy("ts", "event_id")) - 1
    )
    sent_ts = max_ts + datetime.timedelta(days=10)
    sent_rows = [
        (10**9 + 2, sent_ts, -1, "click", 0.0, "", 4),
        (10**9 + 3, sent_ts, -1, "purchase", 0.0, "", 4),
    ]
    return q.unionByName(s.createDataFrame(sent_rows, q.schema))


def _streaming_attribution_left_result(s: SparkSession) -> DataFrame:
    """LEFT OUTER stream-stream interval join through a streaming
    query: unattributed clicks — the funnel-drop side — surface with
    NULL purchase/value.  Unlike the inner replay, outer rows only emit
    when the GLOBAL watermark passes the join window, which forces the
    production replay discipline end-to-end:

    * the 4 source files are event-TIME quartiles with increasing
      mtimes (the file source triggers them in order), so a REAL
      watermark ("1 hour" > the 30-minute window) never drops a batch
      and never evicts a click before its window closes;
    * one trailing sentinel file (a far-future click+purchase pair
      for reserved user_id -1, 10 days past max ts) advances both
      sides' watermark nodes past all real data — watermarks computed
      in batch N evict and emit outer rows in batch N+1, so the
      no-data micro-batch Spark runs by default after the sentinel's
      batch flushes every real unmatched click;
    * sentinel rows filter out of the result by user_id sign.

    Values pass through unrounded (exact=True); the oracle is the
    batch LEFT-JOIN twin."""
    from datafusion_sqlgen_spark.streaming.ops import (
        click_purchase_attribution_stream,
        read_events_stream,
        replay,
        stage_replay,
    )

    work, src = stage_replay(
        _sentinel_quartiles(s), "stream_attr_left_", files=5, bucket="__b")
    return replay(
        click_purchase_attribution_stream(
            read_events_stream(s, src), watermark="1 hour", exact=True,
            how="leftOuter",
        ),
        work, "streaming_attribution_left_tbl", shuffle_partitions=4,
    ).filter(F.col("user_id") >= 0)


def _streaming_pit_enrich_result(s: SparkSession) -> DataFrame:
    """Streaming point-in-time (ASOF) enrichment: TWO chained stateful
    operators — a LEFT OUTER interval join feeding a per-click max_by
    aggregation — through a streaming query, so each click surfaces
    with the single most recent same-user purchase in its 30-minute
    lookback window (NULL-enriched otherwise).  The replay input is the
    shared `_sentinel_quartiles` (event-time-quartile files in mtime
    order, then one far-future sentinel pair so both watermark nodes
    advance past all real data, and the trailing no-data micro-batch
    closes the aggregate groups);
    sentinel rows filter out by user_id sign.  Values pass through
    unrounded; the hand oracle is a batch window twin (rank over the
    lookback join), a formulation that shares no streaming
    machinery."""
    from datafusion_sqlgen_spark.streaming.ops import (
        point_in_time_enrich_stream,
        read_events_stream,
        replay,
        stage_replay,
    )

    work, src = stage_replay(
        _sentinel_quartiles(s), "stream_pit_", files=5, bucket="__b")
    return replay(
        point_in_time_enrich_stream(
            read_events_stream(s, src), tolerance="30 minutes",
            watermark="1 hour",
        ),
        work, "streaming_pit_enrich_tbl", shuffle_partitions=4,
    ).filter(F.col("user_id") >= 0)


# Batch window twin: rank the lookback join per click (ties on a
# duplicated (user, ts) purchase resolve by value DESC, mirroring the
# stream aggregate's whole-struct max_by ordering), keep rank 1 — the
# NULL row of an unmatched click ranks 1 by construction.
_STREAMING_PIT_ENRICH_ORACLE = """
SELECT event_id, user_id, click_ts, purchase_ts, value FROM (
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS value,
           row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY p.ts DESC NULLS LAST, p.value DESC NULLS LAST
           ) AS rn
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts <= c.ts
     AND p.ts >= c.ts - INTERVAL 30 MINUTE
) WHERE rn = 1
"""


_STREAMING_ATTRIBUTION_LEFT_ORACLE = """
SELECT c.user_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       p.value AS value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def _streaming_dedup_result(s: SparkSession) -> DataFrame:
    """Bounded-stream replay of the continuous-dedup corpus sink:
    documents split into 2 files with strictly increasing mtimes (batch
    order is load-bearing for dedup — the first-arrived member of a dup
    pair is the one kept), replayed one file per trigger through
    ``dedup_ingest_batch`` so the corpus is built by successive atomic
    ``batch=<id>`` commits; the final corpus (doc_id, text_md5) is
    hash-checked against the sequential two-stage batch twin."""
    from datafusion_sqlgen_spark.streaming.ops import (
        run_bounded_dedup,
        stage_replay,
    )

    docs = s.table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).withColumn("__b", (F.col("doc_id") >= 250).cast("int"))
    work, src = stage_replay(docs, "stream_dedup_", files=2, bucket="__b")
    return run_bounded_dedup(s, src, work)


def _streaming_dedup_oracle() -> str:
    """Sequential two-stage twin of the streamed ingestion: batch 0 is
    within-batch exact-deduped (no corpus yet), batch 1 is within-batch
    exact-deduped then admitted against batch 0's corpus via the
    incremental_dedup oracle; the corpus is their union."""
    b0 = (
        "SELECT doc_id, text, lang, source, n_chars FROM ("
        "SELECT *, row_number() OVER (PARTITION BY md5(text) "
        "ORDER BY doc_id) AS rn FROM documents WHERE doc_id < 250"
        ") WHERE rn = 1"
    )
    b1 = (
        "SELECT doc_id, text, lang, source, n_chars FROM ("
        "SELECT *, row_number() OVER (PARTITION BY md5(text) "
        "ORDER BY doc_id) AS rn FROM documents WHERE doc_id >= 250"
        ") WHERE rn = 1"
    )
    admitted = dedup.incremental_dedup_oracle(
        corpus_sql=b0, new_sql=b1
    )
    return f"""
    SELECT doc_id, md5(text) AS text_md5 FROM ({b0})
    UNION ALL
    SELECT doc_id, text_md5 FROM ({admitted})
    """


def _pipeline_curation(s: SparkSession) -> DataFrame:
    """The full curation pipeline as ONE composed plan: normalize ->
    C4 rule filter -> exact dedup (keep lowest doc id per content hash)
    -> deterministic 50% sample -> per-source survivor counts. Every
    stage is an operator from this repo; Catalyst fuses the narrow
    stages and the whole thing runs with two shuffles (dedup hash,
    final source agg). This is the workload that proves the operators
    COMPOSE — the pipeline a reference user would actually run."""
    from pyspark.sql import Window

    docs = text.prepare_documents(s.table("documents"))
    kept = docs.join(
        text.c4_filters(docs).filter("keep").select("doc_id"),
        "doc_id", "left_semi",
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    sampled = sampling.stable_sample(deduped, 0.5, salt="curate")
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


def _pipeline_semantic_curation(s: SparkSession) -> DataFrame:
    """The curation pipeline upgraded to the published
    cluster-then-prune recipe, as ONE composed plan: normalize -> C4
    rule filter -> SemDeDup semantic prune over the *kept* documents'
    embeddings (filter first, then cluster — the cheap gate runs before
    the quadratic-per-cell stage) -> per-domain token-budget mixture ->
    per-source survivor stats. Every stage is an operator from this
    repo; the oracle below replays the identical chain in one DuckDB
    WITH pipeline, k-means CTEs included."""
    docs = text.prepare_documents(s.table("documents"))
    # materialize the C4-kept slice once (guide 2.4) — it
    # feeds the embedding semi-join AND the post-dedup survivor join,
    # and the filter chain re-ran per reference otherwise
    kept = materialize(
        docs.join(
            text.c4_filters(docs).filter("keep").select("doc_id"),
            "doc_id", "left_semi",
        ),
        scale="corpus",
    )
    emb_kept = s.table("embeddings").join(
        kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    surv = dedup.semantic_dedup(emb_kept).select(
        F.col("vec_id").alias("doc_id")
    )
    sem = kept.join(surv, "doc_id", "left_semi")
    mixed = sampling.token_budget_mix(sem)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _pipeline_semantic_oracle() -> str:
    from datafusion_sqlgen_spark.operators.dedup import _duck_cosine
    from datafusion_sqlgen_spark.operators.similarity import (
        _duck_round,
        _kmeans_ctes,
    )

    kmeans = _kmeans_ctes("emb_kept", 8, 2, 6)
    cos = _duck_cosine("a.embedding", "b.embedding")
    return f"""
    WITH prepared AS (
        SELECT doc_id, coalesce(text, '') AS text, lang, source, n_chars
        FROM documents
    ),
    wrds AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        FROM prepared
    ),
    kept AS (
        SELECT p.* FROM prepared p JOIN wrds USING (doc_id)
        WHERE len(w) >= 5
          AND round(list_sum(list_transform(w, x -> length(x)))
                    / len(w)::DOUBLE, 4) BETWEEN 3.0 AND 10.0
          AND NOT contains(p.text, '{{')
          AND NOT contains(lower(p.text), 'lorem ipsum')
    ),
    emb_kept AS (
        SELECT e.* FROM embeddings e JOIN kept k ON e.vec_id = k.doc_id
    ),
    {kmeans},
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY list_cosine_similarity(
                           t.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                           c.cell_id ASC) AS rn
            FROM emb_kept t CROSS JOIN c2 c
        ) WHERE rn = 1
    ),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE {_duck_round(cos, 4)} >= 0.25
    ),
    surv AS (
        SELECT t.vec_id AS doc_id FROM assigned t
        WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.vec_id = t.vec_id)
    ),
    sem AS (SELECT k.* FROM kept k JOIN surv USING (doc_id)),
    d AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               CASE source WHEN 'src0' THEN 40 WHEN 'src1' THEN 30
                           WHEN 'src2' THEN 20 WHEN 'src3' THEN 10 END AS w
        FROM sem
    ),
    f AS (SELECT * FROM d WHERE w IS NOT NULL),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM f),
    cum AS (
        SELECT f.*, tot.total,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM f, tot
    ),
    mixed AS (
        SELECT doc_id, source, n_tokens FROM cum
        WHERE cum_before < (total * 30 * w) // 10000
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM mixed GROUP BY source
    """


_PIPELINE_CURATION_ORACLE = """
WITH prepared AS (
    SELECT doc_id, coalesce(text, '') AS text, lang, source, n_chars
    FROM documents
),
words AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM prepared
),
kept AS (
    SELECT p.* FROM prepared p JOIN words USING (doc_id)
    WHERE len(w) >= 5
      AND round(list_sum(list_transform(w, x -> length(x)))
                / len(w)::DOUBLE, 4) BETWEEN 3.0 AND 10.0
      AND NOT contains(p.text, '{')
      AND NOT contains(lower(p.text), 'lorem ipsum')
),
deduped AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept
    ) WHERE rn = 1
),
sampled AS (
    SELECT * FROM deduped
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':curate'), 1, 4) < '8000'
)
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM sampled GROUP BY source
"""


def _source_csv_roundtrip(s: SparkSession) -> DataFrame:
    """Write nation as headered CSV, read it back through register_csv's
    explicit-schema path, join against the parquet region table and
    count per region — CSV source + cross-source join in one driver
    workload (the reference's CSV surface: tests/select.rs:90-95)."""

    from pyspark.sql import types as T

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("src_csv_") + "/nation_csv"
    sio.write_csv(s.table("nation"), out)
    schema = T.StructType([
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
    ])
    back = s.read.schema(schema).option("header", "true").csv(out)
    return (
        back.join(s.table("region"),
                  back["n_regionkey"] == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nations"))
    )


def _source_orc_roundtrip(s: SparkSession) -> DataFrame:
    """Write orders as status-partitioned ORC (Spark's second columnar
    native format: vectorized reads + filter pushdown), read it back,
    and aggregate — the partition column survives the roundtrip as data.
    DuckDB never sees the ORC; the oracle is the same aggregate over the
    original parquet table, which the roundtrip must preserve."""

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("src_orc_") + "/orders_orc"
    sio.write_orc(
        s.table("orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ),
        out,
        partition_by=["o_orderstatus"],
    )
    back = sio.read_orc(s, out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("total"),
    )


_SOURCE_ORC_ORACLE = """
SELECT o_orderstatus, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS total
FROM orders GROUP BY o_orderstatus
"""


_SOURCE_CSV_ORACLE = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _sink_sharded_write(s: SparkSession) -> DataFrame:
    """Write documents as deterministic hash shards (the data-loader
    layout), read the directory back, count rows per shard. The oracle
    computes the identical md5-derived shard assignment directly on the
    source table — equality proves the write/read roundtrip preserved
    every row in its assigned shard."""

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("sink_shards_") + "/docs"
    sio.write_training_shards(s.table("documents"), out, n_shards=8)
    back = sio.read_parquet(s, out)
    return (
        back.groupBy("shard")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("shard").cast("int").alias("shard"), "n")
    )


_SINK_SHARDED_ORACLE = """
SELECT CAST((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 4)) AS INT) % 8) AS INT) AS shard,
       count(*) AS n
FROM documents GROUP BY 1
"""


def _sink_partitioned_roundtrip(s: SparkSession) -> DataFrame:
    """Write orders partitioned by o_orderstatus to parquet via
    sources/io.write_parquet, read it back, and aggregate per partition.

    First driver-sampled workload exercising the WRITE surface (the
    reference has no sinks at all — SURVEY.md §2.1 sources/sinks row).
    Directory partitioning is the 100-TB scan lever: the read-back agg
    prunes to partition directories, and the partition column survives
    the roundtrip as a (string-typed) directory key. Values must be
    bit-identical to aggregating the source directly — which is exactly
    what the oracle computes."""

    from datafusion_sqlgen_spark.sources import io as sio

    out = work_dir("sink_rt_") + "/orders_by_status"
    src = s.table("orders").filter(F.col("o_orderkey") < 5000)
    sio.write_parquet(src, out, partition_by=["o_orderstatus"],
                      max_records_per_file=100_000)
    back = sio.read_parquet(s, out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
            ).cast("double").alias("total"),
        )
        .select(
            F.col("o_orderstatus").cast("string").alias("status"),
            F.col("n").cast("bigint").alias("n"),
            F.col("total"),
        )
    )


_SINK_ROUNDTRIP_ORACLE = """
SELECT CAST(o_orderstatus AS VARCHAR) AS status,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
FROM orders WHERE o_orderkey < 5000
GROUP BY o_orderstatus
"""


def _operator_workloads() -> dict[str, Workload]:
    return {
        # by-name set union (SQL UNION is positional in both engines; the
        # oracle re-aligns explicitly — the operator does it by schema)
        "setop_union_by_name": Workload(_union_by_name, _UNION_BY_NAME_ORACLE),
        # partitioned-parquet write -> read-back -> aggregate (sink path)
        "sink_partitioned_roundtrip": Workload(
            _sink_partitioned_roundtrip, _SINK_ROUNDTRIP_ORACLE,
            headline=True,
        ),
        "dedup_exact": Workload(
            lambda s: dedup.exact_dedup(s.table("documents")),
            # exact dedup via a correlated-aggregate formulation over the RAW
            # text (not GROUP BY md5): one row per first-occurrence doc, copies
            # counted by an equality subquery — any disagreement with the
            # hash-group form means md5 collided or grouping diverged
            """
SELECT md5(d.text) AS text_md5,
       d.doc_id AS keep_id,
       (SELECT count(*) FROM documents c
        WHERE c.text = d.text) AS n_copies
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM documents e
    WHERE e.text = d.text AND e.doc_id < d.doc_id
)
""",
            headline=True,
            max_exchanges=1,
        ),
        # near-exact: case/whitespace-canonicalized content hash
        "dedup_canonical": Workload(
            lambda s: dedup.canonical_dedup(s.table("documents")),
            # canonical dedup via WINDOW aggregates + DISTINCT over the raw
            # canonical string (not GROUP BY md5): if the hash-group and the
            # string-window disagree on any group, md5 collided or the
            # canonicalizations diverged
            """
SELECT DISTINCT
       md5(c) AS canon_md5,
       min(doc_id) OVER (PARTITION BY c) AS keep_id,
       count(*) OVER (PARTITION BY c) AS n_copies
FROM (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS c
      FROM documents)
""",
            max_exchanges=1,
        ),
        "dedup_minhash_signatures": Workload(
            lambda s: dedup.minhash_signatures(s.table("documents")),
            # signatures as min AGGREGATES over unnested distinct shingles —
            # grouped-min rows instead of the operator oracle's list_min over
            # list_transform (set-min is slice-order- and multiplicity-free, so
            # the two formulations must agree exactly)
            """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
    FROM documents
)
SELECT doc_id,
       min(substr(md5(s), 1, 8)) AS mh0,
       min(substr(md5(s), 9, 8)) AS mh1,
       min(substr(md5(s), 17, 8)) AS mh2,
       min(substr(md5(s), 25, 8)) AS mh3
FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(list_slice(ws, i, i + 2), ' '))))
               AS s
    FROM toks
) u
GROUP BY doc_id
""",
            max_exchanges=0,
        ),
        "dedup_minhash_buckets": Workload(
            lambda s: dedup.minhash_buckets(s.table("documents")),
            # signatures as min AGGREGATES over unnested distinct shingles (not
            # list_min of list_transform); the two band branches aggregated in
            # one grouped pass over an unpivoted (band, bucket) projection
            """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
    FROM documents
),
mh AS (
    SELECT doc_id,
           min(substr(md5(s), 1, 8)) AS mh0,
           min(substr(md5(s), 9, 8)) AS mh1,
           min(substr(md5(s), 17, 8)) AS mh2,
           min(substr(md5(s), 25, 8)) AS mh3
    FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(ws) - 2, 1) + 1),
                   i -> array_to_string(list_slice(ws, i, i + 2), ' '))))
                   AS s
        FROM toks
    ) u
    GROUP BY doc_id
),
bb AS (
    SELECT doc_id, b.band,
           CASE b.band WHEN 0 THEN md5(mh0 || '|' || mh1)
                       ELSE md5(mh2 || '|' || mh3) END AS bucket
    FROM mh CROSS JOIN (VALUES (0), (1)) AS b(band)
)
SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS min_doc
FROM bb GROUP BY band, bucket
HAVING count(*) > 1
""",
            headline=True,
            max_exchanges=1,
        ),
        "dedup_minhash_verify": Workload(
            lambda s: dedup.minhash_dedup_pairs(s.table("documents"), threshold=0.2),
            # band collision expressed directly on minhash equality — (mh0,mh1)
            # or (mh2,mh3) pairwise equal — over an all-pairs join of per-doc
            # signatures; no banded UNION/DISTINCT, no md5 bucket ids, so the
            # banding semantics are checked rather than replayed
            """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
    FROM documents
),
shing AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
               AS sh
    FROM toks
),
mh AS (
    SELECT doc_id,
           min(substr(md5(s), 1, 8)) AS mh0,
           min(substr(md5(s), 9, 8)) AS mh1,
           min(substr(md5(s), 17, 8)) AS mh2,
           min(substr(md5(s), 25, 8)) AS mh3
    FROM (SELECT doc_id, unnest(sh) AS s FROM shing) u
    GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
           AS jaccard
FROM mh a
JOIN mh b ON a.doc_id < b.doc_id
         AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
           OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
JOIN shing sa ON sa.doc_id = a.doc_id
JOIN shing sb ON sb.doc_id = b.doc_id
WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) >= 0.2
""",
            headline=True,
            max_exchanges=16,
        ),
        "text_top_terms": Workload(
            lambda s: text.top_terms(s.table("documents")),
            text.top_terms_oracle(),
            headline=True,
        ),
        # Heaps-law vocabulary-growth curve per source:
        # template-spam / OCR-noise red flag + tokenizer-sizing input;
        # BIGINT-exact bucket checkpoints, 1e-6-snapped slope
        "text_vocab_growth": Workload(
            lambda s: text.vocab_growth(s.table("documents")),
            text.vocab_growth_oracle(),
            headline=True,
        ),
        # Zipf-law head fit: slope of ln(freq) vs ln(rank)
        # over the top-k terms — the second classic corpus-health
        # diagnostic next to the Heaps curve; one combined count
        # shuffle + TakeOrdered, regression over a bounded k-row set;
        # the oracle spells the regression as closed-form sums, a
        # different mechanism from Spark's regr_slope accumulator
        "text_zipf_slope": Workload(
            lambda s: text.zipf_slope(s.table("documents")),
            text.zipf_slope_oracle(),
            headline=True,
        ),
        # per-cluster quality over the trained k-means fit:
        # cohesion (fixed-point mean member-to-centroid cosine) vs
        # separation (max other-centroid cosine) — the SemDeDup cell
        # granularity / IVF nprobe tuning signal; corpus never
        # shuffles, separation is a codebook-bounded k x k grid
        "sim_kmeans_quality": Workload(
            lambda s: similarity.kmeans_quality(s.table("embeddings")),
            similarity.kmeans_quality_oracle(),
            headline=True,
            bnlj_bounded=(
                "codebook broadcast assign + k x k centroid grid (both "
                "codebook-bounded, never the corpus)"
            ),
            max_exchanges=33,
        ),
        # single-pass column profiling (data-quality gate before a training
        # run); oracle is the k-scan UNION ALL formulation — same numbers,
        # the shape our one-pass stack avoids at scale
        "profile_orders": Workload(
            lambda s: profiling.profile_columns(
                s.table("orders"),
                ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
            ),
            profiling.profile_columns_oracle(
                "orders",
                ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
            ),
            headline=True,
        ),
        # training-batch prep: fixed token-budget packing within language
        # shards (window-per-shard running offset — parallel by design)
        "text_pack_sequences": Workload(
            lambda s: text.pack_sequences(s.table("documents")),
            text.pack_sequences_oracle(),
            headline=True,
        ),
        # PII-style scrubbing; the corpus has no PII, so synthesize an
        # email + long number per row, then mask (same synth in oracle)
        "text_redact": Workload(
            lambda s: text.redact(
                s.table("documents").selectExpr(
                    "doc_id",
                    "concat(text, ' contact user', doc_id,"
                    " '@example.com ref ', doc_id * 1000003) AS text",
                )
            ),
            text.redact_oracle(
                "(SELECT doc_id, concat(text, ' contact user', doc_id,"
                " '@example.com ref ', doc_id * 1000003) AS text"
                " FROM documents) t"
            ),
        ),
        # overlapping word-window chunking (training/RAG prep); pure
        # built-in composition — the UDTF twin is tested equal in
        # tests/test_multimodal_sources_udfs.py
        "text_chunk_documents": Workload(
            lambda s: text.chunk_documents(s.table("documents").filter("doc_id < 200")),
            # chunk membership by POSITION-RANGE JOIN (word p belongs to chunk
            # start s iff s <= p < s+size) with ordered string_agg — not a
            # list_slice formulation; truncated tail chunks fall out of
            # the count(*) instead of len(list_slice)
            """
WITH words AS (
    SELECT doc_id, w, CAST(p AS INT) AS p
    FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS p
        FROM documents WHERE doc_id < 200
    ) u
),
nw AS (SELECT doc_id, max(p) AS nword FROM words GROUP BY doc_id),
starts AS (
    SELECT doc_id,
           CAST(unnest(range(1, greatest(nword, 1) + 1, 24)) AS INT)
               AS start
    FROM nw
)
SELECT w.doc_id,
       CAST((s.start - 1) / 24 AS INT) AS chunk_idx,
       string_agg(w.w, ' ' ORDER BY w.p) AS chunk,
       CAST(count(*) AS INT) AS n_words
FROM starts s
JOIN words w ON w.doc_id = s.doc_id
            AND w.p >= s.start AND w.p < s.start + 32
GROUP BY w.doc_id, s.start
""",
            headline=True,
        ),
        # posexplode with 1-based ordinality (positional tokenization)
        "text_word_positions": Workload(
            lambda s: text.word_positions(s.table("documents").filter("doc_id < 100")),
            text.word_positions_oracle(where="WHERE doc_id < 100"),
        ),
        # deterministic md5-keyed sampling: same rows every run/engine
        "sample_stable_hash": Workload(
            lambda s: sampling.stable_sample(s.table("documents"), rate=0.1)
            .select("doc_id", "lang", "source"),
            # hex-prefix threshold re-expressed NUMERICALLY: the operator's
            # own oracle compares substr(md5) < '1999' lexicographically; here the
            # 4 hex chars parse to an integer against 0x1999 = 6553 — equal
            # if and only if hex-string order really is numeric order
            """
SELECT doc_id, lang, source FROM documents
WHERE CAST(concat('0x',
        substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 4))
      AS INTEGER) < 6553
""",
        ),
        # per-stratum rates (downsample dominant lang, keep rare ones)
        "sample_stratified": Workload(
            lambda s: sampling.stratified_sample(
                s.table("documents"),
                rates={"en": 0.1, "de": 1.0, "fr": 0.5},
            ).select("doc_id", "lang"),
            # per-stratum CASE threshold unrolled into three UNION ALL branches
            # with numeric cutoffs (de keeps everything: the operator's cutoff
            # 'g' sorts above every hex digit)
            """
SELECT doc_id, lang FROM documents WHERE lang = 'de'
UNION ALL
SELECT doc_id, lang FROM documents
WHERE lang = 'en' AND CAST(concat('0x',
        substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 4))
      AS INTEGER) < 6553
UNION ALL
SELECT doc_id, lang FROM documents
WHERE lang = 'fr' AND CAST(concat('0x',
        substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 4))
      AS INTEGER) < 32768
""",
        ),
        # exactly-k reproducible sample via hash-ordered TakeOrdered
        "sample_stable_topk": Workload(
            lambda s: sampling.stable_topk_sample(s.table("documents"), k=100)
            .select("doc_id", "lang"),
            sampling.stable_topk_sample_oracle(k=100, cols="doc_id, lang"),
        ),
        # leak-free train/holdout assignment keyed on md5(id:salt)
        "sample_hash_split": Workload(
            lambda s: sampling.hash_split(s.table("documents"), holdout=0.2)
            .select("doc_id", "split"),
            sampling.hash_split_oracle(holdout=0.2, cols="doc_id"),
        ),
        # dense hourly grid: downsample + gap-fill (missing hours -> 0)
        "ts_gap_fill_hourly": Workload(
            lambda s: timeseries.hourly_counts_gap_filled(s.table("events")),
            # hour spine from a RECURSIVE CTE (not generate_series), counts from
            # a grid LEFT JOIN against the RAW events (not a pre-aggregated
            # hourly table)
            """
WITH RECURSIVE span AS (
    SELECT CAST(min(date_trunc('hour', ts)) AS TIMESTAMP) AS a,
           CAST(max(date_trunc('hour', ts)) AS TIMESTAMP) AS b
    FROM events
),
hours(hr) AS (
    SELECT a FROM span
    UNION ALL
    SELECT hr + INTERVAL 1 HOUR FROM hours, span WHERE hr < b
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, g.hr, CAST(count(e.event_id) AS BIGINT) AS n
FROM types t
CROSS JOIN hours g
LEFT JOIN events e
    ON e.event_type = t.event_type
   AND CAST(date_trunc('hour', e.ts) AS TIMESTAMP) = g.hr
GROUP BY t.event_type, g.hr
""",
            bnlj_bounded="24-row hour-grid crossJoin (fixed calendar)",
        ),
        # OHLC candle downsampling: time-ordered open/close via
        # min_by/max_by (DuckDB arg_min/arg_max), one hash aggregate
        "ts_ohlc_hourly": Workload(
            lambda s: timeseries.ohlc_resample(s.table("events")),
            # open/close fetched by joining back to the row holding the
            # bucket's min/max timestamp (no arg_min/arg_max) — valid because
            # the driver's nanosecond timestamps never tie within a bucket,
            # which an arg_min formulation would mask if they did
            """
WITH base AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           event_type, ts, value
    FROM events
),
ext AS (
    SELECT bucket, event_type,
           min(ts) AS tmin, max(ts) AS tmax,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           count(*) AS n
    FROM base GROUP BY bucket, event_type
)
SELECT e.bucket, e.event_type,
       round(o.value, 2) AS open, e.high, e.low,
       round(c.value, 2) AS close, e.n
FROM ext e
JOIN base o ON o.bucket = e.bucket AND o.event_type = e.event_type
           AND o.ts = e.tmin
JOIN base c ON c.bucket = e.bucket AND c.event_type = e.event_type
           AND c.ts = e.tmax
""",
        ),
        # resample to hourly means + last-observation-carried-forward
        "ts_locf_resample": Workload(
            lambda s: timeseries.locf_resample(
                s.table("events").filter("user_id < 50")
            ),
            timeseries.locf_resample_oracle(where="WHERE user_id < 50"),
            bnlj_bounded="24-row hour-grid crossJoin (fixed calendar)",
        ),
        # rolling z-score anomaly gate over hourly counts: integer
        # metric makes window avg/stddev bit-identical cross-engine
        "ts_rolling_anomaly": Workload(
            lambda s: timeseries.rolling_anomaly(s.table("events")),
            timeseries.rolling_anomaly_oracle(),
            headline=True,
            max_exchanges=2,
        ),
        # gap-based sessionization: lag-flag + running-sum session ids,
        # then per-session aggregates — batch twin of the streaming
        # session_window; one hash exchange total (window + agg share it)
        "ts_sessionize": Workload(
            lambda s: timeseries.sessionize(s.table("events")),
            timeseries.sessionize_oracle(),
            headline=True,
            max_exchanges=1,
        ),
        # near-dup clustering: LSH pairs -> connected components
        # (iterative min-label propagation vs DuckDB WITH RECURSIVE)
        "dedup_cluster_cc": Workload(
            lambda s: dedup.near_dup_clusters(s.table("documents"), threshold=0.2),
            dedup.near_dup_clusters_oracle(threshold=0.2),
            headline=True,
            max_exchanges=0,
        ),
        # pipeline terminus: corpus minus clustered non-representatives
        # (documents never shuffle; the drop list broadcasts)
        "dedup_materialize": Workload(
            lambda s: dedup.materialize_dedup(s.table("documents"), threshold=0.2),
            dedup.materialize_dedup_oracle(threshold=0.2),
            max_exchanges=1,
        ),
        "dedup_simhash": Workload(
            lambda s: dedup.simhash(s.table("documents")),
            dedup.simhash_oracle(),
            max_exchanges=0,
        ),
        # quality-aware terminus: each cluster keeps its highest-quality
        # doc (ties -> smallest id); only clustered docs are ever scored
        "dedup_quality_rep": Workload(
            lambda s: dedup.quality_dedup(s.table("documents"), threshold=0.2),
            dedup.quality_dedup_oracle(threshold=0.2),
            max_exchanges=4,
        ),
        "dedup_ngram_jaccard": Workload(
            lambda s: dedup.ngram_jaccard_pairs(
                s.table("documents"), max_left_id=20, threshold=0.05
            ),
            dedup.ngram_jaccard_pairs_oracle(max_left_id=20, threshold=0.05),
            bnlj_bounded="1-row total broadcast (Jaccard normalizer)",
            max_exchanges=1,
        ),
        # asymmetric containment (|A∩B| / min(|A|,|B|)) —
        # the sub-document/quote-inclusion dup class symmetric Jaccard
        # misses by construction (Broder resemblance vs containment)
        "dedup_ngram_containment": Workload(
            lambda s: dedup.ngram_containment_pairs(
                s.table("documents"), max_left_id=60, threshold=0.1
            ),
            dedup.ngram_containment_pairs_oracle(
                max_left_id=60, threshold=0.1
            ),
            headline=True,
            bnlj_bounded=(
                "bounded broadcast left side (max_left_id) x corpus — the "
                "verification-stage contract, runs over LSH candidates at "
                "scale"
            ),
            max_exchanges=1,
        ),
        "text_token_stats": Workload(
            lambda s: text.token_stats(s.table("documents")),
            text.token_stats_oracle(),
        ),
        "text_quality_score": Workload(
            lambda s: text.quality_score(s.table("documents")),
            text.quality_score_oracle(),
            headline=True,
        ),
        "text_language_id": Workload(
            lambda s: text.language_id(s.table("documents")),
            text.language_id_oracle(),
            headline=True,
        ),
        "text_fingerprint": Workload(
            lambda s: text.fingerprint(s.table("documents")),
            text.fingerprint_oracle(),
        ),
        # per-doc top-k TF-IDF terms: doc-keyed repartition reused by tf
        # agg + rank window; vocabulary-sized idf table broadcast back
        "text_tfidf_topk": Workload(
            lambda s: text.tfidf_top_terms(s.table("documents")),
            text.tfidf_top_terms_oracle(),
            headline=True,
            bnlj_bounded="1-row doc-count aggregate broadcast",
        ),
        # intra-doc repetition (Gopher-style quality filters): top-gram
        # and repeated-gram fractions; one doc-keyed shuffle reused by
        # both aggregation levels
        "text_repetition": Workload(
            lambda s: text.repetition_stats(s.table("documents")),
            text.repetition_stats_oracle(),
            headline=True,
        ),
        # benchmark decontamination: distinct-shingle overlap of corpus
        # docs vs a (broadcast) benchmark shingle set — one corpus pass,
        # one doc-keyed aggregate shuffle
        "text_decontaminate": Workload(
            lambda s: text.decontaminate(
                s.table("documents").filter("doc_id >= 20"),
                s.table("documents").filter("doc_id < 20"),
            ),
            text.decontaminate_oracle(),
            headline=True,
        ),
        "sim_cosine_topk": Workload(
            lambda s: similarity.cosine_topk(
                s.table("embeddings"), s.table("embeddings").filter("vec_id < 10")
            ),
            similarity.cosine_topk_oracle(max_query_id=10),
            headline=True,
            bnlj_bounded="query side capped (vec_id < 10) and broadcast",
        ),
        # MMR diversity re-ranking (Carbonell-Goldstein) —
        # top-n candidate search then a bounded per-query greedy via
        # applyInPandas; oracle is the same greedy unrolled into k
        # chained CTEs, every score snapped to 1e-6 before each argmax
        "sim_mmr_diversify": Workload(
            lambda s: similarity.mmr_diversify(
                s.table("embeddings"),
                s.table("embeddings").filter("vec_id < 3"),
            ),
            similarity.mmr_diversify_oracle(max_query_id=3),
            headline=True,
            bnlj_bounded=(
                "query side capped (vec_id < 3) and broadcast; the greedy "
                "re-ranks bounded n-candidate groups via applyInPandas"
            ),
        ),
        "sim_lsh_bucket_stats": Workload(
            lambda s: similarity.lsh_bucket_stats(s.table("embeddings")),
            similarity.lsh_bucket_stats_oracle(),
            headline=True,
        ),
        "sim_cosine_topk_bucketed": Workload(
            lambda s: similarity.cosine_topk_bucketed(
                s.table("embeddings"), s.table("embeddings").filter("vec_id < 10")
            ),
            similarity.cosine_topk_bucketed_oracle(max_query_id=10),
        ),
        "sim_embedding_norms": Workload(
            lambda s: similarity.embedding_norm_stats(s.table("embeddings")),
            similarity.embedding_norm_stats_oracle(),
        ),
        # symmetric int8 quantization + reconstruction-error audit: all
        # JVM higher-order fns, narrow map, no shuffle; codes are
        # bit-identical cross-engine (double promotion + half-away round)
        "sim_quantize_int8": Workload(
            lambda s: similarity.quantize_int8(s.table("embeddings")),
            similarity.quantize_int8_oracle(),
            headline=True,
        ),
        "sim_ivf_topk": Workload(
            lambda s: similarity.ivf_topk(
                s.table("embeddings"), s.table("embeddings").filter("vec_id < 10")
            ),
            similarity.ivf_topk_oracle(max_query_id=10),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast",
        ),
        # cross-corpus ANN JOIN — odd-id vectors probe their
        # nprobe=2 nearest cells of an even-id index; neither side
        # broadcasts (both are corpus-scale by construction), the join
        # is pure cell-equi
        "sim_ann_join": Workload(
            lambda s: similarity.ann_join(
                s.table("embeddings").filter("vec_id % 2 = 1"),
                s.table("embeddings").filter("vec_id % 2 = 0"),
            ),
            similarity.ann_join_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast, both sides",
            max_exchanges=4,
        ),
        # embedding-level benchmark decontamination: ann_join against a
        # held-out benchmark split (vec_id % 10), τ-gate, per-source
        # keep/drop accounting — the semantic sibling of the Bloom
        # n-gram decontaminators
        "pipeline_embedding_decontamination": Workload(
            lambda s: dedup.embedding_decontaminate(
                s.table("embeddings").filter("vec_id % 10 <> 0"),
                s.table("embeddings").filter("vec_id % 10 = 0"),
                s.table("documents"),
            ),
            dedup.embedding_decontaminate_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast (ann_join shape)",
        ),
        # ... and its acceptance audit: recall@k of the multi-probe
        # join vs exact brute force, on a 25-query left sample (the
        # audit shape — ground truth broadcasts the sample)
        "sim_ann_join_recall": Workload(
            lambda s: similarity.ann_join_recall(
                s.table("embeddings").filter(
                    "vec_id % 2 = 1 AND vec_id < 50"),
                s.table("embeddings").filter("vec_id % 2 = 0"),
            ),
            similarity.ann_join_recall_oracle(
                left_pred="vec_id % 2 = 1 AND vec_id < 50"),
            headline=True,
            bnlj_bounded="codebook broadcast + capped exact reference",
            max_exchanges=11,
        ),
        # b=6 -> 64 sign-LSH buckets: total pair count scales ~1/buckets
        # and the pair join's parallelism is bucket-count-bound, so more
        # (smaller) buckets is the scale knob (2.5x faster than b=4 at
        # sf0.1 with plenty of surviving candidates)
        "dedup_embedding_cosine": Workload(
            lambda s: dedup.embedding_near_dup(s.table("embeddings"), b=6),
            dedup.embedding_near_dup_oracle(b=6),
            headline=True,
            max_exchanges=1,
        ),
        # multimodal pipeline: binary payload + metadata -> mapInPandas
        # feature extraction; the fake decode is deterministic MD5
        # expansion, so a DuckDB md5-replay twin hash-checks
        # mean_intensity (the 64-float vector column is dropped to keep
        # the driver comparison light)
        # binaryFile-source ingest: raw files written to a dir, read
        # back through Spark's binary source (payloads never cross the
        # driver), id parsed from the file name, md5-checked against
        # the original text bytes (the 40-file write is test setup)
        "mm_binary_ingest": Workload(
            _mm_binary_ingest,
            """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents WHERE doc_id < 40 AND text IS NOT NULL
""",
        ),
        "mm_feature_extract": Workload(
            lambda s: multimodal.extract_features(
                multimodal.as_multimodal(s.table("documents"))
            ).select("doc_id", "mean_intensity"),
            multimodal.extract_features_oracle("documents", "text", 64),
            headline=True,
        ),
        # multimodal frame sampling: JVM-side explode of the frame index,
        # duration derived from payload size -> fully oracle-checkable
        # perceptual-hash near-dup pairs: aHash over the deterministic fake
        # decode, 16-bit LSH banding, popcount verify — the DuckDB twin
        # replays the md5 pixel stream and states the band predicate
        # explicitly; a doc_id+10M twin copy plants exact duplicates so
        # the result is non-empty at every SF
        "mm_phash_pairs": Workload(
            _mm_phash_pairs,
            multimodal.phash_pairs_oracle(),
            headline=True,
        ),
        "mm_frame_sample": Workload(
            lambda s: multimodal.sample_frames(
                multimodal.as_multimodal(s.table("documents"))
            ).select("doc_id", "frame_ms"),
            multimodal.sample_frames_oracle(),
        ),
        # pandas-UDF tier, oracle-checked: BPE-ish regex token counts
        # (duckdb regexp_extract_all uses the same RE2-compatible pattern)
        "udf_bpeish_token_count": Workload(
            lambda s: s.table("documents").select(
                "doc_id",
                udfs.bpeish_token_count("text").cast("bigint").alias("n_bpeish"),
            ),
            r"""SELECT doc_id,
                       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpeish
                FROM documents""",
            headline=True,
        ),
        # native DataFrame pivot (fillna(0) aligns Spark's null-for-absent
        # with the oracle's count FILTER semantics)
        "agg_pivot_status": Workload(
            lambda s: s.table("orders")
            .groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .count()
            .na.fill(0, ["F", "O", "P"]),
            """SELECT o_orderpriority,
                      count(*) FILTER (o_orderstatus = 'F') AS "F",
                      count(*) FILTER (o_orderstatus = 'O') AS "O",
                      count(*) FILTER (o_orderstatus = 'P') AS "P"
               FROM orders GROUP BY o_orderpriority""",
        ),
        # skew-flattening salted join; result row-identical to the plain
        # join, which is exactly what the oracle asserts
        "join_salted_skew": Workload(
            lambda s: joins.salted_join(
                s.table("orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
                s.table("customer").select("c_custkey", "c_mktsegment")
                .withColumnRenamed("c_custkey", "o_custkey"),
                on="o_custkey",
            )
            .groupBy("o_orderstatus", "c_mktsegment")
            .count()
            .withColumnRenamed("count", "n"),
            """SELECT o_orderstatus, c_mktsegment, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY o_orderstatus, c_mktsegment""",
            headline=True,
        ),
        # two-large-sides range join via bucketization: equi on bucket id
        # + exact filter (vs the nested-loop a raw theta join costs);
        # oracle is the plain theta join — identical pairs
        "join_range_bucketed": Workload(
            lambda s: joins.range_join_bucketed(
                s.table("lineitem").filter("l_orderkey < 2000")
                .select("l_orderkey", "l_linenumber", "l_extendedprice"),
                s.table("part").filter("p_partkey < 100")
                .selectExpr("p_partkey", "p_retailprice * 10 AS lo",
                            "p_retailprice * 10 + 500 AS hi"),
                "l_extendedprice", "lo", "hi", 500.0,
            ).select("l_orderkey", "l_linenumber", "p_partkey"),
            """SELECT l_orderkey, l_linenumber, p_partkey
               FROM (SELECT l_orderkey, l_linenumber, l_extendedprice
                     FROM lineitem WHERE l_orderkey < 2000) l
               JOIN (SELECT p_partkey, p_retailprice * 10 AS lo,
                            p_retailprice * 10 + 500 AS hi
                     FROM part WHERE p_partkey < 100) p
               ON l.l_extendedprice >= p.lo AND l.l_extendedprice <= p.hi""",
            headline=True,
        ),
        "join_asof_forward": Workload(
            lambda s: joins.asof_join(
                s.table("events").filter("event_type = 'error'")
                .select("event_id", "user_id", "ts"),
                s.table("events").filter("event_type = 'purchase'")
                .select("user_id", "ts", "value"),
                on="user_id", left_time="ts", right_time="ts",
                value_cols=["value"], direction="forward",
            ),
            joins.asof_join_oracle(
                "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')",
                "(SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')",
                on="user_id", left_time="ts", right_time="ts",
                left_cols=["event_id", "user_id", "ts"], value_cols=["value"],
                direction="forward",
            ),
        ),
        # tolerance-bounded as-of (pandas merge_asof-style): only matches
        # within the last hour count — the window bound that makes the
        # join bucketable at scale
        "join_asof_tolerance": Workload(
            lambda s: joins.asof_join(
                s.table("events").filter("event_type = 'error'")
                .select("event_id", "user_id", "ts"),
                s.table("events").filter("event_type = 'click'")
                .select("user_id", "ts", "value"),
                on="user_id", left_time="ts", right_time="ts",
                value_cols=["value"], tolerance_s=3600,
            ),
            joins.asof_join_oracle(
                "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')",
                "(SELECT user_id, ts, value FROM events WHERE event_type = 'click')",
                on="user_id", left_time="ts", right_time="ts",
                left_cols=["event_id", "user_id", "ts"], value_cols=["value"],
                tolerance_s=3600,
            ),
        ),
        "join_asof_events": Workload(
            lambda s: joins.asof_join(
                s.table("events").filter("event_type = 'error'")
                .select("event_id", "user_id", "ts"),
                s.table("events").filter("event_type = 'click'")
                .select("user_id", "ts", "value"),
                on="user_id", left_time="ts", right_time="ts",
                value_cols=["value"],
            ),
            joins.asof_join_oracle(
                "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')",
                "(SELECT user_id, ts, value FROM events WHERE event_type = 'click')",
                on="user_id", left_time="ts", right_time="ts",
                left_cols=["event_id", "user_id", "ts"], value_cols=["value"],
            ),
            headline=True,
        ),
        # sub-document (C4-style line/block-level) dedup with reassembly
        "dedup_block_level": Workload(
            lambda s: dedup.block_dedup(s.table("documents")),
            dedup.block_dedup_oracle(),
            headline=True,
            max_exchanges=3,
        ),
        # the published C4 heuristic filter set, one flag per rule
        "text_c4_filters": Workload(
            lambda s: text.c4_filters(s.table("documents")),
            text.c4_filters_oracle(),
            headline=True,
        ),
        # SemDeDup-style semantic dedup: k-means cluster, prune
        # within-cluster near-dups (pairwise cosine >= tau), keep
        # lowest-id representatives — the published cluster-then-prune
        # scale shape (pair join keyed on cell_id, never all-pairs)
        "dedup_semantic": Workload(
            lambda s: dedup.semantic_dedup(s.table("embeddings")),
            dedup.semantic_dedup_oracle(),
            headline=True,
            max_exchanges=3,
        ),
        # per-domain token-budget mixture (The Pile / DoReMi-style
        # mixture recipe): md5-ordered admission until each source hits
        # its all-bigint weighted share of the corpus token budget
        "sample_token_budget_mix": Workload(
            lambda s: sampling.token_budget_mix(s.table("documents")),
            sampling.token_budget_mix_oracle(),
            headline=True,
            bnlj_bounded="1-row total-token aggregate broadcast",
        ),
        # domain-mixture water-filling solver — target
        # weights + token budget + max-epochs repeat cap -> per-domain
        # draws via the closed-form capacity-ratio prefix scan;
        # all-BIGINT cross-multiplication, corpus collapses to a
        # |domains|-row stats table after ONE aggregate
        "sample_mixture_waterfill": Workload(
            lambda s: sampling.mixture_waterfill(s.table("documents")),
            sampling.mixture_waterfill_oracle(),
            headline=True,
            bnlj_bounded=(
                "1-row water-level fixpoint broadcast over the checkpointed "
                "|domains|-row stats table — bounded by construction"
            ),
            max_exchanges=3,
        ),
        # deterministic PPS systematic sampling: exactly n
        # picks per source, probability proportional to integer weight;
        # two-phase bucket prefix sums on the Spark side vs a single
        # window on the oracle side — identical integers either way
        "sample_pps_systematic": Workload(
            lambda s: sampling.pps_systematic_sample(s.table("documents")),
            sampling.pps_systematic_sample_oracle(),
            headline=True,
        ),
        # temperature-based source mixing (multilingual-LLM sampling)
        "sample_temperature_mix": Workload(
            lambda s: sampling.temperature_mix(s.table("documents"))
            .select("doc_id", "source"),
            sampling.temperature_mix_oracle(cols="t.doc_id, t.source"),
            headline=True,
        ),
        # the nprobe TUNING CURVE — recall@k vs scored-pair
        # cost at each probe width over ONE checkpointed index build;
        # |nprobes| probe joins, never |nprobes| index builds
        "sim_recall_frontier": Workload(
            lambda s: similarity.ivf_recall_frontier(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.ivf_recall_frontier_oracle(),
            bnlj_bounded=(
                "capped query set + codebook broadcasts per nprobe branch, "
                "plus 1-row stat crosses — every build side bounded; the "
                "index itself is checkpointed and probed, never broadcast"
            ),
            max_exchanges=45,
        ),
        # ANN acceptance gate: IVF recall@k vs exact brute force
        "sim_recall_at_k": Workload(
            lambda s: similarity.recall_at_k(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.recall_at_k_oracle(),
            headline=True,
            bnlj_bounded="capped query set broadcast (exact reference)",
            max_exchanges=13,
        ),
        # deterministic hash-sharded training-set write -> read-back counts
        "sink_sharded_write": Workload(
            _sink_sharded_write, _SINK_SHARDED_ORACLE, headline=True,
        ),
        # Lloyd's k-means centroid training (the IVF index-build step),
        # flattened to hashable (cell, pos, component, n_members) rows
        "sim_kmeans_fit": Workload(
            lambda s: similarity.kmeans_fit(s.table("embeddings")),
            similarity.kmeans_fit_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast per iteration",
            max_exchanges=16,
        ),
        # top principal component by power iteration — the
        # dimensionality-reduction substrate; Gram matrix never forms
        "sim_pca_component": Workload(
            lambda s: similarity.pca_power_component(s.table("embeddings")),
            similarity.pca_power_component_oracle(),
            headline=True,
        ),
        # join-key skew diagnostic: heavy hitters + global skew ratio
        "profile_key_skew": Workload(
            lambda s: profiling.key_skew(s.table("events"), "user_id"),
            profiling.key_skew_oracle("events", "user_id"),
            headline=True,
            bnlj_bounded="1-row total-rows aggregate broadcast",
        ),
        # PSI drift gate between two cohort distributions —
        # 1-row edge/total broadcasts + one n_buckets-group count
        # shuffle; nothing after the scan scales with the data
        "profile_drift_psi": Workload(
            lambda s: profiling.drift_psi(
                s.table("events"), "value", "event_type",
                "click", "purchase"),
            profiling.drift_psi_oracle(
                "events", "value", "event_type", "click", "purchase"),
            headline=True,
            bnlj_bounded=(
                "two 1-row broadcasts (bucket edges, cohort totals) over an "
                "n_buckets-row count table — bounded by construction"
            ),
        ),
        # KS drift twin — worst cumulative displacement of
        # the bucketed CDFs (PSI sees per-bucket mass, KS sees a shift
        # smeared across every bucket); same one-count-shuffle shape,
        # the CDF window runs over the bounded n_buckets count rows
        "profile_drift_ks": Workload(
            lambda s: profiling.drift_ks(
                s.table("events"), "value", "event_type",
                "click", "purchase"),
            profiling.drift_ks_oracle(
                "events", "value", "event_type", "click", "purchase"),
            headline=True,
            bnlj_bounded=(
                "two 1-row broadcasts (bucket edges, cohort totals); the CDF "
                "window runs over the bounded n_buckets count rows"
            ),
        ),
        # winsorized per-group stats: exact percentiles broadcast back,
        # clipped re-aggregation (outlier-robust metric gate)
        "profile_robust_stats": Workload(
            lambda s: profiling.robust_stats(s.table("events")),
            profiling.robust_stats_oracle(),
            headline=True,
        ),
        # one-pass pairwise Pearson correlations, long-form via stack
        "profile_correlations": Workload(
            lambda s: profiling.correlation_matrix(
                s.table("lineitem"),
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            ),
            profiling.correlation_matrix_oracle(
                "lineitem",
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            ),
            headline=True,
        ),
        # fixed-range histogram with densified empty bins
        "profile_histogram": Workload(
            lambda s: profiling.histogram(
                s.table("orders"), "o_totalprice", 0.0, 600000.0, 12
            ),
            profiling.histogram_oracle(
                "orders", "o_totalprice", 0.0, 600000.0, 12
            ),
        ),
        # fastText-shaped hashed uni+bigram linear classifier inference:
        # broadcast V-row weight table, in-row gram build, one explode,
        # fixed-point integer sums so the sigmoid input is order-free
        "text_classifier_score": Workload(
            lambda s: text.classifier_score(
                s.table("documents"), text.make_hash_weights(s)
            ),
            text.classifier_score_oracle(),
            headline=True,
        ),
        # reliability-diagram bins for the classifier —
        # where mean score and empirical positive rate diverge is
        # where a score threshold misbehaves; n_bins-row output
        "text_calibration_bins": Workload(
            lambda s: text.calibration_bins(
                s.table("documents"), text.make_hash_weights(s)
            ),
            text.calibration_bins_oracle(),
            headline=True,
            max_exchanges=4,
        ),
        # deterministic portable HLL: the md5-derived register table is
        # itself the driver-checked artifact (unlike the opaque native
        # sketch bytes of distinct_sketches)
        "profile_hll_registers": Workload(
            lambda s: profiling.hll_registers(s.table("events")),
            profiling.hll_registers_oracle(),
        ),
        # ... and the estimate derived from those registers, with the
        # exact count joined in so the error is audit-visible
        "profile_hll_estimate": Workload(
            lambda s: profiling.hll_estimate(s.table("events")),
            profiling.hll_estimate_oracle(),
            headline=True,
        ),
        # the native Datasketches tier becomes sweep-checkable —
        # both estimators' error bounds asserted per group; the oracle
        # recomputes exact + portable and pins the native flag TRUE
        "profile_hll_native_vs_portable": Workload(
            lambda s: profiling.hll_native_vs_portable(s.table("events")),
            profiling.hll_native_vs_portable_oracle(),
            headline=True,
        ),
        # count-min sketch heavy hitters: two disjoint shards sketched
        # independently and cell-sum-merged on the Spark side, one-pass
        # build on the oracle side — the hash match IS the merge law
        "profile_cms_heavy_hitters": Workload(
            lambda s: profiling.cms_heavy_hitters(s.table("events")),
            profiling.cms_heavy_hitters_oracle(),
            headline=True,
        ),
        # binned quantile sketch (third mergeable family after HLL and
        # CMS): fixed-point bins, two-shard build + per-bin-sum merge on
        # the Spark side vs one-pass oracle — hash match = merge law
        "profile_quantile_sketch": Workload(
            lambda s: profiling.binned_quantiles(s.table("events")),
            profiling.binned_quantiles_oracle(),
            headline=True,
        ),
        # KMV theta sketch (fourth mergeable family): pairwise
        # INTERSECTION + UNION distinct estimates — the set operation
        # HLL registers cannot express; md5-derived k-min state makes
        # the estimates engine-identical (integer thresholds into IEEE
        # division). Merge law + error bound proven in tests.
        "profile_theta_setops": Workload(
            lambda s: profiling.theta_set_estimates(
                profiling.theta_sketch(s.table("events"))
            ),
            profiling.theta_estimates_oracle(),
            headline=True,
            bnlj_bounded="1-row sketch-state rows broadcast",
        ),
        # Lee-et-al-style cross-document duplicated-substring spans:
        # fixed-length char grams every stride chars, flagged when the
        # gram occurs in >1 doc; per-doc dup fraction is the curation
        # signal. Shuffle key is the 52-bit gram hash, never span text.
        "dedup_substring_spans": Workload(
            lambda s: dedup.substring_span_stats(s.table("documents")),
            dedup.substring_span_stats_oracle(),
            headline=True,
            max_exchanges=4,
        ),
        # CCNet-style cross-document segment dedup: drop every
        # copy of a segment seen in >=2 docs and fingerprint the cleaned
        # text; occurrence counts group on a 52-bit hash with map-side
        # combine, reassembly via sort_array (no window)
        "dedup_segments_ccnet": Workload(
            lambda s: dedup.segment_dedup(s.table("documents")),
            dedup.segment_dedup_oracle(),
            headline=True,
            max_exchanges=4,
        ),
        # fixed-point PageRank centrality over a bounded-degree LSH
        # similarity graph: the link-analysis quality signal
        # (CommonCrawl harmonic-centrality ranking) as 3 unrolled
        # integer iterations — bit-identical in any engine
        "graph_pagerank_sim": Workload(
            lambda s: graph.pagerank(
                graph.knn_edges(s.table("embeddings")), iterations=3
            ),
            graph.pagerank_oracle(graph.knn_edges_oracle_cte(), iterations=3),
            headline=True,
            max_exchanges=9,
        ),
        # per-node triangle counts over the same similarity graph:
        # the duplicate-community density signal, via
        # degree-ordered orientation (each wedge center O(sqrt(m))
        # out-degree — skew-proof); oracle replays with NO orientation
        # at all (id-ordered a<b<c triple join) — both count each
        # triangle exactly once
        "graph_triangle_count": Workload(
            lambda s: graph.triangle_count(
                graph.knn_edges(s.table("embeddings"))
            ),
            graph.triangle_count_oracle(graph.knn_edges_oracle_cte()),
            headline=True,
        ),
        # contrastive-training hard-negative mining: top-k
        # most-similar DIFFERENT-label vectors per sampled query —
        # brute baseline (broadcast query side, label gate in the join
        # condition); scale path = ann_join + label filter + re-rank
        "sim_hard_negatives": Workload(
            lambda s: similarity.hard_negatives(s.table("embeddings")),
            similarity.hard_negatives_oracle(),
            headline=True,
            bnlj_bounded="sampled query side broadcast (brute baseline)",
        ),
        # GPT-3/PaLM-style n-gram decontamination through a broadcast
        # Bloom bit array: the training-side membership test is a pure
        # in-row projection (no train-side shuffle at all); exact
        # verification joined in so the FP gap is audit-visible
        "dedup_bloom_ngram_decontaminate": Workload(
            lambda s: dedup.bloom_ngram_decontaminate(s.table("documents")),
            dedup.bloom_ngram_decontaminate_oracle(),
            headline=True,
            bnlj_bounded=(
                "1-row Bloom bit-array broadcast (GPT-3-style "
                "decontamination)"
            ),
            max_exchanges=8,
        ),
        # JSON-lines write -> schema-on-read -> aggregate (source path)
        "source_orc_roundtrip": Workload(
            _source_orc_roundtrip, _SOURCE_ORC_ORACLE,
        ),
        "source_jsonl_roundtrip": Workload(
            _source_jsonl_roundtrip, _SOURCE_JSONL_ORACLE,
        ),
        # CSV write -> schema-on-read -> cross-source join (source path)
        "source_csv_roundtrip": Workload(
            _source_csv_roundtrip, _SOURCE_CSV_ORACLE,
        ),
        # two-generation parquet dataset read under mergeSchema
        "source_schema_evolution": Workload(
            _source_schema_evolution, _SOURCE_EVOLUTION_ORACLE,
        ),
        # Z-order clustered write -> read-back aggregate (the layout
        # lever for multi-dimensional file pruning)
        "sink_zorder_roundtrip": Workload(
            _sink_zorder_roundtrip, _SINK_ZORDER_ORACLE,
            headline=True,
        ),
        # the composed curation pipeline: prepare -> C4 -> dedup ->
        # sample -> per-source stats, one plan, two shuffles
        "pipeline_curation": Workload(
            _pipeline_curation, _PIPELINE_CURATION_ORACLE, headline=True,
        ),
        # the same composition upgraded to the published cluster-then-
        # prune recipe: C4 gate -> SemDeDup over kept embeddings ->
        # token-budget mixture -> per-source stats, one composed plan
        "pipeline_semantic_curation": Workload(
            _pipeline_semantic_curation, _pipeline_semantic_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast",
            max_exchanges=11,
        ),
        # perplexity-proxy quality score: mean unigram logprob under the
        # corpus's own top-V distribution (CCNet-style filter stand-in)
        "text_unigram_logprob": Workload(
            lambda s: text.unigram_logprob(s.table("documents")),
            text.unigram_logprob_oracle(),
            headline=True,
            bnlj_bounded="1-row total-count aggregate broadcast",
        ),
        # interpolated-bigram LM scoring: one step closer to
        # the CCNet KenLM gate — Jelinek-Mercer lam*P(w|prev) +
        # (1-lam)*P_uni(w) under the corpus's own top-B/top-V tables,
        # per-token logs snapped to 1e-6 fixed point so the per-doc
        # mean is summation-order-free across engines
        "text_bigram_logprob": Workload(
            lambda s: text.bigram_interp_logprob(s.table("documents")),
            text.bigram_interp_logprob_oracle(),
            headline=True,
            bnlj_bounded="1-row total-count aggregate broadcast",
            max_exchanges=14,
        ),
        # classifier TRAINING: full-batch logistic GD over
        # hashed-gram count features, label = lang=='en'; exact integer
        # gradients (errors snap to 1e-6 fixed point first) make the
        # TRAINED weight table engine-identical — the missing half of
        # text_classifier_score's inference
        "text_lr_train": Workload(
            lambda s: text.lr_train_hashed(s.table("documents")),
            text.lr_train_hashed_oracle(),
            headline=True,
            bnlj_bounded="1-row gradient/weight state broadcast per step",
            max_exchanges=46,
        ),
        # BPE merge-rule training — the tokenizer-training step
        # on the same engine (Sennrich 2016); bounded word-shape table,
        # one pair-count aggregate + 1-row argmax + literal replace per
        # iteration; oracle is the iteration-unrolled CTE chain
        "text_bpe_train": Workload(
            lambda s: text.bpe_train_merges(s.table("documents")),
            text.bpe_train_merges_oracle(),
            headline=True,
        ),
        # the serving half: apply the trained merges to the FULL vocab,
        # per-doc token budgets (broadcast-rules + distinct-vocab join)
        "text_bpe_encode": Workload(
            lambda s: text.bpe_encode(
                s.table("documents"),
                text.bpe_train_merges(s.table("documents")),
            ),
            text.bpe_encode_oracle(),
            headline=True,
        ),
        # ordered funnel: per-user earliest reach time per step, each
        # step constrained to follow the previous (one user-keyed agg)
        "ts_funnel_steps": Workload(
            lambda s: timeseries.funnel(s.table("events")),
            timeseries.funnel_oracle(),
            headline=True,
            max_exchanges=1,
        ),
        # weekly cohort retention curve substrate
        "ts_cohort_retention": Workload(
            lambda s: timeseries.cohort_retention(s.table("events")),
            timeseries.cohort_retention_oracle(),
            headline=True,
            max_exchanges=4,
        ),
        # incremental corpus update: new batch deduped against the
        # existing corpus (exact md5 anti-join -> LSH candidates vs the
        # corpus band table -> Jaccard verify)
        "dedup_incremental": Workload(
            lambda s: dedup.incremental_dedup(
                s.table("documents").filter(F.col("doc_id") >= 400),
                s.table("documents").filter(F.col("doc_id") < 400),
            ),
            dedup.incremental_dedup_oracle(),
            headline=True,
            max_exchanges=24,
        ),
        # market-basket pair affinity with lift (per-basket-bounded
        # self-join; rounded-lift TakeOrdered)
        "affinity_basket_pairs": Workload(
            lambda s: affinity.basket_pairs(s.table("lineitem")),
            affinity.basket_pairs_oracle(),
            bnlj_bounded="1-row total-baskets aggregate broadcast",
            max_exchanges=19,
        ),
        # type-2 SCD merge: changed keys close their open version and
        # append a new one; history stays immutable
        "join_scd2_merge": Workload(
            lambda s: joins.scd2_merge(
                s.table("customer").select(
                    "c_custkey", "c_name", "c_acctbal",
                    F.lit("2024-01-01").cast("timestamp")
                    .alias("valid_from"),
                    F.lit(None).cast("timestamp").alias("valid_to"),
                    F.lit(True).alias("is_current"),
                ),
                s.table("customer").select(
                    "c_custkey", "c_name",
                    F.when(
                        F.col("c_custkey") % 10 == 0,
                        F.col("c_acctbal") + 100,
                    ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
                ),
                "c_custkey", ["c_name", "c_acctbal"], "2024-06-01",
            ),
            """
            SELECT c_custkey, c_name, c_acctbal,
                   TIMESTAMP '2024-01-01' AS valid_from,
                   NULL::TIMESTAMP AS valid_to, true AS is_current
            FROM customer WHERE c_custkey % 10 <> 0
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal,
                   TIMESTAMP '2024-01-01', TIMESTAMP '2024-06-01', false
            FROM customer WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal + 100,
                   TIMESTAMP '2024-06-01', NULL::TIMESTAMP, true
            FROM customer WHERE c_custkey % 10 = 0
            """,
            headline=True,
        ),
        # snapshot diff audit — one full-outer key join
        # classifying added/removed/changed/unchanged + 4-group count
        # (old/new snapshots derived in-query from customer)
        "join_snapshot_diff": Workload(
            lambda s: joins.snapshot_diff(
                s.table("customer")
                .filter(F.col("c_custkey") % 89 != 0)
                .select("c_custkey", "c_name", "c_acctbal"),
                s.table("customer")
                .filter(F.col("c_custkey") % 97 != 0)
                .select(
                    "c_custkey", "c_name",
                    F.when(F.col("c_custkey") % 10 == 0,
                           F.col("c_acctbal") + 100)
                    .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
                ),
                "c_custkey", ["c_name", "c_acctbal"],
            ),
            joins.snapshot_diff_oracle(
                "SELECT c_custkey, c_name, c_acctbal FROM customer "
                "WHERE c_custkey % 89 <> 0",
                "SELECT c_custkey, c_name, CASE WHEN c_custkey % 10 = 0 "
                "THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal "
                "FROM customer WHERE c_custkey % 97 <> 0",
                "c_custkey", ["c_name", "c_acctbal"],
            ),
            headline=True,
            max_exchanges=3,
        ),
        # event-time lateness histogram — per-key running-max
        # window in exact integer microseconds + bounded-bucket reduce;
        # the measurement that sizes a watermark delay
        # the fixture stream is perfectly ordered (every lateness would
        # be 0), so the workload derives a jittered arrival order
        # in-query — a deterministic multiplicative shuffle of the low
        # bits simulating network reordering; the audit is what's
        # under test, against the same derivation in the oracle
        "ts_lateness_audit": Workload(
            lambda s: timeseries.lateness_audit(
                s.table("events").withColumn(
                    "arrival",
                    F.col("event_id")
                    + (F.col("event_id") * F.lit(2654435761)) % 16,
                ),
                arrival_col="arrival", bucket_minutes=1,
                tie_col="event_id",
            ),
            timeseries.lateness_audit_oracle(
                table="(SELECT *, event_id + (event_id * 2654435761) "
                      "% 16 AS arrival FROM events)",
                arrival_col="arrival", bucket_minutes=1,
                tie_col="event_id",
            ),
            headline=True,
            max_exchanges=2,
        ),
        # time-weighted average under LOCF — the
        # irregular-sampling mean (TimescaleDB time_weight shape);
        # exact integer-microsecond durations x 1e-3 fixed-point
        # values, ONE key exchange serving both window and group-by
        "ts_time_weighted_avg": Workload(
            lambda s: timeseries.time_weighted_avg(s.table("events")),
            timeseries.time_weighted_avg_oracle(),
            headline=True,
            max_exchanges=1,
        ),
        # PMI collocation mining — sliding-window
        # co-occurrence pairs ranked by pointwise mutual information;
        # the PMI argument is ONE double division of exact BIGINT
        # products so a single ln + 1e-6 snap is engine-stable
        "text_pmi_collocations": Workload(
            lambda s: text.pmi_collocations(s.table("documents")),
            text.pmi_collocations_oracle(),
            headline=True,
            bnlj_bounded=(
                "1-row pair/token-totals broadcast over the checkpointed "
                "co-occurrence counts — bounded by construction"
            ),
            max_exchanges=6,
        ),
        # per-COLUMN snapshot drift audit — null-rate bp,
        # exact distinct counts, 1e-3 fixed-point means per column
        # across a baseline/current time split; the schema-level
        # companion to the value-level PSI/KS gates (the fixture has
        # no nulls, so a nullable column is derived in-query — the
        # audit is what's under test, same derivation in the oracle)
        "profile_snapshot_drift": Workload(
            lambda s: profiling.snapshot_drift(
                s.table("events").withColumn(
                    "value_n",
                    F.expr("CASE WHEN value < 20 THEN NULL ELSE value END"),
                ),
                cohort_sql="ts >= TIMESTAMP '2024-01-16'",
                columns=["event_type", "props", "value_n", "user_id"],
                numeric_cols=["value_n", "user_id"],
            ),
            profiling.snapshot_drift_oracle(
                table="(SELECT *, CASE WHEN value < 20 THEN NULL "
                      "ELSE value END AS value_n FROM events)",
                cohort_sql="ts >= TIMESTAMP '2024-01-16'",
                columns=["event_type", "props", "value_n", "user_id"],
                numeric_cols=["value_n", "user_id"],
            ),
            headline=True,
            bnlj_bounded=(
                "1-row baseline x 1-row current aggregate cross — bounded by "
                "construction (the corpus collapsed in the 2-group agg above)"
            ),
            max_exchanges=5,
        ),
        # nearest-direction as-of join — the third merge_asof
        # direction (backward/forward exist above); both candidates
        # from ONE keyed exchange + one sorted pass, exact
        # integer-microsecond distance compare, backward tie-break,
        # tolerance bounding each direction BEFORE the compare
        "join_asof_nearest": Workload(
            lambda s: joins.asof_join_nearest(
                s.table("events").filter("event_type = 'error'")
                .select("event_id", "user_id", "ts"),
                s.table("events").filter("event_type = 'click'")
                .select("user_id", "ts", "value"),
                on="user_id", left_time="ts", right_time="ts",
                value_cols=["value"], tolerance_s=86400,
            ),
            joins.asof_join_nearest_oracle(
                "(SELECT event_id, user_id, ts FROM events "
                "WHERE event_type = 'error')",
                "(SELECT user_id, ts, value FROM events "
                "WHERE event_type = 'click')",
                on="user_id", left_time="ts", right_time="ts",
                left_id="event_id",
                left_cols=["event_id", "user_id", "ts"],
                value_cols=["value"], tolerance_s=86400,
            ),
            headline=True,
            max_exchanges=1,
        ),
        # SCD2 point-in-time lookup — THE consumption pattern
        # for versioned history: fold the events CDC feed into an SCD2
        # history batch-side (the streaming sink's batch twin), then
        # each event picks the version current AT its timestamp via a
        # broadcast equi-join with the interval test as residual (the
        # fact side never shuffles)
        "join_scd2_pointlookup": Workload(
            lambda s: joins.scd2_point_in_time(
                s.table("events").select("event_id", "user_id", "ts"),
                joins.scd2_history_from_cdc(s.table("events")),
            ).select("event_id", "user_id", "ts",
                     F.col("dim_event_type")),
            _scd2_pointlookup_oracle(),
            headline=True,
            max_exchanges=1,
        ),
        # type-1 upsert (batch MERGE): updated customer rows replace
        # same-key rows, the standing table never shuffles
        "join_upsert_snapshot": Workload(
            lambda s: joins.upsert(
                s.table("customer").select(
                    "c_custkey", "c_name", "c_acctbal"
                ),
                s.table("customer").filter("c_custkey % 10 = 0").select(
                    "c_custkey", "c_name",
                    (F.col("c_acctbal") + 100).alias("c_acctbal"),
                ),
                "c_custkey",
            ),
            """
            SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
            FROM customer WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal
            FROM customer WHERE c_custkey % 10 <> 0
            """,
        ),
        # interval-interval overlap join, bucketized equi + canonical
        # first-bucket emission (no dedup shuffle); naive oracle
        "join_interval_overlap": Workload(
            lambda s: joins.interval_overlap_join(
                s.table("events").filter("event_type = 'error'").select(
                    F.col("event_id").alias("err_id"), "user_id",
                    F.unix_timestamp("ts").alias("e_lo"),
                    (F.unix_timestamp("ts") + 3600).alias("e_hi"),
                ),
                s.table("events").filter("event_type = 'purchase'").select(
                    F.col("event_id").alias("purch_id"), "user_id",
                    F.unix_timestamp("ts").alias("p_lo"),
                    (F.unix_timestamp("ts") + 1800).alias("p_hi"),
                ),
                "e_lo", "e_hi", "p_lo", "p_hi", 3600.0, on="user_id",
            ).select("err_id", "purch_id"),
            """
            SELECT a.err_id, b.purch_id
            FROM (SELECT event_id AS err_id, user_id,
                         epoch(ts)::BIGINT AS e_lo,
                         epoch(ts)::BIGINT + 3600 AS e_hi
                  FROM events WHERE event_type = 'error') a
            JOIN (SELECT event_id AS purch_id, user_id,
                         epoch(ts)::BIGINT AS p_lo,
                         epoch(ts)::BIGINT + 1800 AS p_hi
                  FROM events WHERE event_type = 'purchase') b
            ON a.user_id = b.user_id
               AND a.e_lo <= b.p_hi AND b.p_lo <= a.e_hi
            """,
            headline=True,
        ),
        # edit-distance join via positional q-gram blocking; the naive
        # oracle proves the candidate generation lossless
        "join_fuzzy_names": Workload(
            lambda s: joins.fuzzy_join(
                s.table("part").filter(F.col("p_partkey") < 100).select(
                    F.col("p_partkey").alias("id_a"),
                    F.col("p_name").alias("name_a"),
                ),
                s.table("part").select(
                    F.col("p_partkey").alias("id_b"),
                    F.col("p_name").alias("name_b"),
                ),
                "id_a", "name_a", "id_b", "name_b", max_dist=1,
            ).filter(F.col("id_a") < F.col("id_b")),
            joins.fuzzy_join_oracle(
                "SELECT p_partkey AS id_a, p_name AS name_a FROM part"
                " WHERE p_partkey < 100",
                "SELECT p_partkey AS id_b, p_name AS name_b FROM part",
                "id_a", "name_a", "id_b", "name_b", max_dist=1,
                extra_cond="AND a.id_a < b.id_b",
            ),
            headline=True,
        ),
        # mergeable hourly rollup: two disjoint halves rolled up
        # independently, merged via the state algebra, finalized — the
        # oracle is the rollup of ALL raw rows (proves merge lossless)
        "ts_mergeable_rollup": Workload(
            lambda s: timeseries.finalize_rollup(
                timeseries.merge_rollups(
                    timeseries.mergeable_rollup(
                        s.table("events").filter("event_id % 2 = 0")
                    ),
                    timeseries.mergeable_rollup(
                        s.table("events").filter("event_id % 2 = 1")
                    ),
                )
            ),
            timeseries.mergeable_rollup_oracle(),
            headline=True,
            max_exchanges=2,
        ),
        # STREAMING driver-visible workload (first CORRECTNESS row whose
        # compute path goes through a streaming query): events split
        # into 4 files, replayed as a bounded file stream through the
        # foreachBatch materialized-rollup sink (one state merge per
        # trigger), finalized standing table returned;
        # the oracle is the batch rollup of ALL raw rows
        "streaming_rollup_result": Workload(
            _streaming_rollup_result,
            timeseries.mergeable_rollup_oracle(),
            headline=True,
        ),
        # STREAMING drift monitoring: per-day PSI of the purchase value
        # stream vs the batch click reference — bucketed windowed counts
        # through a real 4-trigger streaming replay, PSI finalized
        # batch-side; STRONG oracle (the batch SQL twin)
        "streaming_drift_psi_result": Workload(
            _streaming_drift_psi_result,
            _STREAMING_DRIFT_PSI_ORACLE,
            headline=True,
            bnlj_bounded=(
                "1-row reference-total aggregate broadcast over the "
                "days x buckets grid"
            ),
        ),
        # STREAMING k-means model maintenance: the MODEL
        # state-algebra class (batch contribution depends on observed
        # state) — 4-trigger replay over hash-split batches, finalized
        # centroids hash-checked vs the unrolled-stage SQL twin
        "streaming_kmeans_result": Workload(
            _streaming_kmeans_result,
            _streaming_kmeans_oracle(),
            headline=True,
        ),
        # STREAMING windowed top-k: trending keys per
        # event-time day through a real 4-trigger replay; state is
        # O(open windows x distinct keys) — the honest exact-top-k
        # cost (CMS is the sketch fallback); rank cut batch-side
        "streaming_topk_result": Workload(
            _streaming_topk_result,
            _STREAMING_TOPK_ORACLE,
            headline=True,
        ),
        # STREAMING CDC-apply / SCD2 sink: the fourth sink
        # state-algebra class (history-versioned — order-dependent,
        # replay-guarded); 4 time-ordered triggers, each CDC-compacted
        # and type-2-merged; history hash-checked vs the unrolled
        # MATERIALIZED-CTE batch twin
        "streaming_scd2_result": Workload(
            _streaming_scd2_result,
            _streaming_scd2_oracle(),
            headline=True,
        ),
        # STREAMING CDC deletes: 'error' rows are
        # tombstones — close-at-event-time without re-open; keys may
        # re-appear later as fresh versions
        "streaming_scd2_tombstones_result": Workload(
            _streaming_scd2_tombstones_result,
            _streaming_scd2_oracle(
                tombstone_where="event_type = 'error'"),
            headline=True,
        ),
        # STREAMING driver-visible workload #2: the
        # continuous-dedup corpus sink replayed over a bounded 2-file
        # stream (deterministic batch order via file mtimes), final
        # corpus hash-checked against the sequential two-stage batch
        # twin — makes the atomic batch-commit path a CORRECTNESS row
        "streaming_dedup_result": Workload(
            _streaming_dedup_result,
            _streaming_dedup_oracle(),
            headline=True,
        ),
        # STREAMING driver-visible workload #3: the standing
        # HLL register table built by 4 successive trigger max-merges —
        # by the union law the streamed state equals DuckDB's one-pass
        # register build, so the IDEMPOTENT-merge replay class gets a
        # CORRECTNESS row next to the rollup sink's additive class
        "streaming_hll_registers": Workload(
            _streaming_hll_result,
            profiling.hll_registers_oracle(),
        ),
        # STREAMING driver-visible workload #4: per-user
        # session windows built by a stateful streaming query over 4
        # file-triggers (sessions merge across batches), hash-checked
        # against the batch gaps-and-islands twin
        "streaming_sessions_result": Workload(
            _streaming_sessions_result,
            _STREAMING_SESSIONS_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #5: stateful
        # stream-stream interval join — purchases attributed to prior
        # clicks ACROSS trigger boundaries, hash-checked against the
        # batch self-join twin (values pass through unrounded)
        "streaming_attribution_result": Workload(
            _streaming_attribution_result,
            _STREAMING_ATTRIBUTION_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #9: LEFT OUTER
        # stream-stream interval join — unattributed clicks emitted as
        # watermark-evicted NULL rows across time-ordered triggers with
        # sentinel flush; hash-checked against the batch LEFT-JOIN twin
        "streaming_attribution_left_result": Workload(
            _streaming_attribution_left_result,
            _STREAMING_ATTRIBUTION_LEFT_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #10: point-in-
        # time (ASOF) enrichment — TWO chained stateful operators
        # (LEFT OUTER interval join -> per-click max_by aggregate), the
        # feature-store primitive; hash-checked against a batch window
        # twin (deterministic whole-struct tie order on both sides)
        "streaming_pit_enrich_result": Workload(
            _streaming_pit_enrich_result,
            _STREAMING_PIT_ENRICH_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #6: sliding
        # event-time windows accumulated across 4 file-triggers,
        # hash-checked against integer epoch-arithmetic window
        # assignment (each event in exactly 2 overlapping windows)
        "streaming_sliding_result": Workload(
            _streaming_sliding_result,
            _STREAMING_SLIDING_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #7: the custom
        # stateful operator (applyInPandasWithState) with fixed-point
        # BIGINT state — running totals exact across trigger
        # boundaries, hash-checked against the batch GROUP BY
        "streaming_running_totals_result": Workload(
            _streaming_running_totals_result,
            _STREAMING_TOTALS_ORACLE,
            headline=True,
        ),
        # STREAMING driver-visible workload #8: stateless
        # stream-static broadcast enrichment — every micro-batch joins
        # the static customer dim, hash-checked against the batch join
        "streaming_enrich_result": Workload(
            _streaming_enrich_result,
            _STREAMING_ENRICH_ORACLE,
            headline=True,
        ),
        # language ID with top1-top2 confidence margin (the fastText-
        # style gate real pipelines filter on)
        "text_language_confidence": Workload(
            lambda s: text.language_id_confidence(s.table("documents")),
            text.language_id_confidence_oracle(),
        ),
        # DSIR selection: exp((w - w_max)/T) keep rates over the
        # importance weights, md5-threshold membership (deterministic)
        "text_dsir_resample": Workload(
            lambda s: text.dsir_resample(
                s.table("documents"),
                s.table("documents").filter(F.col("lang") == "de"),
                temperature=0.05,
            ),
            text.dsir_resample_oracle(
                target_where="lang = 'de'", temperature=0.05
            ),
            headline=True,
            bnlj_bounded="1-row weight-normalizer broadcast",
            max_exchanges=36,
        ),
        # corpus top-k word bigrams: in-row zip_with pairing (no
        # positional self-join), map-side-combined count, TakeOrdered
        "text_ngram_counts": Workload(
            lambda s: text.ngram_counts(s.table("documents"), k=50),
            text.ngram_counts_oracle(k=50),
            headline=True,
        ),
        # DSIR-style importance weights: mean unigram log-likelihood
        # ratio of a target domain vs the corpus's own distribution
        # (broadcast top-V vocabs; corpus shuffles once for its counts)
        "text_dsir_weights": Workload(
            lambda s: text.dsir_weights(
                s.table("documents"),
                s.table("documents").filter(F.col("lang") == "de"),
            ),
            text.dsir_weights_oracle(target_where="lang = 'de'"),
            headline=True,
            bnlj_bounded="1-row weight-normalizer broadcast",
            max_exchanges=17,
        ),
        # Okapi BM25 top-k retrieval, explode-free (per-row tf for the
        # fixed query; 1-row corpus stats broadcast; TakeOrdered top-k)
        "text_bm25_topk": Workload(
            lambda s: text.bm25_topk(
                s.table("documents"), ["hash", "join", "vector"], k=25
            ),
            text.bm25_topk_oracle(["hash", "join", "vector"], k=25),
            headline=True,
            bnlj_bounded="1-row corpus-stats aggregate broadcast",
        ),
        # SentencePiece-style unigram-LM tokenizer training
        # (hard-EM Viterbi prune loop over a substring seed vocab;
        # integer fixed-point costs make the DP and its unrolled
        # array-DP DuckDB twin bit-identical)
        "text_unigram_train": Workload(
            lambda s: text.unigram_lm_train(s.table("documents")),
            text.unigram_lm_train_oracle(),
            headline=True,
            max_exchanges=0,
        ),
        # the unigram family's serving half — Viterbi
        # tokenization under the trained vocab over the distinct-word
        # table (Arrow-batched UDF, broadcast model), emitting per-doc
        # token budgets + total piece log-likelihood
        "text_unigram_encode": Workload(
            lambda s: text.unigram_encode(
                s.table("documents"),
                text.unigram_lm_train(s.table("documents")),
            ),
            text.unigram_encode_oracle(),
            headline=True,
            max_exchanges=3,
        ),
        # curriculum binning — quality-ranked equal-count
        # tiers via ntile (one range exchange, deterministic id
        # tie-break) + tiny bucket aggregate
        "sample_curriculum_buckets": Workload(
            lambda s: sampling.curriculum_buckets(
                text.quality_score(s.table("documents"))),
            sampling.curriculum_buckets_oracle(
                text.quality_score_oracle()),
            headline=True,
            max_exchanges=1,
        ),
        # per-group winsorization audit — exact percentile
        # bounds (1e-6-snapped before clipping), broadcast bounds join,
        # fixed-point clipped means
        "profile_winsorize": Workload(
            lambda s: profiling.winsorize_stats(s.table("events")),
            profiling.winsorize_stats_oracle(),
            headline=True,
            max_exchanges=3,
        ),
        # cross-source duplication matrix — the provenance
        # view over the verified MinHash near-dup pairs (pair-bounded
        # label joins + sources^2 reduce)
        "dedup_cross_source_matrix": Workload(
            lambda s: dedup.cross_source_matrix(s.table("documents")),
            dedup.cross_source_matrix_oracle(),
            headline=True,
            max_exchanges=19,
        ),
        # inter-labeler agreement (Cohen's kappa) between the
        # thresholded hashed-ngram classifier and the lang label —
        # classifier plan + co-partitioned label join + 1-row aggregate
        "text_label_agreement": Workload(
            lambda s: text.label_agreement(
                s.table("documents"), text.make_hash_weights(s)),
            text.label_agreement_oracle(),
            headline=True,
            max_exchanges=4,
        ),
        # per-dimension embedding stats (collapse/staleness
        # audit) — fixed-point moment sums, one dims-group aggregate
        "profile_embedding_dims": Workload(
            lambda s: profiling.embedding_dim_stats(
                s.table("embeddings")),
            profiling.embedding_dim_stats_oracle(),
            headline=True,
            max_exchanges=1,
        ),
        # tokenizer fertility audit — tokens/word per lang
        # under the trained BPE rules (bpe_encode's plan + one
        # co-partitioned label join + tiny group reduce)
        "text_tokenizer_fertility": Workload(
            lambda s: text.tokenizer_fertility(
                s.table("documents"),
                text.bpe_train_merges(s.table("documents")),
            ),
            text.tokenizer_fertility_oracle(),
            headline=True,
            max_exchanges=5,
        ),
        # regex PII scrub (emails/IPs/phones counted then
        # masked, zero-shuffle narrow map). The fixture text carries no
        # PII, so the workload derives a deterministic PII-bearing
        # column IN-QUERY from doc_id (2/3 of docs get one of each
        # class, 1/3 stay clean) — the scrub itself is what's under
        # test, against the same derivation in the oracle
        "text_pii_scrub": Workload(
            lambda s: text.pii_scrub(
                s.table("documents").select(
                    "doc_id",
                    F.concat(
                        F.substring(
                            F.coalesce(F.col("text"), F.lit("")), 1, 80),
                        F.when(
                            F.col("doc_id") % 3 != 2,
                            F.concat(
                                F.lit(" contact user"),
                                F.col("doc_id").cast("string"),
                                F.lit("@example.com at 10.0."),
                                (F.col("doc_id") % 256).cast("string"),
                                F.lit(".7 or +1-555-0"),
                                F.lpad((F.col("doc_id") % 1000)
                                       .cast("string"), 3, "0"),
                            ),
                        ).otherwise(F.lit("")),
                    ).alias("text"),
                )
            ),
            "WITH src AS (\n"
            "    SELECT doc_id,\n"
            "           substr(coalesce(text, ''), 1, 80) ||\n"
            "           CASE WHEN doc_id % 3 <> 2 THEN\n"
            "                ' contact user' || doc_id ||\n"
            "                '@example.com at 10.0.' || (doc_id % 256)\n"
            "                || '.7 or +1-555-0' ||\n"
            "                lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')\n"
            "           ELSE '' END AS text\n"
            "    FROM documents\n"
            ")\n" + text.pii_scrub_oracle(table="src"),
            headline=True,
            max_exchanges=0,
        ),
        # the OTHER standard hybrid fusion — weighted min-max
        # score fusion (rank-insensitive, keeps score margins where RRF
        # flattens to 1/(c+rank)); IEEE-exact normalization over the
        # two snapped top-depth lists, fused score snapped to 1e-6
        "text_weighted_hybrid_topk": Workload(
            lambda s: text.weighted_hybrid_topk(
                s.table("documents"), s.table("embeddings"),
                ["hash", "join", "vector"], query_vec_id=0,
            ),
            text.weighted_hybrid_topk_oracle(
                ["hash", "join", "vector"], query_vec_id=0,
            ),
            headline=True,
            bnlj_bounded=(
                "same bounded shapes as the RRF row: bm25's 1-row "
                "corpus-stats broadcast + cosine_topk's single broadcast "
                "query row; fusion windows run over the two <=depth-row lists"
            ),
            max_exchanges=5,
        ),
        # hybrid retrieval fusion — BM25 top-depth + cosine
        # top-depth fused by reciprocal-rank (Cormack et al. 2009),
        # fixed-point 1e12/(60+rank) contributions so the fused order
        # is integer-exact on both engines; fusion is a union + tiny
        # groupBy over the two <=depth-row lists, zero corpus shuffle
        "text_rrf_hybrid_topk": Workload(
            lambda s: text.rrf_hybrid_topk(
                s.table("documents"), s.table("embeddings"),
                ["hash", "join", "vector"], query_vec_id=0,
            ),
            text.rrf_hybrid_topk_oracle(
                ["hash", "join", "vector"], query_vec_id=0,
            ),
            headline=True,
            bnlj_bounded=(
                "both halves' allowlisted shapes: bm25's 1-row corpus-stats "
                "broadcast + cosine_topk's single broadcast query row; the "
                "fusion itself is a union of two <=depth-row lists"
            ),
            max_exchanges=6,
        ),
        # deterministic per-group cap (class balancing; WindowGroupLimit)
        "sample_capped_per_group": Workload(
            lambda s: sampling.capped_per_group(
                s.table("documents"), k=40, group_col="lang"
            ).select("doc_id", "lang"),
            sampling.capped_per_group_oracle(
                40, group_col="lang", cols="doc_id, lang"
            ),
            headline=True,
        ),
        # deterministic k-fold assignment (leak-free CV splits)
        "sample_kfold": Workload(
            lambda s: sampling.kfold_assign(s.table("documents"))
            .select("doc_id", "source", "fold"),
            sampling.kfold_assign_oracle(cols="doc_id, source"),
        ),
        # GROUP-aware k-fold — near-dup clusters (LSH -> CC)
        # land in one fold, so eval near-copies cannot leak into train;
        # fold keyed on the cluster representative, singletons on
        # their own id
        "sample_leakage_safe_split": Workload(
            lambda s: sampling.leakage_safe_split(s.table("documents")),
            sampling.leakage_safe_split_oracle(),
            headline=True,
        ),
        # reproducible global shuffle (training-order randomization):
        # md5 epoch key + ONE range exchange, no single-partition sort
        "sample_global_shuffle": Workload(
            lambda s: sampling.deterministic_shuffle(s.table("documents"))
            .select("doc_id", "source", "shuffle_key"),
            sampling.deterministic_shuffle_oracle(cols="doc_id, source"),
            headline=True,
        ),
        # the published Gopher/MassiveText quality rule set, one flag
        # per rule (the c4_filters companion — together the standard
        # public pre-training filter stack)
        "text_gopher_filters": Workload(
            lambda s: text.gopher_filters(s.table("documents")),
            text.gopher_filters_oracle(),
            headline=True,
        ),
        # per-component embedding stats (dead dims, centering, range)
        "sim_component_stats": Workload(
            lambda s: similarity.component_stats(s.table("embeddings")),
            similarity.component_stats_oracle(),
        ),
        # product quantization: per-subspace L2 codebooks + m-code
        # encoding (with the IVF tier, the IVF-PQ index family)
        "sim_pq_encode": Workload(
            lambda s: similarity.pq_encode(
                s.table("embeddings"), dim=64, m=4, k=4, n_iter=1
            ),
            similarity.pq_encode_oracle(dim=64, m=4, k=4, n_iter=1),
            headline=True,
        ),
        # IVF probe over kmeans-trained centroids (index build + search)
        "sim_ivf_topk_trained": Workload(
            lambda s: similarity.ivf_topk_trained(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.ivf_topk_trained_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast",
            max_exchanges=18,
        ),
        # the full IVF-PQ composition: coarse kmeans probe (nprobe
        # cells) -> fixed-point asymmetric-distance shortlist over PQ
        # codes (candidate vectors never touched) -> exact re-rank of
        # refine*k survivors; corpus never shuffles
        "sim_ivf_pq_topk": Workload(
            lambda s: similarity.ivf_pq_topk(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.ivf_pq_topk_oracle(),
            headline=True,
            bnlj_bounded="codebook + PQ table broadcast (k*256 entries)",
            max_exchanges=28,
        ),
        # SQ8 scalar-quantized search: int8 codes, EXACT
        # integer-dot shortlist (order-free without fixed-point — int8
        # products can't lose bits in a double sum), float re-rank of
        # refine*k — the 4x-bandwidth tier between brute force and PQ
        "sim_sq8_topk": Workload(
            lambda s: similarity.sq8_topk(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.sq8_topk_oracle(),
            headline=True,
            bnlj_bounded="capped query-set broadcast (brute baseline)",
        ),
        # IVF-SQ8 composition: trained coarse cells bound
        # WHICH vectors are scored, SQ8 codes bound how much is READ
        # per scored row — the FAISS IVFx,SQ8 shape completing the
        # index ladder
        "sim_ivf_sq8_topk": Workload(
            lambda s: similarity.ivf_sq8_topk(
                s.table("embeddings"),
                s.table("embeddings").filter(F.col("vec_id") < 10),
            ),
            similarity.ivf_sq8_topk_oracle(),
            headline=True,
            bnlj_bounded="1-row centroid codebook broadcast",
            max_exchanges=15,
        ),
    }


# --------------------------------------------------------------------------
# The registry and the driver contract
# --------------------------------------------------------------------------

@lru_cache(maxsize=None)
def _defined() -> Mapping[str, Workload]:
    """Every workload in definition order, built once per process."""
    return MappingProxyType({**_plan_workloads(), **_operator_workloads()})


@lru_cache(maxsize=4)  # the artifact set is immutable within a process
def _latest_driver_rows(
    repo: str | None = None,
) -> tuple[dict[str, int], dict[str, dict]]:
    """Latest driver-sampled round and row per workload, across every
    CORRECTNESS_r*.json in ``repo`` (default: the repo root; later
    rounds win)."""
    if repo is None:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_round: dict[str, int] = {}
    latest_row: dict[str, dict] = {}

    # sort by the PARSED round number, not lexically: a 3-digit round
    # (CORRECTNESS_r100.json) sorts lexically BEFORE r12, which would
    # let an older round silently overwrite a newer one
    def _round_of(p: str) -> int:
        return int("".join(c for c in os.path.basename(p) if c.isdigit()))

    for path in sorted(
        glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")),
        key=_round_of,
    ):
        rnd = _round_of(path)
        with open(path) as f:
            for name, row in json.load(f).items():
                latest_round[name] = rnd
                latest_row[name] = row
    return latest_round, latest_row


def _rotation(names: list[str]) -> list[str]:
    """Order ``names`` for the driver, which checks the first 50
    entries: workloads red at their latest driver check first, then
    never-sampled ones, then the rest stalest first; catalog order
    breaks ties. Reads the CORRECTNESS_r*.json artifacts."""
    latest_round, latest_row = _latest_driver_rows()
    idx = {n: i for i, n in enumerate(names)}
    red = [n for n in names
           if n in latest_row and not latest_row[n].get("hash_match")]
    never = [n for n in names if n not in latest_round]
    stale = sorted(
        (n for n in names if n in latest_round and n not in red),
        key=lambda n: (latest_round[n], idx[n]),
    )
    return red + never + stale


@lru_cache(maxsize=None)
def catalog() -> Mapping[str, Workload]:
    """Every workload, in the driver-sample rotation order (see
    ``_rotation``); the registry behind it is built once per process."""
    defined = _defined()
    return MappingProxyType({n: defined[n] for n in _rotation(list(defined))})


def _ir_workloads() -> dict[str, Plan]:
    """The plan workloads' plans, in definition order."""
    return {n: w.plan for n, w in _defined().items() if w.plan is not None}


def headline() -> list[str]:
    """The workloads the bench times, in definition order."""
    return [n for n, w in _defined().items() if w.headline]


def _runner(build: Callable[[SparkSession], DataFrame]):
    # the previous build's materialisations and work dirs go before
    # this build starts; this build's live until the next one
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_session()
        register_tables(spark, sf_dir)
        return build(spark)

    return run


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _runner(w.build) for n, w in catalog().items()}


def build_oracles() -> dict[str, str]:
    return {n: w.oracle for n, w in catalog().items()}
