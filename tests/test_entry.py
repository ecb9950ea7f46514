"""Driver-contract conformance and the catalog gate.

Every ``queries()`` entry is built once at the test scale and held to
two checks: its executed plan, read before it runs, keeps the
workload's plan contract (``registry.plan_breach``), and its rows match
its ``oracle_sql()`` on DuckDB at driver strength
(``registry.oracle_mismatch``). A plan workload runs its Spark SQL
rendering, so the gate also builds its DataFrame rendering,
``plan.to_df``, and holds it to the same column names, Spark types and
rows."""

import os
from dataclasses import replace

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from datafusion_sqlgen_spark.plans.audit import exchange_count, executed_plan
from datafusion_sqlgen_spark.registry import (
    BUDGET_SCALE, oracle_mismatch, plan_breach,
)
from datafusion_sqlgen_spark.workloads import catalog
from tests.conftest import SF_DIR

AT_BUDGET_SCALE = os.path.basename(os.path.normpath(SF_DIR)) == BUDGET_SCALE


def _gate(spark, duck, name, w, check_budget=AT_BUDGET_SCALE):
    """Build ``name`` once; check its plan against ``w``'s contract,
    then its rows against ``w``'s oracle. Budgets hold at
    ``BUDGET_SCALE`` only."""
    if not check_budget:
        w = replace(w, max_exchanges=None)
    df = entry_mod.queries()[name](spark, SF_DIR)
    breach = plan_breach(name, w, executed_plan(df))
    assert breach is None, breach
    got = df.toPandas()
    why = oracle_mismatch(got, duck.execute(w.oracle).df())
    assert why is None, f"{name}: {why}"
    if w.plan is not None:
        alt = w.plan.to_df(spark)
        assert alt.dtypes == df.dtypes, (
            f"{name}: to_df {alt.dtypes} vs SQL {df.dtypes}")
        why = oracle_mismatch(alt.toPandas(), got)
        assert why is None, f"{name}: to_df vs SQL: {why}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) == 4


def test_every_query_has_oracle_or_is_declared():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    missing = set(o) - set(q)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    _gate(spark, duck, name, catalog()[name])


def test_gate_fails_one_exchange_over_budget(spark, duck):
    name = "dedup_exact"
    n = exchange_count(executed_plan(entry_mod.queries()[name](spark, SF_DIR)))
    w = replace(catalog()[name], max_exchanges=n - 1)
    with pytest.raises(AssertionError,
                       match=f"{name}: {n} exchanges > budget {n - 1}"):
        _gate(spark, duck, name, w, check_budget=True)


def test_gate_fails_undeclared_nested_loop_join(spark, duck):
    name = "join_cross_small"
    w = replace(catalog()[name], bnlj_bounded=None)
    with pytest.raises(AssertionError,
                       match=f"{name}: undeclared BroadcastNestedLoopJoin"):
        _gate(spark, duck, name, w)


def test_plan_breach_names_row_at_a_time_python(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    plus_one = F.udf(lambda x: x + 1, LongType())
    df = spark.table("nation").select(plus_one(F.col("n_nationkey")))
    w = catalog()["ref_scan_filter"]
    assert plan_breach("udf_row", w, executed_plan(df)) == (
        "udf_row: row-at-a-time Python (BatchEvalPython)")


def test_oracle_rule_rejects_int_against_float():
    # DuckDB HUGEINT sums arrive as float64: equal values, another hash
    got = pd.DataFrame({"n": [0, 3]})
    want = pd.DataFrame({"n": [0.0, 3.0]})
    assert oracle_mismatch(got, want) == "dtype kind of n: int vs float"


def test_oracle_rule_rejects_column_names():
    got = pd.DataFrame({"total": [1.5]})
    want = pd.DataFrame({"sum_total": [1.5]})
    assert oracle_mismatch(got, want).startswith("columns ['total']")


def test_oracle_rule_floats_within_rtol():
    got = pd.DataFrame({"k": [2, 1], "x": [2.0, 1.0 + 1e-9]})
    near = pd.DataFrame({"k": [1, 2], "x": [1.0, 2.0]})
    assert oracle_mismatch(got, near) is None
    off = pd.DataFrame({"k": [1, 2], "x": [1.0, 2.0001]})
    assert oracle_mismatch(got, off).startswith("values of x")
