"""audit_plan / assert_scale_clean: the plan-gate suite as a user API."""

import pytest
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.plans.audit import (
    assert_scale_clean,
    audit_plan,
)


def test_audit_reports_pushdown_and_pruning(spark):
    df = (
        spark.table("customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    a = audit_plan(df)
    assert any("c_mktsegment" in f for f in a.pushed_filters)
    assert a.read_schemas and "c_acctbal" not in a.read_schemas[0]
    assert not a.has_cartesian and not a.has_python_eval


def test_audit_flags_cartesian(spark):
    # shuffle_replicate_nl forces a true CartesianProduct (a bare tiny
    # crossJoin plans BroadcastNestedLoopJoin — reported as a warning,
    # not a red flag: broadcast grids/centroids use it deliberately)
    df = spark.table("nation").hint("shuffle_replicate_nl").crossJoin(
        spark.table("region")
    )
    a = audit_plan(df)
    assert a.has_cartesian
    assert any("Cartesian" in w for w in a.warnings)
    with pytest.raises(AssertionError, match="CartesianProduct"):
        assert_scale_clean(df)


def test_audit_flags_python_udf(spark):
    from pyspark.sql.types import LongType

    plus_one = F.udf(lambda x: x + 1, LongType())
    df = spark.table("nation").select(plus_one(F.col("n_nationkey")))
    a = audit_plan(df)
    assert a.has_python_eval
    with pytest.raises(AssertionError, match="Python"):
        assert_scale_clean(df)


def test_audit_warns_on_nested_loop(spark):
    a = audit_plan(spark.table("nation").crossJoin(spark.table("region")))
    assert a.n_nested_loop_joins >= 1
    assert any("NestedLoop" in w for w in a.warnings)


def test_audit_counts_broadcasts(spark):
    df = spark.table("orders").join(
        F.broadcast(spark.table("customer")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    a = assert_scale_clean(df)
    assert a.n_broadcast_joins >= 1

