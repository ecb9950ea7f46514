"""The record every catalog workload is declared as.

A workload states, where it is defined, how Spark builds it, the DuckDB
SQL that checks it and whether the bench headline times it;
``workloads.catalog()`` collects the records.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from datafusion_sqlgen_spark.plans import Plan


@dataclass(frozen=True)
class Workload:
    build: Callable[[SparkSession], DataFrame]
    oracle: str
    headline: bool = False
    plan: Plan | None = None  # the IR plan; None for operator workloads


def planned(plan: Plan, *, oracle: str, headline: bool = False) -> Workload:
    """A plan workload: Spark executes ``plan.to_df``; ``oracle`` is
    hand-written, in a formulation that shares no rendering code with
    ``plan.to_sql("duckdb")``."""
    return Workload(plan.to_df, oracle, headline, plan)
