"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (revenue by region/nation, broadcast
dims) at sf0.001. ``queries()`` / ``oracle_sql()`` — the full workload
catalog from ``datafusion_sqlgen_spark.workloads``: every SURVEY.md §2
operator has an IR-built query whose DuckDB oracle is hand-written in a
different formulation from the plan's own render, plus the LLM-pipeline
operator workloads with the DuckDB oracles shipped next to each
operator.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from datafusion_sqlgen_spark.catalog import register_tables
from datafusion_sqlgen_spark.workloads import build_oracles, build_queries

_QUERIES = None
_ORACLES = None


def _catalog():
    global _QUERIES, _ORACLES
    if _QUERIES is None:
        _QUERIES = build_queries()
        _ORACLES = build_oracles()
    return _QUERIES, _ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    queries, _ = _catalog()
    return queries["join_broadcast_dims"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_catalog()[0])


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, hand-written for every
    workload."""
    return dict(_catalog()[1])
