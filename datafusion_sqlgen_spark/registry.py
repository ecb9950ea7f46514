"""The record every catalog workload is declared as, and the two checks
every record is held to.

A workload states, where it is defined, how Spark builds it, the DuckDB
SQL that checks it, whether the bench headline times it and its plan
contract; ``workloads.catalog()`` collects the records.

The plan contract bounds the executed plan: never a CartesianProduct,
never row-at-a-time Python (``BatchEvalPython``; the Arrow-batched
pandas nodes are allowed); a BroadcastNestedLoopJoin only where
``bnlj_bounded`` says why its broadcast build side cannot grow with the
data (a 1-row aggregate, a fixed grid, a capped query set); and, where
``max_exchanges`` is set, at most that many exchanges
(``plans.audit.exchange_count``) at ``BUDGET_SCALE``. A budget is pinned at the measured count, never
above it, so any growth is a finding.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from datafusion_sqlgen_spark.plans import Plan
from datafusion_sqlgen_spark.plans.audit import exchange_count

# the test-data scale exchange budgets are counted at: the planner
# picks broadcasts from size estimates, so other scales plan other
# exchanges
BUDGET_SCALE = "sf0.001"


@dataclass(frozen=True)
class Workload:
    build: Callable[[SparkSession], DataFrame]
    oracle: str
    headline: bool = False
    plan: Plan | None = None  # the IR plan; None for operator workloads
    bnlj_bounded: str | None = None  # why a BNLJ build side is bounded
    max_exchanges: int | None = None  # exchange budget at BUDGET_SCALE


def planned(plan: Plan, *, oracle: str, headline: bool = False,
            bnlj_bounded: str | None = None,
            max_exchanges: int | None = None) -> Workload:
    """A plan workload: Spark executes ``spark.sql(plan.to_sql("spark"))``,
    one parse and one analysis per query (``plan.to_df`` pays a Py4J
    call and an analysis per builder step). The text is rendered when
    the workload is built, not when the catalog is declared.
    ``plan.to_df`` is the second rendering, which the catalog gate holds
    to this one. ``oracle`` is hand-written, in a formulation that
    shares no rendering code with ``plan.to_sql("duckdb")``."""
    def build(spark: SparkSession) -> DataFrame:
        return spark.sql(plan.to_sql("spark"))

    return Workload(build, oracle, headline, plan, bnlj_bounded,
                    max_exchanges)


def plan_breach(name: str, w: Workload, executed: str) -> str | None:
    """How the executed plan text ``executed`` of workload ``name``
    breaks ``w``'s plan contract, or None when it keeps it."""
    if "CartesianProduct" in executed:
        return f"{name}: CartesianProduct"
    if "BatchEvalPython" in executed:
        return f"{name}: row-at-a-time Python (BatchEvalPython)"
    if "BroadcastNestedLoopJoin" in executed and w.bnlj_bounded is None:
        joins = [ln.strip()[:120] for ln in executed.split("\n")
                 if "BroadcastNestedLoopJoin" in ln]
        return (f"{name}: undeclared BroadcastNestedLoopJoin: "
                + "; ".join(joins))
    n = exchange_count(executed)
    if w.max_exchanges is not None and n > w.max_exchanges:
        return f"{name}: {n} exchanges > budget {w.max_exchanges}"
    return None


def _kind(series: pd.Series) -> str:
    """Coarse dtype kind: the driver's value hash formats cells, so int
    vs float is a real mismatch (DuckDB HUGEINT arrives as float64 and
    hashes "0.0" against Spark's "0") while int32 vs int64 is not."""
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "obj"


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why Spark's result ``got`` differs from the oracle's ``want``, or
    None when they match at driver strength: the same column names, the
    same row count, rows sorted on every column, the same dtype kind per
    column, floats within rtol 1e-6 and everything else exact."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    sides = []
    for df in (got, want):
        df = df[cols].copy()
        for c in cols:
            # Spark hands back ns, DuckDB us: compare values, not units
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        sides.append(df.sort_values(cols).reset_index(drop=True))
    g, w = sides
    for c in cols:
        if _kind(g[c]) != _kind(w[c]):
            return f"dtype kind of {c}: {_kind(g[c])} vs {_kind(w[c])}"
        is_float = _kind(g[c]) == "float"
        try:
            pd.testing.assert_series_equal(
                g[c], w[c], check_dtype=False, check_names=False,
                check_exact=not is_float, rtol=1e-6, atol=1e-9,
            )
        except AssertionError as ex:
            return f"values of {c}: " + str(ex).replace("\n", " | ")[:260]
    return None
