"""Programmatic physical-plan quality audit — the 100-TB posture as an
API instead of a test suite.

``audit_plan(df)`` inspects a DataFrame's executed plan and reports the
scale signals the repo's plan gates assert one by one: whether filters
reached the parquet scan, which columns each scan reads, cartesian
products, row-at-a-time Python evaluation, exchange/broadcast counts.
``exchange_count`` is the one definition of "exchange" the catalog's
plan contracts (``registry.Workload.max_exchanges``) are written in.
``assert_scale_clean(df)`` raises on the two unconditional red flags
(cartesian product, row-at-a-time Python in the plan).

This is the self-serve version of tests/test_plan_quality.py: a
pipeline author can gate their own composed query before shipping it to
a cluster, the same way this repo gates its operators.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanAudit:
    pushed_filters: list = field(default_factory=list)
    read_schemas: list = field(default_factory=list)
    n_exchanges: int = 0  # exchange_count of the executed plan
    n_broadcasts: int = 0
    n_sort_merge_joins: int = 0
    n_broadcast_joins: int = 0
    n_nested_loop_joins: int = 0
    has_cartesian: bool = False
    has_python_eval: bool = False
    has_whole_stage_codegen: bool = False
    plan_text: str = ""

    @property
    def warnings(self) -> list:
        out = []
        if self.has_cartesian:
            out.append("CartesianProduct: unbounded pairwise blowup")
        if self.has_python_eval:
            out.append(
                "row-at-a-time Python eval (BatchEvalPython) in the plan"
            )
        if self.n_nested_loop_joins:
            out.append(
                f"{self.n_nested_loop_joins} BroadcastNestedLoopJoin(s): "
                "fine against a deliberately-broadcast small side (grids, "
                "centroids, query sets); a scale bug if both sides grow"
            )
        scans_without_pushdown = sum(
            1 for f in self.pushed_filters if f == "[]"
        )
        if scans_without_pushdown and self.read_schemas:
            out.append(
                f"{scans_without_pushdown} scan(s) with no pushed filters "
                "(fine for full scans; check if a WHERE should have reached "
                "the reader)"
            )
        return out


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan's text, read without running it."""
    return df._jdf.queryExecution().executedPlan().toString()


def exchange_count(executed: str) -> int:
    """Distinct exchange operators in an executed plan's text: every
    line naming an ``Exchange`` (shuffle, broadcast and reused alike),
    deduplicated by text so a reused subtree counts once."""
    return len({ln.strip() for ln in executed.split("\n")
                if "Exchange" in ln and "AQEShuffleRead" not in ln})


def plan_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_plan(df: DataFrame) -> PlanAudit:
    txt = plan_text(df)
    phys = executed_plan(df)
    # count operators from the formatted explain's numbered detail
    # headers — each physical node appears there exactly ONCE (the tree
    # section repeats every node)
    ops = re.findall(r"^\(\d+\) (\w+)", txt, re.M)
    # codegen spans are only visible in the codegen explain (the AQE
    # executedPlan hides them behind AdaptiveSparkPlan pre-execution)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    codegen = "WholeStageCodegen" in buf.getvalue()
    return PlanAudit(
        pushed_filters=re.findall(r"PushedFilters: (\[[^\]]*\])", txt),
        read_schemas=re.findall(r"ReadSchema: (\S+)", txt),
        n_exchanges=exchange_count(phys),
        n_broadcasts=sum(1 for o in ops if o == "BroadcastExchange"),
        n_sort_merge_joins=sum(1 for o in ops if o == "SortMergeJoin"),
        n_broadcast_joins=sum(1 for o in ops if o == "BroadcastHashJoin"),
        n_nested_loop_joins=sum(
            1 for o in ops if o == "BroadcastNestedLoopJoin"
        ),
        has_cartesian="CartesianProduct" in txt,
        has_python_eval=("BatchEvalPython" in phys),
        has_whole_stage_codegen=codegen,
        plan_text=txt,
    )


def assert_scale_clean(df: DataFrame) -> PlanAudit:
    """Raise AssertionError on the unconditional red flags; return the
    audit otherwise (callers can inspect the softer signals)."""
    a = audit_plan(df)
    if a.has_cartesian:
        raise AssertionError(
            "plan contains a CartesianProduct:\n" + a.plan_text[:2000]
        )
    if a.has_python_eval:
        raise AssertionError(
            "plan contains row-at-a-time Python evaluation (use pandas "
            "UDFs / built-ins):\n" + a.plan_text[:2000]
        )
    return a
