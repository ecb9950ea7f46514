#!/usr/bin/env python
"""Dev tool: plan-quality audit for any catalog workload.

Usage: python scripts/explain_workload.py <workload> [sf_dir] [--full] [--jobs]

Prints the audit_plan summary (pushdown, pruning, exchange/broadcast
counts, red flags) with the workload's declared plan contract next to
the counts it bounds (pin a new row's ``max_exchanges`` from its
``exchanges`` line at sf0.001) and, with --full, the formatted physical
plan.

With --jobs it instead runs the workload once to warm up, then once
more, and prints the Spark jobs, stages and tasks of that second run,
split into build (the query function: IR construction plus any eager
driver work such as checkpoints or streaming replays) and execute (a
``noop`` write of the result) — the counts quoted in docstrings and
job-count tests — followed by the intermediates the build materialised
(kind, scale, eager), read from its query scope.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    full = "--full" in sys.argv
    if not args:
        raise SystemExit(__doc__)
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.001"

    from datafusion_sqlgen_spark import get_spark
    from datafusion_sqlgen_spark.plans.audit import audit_plan
    from datafusion_sqlgen_spark.workloads import build_queries, catalog

    spark = get_spark(app_name="explain-workload", cpus=8,
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    if name not in queries:
        raise SystemExit(f"unknown workload {name!r}; "
                         f"{len(queries)} available")
    if "--jobs" in sys.argv:
        print_jobs(spark, name, queries[name], sf_dir)
        return
    a = audit_plan(queries[name](spark, sf_dir))
    w = catalog()[name]
    print(f"workload            {name}")
    print(f"exchanges           {a.n_exchanges:<4} "
          f"budget {w.max_exchanges if w.max_exchanges is not None else '-'}")
    print(f"broadcast exchanges {a.n_broadcasts}")
    print(f"broadcast joins     {a.n_broadcast_joins}")
    print(f"sort-merge joins    {a.n_sort_merge_joins}")
    print(f"nested-loop joins   {a.n_nested_loop_joins:<4} "
          f"bounded: {w.bnlj_bounded or '- (undeclared)'}")
    print(f"cartesian product   {a.has_cartesian}")
    print(f"python eval         {a.has_python_eval}")
    print(f"whole-stage codegen {a.has_whole_stage_codegen}")
    for f in a.pushed_filters:
        print(f"pushed filters      {f}")
    for r in a.read_schemas:
        print(f"read schema         {r[:100]}")
    for w in a.warnings:
        print(f"WARNING             {w}")
    if full:
        print("\n" + a.plan_text)


def print_jobs(spark, name: str, query, sf_dir: str) -> None:
    from datafusion_sqlgen_spark.materialize import query_scope
    from perfbench.probes import SparkCounters

    counters = SparkCounters(spark)

    def run() -> tuple[dict, dict, list]:
        with query_scope() as scope:
            start = counters.mark()
            df = query(spark, sf_dir)
            build = counters.delta(start, counters.mark())
            start = counters.mark()
            df.write.format("noop").mode("overwrite").save()
            execute = counters.delta(start, counters.mark())
            made = [(m.kind, m.scale, m.eager)
                    for m in scope.materializations]
        return build, execute, made

    run()  # warm-up
    build, execute, made = run()
    print(f"workload  {name}")
    print(f"{'phase':8}  {'jobs':>5}  {'stages':>6}  {'skipped':>7}  "
          f"{'tasks':>6}")
    for phase, c in (("build", build), ("execute", execute)):
        print(f"{phase:8}  {c['jobs']:>5}  {c['stages']:>6}  "
              f"{c['stages_skipped']:>7.0f}  {c['tasks']:>6.0f}")
    print(f"materialisations  {len(made)}")
    for kind, scale, eager in made:
        print(f"  {kind:8}  {scale:6}  eager={eager}")


if __name__ == "__main__":
    main()
