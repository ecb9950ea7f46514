#!/usr/bin/env python3
"""Layered benchmark of the engine on the sf0.1 test data.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Each workload is a closed loop: one client in one process, on
``local[N]`` with N the number of cores this process may run on. A pass
runs each of the workload's queries once, in an order drawn from
``--seed`` (the data stays fixed): it calls the query function from
``build_queries()`` and executes the DataFrame through the ``noop``
sink, so every output column is computed.

Set-up is everything before the first timed pass: session start,
``register_tables``, ``build_queries()`` / ``build_oracles()``, the
DuckDB oracle results, an oracle pass that collects each query's result
and checks it against its oracle, and one untimed warm pass through the
``noop`` sink (the first pass after the cold oracle pass still ran ~25%
slower than the next on a 4-core host). Timed passes then run until
``--seconds`` is used up; a pass that starts in time runs to its end,
and at least two run so that the median has more than one sample.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics from the
traced ones; a traced pass forces each plan before the write (which
plans again), so end-to-end numbers never come from it.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the run's context (cores, versions, seed) and its failures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine, the repo's bench settings and this package
sys.path.insert(0, ROOT)

from perfbench.oracle import mismatch, oracle_results  # noqa: E402
from perfbench.probes import (  # noqa: E402
    COUNTER_KEYS, TRIGGER_PARTS, ProcessTree, SparkCounters, cached_mb,
    dir_entries, trigger_log)

# Everything a run writes lives here; .gitignore lists it.
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Queries are picked by the layer they exercise, and few enough that a
# run (set-up plus the timed seconds) stays near a minute.
# relational: IR plans (plans.to_df), parsed SQL (parser) and one operator
#   range join; per-query build, Catalyst planning and job launch weigh in.
# pipeline: an iterative trainer that pins its model and launches ~18 jobs
#   (operators), and a bounded streaming replay whose triggers all run
#   inside the query's build (streaming).
WORKLOADS = {
    "relational": [
        "tpch_q3", "join_semi", "join_range_bucketed", "setop_union_all",
        "parsed_asof_multikey", "parsed_merge_upsert", "ref_scan_filter",
    ],
    "pipeline": ["sim_kmeans_fit", "streaming_rollup_result"],
}


def median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.order = list(WORKLOADS[workload])
        random.Random(seed).shuffle(self.order)
        self.cores = len(os.sched_getaffinity(0))
        self.failures: list[dict] = []
        self.attempted = 0
        self.setup: dict[str, float] = {}

    # ---- workspace and session -----------------------------------------
    def open_workspace(self) -> None:
        # The previous run counted its leftovers before exiting; whatever
        # it could not remove goes now, so disk stays bounded.
        shutil.rmtree(WORK_ROOT, ignore_errors=True)
        self.work = os.path.join(WORK_ROOT, "run")
        self.tmp = os.path.join(self.work, "tmp")
        for d in ("tmp", "jvm_tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        # tempfile.mkdtemp in the library, Spark's block manager and the
        # JVM's own temp files all land inside the workspace
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # the session's 16g default heap is more than sf0.1 needs and more
        # than a small shared host should promise
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    def start_session(self):
        from datafusion_sqlgen_spark import get_spark

        java_opts = (f"-Djava.io.tmpdir={self.work}/jvm_tmp "
                     f"-Dderby.system.home={self.work}")
        spark = get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def checkpoint_dir(self) -> str | None:
        d = self.spark.sparkContext.getCheckpointDir()
        return d[len("file:"):] if d and d.startswith("file:") else d

    # ---- set-up ----------------------------------------------------------
    def set_up(self) -> None:
        # the sf0.1 tables the repo's bench harness reads
        # (SPARK_GRAFT_SF_DIR overrides it)
        from bench import SF_DIR
        from datafusion_sqlgen_spark import TABLES, register_tables
        from datafusion_sqlgen_spark.workloads import (
            _ir_workloads, build_oracles, build_queries)

        self.sf_dir = SF_DIR
        if not all(os.path.exists(os.path.join(SF_DIR, f"{t}.parquet"))
                   for t in TABLES):
            raise SystemExit(f"test data missing under {SF_DIR}")
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.tree = ProcessTree()
        t1 = time.perf_counter()
        register_tables(self.spark, SF_DIR)
        t2 = time.perf_counter()
        self.queries = build_queries()
        oracle_sql = build_oracles()
        self.ir_plans = _ir_workloads()
        t3 = time.perf_counter()
        expected = oracle_results(SF_DIR, TABLES, self.cores,
                                  {q: oracle_sql[q] for q in self.order})
        t4 = time.perf_counter()
        # oracle pass: collect each result and check it against its oracle
        for name in self.order:
            self.attempted += 1
            try:
                got = self.queries[name](self.spark, SF_DIR).toPandas()
            except Exception as ex:  # noqa: BLE001 - counted, run goes on
                self.fail(name, "oracle", ex)
                continue
            why = mismatch(got, expected[name])
            if why:
                self.failures.append(
                    {"query": name, "pass": "oracle", "error": why})
        self.run_pass(None, "warm")
        t5 = time.perf_counter()
        self.setup = {
            "setup_s": t5 - t0,
            "session.start_s": t1 - t0,
            "catalog.register_s": t2 - t1,
            "workloads.build_queries_s": t3 - t2,
            "oracle.duckdb_s": t4 - t3,
            "warmup_s": t5 - t4,
        }

    def fail(self, name: str, where: str, ex: BaseException) -> None:
        self.failures.append({
            "query": name, "pass": where,
            "error": "".join(traceback.format_exception_only(ex)).strip()[:300],
        })

    def layer_of(self, name: str) -> str:
        """The library layer a query's build phase runs in."""
        if name in self.ir_plans:
            return "plans"
        if name.startswith("streaming_"):
            return "streaming"
        return "operators"

    # ---- passes ----------------------------------------------------------
    def run_pass(self, spans: list | None, where: str = "timed") -> dict:
        """One pass over the workload. With ``spans`` a list, each query
        is traced as build / plan / execute and its spans appended."""
        tmp_before = dir_entries(self.tmp, self.checkpoint_dir())
        latency: dict[str, float] = {}
        cpu0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        for name in self.order:
            self.attempted += 1
            try:
                if spans is None:
                    start = time.perf_counter()
                    df = self.queries[name](self.spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    latency[name] = time.perf_counter() - start
                else:
                    spans.append(self.traced_query(name))
            except Exception as ex:  # noqa: BLE001 - counted, run goes on
                self.fail(name, where, ex)
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s() - cpu0
        leaked_cache = cached_mb(self.spark)
        left = dir_entries(self.tmp, self.checkpoint_dir()) - tmp_before
        for path in left:  # counted above; removed so disk stays bounded
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        return {"wall_s": wall, "cpu_s": cpu, "latency": latency,
                "leaked_cache_mb": leaked_cache, "leaked_tmp_dirs": len(left)}

    def traced_query(self, name: str) -> dict:
        q = self.queries[name]
        m0 = self.counters.mark()
        t0 = time.perf_counter()
        df = q(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        m1 = self.counters.mark()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        m2 = self.counters.mark()
        return {
            "query": name, "layer": self.layer_of(name),
            "build_s": t1 - t0, "plan_s": t2 - t1, "execute_s": t3 - t2,
            "build": self.counters.delta(m0, m1),
            "execute": self.counters.delta(m1, m2),
        }

    def measure(self) -> None:
        """Timed passes until ``seconds`` is used up; a pass that starts
        in time runs to its end, and at least two run. In trace mode passes
        alternate untraced / traced, starting untraced, so one of each runs."""
        self.passes: list[dict] = []
        self.traced: list[dict] = []
        if self.trace:
            self.counters = SparkCounters(self.spark)
            self.triggers = trigger_log(self.spark)
        start = time.perf_counter()
        while (time.perf_counter() - start < self.seconds
               or len(self.passes) + len(self.traced) < 2):
            if not self.trace or len(self.passes) == len(self.traced):
                self.passes.append(self.run_pass(None))
                continue
            spans: list[dict] = []
            self.triggers.take()  # drop the untraced pass's triggers
            result = self.run_pass(spans, "traced")
            result["spans"] = spans
            result["triggers"] = self.triggers.take()
            self.traced.append(result)

    # ---- reporting -------------------------------------------------------
    def end_to_end(self) -> dict:
        lat = {q: median([p["latency"][q] for p in self.passes
                          if q in p["latency"]]) for q in self.order}
        lat = [v for v in lat.values() if v > 0]
        return {
            "wall_s": (median([p["wall_s"] for p in self.passes]), "s"),
            "latency_geomean_s": (
                math.exp(statistics.fmean(math.log(v) for v in lat))
                if lat else 0.0, "s"),
            "setup_s": (self.setup["setup_s"], "s"),
            "cpu_s": (median([p["cpu_s"] for p in self.passes]), "s"),
        }

    def per_layer(self) -> dict:
        def per_pass(fn):
            return median([fn(p) for p in self.traced])

        def span_sum(p, key, layer=None):
            return sum(s[key] for s in p["spans"]
                       if layer is None or s["layer"] == layer)

        def count_sum(p, key, phases=("build", "execute"), layer=None):
            return sum(s[ph][key] for s in p["spans"] for ph in phases
                       if layer is None or s["layer"] == layer)

        def trig(p, fn):
            return fn(p["triggers"]) if p["triggers"] else 0.0

        out = {k: (v, "s") for k, v in self.setup.items() if k != "setup_s"}
        out.update({
            "plans.to_df_s": (per_pass(
                lambda p: span_sum(p, "build_s", "plans")), "s"),
            "operators.build_s": (per_pass(
                lambda p: span_sum(p, "build_s", "operators")), "s"),
            "operators.cached_mb_after": (per_pass(
                lambda p: p["leaked_cache_mb"]), "MB"),
            "streaming.build_s": (per_pass(
                lambda p: span_sum(p, "build_s", "streaming")), "s"),
            "streaming.triggers": (per_pass(
                lambda p: len(p["triggers"])), "count"),
            "streaming.trigger_ms_p50": (per_pass(lambda p: trig(
                p, lambda ts: median([t["trigger_ms"] for t in ts]))), "ms"),
            "streaming.trigger_ms_max": (per_pass(lambda p: trig(
                p, lambda ts: max(t["trigger_ms"] for t in ts))), "ms"),
            "streaming.input_rows": (per_pass(lambda p: trig(
                p, lambda ts: sum(t["input_rows"] for t in ts))), "count"),
            "streaming.tmp_dirs_after": (per_pass(
                lambda p: p["leaked_tmp_dirs"]), "count"),
            "spark.plan_s": (per_pass(lambda p: span_sum(p, "plan_s")), "s"),
            "spark.execute_s": (per_pass(
                lambda p: span_sum(p, "execute_s")), "s"),
        })
        for key in ("jobs", "stages", "tasks"):
            out[f"operators.build_{key}"] = (per_pass(lambda p, k=key: count_sum(
                p, k, ("build",), "operators")), "count")
        for part in TRIGGER_PARTS:
            out[f"streaming.{part}"] = (per_pass(lambda p, k=part: trig(
                p, lambda ts: sum(t[k] for t in ts))), "ms")
        units = {"_mb": "MB", "_s": "s"}
        for key in COUNTER_KEYS:
            unit = next((u for suf, u in units.items() if key.endswith(suf)),
                        "count")
            out[f"spark.{key}"] = (per_pass(
                lambda p, k=key: count_sum(p, k)), unit)
        run, cpu = out["spark.executor_run_s"][0], out["spark.executor_cpu_s"][0]
        out["spark.cpu_efficiency"] = (cpu / run if run else 0.0, "ratio")
        traced_wall = per_pass(lambda p: p["wall_s"])
        out["trace_overhead_s"] = (
            traced_wall - median([p["wall_s"] for p in self.passes]), "s")
        out["trace.unaccounted_s"] = (per_pass(lambda p: p["wall_s"] - sum(
            s["build_s"] + s["plan_s"] + s["execute_s"]
            for s in p["spans"])), "s")
        # peak RSS varies by a quarter between runs, too much for an
        # end-to-end bound
        out["driver_peak_rss_mb"] = (self.tree.peak_rss_mb(), "MB")
        out.update(self.front_end())
        return out

    def front_end(self) -> dict:
        """Render every IR plan to both dialects, parse its Spark SQL back
        and check the re-render is the same text; median of 3 rounds."""
        from datafusion_sqlgen_spark.parser import parse_sql

        rounds = []
        for _ in range(3):
            render = parse = 0.0
            same = renderable = 0
            for plan in self.ir_plans.values():
                t0 = time.perf_counter()
                try:
                    sql = plan.to_sql("spark")
                    plan.to_sql("duckdb")
                except ValueError:  # ASOF tolerance has no DuckDB render
                    render += time.perf_counter() - t0
                    continue
                t1 = time.perf_counter()
                reparsed = parse_sql(sql)
                t2 = time.perf_counter()
                render += t1 - t0
                parse += t2 - t1
                renderable += 1
                same += reparsed.to_sql("spark") == sql
            rounds.append((render, parse, same, renderable))
        return {
            "plans.to_sql_s": (median([r[0] for r in rounds]), "s"),
            "parser.parse_s": (median([r[1] for r in rounds]), "s"),
            "parser.roundtrip_fixpoint_ratio": (
                rounds[0][2] / rounds[0][3] if rounds[0][3] else 0.0, "ratio"),
            "parser.roundtrip_plans": (rounds[0][3], "count"),
        }

    def context(self) -> dict:
        import duckdb
        import pyspark

        passes = self.passes
        return {
            "workload": self.workload,
            "seed": self.seed,
            "queries": self.order,
            "cores": self.cores,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "sf_dir": self.sf_dir,
            "pass_wall_s": [p["wall_s"] for p in passes],
            "pass_cpu_s": [p["cpu_s"] for p in passes],
            "latency_s": {q: [p["latency"].get(q) for p in passes]
                          for q in self.order},
            "traced_pass_wall_s": [p["wall_s"] for p in self.traced],
            "spans": [s for p in self.traced for s in p["spans"]],
            "failed_frac": len(self.failures) / self.attempted,
            "failed_base": self.attempted,
            "leaked_cache_mb": median([p["leaked_cache_mb"] for p in passes]),
            "leaked_tmp_dirs": median([p["leaked_tmp_dirs"] for p in passes]),
            "failures": self.failures,
        }

    # ---- teardown --------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started, then remove the workspace."""
        try:
            spark = getattr(self, "spark", None)
            if spark is not None:
                gateway = spark.sparkContext._gateway
                try:
                    spark.stop()
                    gateway.shutdown()
                finally:
                    # the JVM exits when its stdin closes
                    gateway.proc.stdin.close()
                    try:
                        gateway.proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        gateway.proc.kill()
                        gateway.proc.wait()
        finally:
            reap_descendants()
            shutil.rmtree(WORK_ROOT, ignore_errors=True)


def reap_descendants() -> None:
    """TERM, then after 30 s KILL, every process still below this one,
    until none is left (or a minute has passed)."""
    tree = ProcessTree()
    deadline = time.monotonic() + 30
    while (rest := [p for p in tree.pids() if p != tree.root]):
        if time.monotonic() > deadline + 30:
            print(f"perfbench: processes {rest} did not end", file=sys.stderr)
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in rest:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our direct child
                pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import datafusion_sqlgen_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}",
              file=sys.stderr)
        return 2

    # a SIGTERM unwinds through close(), which stops the JVM and workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    bench.open_workspace()
    try:
        bench.set_up()
        bench.measure()
        metrics = bench.per_layer() if bench.trace else bench.end_to_end()
        context = bench.context()
    finally:
        bench.close()
    print(json.dumps(context))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
