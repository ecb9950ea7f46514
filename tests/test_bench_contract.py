"""Stdout contract for bench.py (VERDICT r9 item 3, carried from r8 item 4).

The driver keeps only a ~2,000-char TAIL of bench stdout and JSON-parses
the last line into BENCH_r{N}.json.  With 112 headline queries the big
payload line loses its head to the tail cut, so the artifact recorded
"parsed": null for two rounds.  bench.py now prints a compact summary as
the FINAL stdout line; these tests pin that protocol.

The end-to-end test runs bench.py in a subprocess on ONE query at
sf0.001 (SPARK_GRAFT_BENCH_QUERIES test hook) — real Spark, real stdout
— and asserts the last line parses, is tail-proof small, and agrees
with the full payload line above it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")

COMPACT_KEYS = {
    "metric", "value", "unit", "machine_canary_sec",
    "machine_canary_par8_sec", "canary_contention_ratio",
    "value_per_canary", "n_queries", "spread_median", "sf",
    "full_artifact", "queries", "n_queries_reported",
}

# bench.py keys full artifacts by the session's thread count (the
# local[N] master get_spark builds); tests must compute the expected
# suffix the same way.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def test_bench_stdout_last_line_is_compact_and_parsable():
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_QUERIES="ref_scan_filter",
        # pin the CLEAN path: disable the contention diversion so a
        # loaded CI host can't flip full_artifact mid-test (the gate
        # itself is pinned by test_contended_run_diverts_artifact)
        SPARK_GRAFT_CONTENTION_MAX="1e9",
    )
    proc = subprocess.run(
        [sys.executable, BENCH], capture_output=True, text=True,
        env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    assert len(lines) >= 2, lines

    # the driver's parse: last non-empty stdout line must be JSON
    compact = json.loads(lines[-1])
    assert set(compact) == COMPACT_KEYS
    # tail-proof: the whole line (incl. the top-N queries dict) must fit
    # the ~2,000-char tail the driver keeps
    assert len(lines[-1]) <= 1900, len(lines[-1])
    assert compact["n_queries"] == 1
    assert compact["unit"] == "sec"
    assert compact["value"] > 0
    assert compact["machine_canary_sec"] > 0
    assert compact["sf"] == 0.001
    # per-query contract (VERDICT r13 item 1): the compact line carries
    # the per-query medians that fit the budget
    assert set(compact["queries"]) == {"ref_scan_filter"}
    assert compact["n_queries_reported"] == 1

    # the full payload line directly above must agree on the headline
    full = json.loads(lines[-2])
    assert full["value"] == compact["value"]
    assert full["machine_canary_sec"] == compact["machine_canary_sec"]
    assert set(full["queries"]) == {"ref_scan_filter"}
    assert full["queries"]["ref_scan_filter"] == \
        compact["queries"]["ref_scan_filter"]
    # gate calibration is recorded in the full payload
    assert full["idle_floor_ratio"] > 0
    assert full["contention_threshold"] == 1e9  # pinned by env

    # subset runs write a core-count-keyed sibling artifact, never the
    # round artifact
    assert compact["full_artifact"] == f"bench_full_subset.c{CPUS}.json"
    sub = os.path.join(REPO, compact["full_artifact"])
    assert os.path.exists(sub)
    assert not os.path.exists(os.path.join(REPO, "bench_full_subset.json"))
    os.remove(sub)


def test_contended_run_diverts_artifact():
    """Fail-closed contention gate (VERDICT r12 item 1): when the
    parallel/single canary ratio exceeds SPARK_GRAFT_CONTENTION_MAX the
    run must be written to `*.contended.json` and NEVER overwrite the
    clean artifact.  MAX=0 forces every run to read as contended."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_QUERIES="ref_scan_filter",
        SPARK_GRAFT_CONTENTION_MAX="0",
    )
    clean = os.path.join(REPO, f"bench_full_subset.c{CPUS}.json")
    contended = os.path.join(
        REPO, f"bench_full_subset.c{CPUS}.contended.json")
    for p in (clean, contended):
        if os.path.exists(p):
            os.remove(p)
    proc = subprocess.run(
        [sys.executable, BENCH], capture_output=True, text=True,
        env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    compact = json.loads(lines[-1])
    assert compact["contended"] is True
    assert compact["full_artifact"] == \
        f"bench_full_subset.c{CPUS}.contended.json"
    # the committed-baseline path is untouched; the diverted file exists
    assert not os.path.exists(clean)
    assert os.path.exists(contended)
    os.remove(contended)


def test_compact_line_packs_top_queries_within_tail_budget():
    """The compact line's per-query dict must (a) stay under the tail
    budget no matter how large the catalog grows, (b) keep the fixed
    summary keys intact, and (c) prefer the most expensive queries —
    those are the rows the driver's regression machinery needs."""
    import bench

    base = {
        "metric": "headline_queries_total", "value": 1.0, "unit": "sec",
        "machine_canary_sec": 0.5, "machine_canary_par8_sec": 0.6,
        "canary_contention_ratio": 1.2, "value_per_canary": 2.0,
        "n_queries": 300, "spread_median": 0.1, "sf": 0.1,
        "full_artifact": "bench_full.c32.json",
    }
    timings = {f"some_workload_name_{i:03d}": round(0.01 * i, 3)
               for i in range(300)}
    packed = bench._pack_top_queries(base, timings)
    line = json.dumps(packed, separators=(",", ":"))
    assert len(line) <= bench.TAIL_LINE_BUDGET
    # summary keys survive
    for k in base:
        assert packed[k] == base[k]
    # the single most expensive query always makes the cut
    assert "some_workload_name_299" in packed["queries"]
    # it reports fewer than all 300 (they cannot fit) but a useful chunk
    assert 20 < packed["n_queries_reported"] < 300
    assert len(packed["queries"]) == packed["n_queries_reported"]
    # every reported value is the true median for that name
    assert all(timings[k] == v for k, v in packed["queries"].items())
    # and when everything fits, everything is reported
    small = bench._pack_top_queries(base, {"a": 1.0, "b": 2.0})
    assert small["queries"] == {"a": 1.0, "b": 2.0}
    assert small["n_queries_reported"] == 2


def test_headline_is_exactly_180_workloads():
    """The bench headline is the registry's headline flags: a flag set
    or dropped by accident moves the headline total, so the count of
    distinct headline workloads is pinned."""
    import bench

    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE) == 180


def test_artifact_cpus_come_from_the_session_master():
    """The core count in an artifact's name is the running session's,
    not the host's: an unset SPARK_GRAFT_CPUS builds local[32], which a
    4-core host must not label c4 or write as the canonical
    bench_full.json. Only a clean full-headline run whose thread count
    matches the cores this process may run on gets the canonical name,
    and a contended run never gets an unkeyed name."""
    from types import SimpleNamespace

    import bench

    def session(master: str, parallelism: int = 0):
        return SimpleNamespace(sparkContext=SimpleNamespace(
            master=master, defaultParallelism=parallelism))

    host = len(os.sched_getaffinity(0))
    assert bench._session_cpus(session("local[32]")) == 32
    assert bench._session_cpus(session("local[3,2]")) == 3
    assert bench._session_cpus(session("local")) == 1
    assert bench._session_cpus(session("local[*]")) == host
    assert bench._session_cpus(session("spark://h:7077", 48)) == 48

    assert bench._artifact_names(host, False, False) == [
        f"bench_full.c{host}.json", "bench_full.json"]
    assert bench._artifact_names(host + 28, False, False) == [
        f"bench_full.c{host + 28}.json"]
    assert bench._artifact_names(host, False, True) == [
        f"bench_full.c{host}.contended.json"]
    assert bench._artifact_names(host, True, False) == [
        f"bench_full_subset.c{host}.json"]
