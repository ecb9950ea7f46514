"""Measurements taken from outside the library.

* ``ProcessTree``: CPU seconds and peak RSS of this process and every
  descendant (the Spark JVM and its Python workers), read from ``/proc``.
* ``SparkCounters``: job, stage and task counts plus shuffle, spill and
  executor-time totals between two marks, read by id range from Spark's
  live status store. Ids are allocated by the DAG scheduler for every
  job, whichever thread submitted it, so jobs launched by streaming
  micro-batch threads are counted too (a job group would miss them).
* ``TriggerLog``: per-trigger durations of every streaming query, via a
  ``StreamingQueryListener``.
* ``cached_mb`` / ``dir_entries``: what a pass leaves behind.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; the fields start after its ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcessTree:
    """This process and all of its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system time of the live tree, including the time of
        children that already exited and were reaped (cutime/cstime), so
        the total only grows while the tree works."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is not None:
                # utime, stime, cutime, cstime: fields 14-17 of stat(5)
                ticks += sum(int(v) for v in fields[11:15])
        return ticks / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak RSS (VmHWM)."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


def cached_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


def dir_entries(*dirs: str | None) -> set[str]:
    """Full paths of the entries directly under each existing dir."""
    out: set[str] = set()
    for d in dirs:
        if d and os.path.isdir(d):
            out.update(os.path.join(d, e) for e in os.listdir(d))
    return out


COUNTER_KEYS = (
    "jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "executor_run_s", "executor_cpu_s",
)


class SparkCounters:
    """Deltas of Spark's work between two ``mark()`` calls."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id); Py4J hands the scheduler's
        AtomicIntegers over as ints."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def delta(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Totals over the jobs and stages whose ids fall in [start, end).

        Waits for the listener bus to drain first, so the status store
        has seen the end of every stage in the range."""
        self._bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        out["jobs"] = end[0] - start[0]
        out["stages"] = end[1] - start[1]
        jvm = self._gateway.jvm
        no_quantiles = self._gateway.new_array(jvm.double, 0)
        for sid in range(start[1], end[1]):
            try:
                attempts = self._store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["tasks_failed"] += st.numFailedTasks()
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out


TRIGGER_PARTS = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "commit_ms": "commitOffsets",
}


def trigger_log(spark):
    """Register a listener that records every streaming trigger of the
    session; returns it. ``take()`` drains what it has recorded."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerLog(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._triggers: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            row = {k: float(p.durationMs.get(v, 0))
                   for k, v in TRIGGER_PARTS.items()}
            row["trigger_ms"] = float(p.durationMs.get("triggerExecution", 0))
            row["input_rows"] = float(p.numInputRows)
            with self._lock:
                self._triggers.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[dict]:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            with self._lock:
                out, self._triggers = self._triggers, []
            return out

    log = TriggerLog()
    spark.streams.addListener(log)
    return log
