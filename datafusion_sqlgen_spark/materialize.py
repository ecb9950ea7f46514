"""The one way to materialise an intermediate, and when it is released.

``materialize(df, scale, eager)`` cuts ``df``. The storage follows the
size of the table, so a plan's shape depends only on the call:

* ``scale="model"``, ``eager=False``: ``persist(MEMORY_AND_DISK)``. A
  small table (trained centroids, weight tables) that several branches
  of one plan read; the first action fills it. Plans as
  ``InMemoryTableScan``.
* ``scale="model"``, ``eager=True``: ``localCheckpoint``. Blocks on the
  executors, lineage truncated; plans as ``Scan ExistingRDD`` and keeps
  the frame's partitioning.
* ``scale="corpus"``: a reliable ``checkpoint`` when the session has a
  checkpoint dir or ``SPARK_GRAFT_CHECKPOINT_DIR`` names one, so a lost
  executor cannot kill the query; otherwise ``localCheckpoint`` (in
  local mode executor loss and process loss are the same event, and a
  reliable write would only pay a second compute). Same plan node as
  the local cut.

Every materialisation, every :func:`work_dir` and every
:func:`scoped_view` belongs to the innermost open :func:`query_scope` of
the calling thread, or to the session scope when none is open. Releasing
a scope unpersists its pins, drops its local checkpoint blocks, deletes
its reliable checkpoint files, removes its work dirs and drops its temp
views. A ``query_scope()`` releases on exit; the
session scope is released by :func:`release_session`, which the
``build_queries()`` runners call before each build, so a build's
intermediates live until the next build starts.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


@dataclass(frozen=True)
class Materialization:
    kind: str  # "pin" | "local" | "reliable"
    scale: str  # "model" | "corpus"
    eager: bool
    df: DataFrame

    def release(self) -> None:
        if self.kind == "pin":
            self.df.unpersist(blocking=True)
            return
        rdd = self.df._jdf.queryExecution().logical().rdd()
        if self.kind == "local":
            rdd.unpersist(True)
            return
        written = rdd.getCheckpointFile()
        if written.isDefined():
            spark = self.df.sparkSession
            path = spark._jvm.org.apache.hadoop.fs.Path(written.get())
            path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                path, True
            )


class Scope:
    """The materialisations, work dirs and temp views of one query,
    oldest first."""

    def __init__(self) -> None:
        self.materializations: list[Materialization] = []
        self.work_dirs: list[str] = []
        self.views: list[tuple[SparkSession, str]] = []

    def release(self) -> None:
        while self.materializations:
            self.materializations.pop().release()
        while self.work_dirs:
            shutil.rmtree(self.work_dirs.pop(), ignore_errors=True)
        while self.views:
            spark, name = self.views.pop()
            spark.catalog.dropTempView(name)


_SESSION = Scope()
_open = threading.local()


def _current_scope() -> Scope:
    stack = getattr(_open, "stack", None)
    return stack[-1] if stack else _SESSION


@contextlib.contextmanager
def query_scope() -> Iterator[Scope]:
    """Open a scope; everything materialised inside it is released when
    the block exits."""
    scope = Scope()
    stack = _open.__dict__.setdefault("stack", [])
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        scope.release()


def release_session() -> None:
    """Release what was materialised outside any ``query_scope()``."""
    _SESSION.release()


def materialize(
    df: DataFrame, scale: str = "model", eager: bool = True
) -> DataFrame:
    """Cut ``df`` as the module docstring describes and register the cut
    with the current scope."""
    if scale == "model":
        kind = "local" if eager else "pin"
    elif scale == "corpus":
        kind = "reliable" if _checkpoint_dir_set(df) else "local"
    else:
        raise ValueError(f"scale must be 'model' or 'corpus', got {scale!r}")
    if kind == "pin":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
    elif kind == "local":
        out = df.localCheckpoint(eager=eager)
    else:
        out = df.checkpoint(eager=eager)
    _current_scope().materializations.append(
        Materialization(kind, scale, eager, out)
    )
    return out


def work_dir(prefix: str) -> str:
    """A fresh temp dir, removed when the current scope is released."""
    path = tempfile.mkdtemp(prefix=prefix)
    _current_scope().work_dirs.append(path)
    return path


def scoped_view(spark: SparkSession, name: str) -> None:
    """Drop the temp view ``name`` when the current scope is released."""
    _current_scope().views.append((spark, name))


def _checkpoint_dir_set(df: DataFrame) -> bool:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return True
    env = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if env:
        sc.setCheckpointDir(env)
    return bool(env)
