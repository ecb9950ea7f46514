"""Structured Streaming layer over the events table shape.

The reference has **zero** streaming surface (SURVEY.md §2.3 — no
watermarks, windows, state, or triggers anywhere in /root/reference);
this module is the beyond-reference mandate from BASELINE.json, built
on Spark's native streaming engine:

* event-time **watermarks** bound state for late data;
* **tumbling / sliding / session** windows via ``F.window`` /
  ``F.session_window`` — the streaming analogues of the batch
  ``events_hourly_rollup`` workload (same column math, so batch results
  verify the streaming operators on a replayed file stream);
* **dropDuplicatesWithinWatermark** for at-least-once source dedup;
* **applyInPandasWithState** for operators Spark lacks natively
  (here: per-user running totals with arbitrary state);
* one **bounded replay** harness (:func:`stage_replay` + :func:`replay`)
  that runs any of these over staged files to the end, so a streamed
  result is a static DataFrame an oracle can check.

Scale posture: streaming aggregations shuffle by (window, key) exactly
like their batch twins; watermark delay bounds state size; the file
source used in tests swaps for Kafka/Kinesis in production with no
operator changes (that is the point of the declarative layer).
"""

from __future__ import annotations

import glob
import os
import shutil
from functools import partial
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from datafusion_sqlgen_spark.materialize import (
    query_scope,
    scoped_view,
    work_dir,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


VECTORS_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _file_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """A parquet file stream, one file per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stream of events-shaped parquet, one file per trigger
    (swap for Kafka in prod: only this reader changes, every downstream
    operator is unchanged)."""
    return _file_stream(spark, path, EVENTS_SCHEMA)


def tumbling_window_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window counts/sums per event_type.

    The watermark lets Spark finalize + evict window state once event
    time passes window_end + delay — state is O(open windows), not
    O(stream length)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows; shuffle volume scales by the overlap factor.

    ``watermark=None`` follows session_window_stream's bounded-replay
    contract: only for a complete-mode sink over id-split (non-time-
    ordered) batches, where a watermark would drop whole earlier-
    timestamped batches as late; production append-mode streams keep
    it — it is what finalizes and evicts window state."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n",
        )
    )


def drift_psi_stream(
    events: DataFrame,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    cohort: str = "purchase",
    window: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Per-window bucketed value counts for streaming drift monitoring —
    the streaming half of :func:`operators.profiling.drift_psi`: the
    ingest stream is bucketed against FIXED reference edges (``lo`` /
    ``hi`` computed once from the reference snapshot — never a
    quantile over the stream) and counted per (event-time window,
    bucket), so state is O(open windows x n_buckets). The PSI
    arithmetic itself runs batch-side on the finalized counts
    (:func:`drift_psi_finalize`) — the sink table is tiny by
    construction.

    ``watermark=None`` follows session_window_stream's bounded-replay
    contract (complete-mode memory sink over id-split batches);
    production append-mode streams pass one — it finalizes and evicts
    window state.
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    width = (hi - lo) / float(n_buckets)
    # clamp BOTH ends: the live stream can drift outside the reference
    # snapshot's [lo, hi] in either direction, and an unclamped
    # negative bucket would fall off the finalize grid and silently
    # drop exactly the below-range mass this monitor exists to see —
    # out-of-range values pile into the edge buckets
    bucket = (
        F.lit(0) if hi <= lo
        else F.greatest(
            F.least(
                F.floor((F.col("value") - F.lit(lo)) / F.lit(width))
                .cast("int"),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )
    )
    return (
        src.filter(
            (F.col("event_type") == cohort) & F.col("value").isNotNull()
        )
        .groupBy(F.window("ts", window).alias("win"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cur"))
        .select(F.col("win.start").alias("day"), "bucket", "n_cur")
    )


def drift_psi_finalize(
    cur: DataFrame,
    ref: DataFrame,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Batch-side PSI terms from the streamed per-window bucket counts
    vs a static reference distribution ``ref`` (bucket, n_ref).

    Emits the FULL (window x 0..n_buckets-1) grid — a bucket empty on
    either side still contributes its term (proportions floored at
    ``eps``), exactly the textbook PSI sum. Grid = distinct windows x a
    literal bucket sequence, joined back to the two count tables —
    every relation here is bounded by construction (windows x buckets
    rows). Terms snap to 1e-6 fixed point.
    """
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    # alias-qualify the three cur-derived relations: grid, counts and
    # per-day totals all descend from the same (memory-sink) plan, and
    # unqualified self-joins trip Catalyst's conflicting-reference check
    grid = (
        cur.select("day").distinct()
        .select(
            F.col("day").alias("g_day"),
            F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
            .alias("g_bucket"),
        )
    )
    c = cur.select(
        F.col("day").alias("c_day"), F.col("bucket").alias("c_bucket"),
        F.col("n_cur"),
    )
    tot_ref = ref.agg(F.sum("n_ref").alias("tr"))
    tot_day = cur.groupBy(F.col("day").alias("t_day")).agg(
        F.sum("n_cur").alias("td"))
    joined = (
        grid.join(c, (F.col("g_day") == F.col("c_day"))
                  & (F.col("g_bucket") == F.col("c_bucket")), "left")
        .join(F.broadcast(ref), F.col("g_bucket") == F.col("bucket"),
              "left")
        .join(tot_day, F.col("g_day") == F.col("t_day"))
        .crossJoin(F.broadcast(tot_ref))
        .select(
            F.col("g_day").alias("day"),
            F.col("g_bucket").alias("bucket"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.col("td"), F.col("tr"),
        )
    )
    p = F.greatest(F.col("n_cur").cast("double") / F.col("td"), F.lit(eps))
    q = F.greatest(F.col("n_ref").cast("double") / F.col("tr"), F.lit(eps))
    return joined.select(
        "day", "bucket", "n_cur",
        _stable_round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def windowed_topk_stream(
    events: DataFrame,
    window: str = "1 day",
    key: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Per-window per-key counts for streaming top-k (trending keys per
    window — the leaderboard/alerting staple). Unlike the drift
    monitor's bounded bucket state, state here is O(open windows x
    DISTINCT KEYS in them) — the honest cost of exact windowed top-k;
    the watermark bounds the windows axis, and when the key axis is
    unbounded the production fallback is the CMS sketch sink
    (profiling.cms_heavy_hitters has the batch shape). The rank cut
    itself runs batch-side (:func:`topk_finalize`) so the streaming
    state stays a plain additive count.

    ``watermark=None`` follows session_window_stream's bounded-replay
    contract (complete-mode memory sink over id-split batches)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("win.start").alias("day"), key, "n")
    )


def topk_finalize(counts: DataFrame, key: str = "user_id",
                  k: int = 5) -> DataFrame:
    """Batch-side rank cut over the streamed per-window counts: the
    top-k keys per window, rank ties broken by key id. The window
    ranking runs over the finalized count table (windows x keys rows),
    and Spark's WindowGroupLimit pushdown keeps per-partition state at
    k rows."""
    from pyspark.sql import Window

    # asc_nulls_last pins the tie-break: Spark defaults ASC to NULLS
    # FIRST while DuckDB defaults to NULLS LAST, so a NULL key tying at
    # the rank-k boundary would otherwise flip the top-k set (the
    # oracle says NULLS LAST explicitly too)
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col(key).asc_nulls_last())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("day", key, "n", "rnk")
    )


def session_window_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "30 minutes",
    exact: bool = False,
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (the streaming twin of the batch ``events_sessionize_gap``
    workload).  ``exact=True`` sums values in DECIMAL(18,4) before
    rounding, making ``session_value`` independent of float summation
    order — required for the cross-engine driver hash check.

    ``watermark=None`` skips the watermark: correct ONLY with a
    complete-mode sink over a bounded replay whose batches are not
    time-ordered (a watermark would drop whole earlier-timestamped
    batches as late).  Production append-mode streams keep the
    watermark — it is what bounds session state."""
    val = (
        F.col("value").cast("decimal(18,4)") if exact else F.col("value")
    )
    sv = F.round(F.sum(val), 2)
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (sv.cast("double") if exact else sv).alias("session_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """At-least-once source dedup: drops duplicate keys arriving within
    the watermark delay; state evicts with the watermark (bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def hourly_rollup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of the batch ``events_hourly_rollup`` workload —
    identical column math, verifiable against the batch result on a
    replayed stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_RUNNING_FX_STATE_SCHEMA = "total_fx bigint, n bigint"
_RUNNING_FX_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_fx bigint"
)


def user_running_totals_stream_exact(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total, state carried across triggers.

    This is the escape hatch tier (c) of the custom-operator ladder —
    used only because 'running total across the whole stream' is not
    expressible as a windowed aggregation. State is (bigint, bigint)
    per user: O(users) memory, partitioned by user_id hash.

    Cross-engine exact: the value total is a 1e4 FIXED-POINT BIGINT
    — each value snaps to ``floor(v * 10^4 + 0.5)`` (the engine-
    identical IEEE formulation) before an integer accumulation, so the
    running total is independent of batch boundaries, pandas summation
    strategy, and engine addition order.  The emitted ``total_fx`` is
    an exact integer a SQL oracle reproduces with the same snap.
    ``n_events`` is strictly increasing across emissions, so the final
    per-user snapshot is the max-``n_events`` row of the update-mode
    sink."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import numpy as np
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        total_fx, n = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            fx = np.floor(
                pdf["value"].to_numpy(dtype="float64") * 1e4 + 0.5
            ).astype("int64")
            total_fx += int(fx.sum())
            n += int(len(pdf))
        state.update((total_fx, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_fx": [total_fx]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_FX_OUT_SCHEMA,
        stateStructType=_RUNNING_FX_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static join: every micro-batch joins against the (batch)
    dimension table. The static side is broadcast — no streaming state at
    all, and dim updates are picked up per-trigger when the source
    supports it (e.g. Delta). The 100-TB enrichment pattern: facts
    stream, dimensions broadcast."""
    return events.join(F.broadcast(dim), on, how)


def click_purchase_attribution_stream(
    events: DataFrame,
    attribution: str = "30 minutes",
    watermark: str = "2 hours",
    exact: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to the click
    they followed within ``attribution``. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can evict
    join state (unbounded otherwise — the canonical stream-join pitfall).

    ``exact=True`` passes ``value`` through unrounded (bit-identical to
    the source double — the cross-engine driver hash needs this because
    rounding a raw double diverges between engines at representable
    .xx5 boundaries; see workloads._money).  Pair with a watermark wide
    enough that the bounded replay's batches cannot be dropped as late
    — inner joins emit matches immediately either way; the watermark
    only governs state eviction and late-drop.

    ``how="leftOuter"`` keeps unattributed clicks (NULL purchase/value)
    — the funnel-drop side of attribution.  Outer rows are emitted only
    when the GLOBAL watermark (the min over both sides' watermark
    nodes) passes ``click_ts + attribution``, so a bounded replay must
    (a) feed files in event-time order with a REAL watermark delay —
    not the wide inner-join replay delay, under which nothing ever
    flushes — and (b) end with a sentinel trigger that advances both
    sides past all real data (watermarks computed in batch N evict and
    emit in batch N+1, the no-data batch Spark runs after it).  See
    ``workloads._streaming_attribution_left_result``.

    Returns (user_id, click_ts, purchase_ts, value)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {attribution}")),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        (F.col("value") if exact else F.round("value", 2)).alias("value"),
    )


def point_in_time_enrich_stream(
    events: DataFrame,
    tolerance: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming point-in-time (ASOF) enrichment: each click gets the
    single MOST RECENT purchase by the same user within
    ``[click_ts - tolerance, click_ts]``; clicks with no in-window
    purchase survive NULL-enriched.  This is the feature-store /
    training-serving-skew primitive — a training example may only see
    feature values known AT example time — i.e. the streaming twin of
    ``operators.joins.asof_join(tolerance_s=...)`` and the parsed
    ``ASOF LEFT JOIN``.

    Composition of two NATIVE stateful operators, chained in append
    mode (Spark >= 3.4 propagates watermarks across them —
    SPARK-42376; verified on 4.1 against the batch twin):

    1. LEFT OUTER stream-stream interval join — both sides
       watermarked, the join condition bounds event-time distance, so
       join state evicts; unmatched clicks emit one NULL row when the
       global watermark passes their window.
    2. per-click ``max_by`` aggregation picking the latest in-window
       purchase.  The group key includes the click's event-time
       column, so aggregate state also evicts on the watermark; the
       ordering key is the WHOLE (purchase_ts, value) struct — ties on
       a duplicated (user, ts) purchase resolve lexicographically, so
       the result is deterministic (hash-oracle-safe), not
       pick-arbitrary.

    Scale: the join shuffles both sides on user_id; state per key is
    bounded by ``watermark + tolerance`` of events; the aggregate
    reuses the join's output partitioning on the click side's key
    prefix.  At 100 TB/day this is exactly the Kafka feature-join
    shape — no component grows with history.

    Values pass through unrounded (the cross-engine driver hash needs
    bit-identical doubles — see workloads._money).

    Returns ``(event_id, user_id, click_ts, purchase_ts, value)``.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts")
           >= F.col("click_ts") - F.expr(f"INTERVAL {tolerance}")),
        "leftOuter",
    )
    return (
        joined.groupBy("click_id", "c_user", "click_ts")
        .agg(
            F.max_by(
                F.struct("purchase_ts", "value"),
                F.struct("purchase_ts", "value"),
            ).alias("__m")
        )
        .select(
            F.col("click_id").alias("event_id"),
            F.col("c_user").alias("user_id"),
            "click_ts",
            F.col("__m.purchase_ts").alias("purchase_ts"),
            F.col("__m.value").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded replay: every driver-checkable streaming result stages its
# input as files (stage_replay) and runs the stream over them to the end
# as one availableNow query (replay). _writer is the package's one
# writeStream chain; the continuous sinks below start the same writer.
# ---------------------------------------------------------------------------

def stage_replay(
    source: DataFrame, prefix: str, files: int = 4, bucket: str | None = None
) -> tuple[str, str]:
    """Write ``source`` as the ``files`` input files of a bounded replay,
    in one job, under a fresh :func:`work_dir`; returns ``(work, src)``,
    the work dir (checkpoint and sink state go there) and the source dir.

    Without ``bucket`` the split is ``repartition(files)``: for replays
    whose result does not depend on batch membership or order. With
    ``bucket``, the name of an integer column of ``source`` holding
    ``0 .. files-1``, batch ``i`` is exactly the rows of bucket ``i``:
    one partitioned write, then each bucket's single file is moved to
    ``part<i>.parquet`` with strictly increasing mtimes, the order the
    file source triggers them in. The bucket column is not in the files,
    so the stream reads them with an explicit schema. An empty bucket
    fails, naming it: a silently empty trigger would diverge from the
    replay's unrolled oracle."""
    work = work_dir(prefix)
    src = os.path.join(work, "source")
    if bucket is None:
        source.repartition(files).write.parquet(src)
        return work, src
    tmp = os.path.join(work, "buckets")
    source.repartition(bucket).write.partitionBy(bucket).parquet(tmp)
    os.makedirs(src)
    for i in range(files):
        found = glob.glob(os.path.join(tmp, f"{bucket}={i}", "part-*.parquet"))
        if not found:
            raise RuntimeError(
                f"replay bucket {bucket}={i} under {tmp} is empty — the "
                "input has too few rows to fill every replay trigger"
            )
        dst = os.path.join(src, f"part{i}.parquet")
        shutil.move(found[0], dst)
        mtime = 1_000_000_000 + i * 3600
        os.utime(dst, (mtime, mtime))
    return work, src


def replay(
    stream: DataFrame,
    work: str,
    sink: Callable[[DataFrame, int], None] | str,
    output_mode: str = "append",
    shuffle_partitions: int = 8,
) -> DataFrame | None:
    """Run ``stream`` over its bounded file source to the end: one
    ``trigger(availableNow=True)`` query, awaited to its termination,
    checkpointed under ``work``. The file readers take one file per
    trigger, so it runs one trigger per staged file.

    ``sink`` is a foreachBatch body ``(batch_df, batch_id)`` or the name
    of a memory table; a memory table is returned as a DataFrame and its
    temp view is dropped when the current query scope is released.

    The query runs under ``shuffle_partitions`` shuffle partitions (the
    session setting is restored afterwards). Stateful streaming fixes
    its state-store count at that setting: at a 32-way default, a
    four-file replay of small tables spends its time on near-empty state
    tasks and checkpoint files (the stream-stream attribution replay
    went from 23 s to 5 s at sf0.1 going from 32 to 4). At production
    scale the same setting is sized to the key cardinality instead."""
    spark = stream.sparkSession
    if isinstance(sink, str):
        scoped_view(spark, sink)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = _writer(
            stream, sink, os.path.join(work, "checkpoint"), output_mode
        ).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(sink) if isinstance(sink, str) else None


def _writer(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    checkpoint: str,
    output_mode: str = "append",
) -> DataStreamWriter:
    """The package's one ``writeStream`` chain: into the memory table
    named ``sink``, or through the foreachBatch body ``sink``."""
    w = stream.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if isinstance(sink, str):
        return w.format("memory").queryName(sink)
    return w.foreachBatch(sink)


def foreach_batch_idempotent_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str],
) -> StreamingQuery:
    """Exactly-once-shaped parquet sink via ``foreachBatch`` + dynamic
    partition overwrite.

    Each micro-batch rewrites only the partitions it touches
    (``partitionOverwriteMode=dynamic``), so a batch replayed after a
    failure overwrites the same partitions with the same content —
    idempotent without a transactional table format. An empty batch
    touches no partition. This is the standard upsert pattern when the
    sink is plain parquet; swap the body for a MERGE on Delta/Iceberg
    without touching the stream graph.

    Use with update-mode aggregations keyed by the partition columns;
    the checkpoint pins source offsets so every batch is replayable.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    return _writer(stream_df, write_batch, checkpoint, "update").start()


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File stream over the documents table shape, one file per trigger
    — the streaming ingestion side of the text/dedup pipeline (swap for
    Kafka in production; the operator graph is identical)."""
    return _file_stream(spark, path, DOCUMENTS_SCHEMA)


def streaming_text_filter(docs: DataFrame) -> DataFrame:
    """The batch text tier applied to a STREAM, unchanged.

    Every per-document operator in ``operators.text`` is a pure column
    projection, so it composes onto a streaming DataFrame verbatim —
    the same ``prepare_documents`` + ``c4_filters`` code path that
    curates a batch corpus filters documents at ingestion time. No
    state, no watermark, no shuffle: a stateless map over every
    micro-batch, which is exactly how an ingest-time quality gate wants
    to run at 100 TB/day. The batch-twin equality test
    (tests/test_streaming.py) proves streamed results match the batch
    operator row-for-row."""
    from datafusion_sqlgen_spark.operators import text as t

    return t.c4_filters(t.prepare_documents(docs))


def dedup_ingest_batch(
    batch_df: DataFrame, batch_id: int, corpus_path: str
) -> None:
    """One micro-batch of the continuous-dedup corpus sink, module-level
    so the crash-replay contract is directly testable.  The batch is
    (1) within-batch exact-deduped (lowest id per content hash),
    (2) deduped against the ACCUMULATED corpus via the batch
    ``incremental_dedup`` operator (exact md5 anti-join + LSH
    candidates + Jaccard verify), (3) committed to the corpus as a
    ``batch=<id>`` partition directory via stage-then-atomic-rename.
    An empty batch is not special-cased: it commits an empty
    ``batch=<id>`` directory, the same replay marker a fully-rejected
    batch commits.

    Replay safety BY CONSTRUCTION, not by the accident that replayed
    content happens to anti-join away: a committed ``batch=<id>``
    directory is the applied-batch record, so a crash-recovery replay of
    an already-committed id returns immediately; a crash mid-write
    leaves only a hidden ``.staging-batch-<id>`` directory that readers
    never see (Hadoop hides dot-paths) and the replay deletes before
    rewriting.  The visible corpus therefore only ever contains
    fully-committed batches — no partial part-files, no double ingest,
    and admission stays correct even if it later becomes
    non-content-keyed."""
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.dedup import incremental_dedup

    spark = batch_df.sparkSession
    commit_dir = f"{corpus_path}/batch={batch_id}"
    fs, hcommit = _hadoop_fs(spark, commit_dir)
    if fs.exists(hcommit):
        return  # crash-recovery replay of a committed batch: no-op
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    batch_unique = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # explicit committed-batch probe, not a try/except around the read:
    # a corrupt corpus must FAIL the batch, not silently re-admit every
    # document as if the corpus were empty
    corpus = read_dedup_corpus(spark, corpus_path)
    staging = f"{corpus_path}/.staging-batch-{batch_id}"
    # the batch's own scope: its admission intermediates are released
    # once it commits, so a running stream holds at most one batch's
    with query_scope():
        if corpus is not None:
            admitted_ids = incremental_dedup(batch_unique, corpus).select(
                "doc_id"
            )
            admitted = batch_unique.join(admitted_ids, "doc_id", "left_semi")
        else:
            admitted = batch_unique
        _atomic_commit_dir(spark, admitted, staging, commit_dir)


def read_dedup_corpus(spark: SparkSession, corpus_path: str):
    """The accumulated corpus = the union of committed ``batch=<id>``
    directories (partition discovery via basePath; the partition column
    is bookkeeping and is dropped).  Returns None when no batch has
    ever committed OR every committed batch is data-less — a fully-
    rejected batch commits an empty directory (its replay marker) that
    contains no parquet footers, so the read selects only data-bearing
    directories explicitly instead of letting schema inference fail on
    the empty ones.  Hidden staging leftovers never count."""
    fs, root = _hadoop_fs(spark, corpus_path)
    with_data = [
        f"{corpus_path}/{status.getPath().getName()}"
        for status in _reject_foreign_layout(fs, root, "batch=")
        if any(
            f.getPath().getName().endswith(".parquet")
            for f in fs.listStatus(status.getPath())
        )
    ]
    if not with_data:
        return None
    return (
        spark.read.option("basePath", corpus_path)
        .parquet(*with_data)
        .drop("batch")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FileSystem
    API, which probes local disks, HDFS and object stores alike."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _reject_foreign_layout(fs, root, expected_prefix: str) -> list:
    """List the state root ``root`` once and return the statuses of its
    committed ``<expected_prefix><id>`` directories (none when the root
    does not exist yet).  FAIL LOUD on any other visible entry — e.g.
    flat parquet part files of an older, pre-generation layout: treating
    such a root as 'never committed' would silently reset accumulated
    state or re-admit every document, the exact failure the explicit
    probe exists to prevent.  Hidden (dot/underscore) names — staging,
    _SUCCESS — are exempt."""
    if not fs.exists(root):
        return []
    committed = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith((".", "_")):
            continue
        if not (status.isDirectory() and name.startswith(expected_prefix)):
            raise IOError(
                f"{root} contains {name!r}, which is not a committed "
                f"'{expected_prefix}<id>' directory of this layout — "
                "refusing to treat existing state as empty. If this is "
                "pre-generation-layout state, migrate it by writing it "
                f"as {expected_prefix}0 under the root."
            )
        committed.append(status)
    return committed


def _atomic_commit_dir(
    spark: SparkSession, df: DataFrame, staging: str, commit_dir: str
) -> None:
    """Write ``df`` to the hidden ``staging`` directory, then promote it
    with one filesystem rename — the commit point.  Readers never see
    staging (dot-prefixed paths are hidden from Hadoop listings), so a
    crash before the rename leaves the visible state untouched and the
    retry starts clean (stale staging is deleted first).

    FILESYSTEM CAVEAT: the commit point is atomic only where directory
    rename is atomic — HDFS, POSIX local disks, and object stores with
    real rename semantics (GCS-compose, ADLS Gen2 hierarchical
    namespaces).  On S3-style flat object stores a "rename" is
    copy-then-delete per object: a reader could list a half-promoted
    generation and a crash mid-copy leaves a partial commit directory.
    Production shapes on S3: (a) point the sinks at an HDFS/EFS/FSx
    scratch tier and publish from there, (b) write through a
    transactional table format — Delta/Iceberg replace the rename with
    a log/manifest commit, and every sink here already funnels its
    admitted batch through this single function, so the swap is one
    `df.write.format("delta")...` + log-commit in place of the rename
    (the container ships neither library, so that variant stays a
    documented non-goal, gated behind the same optional-import pattern
    the media codecs use), or (c) S3-committer-style two-phase publish
    with a `_SUCCESS` marker readers filter on.  SCALE.md "Streaming
    sink commit semantics" carries the full decision table."""
    fs, hstaging = _hadoop_fs(spark, staging)
    hcommit = spark._jvm.org.apache.hadoop.fs.Path(commit_dir)
    if fs.exists(hstaging):
        fs.delete(hstaging, True)  # crashed earlier attempt
    df.write.mode("overwrite").parquet(staging)
    fs.mkdirs(hcommit.getParent())
    if not fs.rename(hstaging, hcommit):
        raise IOError(
            f"atomic promote failed: rename {staging} -> {commit_dir}"
        )


def streaming_incremental_dedup_sink(
    docs_stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous corpus ingestion with dedup — per-batch logic and the
    replay/atomicity contract live in :func:`dedup_ingest_batch`; the
    checkpoint pins source offsets so only the last uncommitted batch
    ever replays, and the batch-directory commit makes that replay a
    no-op."""
    return _writer(
        docs_stream, partial(dedup_ingest_batch, corpus_path=corpus_path),
        checkpoint,
    ).start()


def run_bounded_dedup(
    spark: SparkSession, docs_path: str, work: str
) -> DataFrame:
    """:func:`replay` the documents files under ``docs_path`` through
    :func:`dedup_ingest_batch` and return the final corpus as
    (doc_id, text_md5): a static DataFrame an oracle can hash against
    the sequential batch twin. Batch order matters for dedup (the
    first-arrived member of a dup pair is kept), so callers fix it with
    the file mtimes (``stage_replay`` with a bucket column)."""
    corpus_path = os.path.join(work, "corpus")
    replay(
        read_documents_stream(spark, docs_path), work,
        partial(dedup_ingest_batch, corpus_path=corpus_path),
    )
    corpus = read_dedup_corpus(spark, corpus_path)
    if corpus is None:
        return spark.createDataFrame([], "doc_id long, text_md5 string")
    return corpus.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("text_md5")
    )


# ---------------------------------------------------------------------------
# Generation sinks. The rollup, sketch, k-means and SCD2 sinks each keep
# a small standing state table that every trigger rewrites whole, as a
# new generation ``gen-<batch_id>``; _Generations owns that layout, and
# each foreachBatch body is only its merge step plus its state schema.
# The four merge steps cover four state algebras, which is why the
# batch-id replay guard lives in the owner:
#   * rollup: ADDITIVE counters — a replayed batch would double-count;
#   * sketch: IDEMPOTENT HLL max-merge — a replay is harmless by
#     algebra, and the guard only saves the wasted work;
#   * k-means: ORDER-DEPENDENT MODEL — a batch's contribution depends
#     on the centroids it observed;
#   * SCD2: ORDER-DEPENDENT HISTORY — a replay would close and re-open
#     versions a second time.
# Each final state is hash-checked against a batch or unrolled-SQL twin.
# ---------------------------------------------------------------------------

_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _check_state_footers(
    spark: SparkSession, gen_dir: str, schema: T.StructType
) -> None:
    """FAIL LOUD unless every data file of the committed generation
    ``gen_dir`` is a readable parquet file whose Spark schema (the row
    metadata Spark writes into each footer) has exactly ``schema``'s
    column names and types.  Runs on the driver — footers only, no
    Spark job — so the generation can then be read with an explicit
    schema, which on its own would null-fill a missing column and
    silently drop an extra one."""
    import json

    conf = spark._jsc.hadoopConfiguration()
    fs, root = _hadoop_fs(spark, gen_dir)
    want = {f.name: f.dataType for f in schema}
    for status in fs.listStatus(root):
        path = status.getPath()
        if path.getName().startswith((".", "_")):
            continue
        meta = (
            spark._jvm.org.apache.parquet.hadoop.ParquetFileReader
            .readFooter(conf, path)
            .getFileMetaData()
            .getKeyValueMetaData()
            .get(_SPARK_ROW_METADATA)
        )
        if meta is None:
            raise IOError(
                f"{path} carries no Spark schema metadata — not a "
                "generation written by this sink"
            )
        got = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(meta))
        }
        if got != want:
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            wrong = sorted(
                f"{c}: {got[c].simpleString()} (expected "
                f"{want[c].simpleString()})"
                for c in set(got) & set(want)
                if got[c] != want[c]
            )
            raise IOError(
                f"generation state {path} has drifted from the state "
                f"schema: missing columns {missing}, unexpected columns "
                f"{extra}, wrong types {wrong} — refusing to merge into it"
            )


class _Generations:
    """The ``gen-<batch_id>`` layout of one generation sink's state root
    ``root`` — the only code that builds its paths.

    Construction lists the root once (:func:`_reject_foreign_layout`);
    ``ids`` are the committed batch ids, ascending.  A generation
    commits by a hidden-staging write plus ONE rename
    (:func:`_atomic_commit_dir`), so a crash at ANY point leaves the
    previous generation fully readable, and the directory name is the
    applied-batch record.  Only the two newest generations are kept:
    the state stays O(1) on disk, and a reader mid-scan of the previous
    generation is never yanked."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        fs, hroot = _hadoop_fs(spark, root)
        self.ids = sorted(
            int(status.getPath().getName()[len("gen-"):])
            for status in _reject_foreign_layout(fs, hroot, "gen-")
        )

    def _dir(self, gen: int) -> str:
        return f"{self.root}/gen-{gen}"

    def read(self, schema: T.StructType | None = None) -> DataFrame | None:
        """The latest generation, or None before the first commit.  With
        the state ``schema`` its footers are checked first
        (:func:`_check_state_footers`) and the read infers nothing, so a
        corrupt or drifted generation fails here, naming the cause;
        without one, Spark infers the schema (one job)."""
        if not self.ids:
            return None
        gen = self._dir(self.ids[-1])
        if schema is None:
            return self.spark.read.parquet(gen)
        _check_state_footers(self.spark, gen, schema)
        return self.spark.read.schema(schema).parquet(gen)

    def apply(
        self,
        batch_id: int,
        schema: T.StructType,
        merge: Callable[[DataFrame | None], DataFrame | None],
    ) -> None:
        """One trigger: skip a ``batch_id`` at or below the latest
        generation (the crash-recovery replay of a committed batch);
        otherwise commit ``merge(previous generation or None)`` as
        ``gen-<batch_id>`` and retire all but the two newest.  ``merge``
        returning None commits nothing."""
        if self.ids and batch_id <= self.ids[-1]:
            return
        state = merge(self.read(schema))
        if state is None:
            return
        _atomic_commit_dir(
            self.spark, state,
            f"{self.root}/.staging-gen-{batch_id}", self._dir(batch_id),
        )
        for gen in self.ids[:-1]:
            fs, path = _hadoop_fs(self.spark, self._dir(gen))
            fs.delete(path, True)


def read_rollup_state(spark: SparkSession, state_path: str):
    """The standing state of a generation sink (rollup, sketch, k-means,
    SCD2) = its highest committed generation, schema inferred.  Returns
    None when no batch has ever committed (callers decide the
    empty-state shape)."""
    return _Generations(spark, state_path).read()


def _replay_generations(
    stream: DataFrame, work: str, body: Callable, empty: DataFrame
) -> DataFrame:
    """:func:`replay` ``stream`` through the generation sink ``body``,
    its state under ``work``, and return the last generation read with
    ``empty``'s schema (footers checked, nothing inferred) — or
    ``empty`` itself when no batch committed."""
    state_path = os.path.join(work, "state")
    replay(stream, work, partial(body, state_path=state_path))
    state = _Generations(stream.sparkSession, state_path).read(empty.schema)
    return empty if state is None else state


def streaming_rollup_sink(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuously-maintained rollup (the materialized-view pattern):
    each micro-batch MERGES into the standing state table of mergeable
    partial states (``timeseries.mergeable_rollup``) — history is never
    recomputed, the merge touches only fixed-width (hour, key) state
    rows. Readers finalize on demand (``timeseries.finalize_rollup``)
    over the highest committed generation (:func:`read_rollup_state`).

    The state table is tiny (one row per open (hour, key)), so each
    batch writes a complete new generation of it (:class:`_Generations`).
    On a transactional format (Delta/Iceberg) the body becomes a MERGE;
    the stream graph is unchanged."""
    return _writer(
        events_stream, partial(rollup_merge_batch, state_path=state_path),
        checkpoint,
    ).start()


def rollup_merge_batch(
    batch_df: DataFrame, batch_id: int, state_path: str
) -> None:
    """One micro-batch of the materialized-rollup sink, module-level so
    the replay AND crash-promote contracts are directly testable.  The
    merge is ADDITIVE, so only the batch-id guard keeps a crash-recovery
    replay from double-counting.

    Shape: every raw batch row is lifted to its own state row
    (``timeseries.rollup_state_rows``) and the previous generation plus
    those rows fold in ONE ``merge_rollups`` aggregate — one shuffle-map
    job plus the generation write, with no emptiness probe and no batch
    pre-aggregate; the first batch is one ``mergeable_rollup``
    aggregate.  The state schema is the lifted rows' schema, derived by
    analysis.  An empty batch is not special-cased: it commits an
    unchanged copy of the state."""
    from datafusion_sqlgen_spark.operators.timeseries import (
        merge_rollups,
        mergeable_rollup,
        rollup_state_rows,
    )

    rows = rollup_state_rows(batch_df)
    _Generations(batch_df.sparkSession, state_path).apply(
        batch_id, rows.schema,
        lambda prev: mergeable_rollup(batch_df) if prev is None
        else merge_rollups(prev, rows),
    )


def run_bounded_rollup(
    spark: SparkSession, events_path: str, work: str
) -> DataFrame:
    """:func:`replay` the events files under ``events_path`` through
    :func:`rollup_merge_batch` (one merge aggregate plus its generation
    write per file) and return the last generation, finalized: a static
    DataFrame an oracle can hash against the batch twin
    (``mergeable_rollup_oracle``). An empty source returns an empty
    finalized frame."""
    from datafusion_sqlgen_spark.operators.timeseries import (
        finalize_rollup,
        mergeable_rollup,
    )

    return finalize_rollup(_replay_generations(
        read_events_stream(spark, events_path), work, rollup_merge_batch,
        mergeable_rollup(spark.createDataFrame([], EVENTS_SCHEMA)),
    ))


def sketch_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    key_col: str = "user_id",
    group_col: str = "event_type",
) -> None:
    """One micro-batch of the streaming-sketch sink (module-level so the
    replay and crash-promote contracts are directly testable): sketch
    the batch and max-merge it into the standing register table, whose
    schema is the batch sketch's. By the union law, N trigger merges
    equal the one-pass register build (``profiling.hll_registers``). An
    empty batch is not special-cased: it commits an unchanged copy of
    the registers."""
    from datafusion_sqlgen_spark.operators.profiling import hll_registers

    regs = hll_registers(batch_df, key_col, group_col)
    _Generations(batch_df.sparkSession, state_path).apply(
        batch_id, regs.schema,
        lambda prev: regs if prev is None else (
            prev.unionByName(regs)
            .groupBy(group_col, "register")
            .agg(F.max("rho").cast("int").alias("rho"))
        ),
    )


def streaming_sketch_sink(
    events_stream: DataFrame, state_path: str, checkpoint: str
) -> StreamingQuery:
    """Continuously-maintained distinct-count sketch: every micro-batch
    folds into a <= groups*256-row register table, so the standing
    state answers "distinct users per event type, ever" at any moment
    without rescanning history — the streaming face of
    ``profiling.hll_registers``."""
    return _writer(
        events_stream, partial(sketch_merge_batch, state_path=state_path),
        checkpoint,
    ).start()


def run_bounded_sketch(
    spark: SparkSession, events_path: str, work: str
) -> DataFrame:
    """:func:`replay` the events files under ``events_path`` through
    :func:`sketch_merge_batch` and return the standing register table:
    by the union law it equals DuckDB's one-pass build of the same
    registers. An empty source returns an empty register table."""
    from datafusion_sqlgen_spark.operators.profiling import hll_registers

    return _replay_generations(
        read_events_stream(spark, events_path), work, sketch_merge_batch,
        hll_registers(spark.createDataFrame([], EVENTS_SCHEMA)),
    ).select("event_type", "register", "rho")


# Streaming k-means determinism: (a) deterministic batch membership (the
# workload hash-splits by id, not repartition), (b) order-free
# fixed-point integer state (per-dim micro-unit sums — never a float
# accumulation), and (c) snapped-integer assignment distances with id
# tie-breaks. The oracle replays the SAME batch sequence as unrolled SQL
# stages.
_KM_FP = 1_000_000  # micro-units for coordinate sums
_KM_DFP = 1_000_000_000_000  # fixed point for squared distances
_KM_STATE = T.StructType([
    T.StructField("cell", T.IntegerType()),
    T.StructField("dim", T.IntegerType()),
    T.StructField("s", T.LongType()),
    T.StructField("n", T.LongType()),
])


def _km_fp(c: Column) -> Column:
    return F.floor(c * F.lit(float(_KM_FP)) + F.lit(0.5)).cast("bigint")


def _km_long(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, val) long form with val as double."""
    return df.select(
        F.col(id_col).alias("pid"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "val"),
    )


def kmeans_update_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the streaming k-means sink: assign the
    batch's vectors to the CURRENT centroids (cumulative-mean model:
    centroid_d = s_d / n over everything assigned so far), accumulate
    per-(cell, dim) fixed-point sums, and commit a new state
    generation. Batch 0 seeds the centroids with its ``k`` lowest-id
    vectors (deterministic given deterministic batch membership).

    Scale shape per batch: the centroid table is k x dims rows,
    broadcast; the long-form point x centroid join is a k-fold
    expansion of the batch only (the IVF cell-probe path is the scale
    alternative when k grows); the state is k x dims BIGINT rows.
    Assignment distances are order-free fixed-point integers
    (per-dim squared diffs snapped to 1e-12 BEFORE the sum), ties
    break on the lower cell id — bit-identical across engines and
    partitionings. A later empty batch commits an unchanged copy of
    the state."""

    def merge(state: DataFrame | None) -> DataFrame | None:
        if state is None and batch_df.isEmpty():
            return None  # no rows to seed from: the first non-empty batch seeds
        pts = _km_long(batch_df, id_col, vec_col)
        if state is None:
            from pyspark.sql import Window

            seed = (batch_df.orderBy(F.col(id_col).asc()).limit(k)
                    .select(F.col(id_col).alias("sid")))
            w = Window.orderBy(F.col("sid").asc())
            cells = seed.select(
                (F.row_number().over(w) - 1).alias("cell"), "sid")
            cent = (
                F.broadcast(cells).join(pts, F.col("sid") == F.col("pid"))
                .select("cell", "dim", F.col("val").alias("c"))
            )
        else:
            cent = state.select(
                "cell", "dim",
                (F.col("s").cast("double") / F.lit(float(_KM_FP))
                 / F.col("n").cast("double")).alias("c"),
            )
        d2 = (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
        dfp = F.floor(d2 * F.lit(float(_KM_DFP)) + F.lit(0.5)).cast("bigint")
        dists = (
            pts.join(F.broadcast(cent), "dim")
            .groupBy("pid", "cell")
            .agg(F.sum(dfp).alias("dist"))
        )
        assign = (
            dists.groupBy("pid")
            .agg(F.min(F.struct(F.col("dist"), F.col("cell"))).alias("m"))
            .select("pid", F.col("m.cell").alias("cell"))
        )
        batch_state = (
            pts.join(assign, "pid")
            .groupBy("cell", "dim")
            .agg(
                F.sum(_km_fp(F.col("val"))).alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )
        if state is None:
            return batch_state
        old = state.select(
            F.col("cell").alias("o_cell"), F.col("dim").alias("o_dim"),
            F.col("s").alias("o_s"), F.col("n").alias("o_n"),
        )
        return (
            batch_state.join(
                old,
                (F.col("cell") == F.col("o_cell"))
                & (F.col("dim") == F.col("o_dim")),
                "full",
            )
            .select(
                F.coalesce(F.col("cell"), F.col("o_cell")).alias("cell"),
                F.coalesce(F.col("dim"), F.col("o_dim")).alias("dim"),
                (F.coalesce(F.col("s"), F.lit(0))
                 + F.coalesce(F.col("o_s"), F.lit(0))).alias("s"),
                (F.coalesce(F.col("n"), F.lit(0))
                 + F.coalesce(F.col("o_n"), F.lit(0))).alias("n"),
            )
        )

    _Generations(batch_df.sparkSession, state_path).apply(
        batch_id, _KM_STATE, merge)


def run_bounded_kmeans(
    spark: SparkSession, vectors_path: str, work: str, k: int = 8
) -> DataFrame:
    """:func:`replay` the vector files under ``vectors_path`` through
    :func:`kmeans_update_batch` and return the finalized model as
    (cell, dim, n, centroid); an empty source returns an empty model."""
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    state = _replay_generations(
        _file_stream(spark, vectors_path, VECTORS_SCHEMA), work,
        partial(kmeans_update_batch, k=k),
        spark.createDataFrame([], _KM_STATE),
    )
    return state.select(
        "cell", "dim", "n",
        _stable_round(
            F.col("s").cast("double") / F.lit(float(_KM_FP))
            / F.col("n").cast("double"),
            6,
        ).alias("centroid"),
    )


def scd2_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    key: str = "user_id",
    attrs: tuple = ("event_type",),
    ts_col: str = "ts",
    order_cols: tuple = ("event_id",),
    tombstone_where: str | None = None,
) -> None:
    """One micro-batch of the streaming CDC-apply sink, module-level so
    the replay and crash-promote contracts are directly testable.

    ``tombstone_where`` (CDC deletes): a SQL predicate over
    the batch row marking it a DELETE. A key whose compacted latest
    row is a tombstone closes its open version at the tombstone's
    event time and does NOT re-open (full CDC semantics: the key can
    re-appear in a later batch as a fresh open version); a tombstone
    for a never-seen key is a no-op. An out-of-order tombstone
    (earlier than the open row's valid_from) still closes at its own
    time — deterministic, matching the sequential oracle.

    The batch is first CDC-COMPACTED — one row per key, the latest by
    (``ts_col``, ``order_cols``) descending (a key changing twice
    within one micro-batch applies only its final state; the
    intermediate version belongs to a finer trigger, not to history) —
    then applied to the standing history via
    ``operators.joins.scd2_merge`` with each key's effective time taken
    from ITS OWN row (``effective_from_col``): changed keys close at
    and re-open from their event time, new keys open at theirs.  The
    history schema is typed off the batch by analysis.

    Scale shape per batch: one key-partitioned WindowGroupLimit over
    the BATCH (compaction), then scd2_merge's single full-outer hash
    join of the open history slice against the compacted batch —
    dimension-sized, never history-sized (closed rows filter-union
    around the join). State commits are whole-generation atomic
    renames, same as the other sinks; on Delta/Iceberg the body
    becomes a MERGE and the stream graph is unchanged. An empty batch
    is not special-cased: it commits an unchanged copy of the history."""
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.joins import scd2_merge

    w = Window.partitionBy(key).orderBy(
        F.col(ts_col).desc(),
        *[F.col(c).desc() for c in order_cols],
    )
    compacted = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    if tombstone_where is not None:
        compacted = compacted.withColumn(
            "__tomb", F.coalesce(F.expr(tombstone_where), F.lit(False)))
        snap = (compacted.filter(~F.col("__tomb"))
                .select(key, *attrs, ts_col))
        tombs = (compacted.filter(F.col("__tomb"))
                 .select(F.col(key).alias("__t_key"),
                         F.col(ts_col).alias("__del_ts")))
    else:
        snap = compacted.select(key, *attrs, ts_col)
        tombs = None
    # empty history with the state schema, typed off the batch
    empty = (
        snap.select(
            key, *attrs,
            F.col(ts_col).cast("timestamp").alias("valid_from"),
        )
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .limit(0)
    )

    def merge(history: DataFrame | None) -> DataFrame:
        if history is None:
            history = empty
        if tombs is not None:
            # close tombstoned open rows BEFORE the live merge (the key
            # sets are disjoint after compaction: one row per key). One
            # extra left join over the dimension-sized open slice only.
            cur = history.filter(F.col("is_current"))
            past = history.filter(~F.col("is_current"))
            j = cur.join(tombs, F.col(key) == F.col("__t_key"), "left")
            closed_now = j.filter(F.col("__t_key").isNotNull()).select(
                key, *attrs, "valid_from",
                F.col("__del_ts").cast("timestamp").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
            kept = j.filter(F.col("__t_key").isNull()).select(
                key, *attrs, "valid_from", "valid_to", "is_current")
            history = past.select(
                key, *attrs, "valid_from", "valid_to", "is_current"
            ).unionByName(kept).unionByName(closed_now)
        return scd2_merge(
            history, snap, key, list(attrs), effective_from_col=ts_col
        )

    _Generations(batch_df.sparkSession, state_path).apply(
        batch_id, empty.schema, merge)


def run_bounded_scd2(
    spark: SparkSession,
    events_path: str,
    work: str,
    tombstone_where: str | None = None,
) -> DataFrame:
    """:func:`replay` the events files under ``events_path`` through
    :func:`scd2_apply_batch` (key ``user_id``, attribute ``event_type``)
    and return the standing history table, hash-checked against the
    same batch sequence replayed as unrolled SQL merges; an empty
    source returns an empty history."""
    return _replay_generations(
        read_events_stream(spark, events_path), work,
        partial(scd2_apply_batch, tombstone_where=tombstone_where),
        spark.createDataFrame(
            [], "user_id BIGINT, event_type STRING, valid_from TIMESTAMP, "
                "valid_to TIMESTAMP, is_current BOOLEAN"),
    )
