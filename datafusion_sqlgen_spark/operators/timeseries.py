"""Time-series resampling operators over the events table.

The reference has no temporal surface (SURVEY.md §2.3); these are the
beyond-reference operators an event/metrics pipeline needs: regularize an
irregular event stream onto a fixed grid (downsample + gap-fill), then
fill the gaps (LOCF — last observation carried forward).

Scale shape: one hash-shuffle to the (key, hour) grain, then a join
against a *generated* grid (|keys| x |hours| rows — thousands, not
billions; Spark broadcasts it), then one window pass per key for LOCF.
The grid is built with ``sequence()`` + ``explode`` — no driver loop, no
collect; the span aggregate is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_counts_gap_filled(
    df: DataFrame, ts_col: str = "ts", key_col: str = "event_type"
) -> DataFrame:
    """Per-key hourly event counts on a dense hour grid: hours with no
    events appear with n=0 (the difference between a chart with holes
    and a correct one). Grid span = global [min, max] event hour."""
    hourly = (
        df.groupBy(
            F.col(key_col), F.date_trunc("hour", F.col(ts_col)).alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = hourly.agg(F.min("hr").alias("a"), F.max("hr").alias("b"))
    hours = span.select(
        F.explode(F.sequence("a", "b", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    grid = df.select(key_col).distinct().crossJoin(hours)
    return (
        grid.join(hourly, [key_col, "hr"], "left")
        .na.fill(0, ["n"])
        .select(key_col, "hr", F.col("n").cast("bigint").alias("n"))
    )


def hourly_counts_gap_filled_oracle(
    table: str = "events", ts_col: str = "ts", key_col: str = "event_type"
) -> str:
    return f"""
    WITH h AS (SELECT {key_col}, CAST(date_trunc('hour', {ts_col}) AS TIMESTAMP) AS hr,
                      count(*) AS n
               FROM {table} GROUP BY 1, 2),
    span AS (SELECT min(hr) AS a, max(hr) AS b FROM h),
    grid AS (SELECT t.{key_col}, g.hr
             FROM (SELECT DISTINCT {key_col} FROM {table}) t
             CROSS JOIN (SELECT unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS hr
                         FROM span) g)
    SELECT grid.{key_col}, grid.hr, coalesce(h.n, 0) AS n
    FROM grid LEFT JOIN h ON grid.{key_col} = h.{key_col} AND grid.hr = h.hr
    """


def locf_resample(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Downsample to per-key hourly means, densify onto the global hour
    grid, and carry the last observation forward into the gaps.

    LOCF is the standard fill for metrics/features ("value as of hour
    H"): a window ``last(ignorenulls)`` from the start of each key's
    series — one partition-local pass, no self-join. Hours before a
    key's first observation stay NULL (nothing to carry)."""
    hourly = (
        df.groupBy(F.col(key_col), F.date_trunc("hour", F.col(ts_col)).alias("hr"))
        .agg(F.round(F.avg(val_col), 4).alias("v"))
    )
    span = hourly.agg(F.min("hr").alias("a"), F.max("hr").alias("b"))
    hours = span.select(
        F.explode(F.sequence("a", "b", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    grid = df.select(key_col).distinct().crossJoin(hours)
    w = (
        Window.partitionBy(key_col)
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, [key_col, "hr"], "left")
        .select(
            key_col,
            "hr",
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


def locf_resample_oracle(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    where: str = "",
) -> str:
    return f"""
    WITH src AS (SELECT * FROM {table} {where}),
    h AS (SELECT {key_col}, CAST(date_trunc('hour', {ts_col}) AS TIMESTAMP) AS hr,
                 round(avg({val_col}), 4) AS v
          FROM src GROUP BY 1, 2),
    span AS (SELECT min(hr) AS a, max(hr) AS b FROM h),
    grid AS (SELECT t.{key_col}, g.hr
             FROM (SELECT DISTINCT {key_col} FROM src) t
             CROSS JOIN (SELECT unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS hr
                         FROM span) g)
    SELECT grid.{key_col}, grid.hr,
           last_value(h.v IGNORE NULLS) OVER (
               PARTITION BY grid.{key_col} ORDER BY grid.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM grid LEFT JOIN h ON grid.{key_col} = h.{key_col} AND grid.hr = h.hr
    """


def ohlc_resample(
    df: "DataFrame",
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "event_type",
    bucket: str = "hour",
) -> "DataFrame":
    """OHLC (open/high/low/close) downsampling per key and time bucket —
    the candle aggregation. Open/close are time-ordered first/last via
    min_by/max_by on the timestamp (one hash aggregate, no window, no
    second shuffle); high/low are plain min/max.

    Scale: a single partial+final aggregate keyed on (bucket, key) —
    the same shuffle profile as any groupBy; min_by/max_by carry one
    (ts, value) pair of state per group."""
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    return (
        df.groupBy(b, F.col(key_col))
        .agg(
            F.round(F.min_by(F.col(value_col), F.col(ts_col)), 2).alias("open"),
            F.round(F.max(value_col), 2).alias("high"),
            F.round(F.min(value_col), 2).alias("low"),
            F.round(F.max_by(F.col(value_col), F.col(ts_col)), 2).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def sessionize(
    df: "DataFrame",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_s: int = 1800,
    strict_gap: bool = False,
) -> "DataFrame":
    """Gap-based batch sessionization: a new session starts when a key's
    inter-event gap exceeds ``gap_s`` seconds; returns one row per
    session with start/end/count/total. The batch twin of Structured
    Streaming's ``session_window`` (streaming/ops.py), so backfill and
    live paths agree on session boundaries.

    Boundary assignment is the lag-then-cumulative-sum idiom: flag rows
    whose gap from the previous event exceeds the timeout, then a
    running sum of flags numbers the sessions per key. Ties on ts are
    harmless — a 0 gap never opens a session, so session ids do not
    depend on the order among equal timestamps.

    Scale: ONE hash exchange on the key; both window passes and the
    final (key, session) aggregate reuse that partitioning (a
    partitioning by key alone already clusters (key, session_no)), so
    Catalyst plans no second shuffle. Per-key state is a sort — AQE
    skew-split applies to hot keys.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # interval comparison, not epoch-seconds arithmetic: both engines
    # compare timestamps microsecond-exact, so boundary decisions can't
    # diverge on sub-second truncation/rounding differences.
    # strict_gap=True opens a new session at diff == gap exactly —
    # Structured Streaming's session_window semantics (its [start,
    # last + gap) window is end-exclusive); the default keeps the
    # merge-on-equal convention of pandas/SQL sessionization.
    gap = F.col(ts_col) - F.lag(F.col(ts_col)).over(w)
    bound = F.expr(f"INTERVAL {gap_s} SECOND")
    exceeded = (gap >= bound) if strict_gap else (gap > bound)
    new_sess = F.when(gap.isNull() | exceeded, F.lit(1)).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(value_col),
        F.sum(new_sess).over(wsum).alias("session_no"),
    )
    return (
        sess.groupBy(key_col, "session_no")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
    )


def sessionize_oracle(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_s: int = 1800,
) -> str:
    return f"""
    WITH flagged AS (
        SELECT {key_col}, {ts_col}, {value_col},
               CASE WHEN {ts_col} - lag({ts_col}) OVER w
                         > INTERVAL {gap_s} SECOND
                         OR lag({ts_col}) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM {table}
        WINDOW w AS (PARTITION BY {key_col} ORDER BY {ts_col})
    ),
    numbered AS (
        SELECT {key_col}, {ts_col}, {value_col},
               CAST(sum(new_sess) OVER (
                   PARTITION BY {key_col} ORDER BY {ts_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no
        FROM flagged
    )
    SELECT {key_col}, session_no,
           min({ts_col}) AS session_start,
           max({ts_col}) AS session_end,
           count(*) AS n_events,
           round(sum({value_col}), 4) AS total_value
    FROM numbered
    GROUP BY {key_col}, session_no
    """


def rolling_anomaly(
    df: "DataFrame",
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_hours: int = 24,
    z_threshold: float = 3.0,
) -> "DataFrame":
    """Rolling z-score anomaly detection over hourly event counts: each
    (key, hour)'s count is scored against the mean/stddev of the
    trailing ``window_hours`` window — the standard ops-metrics anomaly
    gate, built batch-side so the threshold can be tuned on history.

    Determinism across engines is by construction: the scored metric is
    an integer count, so the window's sum and sum-of-squares are exact
    in doubles regardless of accumulation order — avg/stddev_samp come
    out bit-identical in Spark and DuckDB (float inputs would not).
    The RANGE frame runs over an integer hour index (hours since epoch
    via timestampdiff) rather than epoch-second casts, which TIMESTAMP
    _NTZ forbids.

    Scale: one (key, hour) hash aggregate, then one window pass that
    reuses the same key partitioning — two exchanges total, the second
    carrying only the hourly rollup (|keys| x |hours| rows).
    """
    hourly = (
        df.groupBy(
            F.col(key_col), F.date_trunc("hour", F.col(ts_col)).alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "hr_idx",
            F.expr("timestampdiff(HOUR, timestamp'1970-01-01 00:00:00', hr)"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("hr_idx")
        .rangeBetween(-(window_hours - 1), 0)
    )
    scored = hourly.select(
        key_col,
        "hr",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return scored.select(
        key_col,
        "hr",
        F.col("n").cast("bigint").alias("n"),
        F.round("mu", 4).alias("mu"),
        F.round("sigma", 4).alias("sigma"),
        F.round(z, 4).alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(z_threshold), F.lit(False)
        ).alias("is_anomaly"),
    )


def rolling_anomaly_oracle(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_hours: int = 24,
    z_threshold: float = 3.0,
) -> str:
    return f"""
    WITH hourly AS (
        SELECT {key_col},
               CAST(date_trunc('hour', {ts_col}) AS TIMESTAMP) AS hr,
               count(*) AS n,
               datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                        CAST(date_trunc('hour', {ts_col}) AS TIMESTAMP)) AS hr_idx
        FROM {table} GROUP BY 1, 2
    ),
    scored AS (
        SELECT {key_col}, hr, n,
               avg(n) OVER w AS mu,
               stddev_samp(n) OVER w AS sigma
        FROM hourly
        WINDOW w AS (PARTITION BY {key_col} ORDER BY hr_idx
                     RANGE BETWEEN {window_hours - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT {key_col}, hr,
           CAST(n AS BIGINT) AS n,
           round(mu, 4) AS mu,
           round(sigma, 4) AS sigma,
           round((n - mu) / sigma, 4) AS z,
           coalesce(abs((n - mu) / sigma) > {z_threshold}, FALSE) AS is_anomaly
    FROM scored
    """


def funnel(
    df: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: for each user, the earliest time each
    step was reached AFTER the previous step (the product-analytics
    staple). A user reaches step i only if a step-i event follows their
    step-(i-1) reach time; NULL from the first unreached step onward.

    Shape: collect each step's sorted event times in ONE user-keyed
    hash aggregate (a single exchange), then fold left with array
    filters — reach_0 = min(ts_0), reach_i = first ts_i > reach_(i-1).
    No self-joins, no per-step shuffles, no row explosion: at 100 TB
    this is one shuffle of (user, k sorted step arrays), and the arrays
    hold only the funnel event types, not all events."""
    t = F.col(ts_col)
    typ = F.col(type_col)
    per_user = df.filter(typ.isin(*steps)).groupBy(user_col).agg(
        *[
            F.sort_array(
                F.collect_list(F.when(typ == s, t))
            ).alias(f"__ts_{i}")
            for i, s in enumerate(steps)
        ]
    )
    reach_cols = []
    prev_col = None
    for i, s in enumerate(steps):
        arr = F.col(f"__ts_{i}")
        if prev_col is None:
            reach = F.element_at(arr, 1)
        else:
            bound = prev_col
            reach = F.element_at(F.filter(arr, lambda x: x > bound), 1)
        name = f"reach_{s}"
        per_user = per_user.withColumn(name, reach)
        prev_col = F.col(name)
        reach_cols.append(name)
    return per_user.select(user_col, *reach_cols)


def funnel_oracle(
    table: str = "events",
    steps: tuple = ("view", "click", "purchase"),
) -> str:
    lists = ",\n           ".join(
        f"list_sort(list(ts) FILTER (WHERE event_type = '{s}')) AS ts_{i}"
        for i, s in enumerate(steps)
    )
    step_in = ", ".join(f"'{s}'" for s in steps)
    nested = (
        f"SELECT user_id, {lists} FROM {table} "
        f"WHERE event_type IN ({step_in}) GROUP BY user_id"
    )
    sel = nested
    prev = None
    for i, s in enumerate(steps):
        if prev is None:
            e = f"ts_{i}[1]"
        else:
            e = f"(list_filter(ts_{i}, x -> x > reach_{prev}))[1]"
        keep_ts = ", ".join(
            f"ts_{j}" for j in range(len(steps)) if j > i
        )
        keep_reach = ", ".join(f"reach_{q}" for q in list(steps)[:i])
        cols = ", ".join(
            c for c in ["user_id", keep_reach, f"{e} AS reach_{s}", keep_ts]
            if c
        )
        sel = f"SELECT {cols} FROM ({sel})"
        prev = s
    reaches = ", ".join(f"reach_{s}" for s in steps)
    return f"SELECT user_id, {reaches} FROM ({sel})"


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted distinct in each subsequent activity week. Output
    (cohort_week, week_index, n_users) — the retention-curve substrate.

    Shape: one user-keyed aggregate for cohort assignment, one distinct
    over (user, week) activity, a join back on user (cohorts are a
    per-user scalar — broadcastable when users fit, shuffle join
    otherwise, both fine), then a (cohort, week) count. Every shuffle
    key is fixed-width."""
    week = F.date_trunc("week", F.col(ts_col))
    cohorts = df.groupBy(user_col).agg(F.min(week).alias("cohort_week"))
    activity = df.select(
        F.col(user_col), week.alias("activity_week")
    ).distinct()
    joined = activity.join(cohorts, user_col)
    return (
        joined.groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            # STRING output: DuckDB's date_trunc('week') yields DATE,
            # Spark TIMESTAMP, and the pandas frames type them as object
            # vs datetime64 — an ISO string pins type AND value
            F.col("cohort_week").cast("date").cast("string")
            .alias("cohort_week"),
            (
                F.datediff(
                    F.col("activity_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                ) / 7
            ).cast("int").alias("week_index"),
            "n_users",
        )
    )


def cohort_retention_oracle(table: str = "events") -> str:
    return f"""
    WITH cohorts AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM {table} GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        FROM {table}
    )
    SELECT CAST(CAST(cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           CAST(datediff('day', CAST(cohort_week AS DATE),
                         CAST(activity_week AS DATE)) / 7 AS INT)
               AS week_index,
           count(*) AS n_users
    FROM activity JOIN cohorts USING (user_id)
    GROUP BY cohort_week, activity_week
    """


def mergeable_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    val_col: str = "value",
) -> DataFrame:
    """Hourly rollup as MERGEABLE partial states — the continuous-
    aggregation / hypertable-rollup pattern: instead of final answers
    (avg, stddev), each (hour, key) row carries the algebraic state
    ``(n, sum, sum_sq, min, max)``. States from any partition of the
    data (per day, per ingest batch, per site) merge LOSSLESSLY via
    :func:`merge_rollups`, so yesterday's rollup never needs recomputing
    when today's batch lands — the batch twin of a streaming
    materialized view.

    One map-side-combined hash aggregate on fixed-width (hour, key)
    rows; finalization (avg = sum/n etc.) is a cheap projection the
    reader applies."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hr"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(val_col).alias("sum_v"),
            F.sum(F.col(val_col) * F.col(val_col)).alias("sum_sq"),
            F.min(val_col).alias("min_v"),
            F.max(val_col).alias("max_v"),
        )
    )


def rollup_state_rows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    val_col: str = "value",
) -> DataFrame:
    """Each raw event lifted, unaggregated, to its own
    :func:`mergeable_rollup` state row ``(hr, key, n=1, sum_v=v,
    sum_sq=v*v, min_v=v, max_v=v)`` — so raw rows can be unioned with an
    already-aggregated state table and folded by ONE
    :func:`merge_rollups` aggregate (the streaming sink's per-trigger
    merge) instead of being pre-aggregated first.  A NULL value yields
    n=1 and NULL sums, which the state algebra ignores exactly as
    ``mergeable_rollup`` does."""
    v = F.col(val_col)
    return events.select(
        F.date_trunc("hour", F.col(ts_col)).alias("hr"),
        F.col(key_col),
        F.lit(1).cast("bigint").alias("n"),
        v.alias("sum_v"),
        (v * v).alias("sum_sq"),
        v.alias("min_v"),
        v.alias("max_v"),
    )


def merge_rollups(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two mergeable_rollup state tables: union + re-aggregate
    with the state algebra (counts and sums add; min/max combine).
    n/min/max merge exactly; sum_v/sum_sq are floating-point partial
    sums whose summation order differs from a raw rollup, so the merged
    result equals the raw rollup AFTER ``finalize_rollup``'s rounding
    (the property the workload oracle actually proves), not bit-for-bit
    on the raw state columns."""
    cols = ["hr", a.columns[1]]
    return (
        a.unionByName(b)
        .groupBy(*cols)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


def finalize_rollup(states: DataFrame, decimals: int = 4) -> DataFrame:
    """Project final statistics out of merged states (reader-side).

    The mean divides the ROUNDED total (not the raw sum — summation
    order differs between a merged-states path and a raw rollup) and is
    then TRUNCATED, not rounded: total/n lands on exact .5 boundaries
    (e.g. 1236.27/24 = 51.51125) where Spark's HALF_UP and DuckDB's
    rounding disagree, while floor of the identical IEEE quotient is
    deterministic with no tie rule. (Assumes non-negative means, as
    here; a signed metric would need trunc-toward-zero.)"""
    total = F.round(F.col("sum_v"), decimals)
    scale = 10 ** decimals
    return states.select(
        "hr", states.columns[1],
        F.col("n"),
        total.alias("total"),
        (F.floor(total / F.col("n") * scale) / scale).alias("mean"),
        F.round("min_v", decimals).alias("lo"),
        F.round("max_v", decimals).alias("hi"),
    )


def mergeable_rollup_oracle(
    table: str = "events", split_pred: str = "event_id % 2 = 0",
    decimals: int = 4,
) -> str:
    """The ground truth for the merge law: rollup of ALL raw rows —
    which the Spark side must reproduce by merging the rollups of the
    two disjoint halves defined by ``split_pred``."""
    return f"""
    SELECT date_trunc('hour', ts) AS hr, event_type,
           count(*) AS n,
           round(sum(value), {decimals}) AS total,
           floor(round(sum(value), {decimals}) / count(*) * {10 ** decimals})
               / {10 ** decimals} AS mean,
           round(min(value), {decimals}) AS lo,
           round(max(value), {decimals}) AS hi
    FROM {table}
    GROUP BY 1, 2
    """


def lateness_audit(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    bucket_minutes: int = 1,
    max_bucket: int = 29,
    tie_col: str | None = None,
) -> DataFrame:
    """Event-time lateness distribution — the measurement that SIZES a
    watermark delay: per key, an event's lateness is how far its event
    time sits behind the maximum event time already ARRIVED on that
    key's stream (arrival order = ``arrival_col``); the histogram's
    tail tells you what `withWatermark` delay loses what fraction of
    events. Returns ``(bucket, n_events, max_late_s)`` with bucket =
    floor(lateness/bucket_minutes·60) clamped to ``max_bucket`` (the
    overflow bucket catches everything later).

    Lateness is computed in exact integer MICROSECONDS (unix_micros /
    epoch_us on the two engines) so bucket edges can't drift.

    Scale shape: one key-partitioned running-max window (per-key
    watermarks — never a global arrival sort) + one bounded-bucket
    count reduce."""
    from pyspark.sql import Window

    # tie_col pins the processing order of arrival-order TIES (a ROWS
    # running max is order-sensitive within ties, and engines disagree
    # on tie order otherwise)
    order = [F.col(arrival_col).asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the driver parquet registers as TIMESTAMP_NTZ; the session pins
    # timeZone=UTC so the cast is value-preserving and unix_micros
    # equals DuckDB's epoch_us over the same naive value
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    late_us = F.max(us).over(w) - us
    bucket = F.least(
        F.floor(late_us / F.lit(bucket_minutes * 60_000_000))
        .cast("int"),
        F.lit(max_bucket),
    )
    return (
        events.filter(F.col(ts_col).isNotNull()
                      & F.col(key).isNotNull())
        .select(bucket.alias("bucket"),
                (late_us / F.lit(1_000_000.0)).alias("late_s"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.max("late_s"), 6).alias("max_late_s"),
        )
    )


def lateness_audit_oracle(
    table: str = "events",
    key: str = "user_id",
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    bucket_minutes: int = 1,
    max_bucket: int = 29,
    tie_col: str | None = None,
) -> str:
    width = bucket_minutes * 60_000_000
    tie = f", {tie_col} ASC" if tie_col else ""
    return f"""
WITH late AS (
    SELECT max(epoch_us({ts_col})) OVER (
               PARTITION BY {key} ORDER BY {arrival_col} ASC{tie}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - epoch_us({ts_col}) AS late_us
    FROM {table}
    WHERE {ts_col} IS NOT NULL AND {key} IS NOT NULL
)
SELECT CAST(least(floor(late_us / {width}), {max_bucket}) AS INT)
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(late_us / 1000000.0), 6) AS max_late_s
FROM late GROUP BY 1
"""


def time_weighted_avg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
) -> DataFrame:
    """Per-key time-weighted average under LOCF interpolation — the
    irregular-sampling mean (TimescaleDB's ``time_weight('LOCF')``
    shape): each observation holds until the next one, so its weight
    is the duration it was current, not 1. Reported beside the naive
    row mean: the two diverging flags sampling-rate bias (bursts of
    readings at one level would otherwise swamp the average).

    Exactness: durations are exact integer MICROSECONDS (timestamps
    cast to UTC-pinned ``timestamp`` then ``unix_micros`` — matches
    DuckDB ``epoch_us``); values snap to 1e-3 fixed point BEFORE the
    multiply, so every per-key sum is a BIGINT sum of exact products —
    order-free and engine-identical, never a float accumulation.
    Headroom: value_milli·span_us per key must fit BIGINT (~9e18 —
    e.g. 1e6-scale values current for up to ~3 months); coarsen to
    milliseconds beyond that.

    Scale shape: ONE hash exchange on the key serves BOTH the ``lead``
    window and the final group-by (same partitioning, Catalyst reuses
    it); per-key cost is the partition's own size. Keys with a single
    observation have zero span and are reported with NULL twa (no
    interval to integrate)."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # equal timestamps within a key: lead() is order-sensitive inside
    # the tie and engines disagree on tie order — pin it explicitly
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tie_col).asc()
    )
    seg = events.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col),
        F.expr(f"CAST(round({value_col} * 1000) AS BIGINT)")
        .alias("__vm"),
        (F.lead(us, 1).over(w) - us).alias("__dur_us"),
    )
    return (
        seg.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("__dur_us").cast("bigint").alias("span_us"),
            F.sum(F.col("__vm") * F.col("__dur_us")).cast("bigint")
            .alias("__wsum"),
            F.sum("__vm").cast("bigint").alias("__vsum"),
        )
        .select(
            F.col(key_col),
            F.col("n_obs"),
            F.col("span_us"),
            F.expr("CAST(__wsum DIV span_us AS BIGINT)")
            .alias("twa_milli"),
            F.expr("CAST(__vsum DIV n_obs AS BIGINT)")
            .alias("mean_milli"),
        )
    )


def time_weighted_avg_oracle(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
) -> str:
    return f"""
    WITH seg AS (
        SELECT {key_col},
               CAST(round({value_col} * 1000) AS BIGINT) AS vm,
               epoch_us(lead({ts_col}) OVER (
                   PARTITION BY {key_col}
                   ORDER BY {ts_col} ASC, {tie_col} ASC))
                   - epoch_us({ts_col}) AS dur_us
        FROM {table}
        WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
              AND {value_col} IS NOT NULL
    )
    SELECT {key_col},
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(dur_us) AS BIGINT) AS span_us,
           CAST(sum(vm * dur_us) // sum(dur_us) AS BIGINT) AS twa_milli,
           CAST(sum(vm) // count(*) AS BIGINT) AS mean_milli
    FROM seg
    GROUP BY {key_col}
    """
