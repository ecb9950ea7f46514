"""Join operators Spark lacks as single primitives: as-of and range joins.

The reference unparses no joins at all (catch-all at
/root/reference/datafusion-sqlgen/src/logical_plan.rs:200-203; intent in
commented tests tests/select.rs:724,817-837); these go beyond it per the
BASELINE.json north star.

Both are *compositions of built-in DataFrame ops* (option (a) of the
custom-operator ladder) so Catalyst keeps full visibility: the as-of
joins are a union + last-non-null window, the range join is a plain
non-equi condition that Spark executes as broadcast-nested-loop (keep
the broadcast side small) — at scale you bucket the time axis first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_sqlgen_spark.materialize import materialize


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """The union both as-of operators window over: every left row with
    ``__ts`` = its time and ``__is_r`` = 0, and every right row with a
    non-NULL key and time as (key, ``__ts``, ``__p``, ``__is_r`` = 1),
    its payload ``__p`` a struct of the right time (``__t``) and
    ``value_cols``. Null keys / null times never match in join
    semantics; dropping them right-side keeps the null-key window
    partition from pairing them with left rows."""
    payload = F.struct(
        F.col(right_time).alias("__t"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    r2 = (
        right
        .filter(F.col(on).isNotNull() & F.col(right_time).isNotNull())
        .select(
            F.col(on),
            F.col(right_time).alias("__ts"),
            payload.alias("__p"),
            F.lit(1).alias("__is_r"),
        )
    )
    l2 = left.withColumn("__ts", F.col(left_time)).withColumn("__is_r", F.lit(0))
    return l2.unionByName(r2, allowMissingColumns=True)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    direction: str = "backward",
    suffix: str = "_asof",
    tolerance_s: int | None = None,
) -> DataFrame:
    """For each left row, the most recent right row with the same key at
    or before its timestamp (``backward``; ``forward`` = earliest at or
    after). ``tolerance_s`` bounds the match window (pandas
    ``merge_asof``-style): a backward match must also lie within
    ``left_time - tolerance``, forward within ``left_time + tolerance``.

    Implementation: union both sides and take
    ``last(right_payload, ignoreNulls) OVER (PARTITION BY key ORDER BY
    ts)`` — ONE shuffle on the key and a per-partition sort, with no join
    intermediate at all. The join+``max_by`` formulation this replaces
    pairs every left row with ALL earlier same-key right rows first
    (per-key quadratic — fatal on a skewed 100-TB event stream); here a
    partition's cost is its own size, and AQE's skew split still applies
    to the one exchange. The right row travels as a struct so genuinely
    NULL values in a matched row are returned as-is, exactly like
    ``max_by``. Within equal timestamps right rows order before (backward)
    / after (forward) left rows, so an exactly-equal timestamp matches.

    ``tolerance_s`` post-nulls matches outside the window: the nearest
    match overall is also the nearest within tolerance if any exists, so
    nulling the out-of-window nearest is exact, not an approximation.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, not {direction!r}")
    u = _asof_union(left, right, on, left_time, right_time, value_cols)
    tie = F.col("__is_r").desc() if direction == "backward" else F.col("__is_r").asc()
    w = Window.partitionBy(on).orderBy(F.col("__ts").asc(), tie)
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        match = F.last("__p", ignorenulls=True).over(w)
    else:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        match = F.first("__p", ignorenulls=True).over(w)
    out = u.withColumn("__m", match).filter(F.col("__is_r") == 0)
    lt, mt = F.col(left_time), F.col("__m.__t")
    keep = lt.isNotNull()  # a null left time matches nothing
    if tolerance_s is not None:
        tol = F.expr(f"INTERVAL {int(tolerance_s)} SECOND")
        keep = keep & (mt >= lt - tol if direction == "backward" else mt <= lt + tol)
    out = out.withColumn("__m", F.when(keep, F.col("__m")))
    cols = [F.col(c) for c in left.columns]
    cols += [F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in value_cols]
    cols.append(F.col("__m.__t").alias(f"{right_time}{suffix}"))
    return out.select(*cols)


def asof_join_oracle(
    left_table: str,
    right_table: str,
    on: str,
    left_time: str,
    right_time: str,
    left_cols: list[str],
    value_cols: list[str],
    left_filter: str = "TRUE",
    right_filter: str = "TRUE",
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_s: int | None = None,
) -> str:
    lcols = ", ".join(f"l.{c}" for c in left_cols)
    pick, cmp = ("max_by", "<=") if direction == "backward" else ("min_by", ">=")
    ext = "max" if direction == "backward" else "min"
    aggs = ", ".join(
        f"{pick}(r.{c}, r.{right_time}) AS {c}{suffix}" for c in value_cols
    )
    tol = ""
    if tolerance_s is not None:
        sign = "-" if direction == "backward" else "+"
        bound = ">=" if direction == "backward" else "<="
        tol = (
            f" AND r.{right_time} {bound} "
            f"l.{left_time} {sign} INTERVAL {int(tolerance_s)} SECOND"
        )
    return f"""
    SELECT {lcols}, {aggs}, {ext}(r.{right_time}) AS {right_time}{suffix}
    FROM (SELECT * FROM {left_table} WHERE {left_filter}) l
    LEFT JOIN (SELECT * FROM {right_table} WHERE {right_filter}) r
      ON l.{on} = r.{on} AND r.{right_time} {cmp} l.{left_time}{tol}
    GROUP BY {lcols}
    """


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    suffix: str = "_asof",
    tolerance_s: int | None = None,
) -> DataFrame:
    """``merge_asof(direction='nearest')``: for each left row, the
    same-key right row whose timestamp is CLOSEST in absolute distance —
    before or after. The third merge_asof direction beside the
    ``backward``/``forward`` pair in :func:`asof_join` (the reference's
    aspirational ASOF surface stops at backward,
    tests/select.rs:817-837).

    Tie-break: an exactly-equidistant pair resolves BACKWARD (the
    at-or-before row wins), deterministic and documented — pandas leaves
    the tie unspecified. ``tolerance_s`` bounds EACH direction before
    the comparison, so an out-of-window nearer candidate correctly
    loses to an in-window farther one on the other side.

    Scale shape: ONE union + ONE hash exchange on the key (the
    :func:`asof_join` desugar), then BOTH direction candidates from the
    same sorted partition — ``last(payload, ignoreNulls)`` looking back
    and ``first(payload, ignoreNulls)`` looking strictly forward over
    one sort order (rights sort before lefts at equal timestamps, so the
    equal-ts match arrives via the backward window at distance 0, which
    beats any forward candidate). No join intermediate ever exists; a
    partition's cost is its own size, and the distance compare is exact
    integer-microsecond INTERVAL arithmetic, never float seconds."""
    u = _asof_union(left, right, on, left_time, right_time, value_cols)
    # one sort order serves both windows: rights before lefts at equal
    # __ts, so [unbounded, current] sees the at-or-before match and
    # [current, unbounded] sees only strictly-after rights
    w = Window.partitionBy(on).orderBy(F.col("__ts").asc(), F.col("__is_r").desc())
    back = F.last("__p", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = F.first("__p", ignorenulls=True).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = (
        u.withColumn("__b", back)
        .withColumn("__f", fwd)
        .filter(F.col("__is_r") == 0)
    )
    # timestamp subtraction yields an exact day-time INTERVAL (integer
    # microseconds) on both engines — works for TIMESTAMP and
    # TIMESTAMP_NTZ alike, where unix_micros() would reject NTZ
    lt = F.col(left_time)
    b, f = F.col("__b"), F.col("__f")
    if tolerance_s is not None:
        tol = F.expr(f"INTERVAL {int(tolerance_s)} SECOND")
        b = F.when(lt - b.getField("__t") <= tol, b)
        f = F.when(f.getField("__t") - lt <= tol, f)
    bt, ft = b.getField("__t"), f.getField("__t")
    pick_back = lt.isNotNull() & (
        ft.isNull() | (bt.isNotNull() & (lt - bt <= ft - lt))
    )
    chosen = F.when(pick_back, b).otherwise(
        F.when(F.col(left_time).isNotNull(), f)
    )
    out = out.withColumn("__m", chosen)
    cols = [F.col(c) for c in left.columns]
    cols += [F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in value_cols]
    cols.append(F.col("__m.__t").alias(f"{right_time}{suffix}"))
    return out.select(*cols)


def asof_join_nearest_oracle(
    left_table: str,
    right_table: str,
    on: str,
    left_time: str,
    right_time: str,
    left_id: str,
    left_cols: list[str],
    value_cols: list[str],
    suffix: str = "_asof",
    tolerance_s: int | None = None,
) -> str:
    """DuckDB twin: deliberately the OTHER formulation — the backward
    and forward halves as join+``max_by``/``min_by`` aggregation CTEs
    (never native ASOF, which cannot carry the tolerance inequality —
    see the parsed_asof_tolerance MATERIALIZED-CTE note), re-joined on
    the unique ``left_id`` and resolved by the same exact
    integer-microsecond distance compare with the backward tie-break."""
    bsql = asof_join_oracle(
        left_table, right_table, on, left_time, right_time,
        left_cols, value_cols, suffix="_b", direction="backward",
        tolerance_s=tolerance_s,
    )
    fsql = asof_join_oracle(
        left_table, right_table, on, left_time, right_time,
        left_cols, value_cols, suffix="_f", direction="forward",
        tolerance_s=tolerance_s,
    )
    lcols = ", ".join(f"b.{c}" for c in left_cols)
    lt, bt, ft = f"b.{left_time}", f"b.{right_time}_b", f"f.{right_time}_f"
    pick = (
        f"({lt} IS NOT NULL AND ({ft} IS NULL OR "
        f"({bt} IS NOT NULL AND {lt} - {bt} <= {ft} - {lt})))"
    )
    vals = ", ".join(
        f"CASE WHEN {pick} THEN b.{c}_b "
        f"WHEN b.{left_time} IS NOT NULL THEN f.{c}_f END AS {c}{suffix}"
        for c in value_cols
    )
    return f"""
    WITH bck AS ({bsql}), fwd AS ({fsql})
    SELECT {lcols}, {vals},
           CASE WHEN {pick} THEN b.{right_time}_b
                WHEN b.{left_time} IS NOT NULL THEN f.{right_time}_f
           END AS {right_time}{suffix}
    FROM bck b JOIN fwd f ON b.{left_id} = f.{left_id}
    """


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skew: hot keys (the Zipf head that
    AQE's skew-split sometimes can't save, e.g. a null-heavy or
    celebrity key) are spread across ``n_salts`` shuffle partitions.

    Left rows get a deterministic salt from a hash of the whole row;
    the right side is replicated once per salt value (an ``explode`` of a
    ``sequence`` — n_salts× the right side's shuffle volume, the explicit
    price of flattening the hot key). Result is row-identical to the
    plain join; use when right is too big to broadcast and a handful of
    keys dominate.

    Only left-preserving modes: with right/full joins the replicated
    right side would emit unmatched right rows once per salt."""
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"salted_join supports left-preserving joins, not {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>"))
    )
    joined = l_salted.join(r_salted, on=[on, "__salt"], how=how)
    return joined.drop("__salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    cond: Column,
    broadcast_right: bool = True,
) -> DataFrame:
    """Non-equi (interval/range) join. Spark picks broadcast-nested-loop;
    explicitly broadcast the small side. For two large sides, add a
    coarse equi bucket on the range dimension to both inputs first so the
    NLJ runs per-bucket instead of globally."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond)


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Point-in-interval join as an EQUI join — the two-large-sides scale
    path for range joins (OSS Spark would otherwise run a nested-loop
    over the full cross space).

    The range dimension is bucketized: each left point maps to bucket
    ``floor(p/w)``; each right interval [lo, hi] explodes to every bucket
    it overlaps. The join becomes equi on the bucket id (hash shuffle,
    AQE-skew-splittable) followed by the exact range filter. A matching
    (point, interval) pair coincides in exactly ONE bucket — the point's
    own — so no post-join dedup is needed. Interval expansion is
    ``(hi-lo)/w + 1`` rows; pick ``w`` near the typical interval length
    so expansion stays ~2x.
    """
    w = F.lit(bucket_width)
    lb = left.withColumn(
        "__bkt", F.floor(F.col(point_col) / w).cast("bigint")
    )
    rb = right.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("bigint"),
                F.floor(F.col(hi_col) / w).cast("bigint"),
            )
        ),
    )
    return (
        lb.join(rb, on="__bkt")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("__bkt")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """Edit-distance-bounded string join WITHOUT the cross product — the
    entity-resolution staple (near-identical names/titles across two
    tables), shaped like the minhash tier: signature → candidates →
    verify.

    Blocking: each side explodes to its positional ``q``-grams; a
    candidate pair must share a q-gram at positions within ``max_dist``
    of each other AND have lengths within ``max_dist``. Pigeonhole makes
    the candidate set LOSSLESS for strings of length ≥
    ``q*(max_dist+1) + max_dist`` (each edit destroys or shifts at most
    ``q`` positional grams, so ``len-q+1 - q*d ≥ 1`` survivors remain
    aligned within the window); the exact ``levenshtein`` then runs on
    candidates only. Strings BELOW that pigeonhole bound take a
    separate exact path — an equi join on candidate length (each right
    row explodes its length to the ±d window), never q-grams — so the
    losslessness contract holds on EVERY input domain, short strings
    included. The oracle is the NAIVE verified join, so the correctness
    gate itself proves the combined blocking drops nothing.

    Scale: the gram join shuffles (gram, short-string) rows — never
    full documents — and the verify is per-candidate. Skewed grams (a
    hot bigram) are AQE-skew-splittable since the join is equi on the
    gram. The short-string path joins on length (≤ ``bound+d`` distinct
    values): sound for the near-universal case where sub-``bound``-char
    strings are a sliver of the domain; a domain that is MOSTLY 4-char
    strings needs a smaller ``q`` instead.
    """
    d = max_dist
    bound = q * (d + 1) + d  # pigeonhole losslessness threshold

    def grams(df: DataFrame, id_: str, col: str, pos_name: str):
        c = F.col(col)
        # clamp like every other shingle op in the repo (dedup.py/text.py):
        # without it a sub-q string yields a DESCENDING sequence ->
        # phantom grams from substr at position 0
        idx = F.sequence(
            F.lit(1), F.greatest(F.length(c) - (q - 1), F.lit(1))
        )
        return df.select(
            F.col(id_), c,
            F.explode(
                F.transform(idx, lambda i: F.struct(
                    c.substr(i, F.lit(q)).alias("g"),
                    i.alias(pos_name),
                ))
            ).alias("__gp"),
        ).select(
            id_, col,
            F.col("__gp.g").alias("__gram"),
            F.col(f"__gp.{pos_name}").alias(pos_name),
        )

    # main path: both sides at/above the pigeonhole bound -> gram blocking
    la = grams(left.filter(F.length(left_col) >= bound), left_id, left_col, "__pa")
    rb = grams(right.filter(F.length(right_col) >= bound), right_id, right_col, "__pb")
    cand_long = (
        la.join(rb, "__gram")
        .filter(F.abs(F.col("__pa") - F.col("__pb")) <= d)
        .filter(
            F.abs(F.length(F.col(left_col)) - F.length(F.col(right_col))) <= d
        )
        .select(left_id, left_col, right_id, right_col)
    )
    # short path: any pair whose smaller side is below the bound; both
    # sides are then < bound + d, and the paths stay disjoint via the
    # at-least-one-short filter (no cross-path dedup needed)
    ls = left.filter(F.length(left_col) < bound + d).select(
        left_id, left_col, F.length(left_col).alias("__l")
    )
    rs = right.filter(F.length(right_col) < bound + d).select(
        right_id, right_col,
        F.explode(
            F.sequence(
                F.greatest(F.length(right_col) - d, F.lit(0)),
                F.length(right_col) + d,
            )
        ).alias("__l"),
    )
    cand_short = (
        ls.join(rs, "__l")
        .filter(
            (F.length(left_col) < bound) | (F.length(right_col) < bound)
        )
        .select(left_id, left_col, right_id, right_col)
    )
    cand = cand_long.unionByName(cand_short).distinct()
    return cand.withColumn(
        "edit_dist", F.levenshtein(F.col(left_col), F.col(right_col))
    ).filter(F.col("edit_dist") <= d)


def fuzzy_join_oracle(
    left_sql: str,
    right_sql: str,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_dist: int = 1,
    extra_cond: str = "",
) -> str:
    """The naive ground truth: every pair within the edit bound. The
    driver comparing this against the blocked Spark result proves the
    q-gram candidate generation lossless on the tested domain."""
    d = max_dist
    return f"""
    SELECT a.{left_id}, a.{left_col}, b.{right_id}, b.{right_col},
           levenshtein(a.{left_col}, b.{right_col}) AS edit_dist
    FROM ({left_sql}) a JOIN ({right_sql}) b
    ON abs(length(a.{left_col}) - length(b.{right_col})) <= {d}
    AND levenshtein(a.{left_col}, b.{right_col}) <= {d}
    {extra_cond}
    """


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    on: str | None = None,
) -> DataFrame:
    """Interval-interval OVERLAP join (``a.lo <= b.hi AND b.lo <= a.hi``)
    as an EQUI join — the two-large-sides scale path
    (range_join_bucketed's sibling for when BOTH sides are ranges:
    meeting-room conflicts, session/incident overlap, ad-slot
    collisions).

    Both sides explode to every bucket their interval touches; the join
    is equi on bucket id (+ optional key), then the exact overlap
    filter. Overlapping pairs coincide in EVERY shared bucket, so the
    join would duplicate them — instead of a distinct, each pair is
    emitted ONLY in its canonical first shared bucket
    (``floor(max(a.lo, b.lo)/w)``, which both sides provably touch):
    duplicate-free output with no post-join dedup shuffle."""
    w = F.lit(bucket_width)

    def explode_buckets(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / w).cast("bigint"),
                    F.floor(F.col(hi) / w).cast("bigint"),
                )
            ),
        )

    keys = ["__bkt"] + ([on] if on else [])
    lb = explode_buckets(left, left_lo, left_hi)
    rb = explode_buckets(right, right_lo, right_hi)
    return (
        lb.join(rb, on=keys)
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
        )
        .filter(
            F.col("__bkt")
            == F.floor(
                F.greatest(F.col(left_lo), F.col(right_lo)) / w
            ).cast("bigint")
        )
        .drop("__bkt")
    )


def upsert(
    current: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """Type-1 upsert (MERGE semantics, batch form): ``updates`` rows
    replace same-key ``current`` rows; unmatched current rows survive.
    The maintenance step for every dimension/state table a pipeline
    keeps (user profiles, document status, centroid tables) on engines
    without a native MERGE.

    Scale shape: updates ∪ (current LEFT ANTI updates-keys). No forced
    broadcast hint: a hint never degrades, so a large update batch
    would OOM the driver instead of falling back. AQE sizes the key
    list at runtime — a small batch (the common case) broadcasts only
    the update KEYS and the standing table is never shuffled; a
    same-size merge genuinely degrades to one shuffle hash join."""
    keys = updates.select(key)
    survivors = current.join(keys, key, "left_anti")
    return updates.unionByName(survivors)


def scd2_merge(
    history: DataFrame,
    snapshot: DataFrame,
    key: str,
    attrs: list[str],
    effective: str | None = None,
    close_missing: bool = False,
    effective_from_col: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: apply a new full
    ``snapshot`` (key + attrs) to a versioned ``history`` table
    (key, attrs, valid_from, valid_to, is_current) at time
    ``effective`` — changed keys get their open row CLOSED
    (valid_to = effective) plus a fresh open version; new keys insert an
    open version; unchanged keys pass through; with ``close_missing``
    keys absent from the snapshot are closed (full-snapshot semantics).
    History rows already closed always pass through untouched.

    ``effective_from_col`` (round 13, the CDC-apply form): instead of
    one literal ``effective`` for the whole snapshot, take each key's
    effective time from that SNAPSHOT column (e.g. the CDC row's event
    time) — changed keys close at and re-open from their own row's
    timestamp. Exactly one of ``effective`` / ``effective_from_col``
    must be given; ``close_missing`` requires the literal form (a key
    absent from the snapshot has no snapshot row to take a time from).

    Scale shape: ONE full-outer hash join of the OPEN slice against the
    snapshot on the key (closed history never joins — it is
    filter-unioned around the join), attribute comparison via null-safe
    equality. Each joined row emits its 0-2 output versions through a
    single conditional-array explode, so the join and both input scans
    execute ONCE — the filter-per-branch union form re-ran the join
    three times (3 scans of each side; a real cost when the open slice
    is billions of keys). At 100 TB the open slice is one row per live
    key — dimension-sized, not history-sized."""
    if (effective is None) == (effective_from_col is None):
        raise ValueError(
            "exactly one of effective / effective_from_col is required")
    if close_missing and effective_from_col is not None:
        raise ValueError(
            "close_missing needs a literal effective time (keys absent "
            "from the snapshot carry no snapshot timestamp)")
    cur = history.filter(F.col("is_current"))
    past = history.filter(~F.col("is_current"))
    snap_cols = [key, *attrs] + (
        [effective_from_col] if effective_from_col else [])
    snap = snapshot.select(*snap_cols)

    c, s = cur.alias("c"), snap.alias("s")
    j = c.join(s, F.col(f"c.{key}") == F.col(f"s.{key}"), "full_outer")
    same = None
    for a in attrs:
        eq = F.col(f"c.{a}").eqNullSafe(F.col(f"s.{a}"))
        same = eq if same is None else same & eq
    in_cur = F.col(f"c.{key}").isNotNull()
    in_snap = F.col(f"s.{key}").isNotNull()
    if effective_from_col is not None:
        eff = F.col(f"s.{effective_from_col}").cast("timestamp")
    else:
        eff = F.lit(effective).cast("timestamp")
    null_ts = F.lit(None).cast("timestamp")

    def version(side: str, valid_from, valid_to, is_current):
        return F.struct(
            *[F.col(f"{side}.{x}").alias(x) for x in (key, *attrs)],
            valid_from.alias("valid_from"),
            valid_to.alias("valid_to"),
            is_current.alias("is_current"),
        )

    branches = F.array(
        F.when(
            in_cur
            & ((in_snap & same) | (~in_snap & F.lit(not close_missing))),
            version("c", F.col("c.valid_from"), F.col("c.valid_to"),
                    F.col("c.is_current")),
        ),
        F.when(
            in_cur
            & ((in_snap & ~same) | (~in_snap & F.lit(close_missing))),
            version("c", F.col("c.valid_from"), eff, F.lit(False)),
        ),
        F.when(
            in_snap & (~in_cur | ~same),
            version("s", eff, null_ts, F.lit(True)),
        ),
    )
    merged = j.select(
        F.explode(
            F.filter(branches, lambda x: x.isNotNull())
        ).alias("__v")
    ).select("__v.*")
    return past.select(
        key, *attrs, "valid_from", "valid_to", "is_current"
    ).unionByName(merged)


def scd2_history_from_cdc(
    cdc: DataFrame,
    n_batches: int = 4,
    key: str = "user_id",
    attrs: tuple = ("event_type",),
    ts_col: str = "ts",
    order_cols: tuple = ("event_id",),
) -> DataFrame:
    """Batch twin of the streaming CDC-apply sink: split a CDC/event
    table into ``n_batches`` chronological batches (ntile over
    ``order_cols`` — deterministic membership and order) and fold them
    through sequential :func:`scd2_merge` applications, each batch
    CDC-compacted to its last row per key first. Produces exactly the
    history the streaming sink would after the same replay — the
    dimension input for :func:`scd2_point_in_time`.

    Scale shape: each fold is scd2_merge's single full-outer join of
    the dimension-sized open slice; a corpus-scale cut between folds
    bounds plan depth (the k-means/BPE iteration pattern — a reliable
    checkpoint when a checkpoint dir is configured)."""
    from pyspark.sql import Window

    staged = materialize(
        cdc.withColumn(
            "__b",
            F.ntile(n_batches).over(
                Window.orderBy(*[F.col(c).asc() for c in order_cols])),
        ),
        scale="corpus",
    )
    w = Window.partitionBy(key).orderBy(
        F.col(ts_col).desc(), *[F.col(c).desc() for c in order_cols])
    history = None
    for i in range(1, n_batches + 1):
        snap = (
            staged.filter(F.col("__b") == i)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(key, *attrs, ts_col)
        )
        if history is None:
            history = snap.select(
                key, *attrs,
                F.col(ts_col).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        else:
            history = scd2_merge(
                history, snap, key, list(attrs),
                effective_from_col=ts_col,
            )
        history = materialize(history, scale="corpus")
    return history


def scd2_point_in_time(
    facts: DataFrame,
    history: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    attrs: tuple = ("event_type",),
) -> DataFrame:
    """Temporal join against an SCD2 dimension — THE consumption
    pattern for versioned history: each fact row picks the dimension
    version current AT its timestamp (``valid_from <= ts < valid_to``,
    open versions unbounded above); facts before the key's first
    version keep NULL attributes (LEFT join). Version intervals are
    disjoint per key by scd2_merge construction, so each fact matches
    at most one row.

    Scale shape: the history is dimension-sized (one row per key x
    version), broadcast; the join is a BroadcastHashJoin on the key
    with the interval test as residual — the fact table never
    shuffles."""
    h = history.select(
        F.col(key).alias("__h_key"),
        *[F.col(a).alias(f"dim_{a}") for a in attrs],
        "valid_from", "valid_to",
    )
    cond = (
        (F.col(key) == F.col("__h_key"))
        & (F.col(ts_col) >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col(ts_col) < F.col("valid_to")))
    )
    return (
        facts.join(F.broadcast(h), cond, "left")
        .drop("__h_key", "valid_from", "valid_to")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    attrs: list[str],
) -> DataFrame:
    """Table-diff audit between two snapshots of a keyed table: one
    full-outer hash join on the key, each row classified added /
    removed / changed / unchanged (attribute comparison null-safe),
    reduced to ``(status, n_keys)`` — the pre-publish sanity gate for
    any snapshot-producing pipeline (a diff whose `removed` suddenly
    spikes is a broken upstream, not a release).

    Scale shape: ONE key-partitioned full-outer join + a 4-group
    map-side-combined count; nothing is ever collected."""
    if not attrs:
        raise ValueError(
            "snapshot_diff needs at least one attribute to compare "
            "(with none, changed vs unchanged is undefined)")
    o = old.select(key, *attrs).alias("o")
    n = new.select(key, *attrs).alias("n")
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    same = None
    for a in attrs:
        eq = F.col(f"o.{a}").eqNullSafe(F.col(f"n.{a}"))
        same = eq if same is None else same & eq
    status = (
        F.when(F.col(f"o.{key}").isNull(), F.lit("added"))
        .when(F.col(f"n.{key}").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    )


def snapshot_diff_oracle(
    old_sql: str,
    new_sql: str,
    key: str,
    attrs: list[str],
) -> str:
    same = " AND ".join(
        f"o.{a} IS NOT DISTINCT FROM n.{a}" for a in attrs)
    return f"""
WITH o AS ({old_sql}),
n AS ({new_sql})
SELECT status, CAST(count(*) AS BIGINT) AS n_keys FROM (
    SELECT CASE WHEN o.{key} IS NULL THEN 'added'
                WHEN n.{key} IS NULL THEN 'removed'
                WHEN {same} THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL JOIN n ON o.{key} = n.{key}
) GROUP BY status
"""
