"""Deterministic sampling / splitting operators for training-data pipelines.

A training pipeline needs *reproducible* subsets: the same 10% sample and
the same train/holdout assignment on every run, on every cluster, in
every engine — which rules out `TABLESAMPLE` and `rand()` (both are
partition- and engine-dependent). These operators derive membership from
`md5(id)` instead: a pure, per-row column expression that is identical in
Spark and DuckDB, needs no shuffle, no state, and no seed bookkeeping.

Scale shape: each operator is a single narrow projection + filter over
the input — at 100 TB it fans out embarrassingly parallel with zero data
movement, and the md5 evaluates JVM-side inside whole-stage codegen.

The reference has no sampling surface (no trace in
/root/reference/datafusion-sqlgen/src/expr.rs); this module is part of
the beyond-reference LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.materialize import materialize

# 4 hex chars = 65536 buckets: 0.0015% rate granularity, plenty for
# corpus work. Membership compares the *lowercase hex string* (identical
# lexicographic order in every engine) — never parse hex to int, which
# would drag engine-specific conv()/from_hex() semantics in.
_BUCKETS = 65536


def _bucket_col(id_col: str, salt: str) -> Column:
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    return F.substring(F.md5(key), 1, 4)


def _bucket_sql(id_col: str, salt: str) -> str:
    return f"substr(md5(CAST({id_col} AS VARCHAR) || ':{salt}'), 1, 4)"


def _threshold(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        # format() would yield the 5-char '10000', which sorts BELOW
        # most 4-char hex strings ('ffff' > '10000' lexicographically)
        # and silently turns "keep all" into "keep ~6%"; 'g' is greater
        # than every hex character, so `prefix < 'g'` is always true.
        return "g"
    return format(int(_BUCKETS * rate), "04x")


def stable_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Deterministic ~`rate` sample keyed on ``md5(id:salt)``.

    Re-running, re-partitioning, or re-ordering the input never changes
    membership; changing ``salt`` draws an independent sample.
    """
    return df.filter(_bucket_col(id_col, salt) < F.lit(_threshold(rate)))


def stable_sample_oracle(
    rate: float, table: str = "documents", id_col: str = "doc_id",
    salt: str = "sample", cols: str = "*",
) -> str:
    return (
        f"SELECT {cols} FROM {table} "
        f"WHERE {_bucket_sql(id_col, salt)} < '{_threshold(rate)}'"
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-curation staple
    ("keep 100% of lang=de, 10% of lang=en"). One CASE over the stratum
    column picks the md5 threshold; still a single scan+filter, no
    shuffle, and membership is stable across runs and engines."""
    bucket = _bucket_col(id_col, salt)
    thr = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(_threshold(rate))).otherwise(thr)
    return df.filter(bucket < thr)


def stratified_sample_oracle(
    rates: dict[str, float],
    table: str = "documents",
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat",
    default_rate: float = 0.0,
    cols: str = "*",
) -> str:
    # reversed: the last .when() wraps outermost in the Spark expression,
    # so it must be the FIRST branch here for identical precedence
    branches = " ".join(
        f"WHEN {stratum_col} = '{value}' THEN '{_threshold(rate)}'"
        for value, rate in sorted(rates.items(), reverse=True)
    )
    case = f"CASE {branches} ELSE '{_threshold(default_rate)}' END"
    return (
        f"SELECT {cols} FROM {table} "
        f"WHERE {_bucket_sql(id_col, salt)} < {case}"
    )


def stable_topk_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", salt: str = "topk"
) -> DataFrame:
    """Exactly-k deterministic sample: order by ``md5(id:salt)`` (a
    uniform permutation of ids) and keep the first k. Unlike rate-based
    sampling the output size is exact; unlike ``ORDER BY rand()`` it is
    reproducible. Plan-wise this is a TakeOrdered (per-partition top-k +
    single merge), not a global sort — scale-safe."""
    return (
        df.withColumn("_rk", _bucket_full_col(id_col, salt))
        .orderBy("_rk", id_col)
        .limit(k)
        .drop("_rk")
    )


def stable_topk_sample_oracle(
    k: int, table: str = "documents", id_col: str = "doc_id",
    salt: str = "topk", cols: str = "*",
) -> str:
    return (
        f"SELECT {cols} FROM {table} "
        f"ORDER BY md5(CAST({id_col} AS VARCHAR) || ':{salt}'), {id_col} "
        f"LIMIT {k}"
    )


def _bucket_full_col(id_col: str, salt: str) -> Column:
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    return F.md5(key)


def hash_split(
    df: DataFrame, holdout: float, id_col: str = "doc_id", salt: str = "split"
) -> DataFrame:
    """Add a ``split`` column: 'holdout' for ~``holdout`` of rows, else
    'train'. Same id → same split, forever — the property that keeps a
    holdout set leak-free across pipeline re-runs and backfills."""
    thr = _threshold(holdout)
    return df.withColumn(
        "split",
        F.when(_bucket_col(id_col, salt) < F.lit(thr), F.lit("holdout"))
        .otherwise(F.lit("train")),
    )


def hash_split_oracle(
    holdout: float, table: str = "documents", id_col: str = "doc_id",
    salt: str = "split", cols: str = "*",
) -> str:
    thr = _threshold(holdout)
    return (
        f"SELECT {cols}, CASE WHEN {_bucket_sql(id_col, salt)} < '{thr}' "
        f"THEN 'holdout' ELSE 'train' END AS split FROM {table}"
    )


def temperature_mix(
    df: DataFrame,
    tau: float = 0.5,
    target_frac: float = 0.3,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-based source mixing (the multilingual-LLM sampling
    scheme: raise each source's share to ``tau`` < 1 to up-weight small
    sources, then sample so the expected output is ``target_frac`` of
    the corpus). Per-source keep rate:

        share_s = n_s**tau / sum_s n_s**tau
        rate_s  = min(1, target_frac * N * share_s / n_s)

    Everything is computed IN THE PLAN — one tiny per-source count
    aggregate, rates via a window over that aggregate, broadcast-joined
    back, then the same md5-threshold membership test as stable_sample.
    No driver round trip, so the operator composes into a single job and
    the oracle can mirror the identical arithmetic. The 65536-bucket
    floor also absorbs pow() ULP differences between engines.

    Scale: counts are one partial-aggregated shuffle of (source) keys;
    the rate table is #sources rows (broadcast); membership is a narrow
    filter. Documents never shuffle.
    """
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_s"))
    w = Window.partitionBy()
    share = F.pow(F.col("n_s"), tau) / F.sum(F.pow(F.col("n_s"), tau)).over(w)
    total = F.sum(F.col("n_s")).over(w)
    rate = F.least(
        F.lit(1.0), F.lit(target_frac) * total * share / F.col("n_s")
    )
    thresholds = counts.select(
        F.col(source_col),
        F.when(rate >= 1.0, F.lit("g"))
        .otherwise(
            F.lpad(
                F.hex(F.floor(rate * _BUCKETS).cast("int")), 4, "0"
            )
        )
        .alias("thr"),
    )
    # Spark hex() yields uppercase; md5() lowercase — align case before
    # the lexicographic compare
    thresholds = thresholds.select(
        source_col, F.lower(F.col("thr")).alias("thr")
    )
    return (
        df.join(F.broadcast(thresholds), source_col)
        .filter(_bucket_col(id_col, salt) < F.col("thr"))
        .drop("thr")
    )


def temperature_mix_oracle(
    tau: float = 0.5,
    target_frac: float = 0.3,
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "tmix",
    cols: str = "*",
) -> str:
    return f"""
    WITH counts AS (
        SELECT {source_col}, count(*) AS n_s FROM {table} GROUP BY {source_col}
    ),
    rates AS (
        SELECT {source_col},
               least(1.0, {target_frac} * (sum(n_s) OVER ())
                     * (pow(n_s, {tau}) / sum(pow(n_s, {tau})) OVER ())
                     / n_s) AS rate
        FROM counts
    ),
    thresholds AS (
        SELECT {source_col},
               CASE WHEN rate >= 1.0 THEN 'g'
                    ELSE lower(lpad(hex(CAST(floor(rate * {_BUCKETS}) AS INT)), 4, '0'))
               END AS thr
        FROM rates
    )
    SELECT {cols} FROM {table} t
    JOIN thresholds th USING ({source_col})
    WHERE {_bucket_sql('t.' + id_col, salt)} < th.thr
    """


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle",
    out_partitions: int | None = None,
) -> DataFrame:
    """Reproducible global shuffle — the training-order randomizer.

    Training runs need the corpus in a random BUT reproducible order
    (epoch seed = ``salt``): ``ORDER BY rand()`` changes across runs and
    engines, and a driver-side shuffle doesn't exist at 100 TB. This
    derives ``shuffle_key = md5(id:salt)`` — a uniform, engine-portable
    permutation of ids — then range-repartitions on the key and sorts
    within partitions: partition *i*'s keys all precede partition
    *i+1*'s, so writing partitions in index order yields one globally
    shuffled sequence without a single-partition global sort.

    Scale shape: ONE range exchange (boundaries from Spark's fixed-seed
    range sampler) + per-partition sort. Changing ``salt`` draws a fresh
    epoch order; same salt → byte-identical order on every run and
    cluster size (row→partition assignment may move with the boundary
    sample, but the (shuffle_key, id) total order — and anything written
    in partition-then-offset order — does not)."""
    out = df.withColumn("shuffle_key", _bucket_full_col(id_col, salt))
    n = out_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return out.repartitionByRange(n, "shuffle_key", id_col).sortWithinPartitions(
        "shuffle_key", id_col
    )


def deterministic_shuffle_oracle(
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "shuffle",
    cols: str = "*",
) -> str:
    # the permutation lives in the key column; row order itself is
    # compare-insensitive (the driver hashes sorted rows)
    return (
        f"SELECT {cols}, md5(CAST({id_col} AS VARCHAR) || ':{salt}') "
        f"AS shuffle_key FROM {table}"
    )


def kfold_assign(
    df: DataFrame, k: int = 5, id_col: str = "doc_id", salt: str = "fold"
) -> DataFrame:
    """Add a ``fold`` column in [0, k): the cross-validation / ensemble
    split. Same md5 derivation as hash_split — same id gets the same
    fold forever, on every engine, so fold membership survives re-runs
    and backfills (the leak-free property, k-way). Folds are
    hash-balanced (~N/k each); one narrow projection, no shuffle."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    hx = F.substring(F.md5(key), 1, 4)
    return df.withColumn(
        "fold", (F.conv(hx, 16, 10).cast("int") % k).cast("int")
    )


def kfold_assign_oracle(
    k: int = 5, table: str = "documents", id_col: str = "doc_id",
    salt: str = "fold", cols: str = "*",
) -> str:
    return (
        f"SELECT {cols}, (CAST(concat('0x', substr(md5(CAST({id_col} AS "
        f"VARCHAR) || ':{salt}'), 1, 4)) AS INT) % {k}) AS fold "
        f"FROM {table}"
    )


def leakage_safe_split(
    docs: DataFrame,
    k: int = 5,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "lsfold",
) -> DataFrame:
    """Group-aware k-fold: near-duplicate documents (MinHash-LSH pairs
    → connected components) are assigned to the SAME fold, so a
    near-copy of an eval document can never leak into train — the
    split hygiene every dedup paper assumes and plain per-id hashing
    silently violates.  Singleton documents are their own group.

    Output ``(doc_id, group_id, fold)``; fold = md5(group:salt) mod k,
    the same engine-portable derivation as :func:`kfold_assign`, keyed
    on the GROUP so membership moves together.

    Scale shape: clustering touches only documents that LSH-pair with
    something (a small fraction of the corpus — signatures shuffle,
    documents don't); the cluster table joins back id-to-id and the
    fold is a narrow projection.  No new shuffle beyond the existing
    CC label propagation."""
    from datafusion_sqlgen_spark.operators.dedup import near_dup_clusters

    clusters = near_dup_clusters(
        docs, text_col=text_col, id_col=id_col, threshold=threshold
    )
    base = docs.select(id_col).join(clusters, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("group_id"),
    )
    key = F.concat(F.col("group_id").cast("string"), F.lit(":" + salt))
    hx = F.substring(F.md5(key), 1, 4)
    return base.withColumn(
        "fold", (F.conv(hx, 16, 10).cast("int") % k).cast("int")
    )


def leakage_safe_split_oracle(
    k: int = 5,
    threshold: float = 0.2,
    table: str = "documents",
    salt: str = "lsfold",
) -> str:
    from datafusion_sqlgen_spark.operators.dedup import (
        near_dup_clusters_oracle,
    )

    clusters = near_dup_clusters_oracle(table, threshold=threshold)
    return f"""
    WITH clusters AS ({clusters}),
    base AS (
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS group_id
        FROM {table} d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, group_id,
           (CAST(concat('0x', substr(md5(CAST(group_id AS VARCHAR)
                || ':{salt}'), 1, 4)) AS INT) % {k}) AS fold
    FROM base
    """


def capped_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen DETERMINISTICALLY —
    the class-balancing primitive (cap the dominant source/label so it
    cannot swamp training). Selection ranks by md5(id:salt) within each
    group: a uniform, reproducible, engine-portable choice, unlike
    ``rand()`` ordering or a bare LIMIT (which picks partition-order
    rows).

    Scale: rank-within-group with rn <= k compiles to Spark's
    WindowGroupLimit — per-partition top-k pruning BEFORE the group
    shuffle, so the exchange carries at most k rows per (group,
    partition), not the whole group."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        _bucket_full_col(id_col, salt), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def capped_per_group_oracle(
    k: int, table: str = "documents", group_col: str = "source",
    id_col: str = "doc_id", salt: str = "cap", cols: str = "*",
) -> str:
    return f"""
    SELECT {cols} FROM (
        SELECT *, row_number() OVER (
            PARTITION BY {group_col}
            ORDER BY md5(CAST({id_col} AS VARCHAR) || ':{salt}'), {id_col}
        ) AS rn
        FROM {table}
    ) WHERE rn <= {k}
    """


_DEFAULT_MIX: dict[str, int] = {"src0": 40, "src1": 30, "src2": 20, "src3": 10}


def token_budget_mix(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    budget_pct: int = 30,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture sampling to a token budget: admit documents
    per-domain, in a deterministic md5 order, until each domain has
    consumed its weighted share of the corpus token budget — the
    "mix domains to target proportions" step of a pretraining data
    pipeline (the published mixture recipes — The Pile, DoReMi — are
    exactly per-domain token budgets).

    ``weights`` maps source → integer weight (must sum to 100); domains
    absent from the map are excluded. The budget base is the total
    whitespace-token count of the *included* domains, scaled by
    ``budget_pct``; each domain's share is
    ``total * budget_pct * weight // 10000`` — all-bigint arithmetic,
    so the admission compare is exact in every engine (no float
    threshold to drift). A document is admitted while the running total
    *before* it is under the share, so every non-empty share admits at
    least one document and the overshoot is bounded by one document.

    Scale shape: one narrow projection computes per-doc token counts
    (higher-order fns, no UDF), one broadcast 1-row total, and one
    window per domain (`PARTITION BY source ORDER BY md5(id)`) for the
    running sum — a single hash shuffle on the domain key. Domains are
    independent, so the cumulative scan parallelizes across them; a
    skewed mega-domain can additionally be range-split by the md5
    prefix, same plumbing. Admission order is md5(id), i.e. a
    reproducible uniform shuffle within each domain — no rand(), no
    seed bookkeeping, identical on every run and engine.

    The reference has no sampling surface; beyond-reference
    LLM-pipeline mandate (same rationale as the rest of this module).
    """
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.text import words_col

    w = dict(_DEFAULT_MIX if weights is None else weights)
    if sum(w.values()) != 100:
        raise ValueError(f"weights must sum to 100, got {sum(w.values())}")
    wexpr = F.lit(None).cast("bigint")
    for src, pct in sorted(w.items()):
        wexpr = F.when(F.col(source_col) == src, F.lit(pct)).otherwise(wexpr)

    d = (
        docs.select(
            F.col(id_col),
            F.col(source_col),
            F.size(words_col(F.col(text_col))).cast("bigint").alias("n_tokens"),
        )
        .withColumn("__w", wexpr)
        .filter(F.col("__w").isNotNull())
    )
    total = d.agg(F.sum("n_tokens").cast("bigint").alias("__total"))
    win = (
        Window.partitionBy(source_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn(
            "cum_tokens_before",
            F.coalesce(F.sum("n_tokens").over(win), F.lit(0)).cast("bigint"),
        )
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("cum_tokens_before")
            < F.expr(f"__total * {int(budget_pct)} * __w div 10000")
        )
        .select(id_col, source_col, "n_tokens", "cum_tokens_before")
    )


def token_budget_mix_oracle(
    table: str = "documents",
    weights: dict[str, int] | None = None,
    budget_pct: int = 30,
) -> str:
    w = dict(_DEFAULT_MIX if weights is None else weights)
    case = " ".join(
        f"WHEN '{src}' THEN {pct}" for src, pct in sorted(w.items())
    )
    return f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               CASE source {case} END AS w
        FROM {table}
    ),
    f AS (SELECT * FROM d WHERE w IS NOT NULL),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM f),
    c AS (
        SELECT f.*, t.total,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_tokens_before
        FROM f, t
    )
    SELECT doc_id, source, n_tokens, cum_tokens_before
    FROM c WHERE cum_tokens_before < (total * {int(budget_pct)} * w) // 10000
    """


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
    n_per_group: int = 16,
    salt: str = "pps",
) -> DataFrame:
    """Deterministic PPS (probability-proportional-to-size) systematic
    sample: exactly ``n_per_group`` picks per group, where a row's
    selection probability is proportional to its INTEGER ``weight_col``
    — the weighted-sampling primitive behind data-mixing recipes
    ("sample documents proportional to token count").  Classic
    systematic PPS: lay the rows on a line in a deterministic
    md5-shuffled order, mark every multiple of total/n, take the row
    each mark lands in; rows heavier than total/n are selected with
    certainty.  Every decision is integer arithmetic
    (``(cum * n) // total`` crossing), so the sample is bit-identical
    in any engine — no rand(), no floats.

    Scale shape (the reason this is NOT one window over the whole
    group): a per-group cumulative sum as a single window would gather
    each group into one reducer.  Instead, two-phase prefix sums — rows
    land in 256 md5 buckets per group; per-(group, bucket) subtotals
    (a <=256-rows-per-group table) get window prefix offsets; the
    within-bucket cumulative sum runs in per-bucket windows joined back
    to the offsets.  Partition sizes are bounded by the bucket split at
    any corpus size, and the result is EXACTLY the single-pass
    cumulative sum because the global order is (bucket, hash, id).

    Overflow bound: ``cum * n_per_group`` must fit a BIGINT — fine to
    ~9e18/n total weight (e.g. 1e14 tokens at n=10k); beyond that,
    scale weights down first."""
    w = F.col(weight_col).cast("bigint")
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    rows = (
        df.where(F.col(weight_col).isNotNull() & (w > 0))
        .select(
            F.col(group_col),
            F.col(id_col),
            w.alias("__w"),
            F.substring(h, 1, 2).alias("__b"),
            F.substring(h, 3, 30).alias("__h"),
        )
    )
    from pyspark.sql import Window

    # phase 1: per-(group, bucket) subtotals -> prefix offsets + totals
    # over a <=256-rows-per-group table (tiny window, never the corpus)
    per_bucket = rows.groupBy(group_col, "__b").agg(
        F.sum("__w").alias("__bw")
    )
    wb = Window.partitionBy(group_col).orderBy("__b")
    offsets = per_bucket.select(
        F.col(group_col),
        F.col("__b"),
        (F.sum("__bw").over(wb) - F.col("__bw")).alias("__off"),
        F.sum("__bw").over(
            Window.partitionBy(group_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("__total"),
    )
    # phase 2: within-bucket cumulative sums + the offset
    wc = Window.partitionBy(group_col, "__b").orderBy("__h", id_col)
    cum = (
        rows.join(offsets, [group_col, "__b"])
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col("__w"),
            (F.col("__off") + F.sum("__w").over(wc)).alias("__cum"),
            F.col("__total"),
        )
    )
    picked = cum.where(
        F.expr(f"(__cum * {n_per_group}) DIV __total")
        > F.expr(f"((__cum - __w) * {n_per_group}) DIV __total")
    )
    return picked.select(
        F.col(group_col),
        F.col(id_col),
        F.col("__w").alias("weight"),
        F.expr(f"CAST((__cum * {n_per_group}) DIV __total AS BIGINT)")
        .alias("pick_idx"),
    )


def pps_systematic_sample_oracle(
    table: str = "documents",
    weight_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
    n_per_group: int = 16,
    salt: str = "pps",
) -> str:
    """DuckDB twin: the two-phase Spark prefix sum equals one window
    ordered by (bucket, hash, id), so the oracle is the single-pass
    formulation — deliberately different structure, identical integers."""
    h = f"md5(CAST({id_col} AS VARCHAR) || ':{salt}')"
    return f"""
WITH rows_w AS (
    SELECT {group_col}, {id_col},
           CAST({weight_col} AS BIGINT) AS w,
           substr({h}, 1, 2) AS b,
           substr({h}, 3, 30) AS hh
    FROM {table}
    WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
),
cum AS (
    SELECT {group_col}, {id_col}, w,
           sum(w) OVER (PARTITION BY {group_col}
                        ORDER BY b, hh, {id_col}
                        ROWS UNBOUNDED PRECEDING) AS c,
           sum(w) OVER (PARTITION BY {group_col}) AS total
    FROM rows_w
)
SELECT {group_col}, {id_col}, w AS weight,
       CAST((c * {n_per_group}) // total AS BIGINT) AS pick_idx
FROM cum
WHERE (c * {n_per_group}) // total
      > ((c - w) * {n_per_group}) // total
"""


def mixture_waterfill(
    docs: DataFrame,
    epoch_cap: int = 2,
    budget_pct: int = 180,
    source_col: str = "source",
    text_col: str = "text",
    weight_sql: str | None = None,
) -> DataFrame:
    """Domain-mixture SOLVER with repeat caps — the planning half of
    data mixing (the sampling half is :func:`token_budget_mix`). Given
    per-domain target weights, a token budget (``budget_pct`` % of the
    available corpus), and a max-epochs cap (no domain may be drawn
    more than ``epoch_cap``× its available tokens — the published
    guidance that repeating data much beyond a few epochs stops
    helping, Muennighoff et al. 2023), compute each domain's token
    draw by WATER-FILLING: domains whose proportional share exceeds
    their capacity are capped, and their unmet demand is redistributed
    proportionally across the uncapped rest, cascading until stable.

    Closed form, not iteration: sort domains by capacity ratio
    ``c_i/w_i`` ascending; the capped set is a PREFIX of that order,
    and the first row k where ``c_k·(P−W_before) ≥ w_k·(B−A_before)``
    (all-BIGINT cross-multiplication — no float water level anywhere)
    marks the cascade's fixpoint: every row before it is capped, and
    the remaining budget ``B−A_before`` spreads over the remaining
    weight ``P−W_before``. If no row passes, the budget exceeds total
    capacity and every domain caps. Draws, epochs and mixture shares
    come out in exact integer arithmetic (floor division), so the
    result is bit-identical on every engine.

    ``weight_sql`` is a SQL expression over the stats row yielding the
    integer target weight per domain (default: a deterministic 1..5
    spread from the source suffix); weight ≤ 0 excludes the domain.

    Scale shape: ONE map-side-combined aggregate collapses the corpus
    to a ≤|domains| stats table; everything after — the sort, prefix
    windows, fixpoint pick (a 1-row ``min_by`` broadcast) and final
    flags — runs over domain-count rows, so nothing downstream of the
    scan grows with data. The reference has no mixing surface;
    beyond-reference LLM-pipeline mandate."""
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.text import words_col

    wsql = weight_sql or _MIX_WEIGHT_SQL.format(source_col=source_col)
    stats = (
        docs.groupBy(source_col)
        .agg(
            F.sum(F.size(words_col(F.col(text_col))).cast("bigint"))
            .cast("bigint").alias("avail_tokens")
        )
        .withColumn("weight", F.expr(wsql).cast("bigint"))
        .filter(F.col("weight") > 0)
        .withColumn(
            "capacity",
            (F.lit(int(epoch_cap)) * F.col("avail_tokens")).cast("bigint"),
        )
    )
    # prefix state in capacity-ratio order (double division is exactly
    # rounded IEEE on both engines, so the order is deterministic;
    # source name breaks exact-ratio ties, which never split a capped
    # boundary because the capped test depends only on the ratio)
    order = [
        (F.col("capacity").cast("double") / F.col("weight")).asc(),
        F.col(source_col).asc(),
    ]
    wall = Window.partitionBy()
    wpre = (
        Window.partitionBy().orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # both the fixpoint pick and the final flags read this ≤|domains|-row
    # table; materialize it once so the corpus aggregate underneath runs
    # ONE scan, not one per consumer
    scanned = materialize(
        stats
        .withColumn("__p", F.sum("weight").over(wall).cast("bigint"))
        .withColumn(
            "__b",
            F.expr(
                f"CAST(sum(avail_tokens) OVER () * {int(budget_pct)}"
                " DIV 100 AS BIGINT)"
            ),
        )
        .withColumn(
            "__a_before",
            F.coalesce(F.sum("capacity").over(wpre), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "__w_before",
            F.coalesce(F.sum("weight").over(wpre), F.lit(0)).cast("bigint"),
        )
        .withColumn("__idx", F.row_number().over(Window.orderBy(*order)))
    )
    # fixpoint: FIRST row in ratio order whose own cap survives the
    # water level implied by capping everything before it
    level = (
        scanned
        .filter(
            F.col("capacity") * (F.col("__p") - F.col("__w_before"))
            >= F.col("weight") * (F.col("__b") - F.col("__a_before"))
        )
        .agg(
            F.min_by(
                F.struct(
                    F.col("__a_before").alias("a_sel"),
                    F.col("__w_before").alias("w_sel"),
                ),
                F.col("__idx"),
            ).alias("__sel")
        )
        .select(
            # no survivor = budget exceeds total capacity: rem_w 0 and
            # a positive rem_b flag every domain as capped below
            F.coalesce(F.col("__sel.a_sel"), F.lit(-1)).alias("a_sel"),
            F.coalesce(F.col("__sel.w_sel"), F.lit(-1)).alias("w_sel"),
        )
    )
    out = (
        scanned.crossJoin(F.broadcast(level))
        .withColumn(
            "__rem_b",
            F.when(F.col("a_sel") >= 0, F.col("__b") - F.col("a_sel"))
            .otherwise(F.lit(1)).cast("bigint"),
        )
        .withColumn(
            "__rem_w",
            F.when(F.col("w_sel") >= 0, F.col("__p") - F.col("w_sel"))
            .otherwise(F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "capped",
            F.col("capacity") * F.col("__rem_w")
            < F.col("weight") * F.col("__rem_b"),
        )
        .withColumn(
            "draw_tokens",
            F.when(F.col("capped"), F.col("capacity"))
            .otherwise(
                F.expr("weight * __rem_b DIV __rem_w")
            ).cast("bigint"),
        )
    )
    return out.select(
        F.col(source_col),
        F.col("weight"),
        F.col("avail_tokens"),
        F.col("capacity"),
        F.col("capped"),
        F.col("draw_tokens"),
        F.expr("draw_tokens * 1000 DIV avail_tokens").cast("bigint")
        .alias("epochs_milli"),
        F.expr("weight * 10000 DIV __p").cast("bigint").alias("target_bp"),
        F.expr("draw_tokens * 10000 DIV (sum(draw_tokens) OVER ())")
        .cast("bigint").alias("realized_bp"),
    )


# deterministic 1..5 target-weight spread from the numeric source
# suffix — same formula on both engines
_MIX_WEIGHT_SQL = (
    "CAST(substr({source_col}, 4) AS BIGINT) % 5 + 1"
)


def mixture_waterfill_oracle(
    table: str = "documents",
    epoch_cap: int = 2,
    budget_pct: int = 180,
    source_col: str = "source",
    weight_sql: str | None = None,
) -> str:
    wsql = weight_sql or _MIX_WEIGHT_SQL.format(source_col=source_col)
    return f"""
    WITH stats AS (
        SELECT {source_col},
               CAST(sum(len(string_split_regex(lower(text), '\\s+')))
                   AS BIGINT) AS avail_tokens,
               CAST({wsql} AS BIGINT) AS weight
        FROM {table}
        GROUP BY {source_col}
        HAVING CAST({wsql} AS BIGINT) > 0
    ),
    scanned AS (
        SELECT *,
               CAST({int(epoch_cap)} * avail_tokens AS BIGINT) AS capacity,
               CAST(sum(weight) OVER () AS BIGINT) AS p,
               CAST(sum(avail_tokens) OVER () * {int(budget_pct)} // 100
                   AS BIGINT) AS b,
               CAST(coalesce(sum({int(epoch_cap)} * avail_tokens) OVER (
                   ORDER BY CAST({int(epoch_cap)} * avail_tokens AS DOUBLE)
                            / weight, {source_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS a_before,
               CAST(coalesce(sum(weight) OVER (
                   ORDER BY CAST({int(epoch_cap)} * avail_tokens AS DOUBLE)
                            / weight, {source_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS w_before,
               row_number() OVER (
                   ORDER BY CAST({int(epoch_cap)} * avail_tokens AS DOUBLE)
                            / weight, {source_col}) AS idx
        FROM stats
    ),
    level AS (
        SELECT coalesce(min_by(a_before, idx), -1) AS a_sel,
               coalesce(min_by(w_before, idx), -1) AS w_sel
        FROM scanned
        WHERE capacity * (p - w_before) >= weight * (b - a_before)
    ),
    flagged AS (
        SELECT s.*,
               CASE WHEN l.a_sel >= 0 THEN s.b - l.a_sel
                    ELSE 1 END AS rem_b,
               CASE WHEN l.w_sel >= 0 THEN s.p - l.w_sel
                    ELSE 0 END AS rem_w
        FROM scanned s, level l
    ),
    drawn AS (
        SELECT *,
               capacity * rem_w < weight * rem_b AS capped,
               CAST(CASE WHEN capacity * rem_w < weight * rem_b
                         THEN capacity
                         ELSE weight * rem_b // rem_w END AS BIGINT)
                   AS draw_tokens
        FROM flagged
    )
    SELECT {source_col}, weight, avail_tokens, capacity, capped,
           draw_tokens,
           CAST(draw_tokens * 1000 // avail_tokens AS BIGINT)
               AS epochs_milli,
           CAST(weight * 10000 // p AS BIGINT) AS target_bp,
           CAST(draw_tokens * 10000 // (sum(draw_tokens) OVER ())
               AS BIGINT) AS realized_bp
    FROM drawn
    """


def curriculum_buckets(
    scored: DataFrame,
    n_buckets: int = 10,
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum binning: rank documents by a quality score and cut
    them into ``n_buckets`` equal-count tiers (easy→hard scheduling, or
    quality-tiered mixing weights). Assignment is ``ntile`` over the
    (score, id) order — the id tie-break makes equal scores land
    deterministically, and ntile's equal-count split is identical on
    both engines. Returns per-bucket ``(bucket, n_docs, min_score,
    max_score)``.

    Scale shape: a global sort for the ntile (one range exchange —
    inherent to exact equal-count tiers; the approximate alternative is
    bucketing on quantile-sketch edges) and one tiny bucket aggregate."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return (
        scored.select(
            F.col(score_col),
            F.ntile(n_buckets).over(w).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(score_col).alias("min_score"),
            F.max(score_col).alias("max_score"),
        )
    )


def curriculum_buckets_oracle(
    scored_sql: str,
    n_buckets: int = 10,
    score_col: str = "quality",
    id_col: str = "doc_id",
) -> str:
    return f"""
WITH scored AS ({scored_sql}),
tiers AS (
    SELECT {score_col},
           ntile({n_buckets}) OVER (ORDER BY {score_col} ASC,
                                    {id_col} ASC) AS bucket
    FROM scored
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       min({score_col}) AS min_score, max({score_col}) AS max_score
FROM tiers GROUP BY bucket
"""
