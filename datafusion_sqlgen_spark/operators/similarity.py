"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN works at 100 TB:

* **cosine_topk** — exact brute force: broadcast the (small) query set,
  one pass over the corpus, per-query top-k via window. The dot product
  is `F.aggregate(F.zip_with(...))` — JVM higher-order functions, no
  Python, no shuffle except the final top-k partial sort. This is the
  baseline and the verifier for the approximate tier.
* **lsh_buckets / cosine_topk_bucketed** — sign-projection LSH: bucket =
  sign bits of the first ``b`` dimensions (a deterministic stand-in for
  random hyperplanes, chosen so the DuckDB oracle can reproduce it
  bit-for-bit). At scale the corpus is bucketed once (one shuffle),
  queries probe only their own bucket — the candidate set shrinks by
  ~2^b — then exact cosine re-ranks.

The approximate tiers (IVF, SQ8, IVF-SQ8, IVF-PQ) are one filter-and-
refine pipeline over (query_id, neighbor_id) pairs, built from shared
stages: the IVF probe is :func:`ivf_assign_multi`, SQ8 codes come from
:func:`_sq8`, every per-query cut (final top-k or ``refine*k``
shortlist) is :func:`_top_n`, and every exact score is
:func:`_exact_cosine` (the shortlist re-rank is :func:`_refine`).

Everything here is oracle-checkable: every DuckDB oracle replays cosine
as the SAME strict left-fold Spark's zip_with dot product evaluates
(:func:`_duck_cos`, repo-wide; ``list_cosine_similarity`` only matches
to ULP noise, which flips ranks and 1e-6 snaps at floor boundaries);
results are rounded before hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.materialize import materialize


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


# SQL-text twins of _dot / _norm / _stable_round: the same folds and the
# same double ops, for the per-row Lloyd-loop expressions that are
# handed to the JVM as ONE ``F.expr`` (a Column composition of the same
# fold costs hundreds of Py4J calls per call site).
def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0D, (acc, v) -> "
        "acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _stable_round_sql(x: str, decimals: int) -> str:
    f = f"CAST({10 ** decimals} AS DOUBLE)"
    return f"(floor(({x}) * {f} + 0.5D) / {f})"


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with both norms precomputed (one array pass per pair
    instead of three). Norms are per-vector: compute them once in the
    projection before a pair join — at n_pairs >> n_vectors this is the
    dominant cost of every pairwise-similarity operator."""
    return _dot(a, b) / (norm_a * norm_b)


def _queries(df: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """Query rows (query_id, qvec, qn, *extra): the vector and its norm."""
    return df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"), *extra,
    )


def _neighbors(df: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """Corpus rows (neighbor_id, cvec, cn, *extra): the vector and its
    norm."""
    return df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"), *extra,
    )


def _exact_cosine(q: DataFrame, c: DataFrame, on: Column | str) -> DataFrame:
    """The exact scorer: :func:`_queries` rows, broadcast, joined to
    :func:`_neighbors` rows on ``on`` and scored as (query_id,
    neighbor_id, cos_sim) by the full-precision cosine."""
    return F.broadcast(q).join(c, on).select(
        "query_id", "neighbor_id",
        cosine_pre(
            F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
        ).alias("cos_sim"),
    )


def _top_n(pairs: DataFrame, n: int, key: Column) -> DataFrame:
    """Per-query cut: the ``n`` best (query_id, neighbor_id) rows by
    ``key``, ties to the lowest neighbor_id, ranked 1..n in ``rnk``."""
    w = Window.partitionBy("query_id").orderBy(key, F.col("neighbor_id").asc())
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= n
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The tiers' output: the top-``k`` of scored pairs by cos_sim,
    rounded to 4 places — (query_id, neighbor_id, cos_sim, rnk)."""
    return _top_n(scored, k, F.col("cos_sim").desc()).select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"),
        "rnk",
    )


def _refine(
    scored: DataFrame,
    key: Column,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shortlist + exact re-rank: cut the ``refine * k`` best candidates
    per query by their approximate ``key``, then re-rank only those by
    exact cosine.  The shortlist (with its query vectors) is the
    broadcast side; the corpus streams past it by neighbor_id."""
    shortlist = _top_n(scored, refine * k, key).select("query_id", "neighbor_id")
    q = shortlist.join(_queries(queries, id_col, vec_col), "query_id")
    c = _neighbors(corpus, id_col, vec_col)
    return _topk(_exact_cosine(q, c, "neighbor_id"), k)


def _sq8(df: DataFrame, prefix: str, id_col: str, vec_col: str, *extra) -> DataFrame:
    """SQ8 codes (<prefix>id, <prefix>scale, <prefix>codes, *extra):
    :func:`quantize_int8`'s symmetric int8 codes, scale = 127/max|x|.
    Zero vectors (NULL scale) are dropped."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    return df.select(
        F.col(id_col).alias(f"{prefix}id"),
        scale.alias(f"{prefix}scale"),
        F.transform(
            v, lambda x: F.round(x.cast("double") * scale).cast("bigint")
        ).alias(f"{prefix}codes"),
        *extra,
    ).where(F.col(f"{prefix}scale").isNotNull())


def _sq8_scored(qq: DataFrame, cq: DataFrame, on: Column) -> DataFrame:
    """SQ8 candidate scores: the broadcast ``q_`` codes joined to the
    ``c_`` codes on ``on``, as (query_id, neighbor_id, __approx) — the
    integer dot of the codes rescaled by both scales.  int8 x int8
    products summed over dim stay far below 2^53, so the dot is exact in
    any summation order."""
    idot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("c_codes"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.broadcast(qq).join(cq, on).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        (idot.cast("double") / (F.col("q_scale") * F.col("c_scale")))
        .alias("__approx"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (must be driver-small — the usual ANN-search
    shape); the corpus is streamed once. Ties broken by neighbor id for
    determinism. Self-matches excluded."""
    scored = _exact_cosine(
        _queries(queries, id_col, vec_col),
        _neighbors(corpus, id_col, vec_col),
        F.col("query_id") != F.col("neighbor_id"),
    )
    return _topk(scored, k)


def cosine_topk_oracle(
    table: str = "embeddings", k: int = 5, max_query_id: int = 10
) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM {table}
               WHERE vec_id < {max_query_id}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.qvec::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM q JOIN {table} c ON q.query_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def lsh_buckets(
    df: DataFrame,
    b: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-projection LSH bucket id: ``b`` sign bits of the first ``b``
    dimensions packed into an int. Deterministic and oracle-reproducible.
    (Swap in random-hyperplane projections for production: same plumbing,
    different projection vectors.)"""
    return df.select(F.col(id_col), _lsh_bucket(b, vec_col).alias("bucket"))


def _lsh_bucket(b: int, vec_col: str) -> Column:
    """The :func:`lsh_buckets` bucket id as a per-row expression."""
    vec = F.col(vec_col)
    bucket = F.lit(0)
    for j in range(b):
        bucket = bucket + (
            F.when(F.element_at(vec, j + 1) >= 0, 1).otherwise(0) * (2 ** j)
        )
    return bucket.cast("int")


def lsh_bucket_stats(
    df: DataFrame, b: int = 4, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Bucket histogram — the candidate-set-size profile of the ANN index."""
    return (
        lsh_buckets(df, b, id_col, vec_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min(id_col).alias("min_vec"))
    )


def lsh_bucket_stats_oracle(table: str = "embeddings", b: int = 4) -> str:
    bits = " + ".join(
        f"(CASE WHEN embedding[{j + 1}] >= 0 THEN 1 ELSE 0 END) * {2 ** j}"
        for j in range(b)
    )
    return f"""
    SELECT CAST({bits} AS INTEGER) AS bucket, count(*) AS n_vecs, min(vec_id) AS min_vec
    FROM {table} GROUP BY 1
    """


def cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    b: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's own LSH bucket, then
    exact cosine re-rank. Recall < 1 by construction; the exact
    ``cosine_topk`` is the verifier."""
    bucket = _lsh_bucket(b, vec_col)
    scored = _exact_cosine(
        _queries(queries, id_col, vec_col, bucket.alias("bucket")),
        _neighbors(corpus, id_col, vec_col, bucket.alias("cbucket")),
        (F.col("bucket") == F.col("cbucket"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _topk(scored, k)


def cosine_topk_bucketed_oracle(
    table: str = "embeddings", k: int = 5, b: int = 4, max_query_id: int = 10
) -> str:
    bits = " + ".join(
        f"(CASE WHEN embedding[{j + 1}] >= 0 THEN 1 ELSE 0 END) * {2 ** j}"
        for j in range(b)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, CAST({bits} AS INTEGER) AS bucket FROM {table}
    ),
    q AS (SELECT vec_id AS query_id, bucket, embedding AS qvec FROM bucketed
          WHERE vec_id < {max_query_id}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.qvec::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM q JOIN bucketed c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def _codebook(
    centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The ONE-row broadcast codebook ``__cb`` =
    array<(cell_id, centroid, __cn)> of an (id_col, vec_col) centroid
    table, each centroid's norm computed once here.  A frame that
    already is a codebook (column ``__cb``, e.g. the trained one from
    :func:`_kmeans_centroids`) passes through unchanged."""
    if "__cb" in centroids.columns:
        return centroids
    return centroids.agg(F.expr(
        f"collect_list(named_struct('cell_id', `{id_col}`, "
        f"'centroid', `{vec_col}`, '__cn', {_norm_sql(f'`{vec_col}`')})) "
        "AS __cb"
    ))


def _cells_from_means_sql(field: str) -> str:
    """Aggregate expression: the (cell_id, pos, m) means of a group as
    array<(cell_id, <field> = array of m in pos order)>.

    The means are collected and sorted (by cell, then pos) ONCE and
    bound to ``s`` by a one-element ``transform``.  Every vector of the
    group has the same dimension d, so every present cell holds exactly
    d means and the j-th present cell is the slice [j*d, (j+1)*d) of
    ``s``, with d = the last entry's pos + 1: O(k*d) after the one
    O(k*d log(k*d)) sort, not one scan of all k*d means per cell."""
    means = "array_sort(collect_list(struct(cell_id, pos, m)))"
    d = "(element_at(s, -1).pos + 1)"
    return (
        f"transform(array({means}), s -> transform("
        "array_distinct(transform(s, e -> e.cell_id)), (c, j) -> "
        f"named_struct('cell_id', c, '{field}', "
        f"transform(slice(s, j * {d} + 1, {d}), e -> e.m))))[0]"
    )


def _codebook_from_means(means: DataFrame) -> DataFrame:
    """The one-row codebook straight from Lloyd's (cell_id, pos, m)
    component means: ONE global aggregate — no (cell_id) regroup
    shuffle before the next iteration's broadcast."""
    return means.agg(F.expr(
        f"transform({_cells_from_means_sql('centroid')}, e -> named_struct("
        "'cell_id', e.cell_id, 'centroid', e.centroid, "
        f"'__cn', {_norm_sql('e.centroid')})) AS __cb"
    ))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (IVF cell).

    ``centroids`` is an (id_col, vec_col) table or a one-row codebook
    (:func:`_codebook`); ties break to the lowest cell id.

    Shape: the whole centroid table rides in as ONE broadcast row
    (IVF cell counts are small by design — sqrt(n) cells for n vectors
    is the usual rule) and the argmax is a per-row array fold — one
    zero-shuffle narrow map over the corpus, no join key, no window.
    The fold, with its two norms and the snap, is a single SQL
    expression (:func:`_scored_cells_sql`): ``array_min`` of
    (-snapped cosine, cell) structs = highest cosine, lowest cell on
    ties.  The vector norm is computed once per row, the centroid norms
    once per codebook.  The ranking key snaps
    to 1e-6 fixed point BEFORE the argmax: the DuckDB twins fold
    bit-exactly, and the snap keeps the assignment robust to any
    future fold-order divergence."""
    return df.crossJoin(
        F.broadcast(_codebook(centroids, id_col, vec_col))
    ).select(id_col, vec_col, F.expr(
        f"array_min({_scored_cells_sql(vec_col)}).cell"
    ).alias("cell_id"))


def _scored_cells_sql(vec_col: str) -> str:
    """Per-row array of (negsim, cell) structs over the broadcast
    codebook ``__cb``, the cosine snapped to 1e-6 — sorted ascending it
    is nearest-first with lowest-cell tie-breaks.  The row's vector norm
    is computed once and bound to ``vn`` (a one-element ``transform``),
    not once per centroid."""
    v = f"`{vec_col}`"
    cos = f"{_dot_sql(v, 'c.centroid')} / (vn * c.__cn)"
    return (
        f"transform(array({_norm_sql(v)}), vn -> transform(__cb, c -> "
        f"named_struct('negsim', -{_stable_round_sql(cos, 6)}, "
        "'cell', c.cell_id)))[0]"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` cells by nearest centroid, probe only the query's own
    cell, exact cosine re-rank inside it.

    Default centroids are the first ``n_cells`` corpus vectors — a
    deterministic stand-in for k-means; pass ``centroids`` (an
    (id_col, vec_col) frame, e.g. kmeans-trained — see
    ivf_topk_trained) for a real index. The cell assignment is the
    *index build* (one pass, done once at 100 TB and persisted, e.g.
    written bucketed-by-cell); the probe join is then cell-equi and
    touches 1/n_cells of the corpus per query."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_cells)
    c_assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    q_assigned = ivf_assign(queries, centroids, id_col, vec_col)
    scored = _exact_cosine(
        _queries(q_assigned, id_col, vec_col, "cell_id"),
        _neighbors(c_assigned, id_col, vec_col, F.col("cell_id").alias("c_cell")),
        (F.col("cell_id") == F.col("c_cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _topk(scored, k)


def ivf_topk_oracle(
    table: str = "embeddings", k: int = 5, n_cells: int = 8, max_query_id: int = 10
) -> str:
    return f"""
    WITH cents AS (
        SELECT vec_id AS cell_id, embedding AS centroid FROM {table}
        WHERE vec_id < {n_cells}
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, cell_id, embedding AS qvec FROM assigned
          WHERE vec_id < {max_query_id}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.qvec::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM q JOIN assigned c
          ON q.cell_id = c.cell_id AND q.query_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def embedding_norm_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label L2-norm statistics — the sanity profile of an embedding
    table (detects unnormalized / degenerate batches before indexing)."""
    norm = _norm(F.col(vec_col))
    return (
        df.select(F.col(label_col), norm.alias("norm"))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


def embedding_norm_stats_oracle(table: str = "embeddings") -> str:
    return f"""
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x)))), 4) AS avg_norm,
           round(min(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x)))), 4) AS min_norm,
           round(max(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x)))), 4) AS max_norm
    FROM {table} GROUP BY label
    """


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    audit: scale = 127 / max|x|, q_i = round(x_i * scale), and the
    max absolute dequantization error |q_i/scale - x_i| — the compression
    step before an ANN index ships to serving (4x smaller than float32).

    All element math is JVM higher-order functions (transform/zip_with/
    aggregate) inside whole-stage codegen — a narrow per-row map, no
    shuffle, no Python. Cross-engine determinism: floats are promoted to
    double before multiplying, and both engines round doubles half away
    from zero, so the quantized codes are bit-identical to the oracle.
    (A zero vector would make the scale NULL via nullif rather than inf;
    the driver corpus has none.)
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / F.nullif(maxabs, F.lit(0.0))
    q = F.transform(v, lambda x: F.round(x.cast("double") * scale))
    err = F.array_max(
        F.zip_with(
            q, v, lambda qi, xi: F.abs(qi / scale - xi.cast("double"))
        )
    )
    return df.select(
        F.col(id_col),
        F.round(scale, 4).alias("scale"),
        F.aggregate(
            q, F.lit(0.0), lambda acc, x: acc + x
        ).cast("bigint").alias("q_sum"),
        F.round(err, 6).alias("max_abs_err"),
    )


def quantize_int8_oracle(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return f"""
    WITH m AS (
        SELECT {id_col}, {vec_col},
               127.0 / nullif(list_max(list_transform({vec_col},
                                  x -> abs(CAST(x AS DOUBLE)))), 0) AS scale
        FROM {table}
    )
    SELECT {id_col},
           round(scale, 4) AS scale,
           CAST(list_sum(list_transform({vec_col},
                    x -> round(CAST(x AS DOUBLE) * scale))) AS BIGINT) AS q_sum,
           round(list_max(list_transform({vec_col},
                    x -> abs(round(CAST(x AS DOUBLE) * scale) / scale
                             - CAST(x AS DOUBLE)))), 6) AS max_abs_err
    FROM m
    """


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 approximate search: the scalar-quantization tier between
    brute force and IVF-PQ (FAISS's ``SQ8`` index shape).  Each vector
    is symmetrically quantized to int8 codes (``quantize_int8``'s
    math: scale = 127/max|x|); the shortlist ranks candidates by the
    INTEGER dot product of the code arrays rescaled by the two scales,
    and only the ``refine * k`` best are re-ranked with exact float
    cosine.

    Scale shape: quantization is a narrow in-row map (no shuffle);
    queries broadcast; the shortlist pass streams the corpus once and
    shuffles only (query_id, neighbor_id, approx) scalar rows — never
    vectors — and the exact re-rank touches ``refine*k`` original
    vectors per query via a broadcast semi-lookup.  The 100-TB win is
    bandwidth: the scoring pass reads dim BYTES per row instead of
    4*dim, one quarter of the scan.

    Determinism: int8 x int8 products summed over dim stay far below
    2^53, so the dot product is EXACT in both engines regardless of
    summation order (the order-free trick fixed-point ADC uses, for
    free); ties break on neighbor_id; the re-rank rounds like the
    other tiers.  Zero vectors quantize to NULL scale (nullif) and are
    excluded rather than divide-by-zero."""
    scored = _sq8_scored(
        _sq8(queries, "q_", id_col, vec_col),
        _sq8(corpus, "c_", id_col, vec_col),
        F.col("q_id") != F.col("c_id"),
    )
    return _refine(
        scored, F.col("__approx").desc(), queries, corpus, k, refine,
        id_col, vec_col,
    )


def sq8_topk_oracle(
    table: str = "embeddings",
    k: int = 5,
    refine: int = 4,
    max_query_id: int = 10,
) -> str:
    """DuckDB twin of :func:`sq8_topk`.  ``list_dot_product`` over the
    code arrays cast to DOUBLE is exact (integer values far below
    2^53), so the shortlist is engine-identical; the re-rank replays
    the exact-cosine formulation of the other tiers."""
    quant = """
        SELECT vec_id,
               127.0 / nullif(list_max(list_transform(embedding,
                                  x -> abs(CAST(x AS DOUBLE)))), 0) AS scale,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE)
                              * (127.0 / nullif(list_max(list_transform(
                                    embedding, y -> abs(CAST(y AS DOUBLE)))),
                                    0)))) AS codes
        FROM {table}
    """.format(table=table)
    return f"""
    WITH cq AS ({quant}),
    qq AS (SELECT * FROM cq WHERE vec_id < {max_query_id}
                              AND scale IS NOT NULL),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.codes, c.codes)
                   / (q.scale * c.scale) AS approx
        FROM qq q JOIN cq c
          ON q.vec_id <> c.vec_id AND c.scale IS NOT NULL
    ),
    shortlist AS (
        SELECT query_id, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY approx DESC,
                                                 neighbor_id ASC) AS rn
              FROM scored)
        WHERE rn <= {refine * k}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               {_duck_cos('q.embedding::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM shortlist s
        JOIN {table} q ON q.vec_id = s.query_id
        JOIN {table} c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM (SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC,
                                             neighbor_id ASC) AS rnk
          FROM rer)
    WHERE rnk <= {k}
    """


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    n_iter: int = 1,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-SQ8 approximate search — the FAISS ``IVFx,SQ8`` shape that
    completes this module's index ladder (brute force → LSH → IVF →
    SQ8 → PQ → IVF-PQ → IVF-SQ8): trained k-means coarse cells bound
    WHICH vectors are scored (nprobe/n_cells of the corpus), SQ8
    integer codes bound HOW MUCH is read per scored row (dim bytes,
    not 4·dim), and only ``refine*k`` candidates per query touch their
    original float vectors at re-rank.

    Scale shape: the index build (Lloyd loop + cell assignment + SQ8
    codes) is broadcast-join passes over the corpus — persisted/
    bucketed in production; at query time every join is against a
    broadcast side (the quantized queries, one row per probed cell; the
    refine·k shortlist), and the ADC pass shuffles only scalar
    (query, neighbor, approx) rows.  Determinism: the probe is
    :func:`ivf_assign_multi` (1e-6-snapped cosine, lowest cell on
    ties); the integer dot is exact in any summation order (int8
    products never lose bits in a double sum); shortlist ties break on
    ids; the re-rank rounds like every other tier."""
    _, coarse = _kmeans_centroids(corpus, n_cells, n_iter, id_col, vec_col, 6)
    codes = _sq8(ivf_assign(corpus, coarse, id_col, vec_col), "c_",
                 id_col, vec_col, "cell_id")
    # one quantized query row per probed cell: its nprobe nearest cells
    probes = _sq8(ivf_assign_multi(queries, coarse, nprobe, id_col, vec_col),
                  "q_", id_col, vec_col, F.col("cell_id").alias("q_cell"))
    scored = _sq8_scored(
        probes, codes,
        (F.col("q_cell") == F.col("cell_id"))
        & (F.col("q_id") != F.col("c_id")),
    )
    return _refine(
        scored, F.col("__approx").desc(), queries, corpus, k, refine,
        id_col, vec_col,
    )


def ivf_sq8_topk_oracle(
    table: str = "embeddings",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    n_iter: int = 1,
    refine: int = 4,
    max_query_id: int = 10,
) -> str:
    """DuckDB twin of :func:`ivf_sq8_topk`: the Lloyd CTE chain feeds
    cell assignment, SQ8 quantization replays per-vector, the probe
    ranks trained centroids per query, and the integer-dot shortlist
    is exact in any order (int8 products in a double sum)."""
    kmeans = _kmeans_ctes(table, n_cells, n_iter, 6)
    return f"""
    WITH {kmeans},
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    ),
    codes AS (
        SELECT vec_id, cell_id,
               127.0 / nullif(list_max(list_transform(embedding,
                                  x -> abs(CAST(x AS DOUBLE)))), 0) AS scale,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE)
                              * (127.0 / nullif(list_max(list_transform(
                                    embedding, y -> abs(CAST(y AS DOUBLE)))),
                                    0)))) AS qc
        FROM assigned
    ),
    qcells AS (
        SELECT query_id, cell_id FROM (
            SELECT q.vec_id AS query_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_round(_duck_cos('q.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} q CROSS JOIN c{n_iter} c
            WHERE q.vec_id < {max_query_id}
        ) WHERE rn <= {nprobe}
    ),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               list_dot_product(qq.qc, c.qc) / (qq.scale * c.scale) AS approx
        FROM qcells p
        JOIN codes qq ON qq.vec_id = p.query_id
        JOIN codes c ON c.cell_id = p.cell_id AND c.vec_id <> p.query_id
        WHERE qq.scale IS NOT NULL AND c.scale IS NOT NULL
    ),
    shortlist AS (
        SELECT query_id, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY approx DESC,
                                                 neighbor_id ASC) AS rn
              FROM scored)
        WHERE rn <= {refine * k}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               {_duck_cos('q.embedding::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM shortlist s
        JOIN {table} q ON q.vec_id = s.query_id
        JOIN {table} c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM (SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC,
                                             neighbor_id ASC) AS rnk
          FROM rer)
    WHERE rnk <= {k}
    """


def recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN quality audit: recall@k of the IVF index versus exact
    brute-force top-k, per query. The standard acceptance gate before
    swapping an approximate index into a retrieval pipeline — run it on
    a sampled query set, alert when recall drifts below target.

    Composition of the two existing operators: ``ivf_topk`` (probe-own-
    cell) inner-joined to ``cosine_topk`` (ground truth) on the
    (query, neighbor) pair, counted per query. The exact side broadcasts
    the same query set, so at scale this costs one extra corpus pass —
    an audit run, not a serving path."""
    exact = cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(corpus, queries, k, n_cells, id_col, vec_col)
    return _recall(exact, approx, k)


def _recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query (query_id, n_hits, recall_at_k) of the ``approx``
    (query_id, neighbor_id) pairs against the ``exact`` ones."""
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"], "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    # queries whose approx set misses ALL exact neighbors still need a row
    base = exact.select("query_id").distinct()
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k), 4
            ).alias("recall_at_k"),
        )
    )


def recall_at_k_oracle(
    table: str = "embeddings", k: int = 5, n_cells: int = 8,
    max_query_id: int = 10,
) -> str:
    exact = cosine_topk_oracle(table, k, max_query_id)
    approx = ivf_topk_oracle(table, k, n_cells, max_query_id)
    return f"""
    WITH exact_tk AS ({exact}),
    approx_tk AS ({approx}),
    hits AS (
        SELECT e.query_id, count(*) AS n_hits
        FROM exact_tk e
        WHERE EXISTS (
            SELECT 1 FROM approx_tk a
            WHERE a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
        )
        GROUP BY e.query_id
    )
    SELECT b.query_id,
           coalesce(h.n_hits, 0) AS n_hits,
           round(coalesce(h.n_hits, 0) / {k}::DOUBLE, 4) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM exact_tk) b
    LEFT JOIN hits h USING (query_id)
    """


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Lloyd's k-means centroid training as pure DataFrame ops — the
    index-build step that upgrades ``ivf_topk``'s first-k stand-in
    centroids to trained ones. Deterministic: seeding is the k lowest-id
    vectors, assignment ties break to the lowest cell, and each
    centroid component is rounded to ``decimals`` after the mean so
    float summation order (Spark partial aggregation vs any other
    engine) cannot drift the next assignment.

    Output is flattened to (cell_id, pos, component, n_members) rows —
    hashable row-at-a-time, no array columns in the contract.  Those
    rows ARE the last iteration's pinned (cell_id, pos) means, so the
    output needs no posexplode of centroid arrays; n_members is one
    more broadcast assignment pass against the trained codebook,
    counted per cell and broadcast-joined onto the k*d means.

    Scale shape per iteration (:func:`_kmeans_centroids`): the k x d
    codebook rides in as one broadcast row, the argmax-assign is one
    corpus pass (no corpus shuffle), component means are one
    (cell, pos)-keyed partial aggregation of k*d groups, and the next
    codebook is one global collect of those means.  Iterations are a
    fixed small count — the loop is depth-bounded, not data-bounded.
    Empty cells drop out deterministically in both engines."""
    means, cb = _kmeans_centroids(corpus, k, n_iter, id_col, vec_col, decimals)
    counts = ivf_assign(corpus, cb, id_col, vec_col).groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return means.join(F.broadcast(counts), "cell_id", "left").select(
        "cell_id", "pos", F.col("m").alias("component"),
        F.coalesce(F.col("n_members"), F.lit(0)).cast("bigint")
        .alias("n_members"),
    )


def kmeans_quality(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality diagnostic over a trained k-means fit —
    the signal that tunes SemDeDup's cell granularity and the IVF
    nprobe/recall trade: for each cell, its COHESION (mean member
    cosine to its own centroid) and SEPARATION (the highest cosine
    between its centroid and any OTHER centroid).  A cell whose
    cohesion is not comfortably above its separation bleeds neighbors
    across the boundary — semantic dedup misses pairs there and IVF
    needs more probes.

    Scale shape: training and assignment reuse the zero-corpus-shuffle
    ``_kmeans_centroids``/``ivf_assign`` machinery (broadcast k x d
    codebook); cohesion is one map-side-combined aggregate keyed on
    cell_id; separation is a k x k centroid cross — bounded by the
    codebook, never the corpus.  Determinism: each member cosine snaps
    to 1e-6 FIXED-POINT BIGINT before the per-cell SUM (integer sums
    are order-free, so Spark's partial aggregation and any other
    engine agree bit-for-bit), and the mean is one integer division
    materialized as DOUBLE at the end; separations snap the same way.

    Returns (cell_id, n_members, cohesion, separation).
    """
    _, codebook = _kmeans_centroids(corpus, k, n_iter, id_col, vec_col, 6)
    assigned = ivf_assign(corpus, codebook, id_col, vec_col)
    cb = codebook.selectExpr("inline(__cb)")  # (cell_id, centroid, __cn)
    scaled = F.floor(
        cosine_pre(F.col(vec_col), F.col("centroid"),
                   _norm(F.col(vec_col)), F.col("__cn"))
        * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    cohesion = (
        assigned.join(F.broadcast(cb), "cell_id")
        .select("cell_id", scaled.alias("__c"))
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("__c").alias("__s"),
        )
        .select(
            "cell_id", "n_members",
            (F.col("__s").cast("double")
             / F.col("n_members") / F.lit(1e6)).alias("cohesion"),
        )
    )
    a = cb.select(F.col("cell_id").alias("ca"),
                  F.col("centroid").alias("va"), F.col("__cn").alias("na"))
    b = cb.select(F.col("cell_id").alias("cb"),
                  F.col("centroid").alias("vb"), F.col("__cn").alias("nb"))
    pair_sim = F.floor(
        cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    separation = (
        a.crossJoin(F.broadcast(b))  # k x k centroid grid, codebook-bounded
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("cell_id"), pair_sim.alias("__p"))
        .groupBy("cell_id")
        .agg((F.max("__p").cast("double") / F.lit(1e6))
             .alias("separation"))
    )
    return (
        cohesion.join(separation, "cell_id")
        .select("cell_id", "n_members", "cohesion", "separation")
    )


def kmeans_quality_oracle(
    table: str = "embeddings", k: int = 8, n_iter: int = 2
) -> str:
    """DuckDB twin over the shared Lloyd CTE chain: same snapped
    assignment, cohesion as the identical fixed-point integer sum
    (order-free), separation as the explicit k x k pair max."""
    kmeans = _kmeans_ctes(table, k, n_iter, 6)
    mem_cos = _duck_cos("a.embedding::DOUBLE[]", "c.centroid::DOUBLE[]")
    pair_cos = _duck_cos("x.centroid", "y.centroid")
    return f"""
    WITH {kmeans},
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    ),
    coh AS (
        SELECT a.cell_id,
               count(*) AS n_members,
               sum(CAST(floor({mem_cos} * 1000000 + 0.5) AS BIGINT))
                   AS s
        FROM assigned a JOIN c{n_iter} c USING (cell_id)
        GROUP BY a.cell_id
    ),
    sep AS (
        SELECT x.cell_id,
               max(CAST(floor({pair_cos} * 1000000 + 0.5) AS BIGINT))
                   AS p
        FROM c{n_iter} x JOIN c{n_iter} y ON x.cell_id <> y.cell_id
        GROUP BY x.cell_id
    )
    SELECT coh.cell_id, coh.n_members,
           (CAST(s AS DOUBLE) / n_members) / 1000000 AS cohesion,
           CAST(p AS DOUBLE) / 1000000 AS separation
    FROM coh JOIN sep USING (cell_id)
    """


def _kmeans_centroids(
    corpus: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    decimals: int,
) -> tuple[DataFrame, DataFrame]:
    """The Lloyd loop itself (see kmeans_fit for the contract).

    Returns ``(means, codebook)``: the last iteration's (cell_id, pos,
    m) component means, pinned, and the one-row broadcast codebook
    derived from them (:func:`_codebook_from_means`) that every
    consumer assigns against.

    Shape per iteration — one codebook step: the broadcast assignment
    (:func:`ivf_assign`, no corpus shuffle), ONE (cell_id, pos)-keyed
    partial aggregation of k*d means, and ONE global collect of those
    means into the next broadcast row; nothing regroups by cell.  The
    pin cuts the whole chain once: every later consumer (assignment
    counts, probes, cohesion, the flattened fit) reads the cached k*d
    means instead of re-running training."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    cb = _codebook(corpus.filter(F.col(id_col) < k), id_col, vec_col)
    for i in range(n_iter):
        means = (
            ivf_assign(corpus, cb, id_col, vec_col)
            .selectExpr("cell_id", f"posexplode(`{vec_col}`) AS (pos, val)")
            .groupBy("cell_id", "pos")
            .agg(F.expr(_stable_round_sql("avg(val)", decimals)).alias("m"))
        )
        if i == n_iter - 1:
            means = materialize(means, eager=False)
        cb = _codebook_from_means(means)
    return means, cb


def ivf_assign_multi(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF assignment: each vector gets its ``nprobe``
    NEAREST cells (by cosine, lowest-cell tie-break), one output row per
    (vector, probed cell).  Same zero-shuffle shape and the same snapped
    ranking key as :func:`ivf_assign` — the per-vector top-nprobe is an
    in-row sort+slice+explode, never a join or window."""
    probes = f"slice(array_sort({_scored_cells_sql(vec_col)}), 1, {nprobe})"
    return (
        df.crossJoin(F.broadcast(_codebook(centroids, id_col, vec_col)))
        .select(id_col, vec_col, F.explode(F.expr(probes)).alias("__p"))
        .select(id_col, vec_col, F.col("__p")["cell"].alias("cell_id"))
    )


def ann_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus approximate-nearest-neighbor JOIN: for EVERY left
    vector, its top-``k`` right vectors by cosine — the primitive behind
    cross-corpus near-dup sweeps, retrieval-augmented labeling, and
    train/eval contamination checks at embedding level.

    This is NOT :func:`ivf_topk` with a big query batch: that operator
    broadcasts the query side (right for ad-hoc search, fatal when the
    "queries" are themselves a corpus).  Here NEITHER side broadcasts —
    right is assigned to its one nearest cell (the index build: one
    narrow pass, persisted/bucketed-by-cell at 100 TB), left is
    assigned to its ``nprobe`` nearest cells (multi-probe bounds the
    recall loss of single-cell probing), and the join is pure
    cell-equi: both sides shuffle ONCE on cell_id and the comparison
    count is Σ_cells |left probes in cell| × |right in cell| instead of
    |left| × |right|.  Top-k per left row is one window inside the
    join's own partitioning.  Only the sqrt(n)-sized centroid table is
    ever broadcast (inside the assignment folds).  Ties break to the
    lowest neighbor id; rows whose probed cells are empty of right
    vectors emit nothing (the documented ANN recall trade, audited by
    recall_at_k)."""
    if centroids is None:
        # the n_cells lowest-id right vectors — deterministic stand-in
        # for k-means (pass trained centroids for a real index)
        centroids = right.orderBy(F.col(id_col)).limit(n_cells)
    r = _neighbors(ivf_assign(right, centroids, id_col, vec_col),
                   id_col, vec_col, "cell_id")
    l = _queries(ivf_assign_multi(left, centroids, nprobe, id_col, vec_col),
                 id_col, vec_col, "cell_id")
    # snap the ranking key to 1e-6 fixed point BEFORE the window (the
    # _stable_round rule: a raw-double near-tie at the k boundary must
    # break on neighbor id in every engine).  The snap alone does NOT
    # close the boundary class — a 1-ULP cross-engine difference landing
    # AT a floor boundary snaps to adjacent cells — so ann_join_oracle
    # replays the identical strict left-fold cosine (_duck_cos) in every
    # window: raw doubles are bit-identical first, and the snap is
    # defense-in-depth on top
    sim = _stable_round(
        cosine_pre(F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")),
        6,
    )
    pairs = l.join(r, "cell_id").select(
        "query_id", "neighbor_id", sim.alias("cos_sim")
    )
    # the output round must ALSO be the floor formulation: snapping to
    # 1e-6 manufactures exact ....x5 values at 4 decimals, where Spark's
    # round (HALF_UP on the decimal string) and DuckDB's (binary)
    # disagree
    return _top_n(pairs, k, F.col("cos_sim").desc()).select(
        "query_id", "neighbor_id",
        _stable_round(F.col("cos_sim"), 4).alias("cos_sim"), "rnk",
    )


def ann_join_oracle(
    table: str = "embeddings",
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    left_pred: str = "vec_id % 2 = 1",
    right_pred: str = "vec_id % 2 = 0",
) -> str:
    """DuckDB replay over a left/right split of ``table``: centroids are
    the first ``n_cells`` RIGHT vectors, right side single-assigned,
    left side top-``nprobe``-assigned, cell-equi join, top-k window."""
    return f"""
    WITH rt AS (SELECT vec_id, embedding FROM {table} WHERE {right_pred}),
    lt AS (SELECT vec_id, embedding FROM {table} WHERE {left_pred}),
    cents AS (
        SELECT vec_id AS cell_id, embedding AS centroid FROM rt
        ORDER BY vec_id LIMIT {n_cells}
    ),
    r_assigned AS (
        SELECT vec_id AS neighbor_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos(
                               't.embedding::DOUBLE[]',
                               'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM rt t CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    l_assigned AS (
        SELECT vec_id AS query_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos(
                               't.embedding::DOUBLE[]',
                               'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM lt t CROSS JOIN cents c
        ) WHERE rn <= {nprobe}
    ),
    scored AS (
        -- _duck_cos (bit-exact fold twin of cosine_pre, ADVICE r9 —
        -- every assignment window above too), then the ranking key
        -- snapped to 1e-6 fixed point (the _stable_round floor
        -- formula) BEFORE the window, mirroring ann_join
        SELECT l.query_id, r.neighbor_id,
               {_duck_round(_duck_cos('l.embedding::DOUBLE[]',
                                      'r.embedding::DOUBLE[]'), 6)}
                   AS cos_sim
        FROM l_assigned l JOIN r_assigned r USING (cell_id)
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC)
                   AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id,
           floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def ann_join_recall(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Acceptance audit for :func:`ann_join`: per left-sample vector,
    recall@k of the multi-probe cell join versus exact brute force over
    the right corpus.  Run on a SAMPLED left side (the audit shape —
    the brute-force ground truth broadcasts the sample and streams the
    right corpus once); tune ``nprobe``/``n_cells`` until recall holds,
    then serve with :func:`ann_join` on the full left corpus.  Same
    per-query output contract as :func:`recall_at_k`."""
    exact = cosine_topk(right, left, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ann_join(left, right, k, n_cells, nprobe, id_col, vec_col)
    return _recall(exact, approx, k)


def ann_join_recall_oracle(
    table: str = "embeddings",
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    left_pred: str = "vec_id % 2 = 1",
    right_pred: str = "vec_id % 2 = 0",
) -> str:
    approx = ann_join_oracle(table, k, n_cells, nprobe, left_pred,
                             right_pred)
    return f"""
    WITH exact_tk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY {_duck_cos('l.embedding::DOUBLE[]',
                                           'r.embedding::DOUBLE[]')}
                           DESC, r.vec_id ASC) AS rnk
            FROM (SELECT * FROM {table} WHERE {left_pred}) l
            CROSS JOIN (SELECT * FROM {table} WHERE {right_pred}) r
            WHERE l.vec_id <> r.vec_id
        ) WHERE rnk <= {k}
    ),
    approx_tk AS ({approx}),
    hits AS (
        SELECT e.query_id, count(*) AS n_hits
        FROM exact_tk e
        WHERE EXISTS (
            SELECT 1 FROM approx_tk a
            WHERE a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
        )
        GROUP BY e.query_id
    )
    SELECT b.query_id,
           coalesce(h.n_hits, 0) AS n_hits,
           round(coalesce(h.n_hits, 0) / {k}::DOUBLE, 4) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM exact_tk) b
    LEFT JOIN hits h USING (query_id)
    """


def ivf_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over TRAINED centroids: the full index-build + search
    composition (kmeans_fit's Lloyd loop feeding ivf_topk's
    probe-own-cell join). Same scale shape as ivf_topk — the training
    adds its fixed iteration cost up front, amortized over every query
    at serving time."""
    _, cb = _kmeans_centroids(corpus, n_cells, n_iter, id_col, vec_col, 6)
    return ivf_topk(
        corpus, queries, k, n_cells, id_col, vec_col, centroids=cb
    )


def ivf_topk_trained_oracle(
    table: str = "embeddings",
    k: int = 5,
    n_cells: int = 8,
    n_iter: int = 2,
    max_query_id: int = 10,
) -> str:
    kmeans = _kmeans_ctes(table, n_cells, n_iter, 6)
    return f"""
    WITH {kmeans},
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, cell_id, embedding AS qvec FROM assigned
          WHERE vec_id < {max_query_id}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_duck_cos('q.qvec::DOUBLE[]', 'c.embedding::DOUBLE[]')} AS cos_sim
        FROM q JOIN assigned c
          ON q.cell_id = c.cell_id AND q.query_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def _kmeans_ctes(table: str, k: int, n_iter: int, decimals: int) -> str:
    """The Lloyd-loop CTE chain shared by kmeans_fit_oracle and
    ivf_topk_trained_oracle; the final centroid relation is c{n_iter}."""

    def assign(cent_cte: str) -> str:
        return f"""
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN {cent_cte} c
        ) WHERE rn = 1"""

    ctes = [
        f"c0 AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS centroid "
        f"FROM {table} WHERE vec_id < {k})"
    ]
    for i in range(n_iter):
        ctes.append(f"a{i + 1} AS ({assign(f'c{i}')})")
        ctes.append(f"""comp{i + 1} AS (
            SELECT cell_id, pos, round(avg(val), {decimals}) AS m
            FROM (SELECT cell_id,
                         generate_subscripts(embedding, 1) - 1 AS pos,
                         unnest(embedding) AS val
                  FROM a{i + 1})
            GROUP BY cell_id, pos)""")
        ctes.append(
            f"c{i + 1} AS (SELECT cell_id, list(m ORDER BY pos) AS centroid "
            f"FROM comp{i + 1} GROUP BY cell_id)"
        )
    return ",\n".join(ctes)


def kmeans_fit_oracle(
    table: str = "embeddings",
    k: int = 8,
    n_iter: int = 2,
    decimals: int = 6,
) -> str:
    """Iteration-unrolled DuckDB twin: one assign+mean CTE pair per
    Lloyd iteration (positions 0-based to match posexplode)."""
    kmeans = _kmeans_ctes(table, k, n_iter, decimals)
    return f"""
    WITH {kmeans},
    afinal AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    ),
    counts AS (SELECT cell_id, count(*) AS n_members
               FROM afinal GROUP BY cell_id)
    SELECT f.cell_id,
           CAST(generate_subscripts(f.centroid, 1) - 1 AS INT) AS pos,
           unnest(f.centroid) AS component,
           coalesce(co.n_members, 0) AS n_members
    FROM c{n_iter} f LEFT JOIN counts co USING (cell_id)
    """


def _stable_round(c: Column, decimals: int) -> Column:
    """Engine-identical half-up rounding on doubles:
    ``floor(x * 10^n + 0.5) / 10^n`` — pure IEEE double ops, so two
    engines given the SAME double produce the same result.  Built-in
    ``round`` does NOT have this property: Spark rounds the shortest
    decimal string HALF_UP while DuckDB rounds the binary value, which
    diverges deterministically at representable-boundary values (the
    sf0.1 sweep caught exactly this on pq_encode distances — same class
    as the documented workloads._money hazard)."""
    f = float(10 ** decimals)
    return F.floor(c * F.lit(f) + F.lit(0.5)) / F.lit(f)


def _l2_dist(a: Column, b: Column, decimals: int) -> Column:
    """Euclidean distance, stabilized for rank AND value equality.  The
    DuckDB twin (:func:`_duck_l2`) replays the SAME strict left-fold in
    index order — IEEE double addition is deterministic given the
    order, so raw distances are bit-identical (``list_distance`` is
    not: its ULP noise flipped rounded values at sf0.1) — and both
    sides then round via the floor formulation (:func:`_stable_round`),
    which is a pure-double function and therefore engine-identical."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return _stable_round(F.sqrt(sq), decimals)


def _nearest_code(v: Column, cbook: Column, decimals: int) -> Column:
    """Per-row argmin over the in-row codebook: ``array_min`` of
    (rounded distance, cell) structs — lexicographic struct ordering IS
    the nearest-with-lowest-cell-tie-break rule, computed without any
    window or shuffle."""
    return F.array_min(
        F.transform(
            cbook,
            lambda c: F.struct(
                _l2_dist(v, c["cent"], decimals).alias("d"),
                c["cell_id"].alias("cell"),
            ),
        )
    )


def _pq_subvectors(
    corpus: DataFrame, dim: int, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, subvector) rows — the corpus exploded once into m
    subspaces (same data volume, m x the rows at 1/m the width)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    vec = F.col(vec_col).cast("array<double>")
    return corpus.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.slice(vec, j * sd + 1, sd) for j in range(m)
            ])
        ).alias("subspace", "__v"),
    )


def _pq_train_cents(
    corpus: DataFrame,
    dim: int,
    m: int,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    decimals: int,
) -> DataFrame:
    """PQ codebook training (the Lloyd loop of pq_encode, shared with
    ivf_pq_topk): (subspace, __cb) rows, one per subspace, ``__cb`` =
    array<(cell_id, cent)> — the in-row codebook :func:`_nearest_code`
    scans.  Same step as :func:`_kmeans_centroids`: each iteration's
    books come straight from the (subspace, cell_id, pos) means by one
    subspace-keyed collect, with no (subspace, cell_id) regroup."""
    sub = _pq_subvectors(corpus, dim, m, id_col, vec_col)
    # seeds: the first k vectors' subvectors, per subspace
    books = sub.filter(F.col(id_col) < k).groupBy("subspace").agg(F.expr(
        f"collect_list(named_struct('cell_id', `{id_col}`, 'cent', __v)) "
        "AS __cb"
    ))
    for _ in range(n_iter):
        assigned = sub.join(F.broadcast(books), "subspace").select(
            F.col("subspace"),
            _nearest_code(F.col("__v"), F.col("__cb"), decimals)["cell"]
            .alias("cell_id"),
            F.col("__v"),
        )
        books = (
            assigned.selectExpr(
                "subspace", "cell_id", "posexplode(__v) AS (pos, val)"
            )
            .groupBy("subspace", "cell_id", "pos")
            .agg(F.expr(_stable_round_sql("avg(val)", decimals)).alias("m"))
            .groupBy("subspace")
            .agg(F.expr(f"{_cells_from_means_sql('cent')} AS __cb"))
        )
    # trained codebooks feed multiple consumers (the corpus encode pass
    # AND every query's ADC table) — pin like _kmeans_centroids so the
    # Lloyd lineage runs once, not once per consumer
    return materialize(books, eager=False)


def pq_encode(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subvectors, train a tiny k-codeword codebook per subspace
    (Lloyd under L2 — PQ's metric), and encode every vector as its
    nearest codeword per subspace. Output rows ``(vec_id, subspace,
    code, dist)`` — the m-byte-per-vector compressed representation
    that, with the IVF tier, completes the IVF-PQ index family.

    Scale shape (single pass): the corpus EXPLODES once
    into (vec_id, subspace, subvector) rows — same total data volume,
    m× the rows at 1/m the width — and ALL m subspaces train together:
    one corpus-wide assignment pass + one (subspace, cell, pos) mean
    aggregation per Lloyd iteration, and one encode pass, instead of
    m of each (the original per-subspace loop scanned the corpus 2m+m
    times; at 100 TB the scan count IS the cost). Codebooks stay
    k x (dim/m) per subspace, collapsed to one broadcast row per
    subspace and equi-joined on the subspace id — no corpus shuffle
    anywhere; the only exchanges aggregate the m*k*(dim/m) component
    means."""
    sub = _pq_subvectors(corpus, dim, m, id_col, vec_col)
    books = _pq_train_cents(corpus, dim, m, k, n_iter, id_col, vec_col, decimals)
    picked = sub.join(F.broadcast(books), "subspace").select(
        F.col(id_col),
        F.col("subspace").cast("int").alias("subspace"),
        _nearest_code(F.col("__v"), F.col("__cb"), decimals).alias("__p"),
    )
    return picked.select(
        F.col(id_col),
        F.col("subspace"),
        F.col("__p")["cell"].cast("bigint").alias("code"),
        _stable_round(F.col("__p")["d"], 4).alias("dist"),
    )


def _duck_round(x: str, decimals: int) -> str:
    """DuckDB SQL twin of :func:`_stable_round` — same floor formula,
    same doubles, same result."""
    f = 10 ** decimals
    return f"(floor(({x}) * {f} + 0.5) / {f})"


def _duck_dot(a: str, b: str) -> str:
    """DuckDB strict left-fold dot product in index order from a 0.0
    seed — exactly Spark's ``aggregate(zip_with(a, b, x*y))``, so both
    engines produce the same double."""
    # args are parenthesized before indexing: a bare `x::DOUBLE[][i]`
    # parses the two bracket pairs as a nested array TYPE, not an index
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len(({a})) + 1), "
        f"__ci -> ({a})[__ci] * ({b})[__ci])), "
        f"(__cacc, __cx) -> __cacc + __cx)"
    )


def _duck_cos(a: str, b: str) -> str:
    """DuckDB SQL for the bit-exact twin of :func:`cosine_pre`:
    fold-dot / (fold-norm * fold-norm), every term the same IEEE double
    sequence as the Spark side.  ``list_cosine_similarity`` is NOT
    that: its fold order/arithmetic is unspecified, and a 1-ULP
    difference landing at a 1e-6 floor boundary snaps to the adjacent
    fixed-point cell and flips rank AND value (seen on ann_join_oracle
    — same class as the _l2_dist/list_distance divergence the sf0.1
    sweep caught).  Args must already be ``::DOUBLE[]`` expressions."""
    return (
        f"({_duck_dot(a, b)} / "
        f"(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)})))"
    )


def _duck_l2(a: str, b: str) -> str:
    """DuckDB SQL for the bit-exact twin of :func:`_l2_dist`'s raw
    distance: squared diffs in index order, strict left fold from a 0.0
    seed (exactly Spark's ``aggregate(zip_with(...))``), then sqrt —
    IEEE-deterministic, so both engines produce the same double."""
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"__di -> ({a}[__di] - {b}[__di]) * ({a}[__di] - {b}[__di]))), "
        f"(__dacc, __dx) -> __dacc + __dx))"
    )


def pq_encode_oracle(
    table: str = "embeddings",
    dim: int = 64,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    decimals: int = 6,
) -> str:
    """Iteration-unrolled DuckDB twin of pq_encode, one CTE chain per
    subspace (1-based inclusive list slicing mirrors F.slice).
    Distances use :func:`_duck_l2` — the bit-exact fold twin of the
    Spark side — not ``list_distance`` (see _l2_dist)."""
    sd = dim // m
    ctes, finals = [], []
    for j in range(m):
        a, b = j * sd + 1, (j + 1) * sd
        p = f"s{j}"
        ctes.append(
            f"{p}_t AS (SELECT vec_id, embedding[{a}:{b}]::DOUBLE[] AS v "
            f"FROM {table})"
        )
        ctes.append(
            f"{p}_c0 AS (SELECT vec_id AS cell_id, v AS cent "
            f"FROM {p}_t WHERE vec_id < {k})"
        )
        for i in range(n_iter):
            ctes.append(f"""{p}_a{i + 1} AS (
                SELECT cell_id, v FROM (
                    SELECT t.vec_id, t.v, c.cell_id,
                           row_number() OVER (PARTITION BY t.vec_id
                               ORDER BY {_duck_round(_duck_l2('t.v', 'c.cent'), decimals)} ASC,
                                        c.cell_id ASC) AS rn
                    FROM {p}_t t CROSS JOIN {p}_c{i} c
                ) WHERE rn = 1)""")
            ctes.append(f"""{p}_comp{i + 1} AS (
                SELECT cell_id, pos, {_duck_round('avg(val)', decimals)} AS mval
                FROM (SELECT cell_id, generate_subscripts(v, 1) - 1 AS pos,
                             unnest(v) AS val
                      FROM {p}_a{i + 1})
                GROUP BY cell_id, pos)""")
            ctes.append(
                f"{p}_c{i + 1} AS (SELECT cell_id, "
                f"list(mval ORDER BY pos) AS cent "
                f"FROM {p}_comp{i + 1} GROUP BY cell_id)"
            )
        finals.append(f"""
            SELECT vec_id, {j} AS subspace, cell_id AS code,
                   {_duck_round('d', 4)} AS dist
            FROM (
                SELECT t.vec_id, c.cell_id,
                       {_duck_round(_duck_l2('t.v', 'c.cent'), decimals)} AS d,
                       row_number() OVER (PARTITION BY t.vec_id
                           ORDER BY {_duck_round(_duck_l2('t.v', 'c.cent'), decimals)} ASC,
                                    c.cell_id ASC) AS rn
                FROM {p}_t t CROSS JOIN {p}_c{n_iter} c
            ) WHERE rn = 1""")
    body = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(finals)
    return f"WITH {body}\n{union}"


def pca_power_component(
    corpus: DataFrame,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — the dimensionality-reduction substrate (projection for
    whitening/visualization/coarse bucketing) trained on-engine like
    k-means: a fixed small iteration count, each iteration two keyed
    aggregates, every intermediate snapped to ``decimals``
    (:func:`_stable_round`) so float summation order cannot drift the
    next step.  Output: ``(pos, weight)``, unit-normalized, sign fixed
    so ``weight[0] >= 0``.

    Scale shape per iteration: the centered (row, pos, value) table is
    computed once and reused (persist point); ``dot`` is a row-keyed
    sum of d terms, ``s`` a pos-keyed sum across rows (d groups —
    map-side combine collapses it), the normalizer a 1-row aggregate
    over d rows.  Nothing ever materializes d×d: the Gram matrix is
    never formed.  Deterministic: uniform dyadic start (1/8 for d=64
    — exactly representable), snapped intermediates, sign convention.

    Residual risk class, accepted as with k-means: the snap aligns
    engines unless a cross-row SUM lands within ~1 ULP of a 1e-6 floor
    boundary (cosine paths were migrated to bit-exact per-ROW folds,
    but cross-row aggregation order is not foldable).  Magnitudes here
    leave margin — the summed terms are O(1..10) over ≤1e5 rows, so
    accumulated error (~1e-8 absolute) is ~1% of a snap cell — and the
    dual-scale sweeps are the standing detector for this class.

    Shuffles: the centered table is hash-partitioned by row id
    ONCE, so every iteration's row-keyed aggregate and row-keyed join
    reuse that partitioning with ZERO further wide exchanges (no
    per-iteration re-shuffle of ``cx`` by rid, n*d rows at scale), and
    ``v`` is a d-element array LITERAL (a narrow map, no broadcast
    build). The d-row normalize/sign step runs in Python on the
    collected s vector (dimension-bounded, never data-scaled) with the
    identical floor-snap arithmetic — the same accepted risk class:
    cross-row SUM order is not pinned on either engine, the 1e-6 snap
    absorbs it, and the dual-scale sweeps stand as detector."""
    import math

    x = corpus.select(
        F.col(id_col).alias("rid"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select("rid", "pos", F.col("val").cast("double").alias("val"))
    mu = x.groupBy("pos").agg(
        _stable_round(F.avg("val"), decimals).alias("mu")
    )
    # cx is n x d rows and every iteration reads it: a corpus-scale cut
    cx = materialize(
        x.join(F.broadcast(mu), "pos")
        .select("rid", "pos", (F.col("val") - F.col("mu")).alias("cv"))
        .repartition("rid"),  # the ONE wide exchange; the loop reuses it
        scale="corpus",
    )
    spark = corpus.sparkSession
    max_pos = cx.agg(F.max("pos")).collect()[0][0]
    if max_pos is None:  # empty corpus: no component to extract
        return spark.createDataFrame([], "pos int, w double")
    dim = max_pos + 1
    snap = float(10 ** decimals)
    w = [1.0 / 8.0] * dim
    for _ in range(n_iter):
        varr = F.array(*[F.lit(x_) for x_ in w])
        dots = (
            cx.groupBy("rid")  # reuses cx's rid partitioning
            .agg(_stable_round(
                F.sum(F.col("cv")
                      * F.element_at(varr, F.col("pos") + 1)),
                decimals).alias("dot"))
        )
        s = (
            cx.join(dots, "rid")  # co-partitioned: no new exchange
            .groupBy("pos")
            .agg(_stable_round(F.sum(F.col("cv") * F.col("dot")),
                               decimals).alias("s"))
        )
        sv = [0.0] * dim
        for r in s.collect():  # d rows — dimension-bounded
            sv[r["pos"]] = float("nan") if r["s"] is None else r["s"]
        nrm = math.sqrt(sum(si * si for si in sv))
        if not nrm > 0.0:
            # Degenerate (constant-vector) corpus: every centered value
            # is 0, so s is all-zero and there is no direction. Emit
            # all-NaN weights — matching the DuckDB oracle's IEEE 0/0.
            # (Pushing the 0/0 through _stable_round's F.floor would
            # give all-ZERO weights instead — the BIGINT cast maps NaN
            # to 0 — which do NOT match the oracle.) Pinned by
            # test_pca_degenerate_corpus.
            w = [float("nan")] * dim
            break
        w = [math.floor(si / nrm * snap + 0.5) / snap for si in sv]
        if w[0] < 0:  # sign convention: weight at pos 0 non-negative
            w = [-wi for wi in w]
    return spark.createDataFrame(
        [(p, wi) for p, wi in enumerate(w)], "pos int, w double"
    )


def pca_power_component_oracle(
    table: str = "embeddings",
    n_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    decimals: int = 6,
) -> str:
    """Iteration-unrolled DuckDB twin: identical snapped aggregates,
    identical dyadic start, identical sign convention per iteration."""
    r = lambda expr: _duck_round(expr, decimals)  # noqa: E731
    parts = [f"""x AS (
        SELECT {id_col} AS rid,
               CAST(generate_subscripts(e, 1) - 1 AS INT) AS pos,
               CAST(unnest(e) AS DOUBLE) AS val
        FROM (SELECT {id_col}, {vec_col} AS e FROM {table})
    )""",
             f"""mu AS (SELECT pos, {r('avg(val)')} AS mu
        FROM x GROUP BY pos)""",
             """cx AS MATERIALIZED (
        SELECT rid, x.pos, val - mu AS cv FROM x JOIN mu USING (pos)
    )""",
             "v0 AS (SELECT DISTINCT pos, 0.125 AS w FROM cx)"]
    prev = "v0"
    for t in range(1, n_iter + 1):
        parts.append(f"""d{t} AS MATERIALIZED (
        SELECT rid, {r('sum(cv * w)')} AS dot
        FROM cx JOIN {prev} USING (pos) GROUP BY rid
    )""")
        parts.append(f"""s{t} AS MATERIALIZED (
        SELECT pos, {r('sum(cv * dot)')} AS s
        FROM cx JOIN d{t} USING (rid) GROUP BY pos
    )""")
        parts.append(f"""u{t} AS (
        SELECT pos,
               {r('s / (SELECT sqrt(sum(s * s)) FROM s' + str(t) + ')')}
                   AS w
        FROM s{t}
    )""")
        parts.append(f"""v{t} AS MATERIALIZED (
        SELECT pos,
               CASE WHEN (SELECT w FROM u{t} WHERE pos = 0) < 0
                    THEN -w ELSE w END AS w
        FROM u{t}
    )""")
        prev = f"v{t}"
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT CAST(pos AS INT) AS pos, w FROM v{n_iter}")


def component_stats(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Per-component embedding statistics (mean, std, min, max) — the
    embedding-health audit: dead components (std ~ 0), un-centered
    dimensions, and range blowouts all show up here before they poison
    a similarity index or a whitening step.

    One posexplode + a (pos)-keyed aggregation of d groups — map-side
    combined, the shuffle carries d rows of moment states per
    partition. Std is the population form computed from
    (sum_sq/n - mean^2), rounded; both engines aggregate the identical
    component multiset."""
    exploded = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("pos", "v")
    )
    n = F.count(F.lit(1))
    mean = F.sum("v") / n
    var = F.sum(F.col("v") * F.col("v")) / n - mean * mean
    return (
        exploded.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(mean, decimals).alias("mean"),
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))), decimals)
            .alias("std"),
            F.round(F.min("v"), decimals).alias("lo"),
            F.round(F.max("v"), decimals).alias("hi"),
        )
        .select(F.col("pos").cast("int").alias("pos"), "n", "mean",
                "std", "lo", "hi")
    )


def component_stats_oracle(
    table: str = "embeddings", decimals: int = 4
) -> str:
    return f"""
    SELECT CAST(pos AS INT) AS pos, count(*) AS n,
           round(sum(v) / count(*), {decimals}) AS mean,
           round(sqrt(greatest(sum(v * v) / count(*)
                 - (sum(v) / count(*)) * (sum(v) / count(*)), 0.0)),
                 {decimals}) AS std,
           round(min(v), {decimals}) AS lo,
           round(max(v), {decimals}) AS hi
    FROM (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                 unnest(embedding::DOUBLE[]) AS v
          FROM {table})
    GROUP BY pos
    """


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    m: int = 4,
    kcode: int = 4,
    n_iter: int = 1,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate search (Jégou et al. 2011), the full
    FAISS-style composition of this module's tiers: k-means coarse
    cells (IVF), per-subspace PQ codebooks, asymmetric-distance
    shortlist, exact re-rank.

    Per query: (1) probe the ``nprobe`` nearest coarse cells
    (:func:`ivf_assign_multi`: snapped cosine, lowest cell on ties);
    (2) score every candidate in those cells from its m-byte PQ code
    via the query's distance table (ADC — the candidate VECTORS are
    never touched); (3) exact-cosine re-rank only the ``refine * k``
    best ADC candidates. Output matches ivf_topk: (query_id,
    neighbor_id, cos_sim, rnk).

    Scale shape — the corpus never shuffles: cell assignment and PQ
    encoding are broadcast-join passes (the one-time index build, both
    persisted/bucketed in production); at query time the broadcast
    sides are the nprobe cells per query, the per-query m x kcode
    distance table, the refine*k shortlist — and the candidate list
    (query_id, neighbor_id), which is NOT small: it holds nprobe/n_cells
    of the corpus per query (a quarter at the defaults), so it grows
    with the query count.  That suits the ad-hoc query batches this
    operator serves; a corpus-scale batch of queries belongs to
    :func:`ann_join`, which broadcasts neither side.  Candidates are
    scored from m-row CODES, not dim-float vectors — the 100-TB
    bandwidth win PQ exists for.

    Determinism (driver-hash requirements): ADC subspace distances are
    fixed-point BIGINTs (floor(l2 * 1e6 + 0.5)), so their SUM is
    order-free where a double sum would depend on Spark's partial-
    aggregation order; shortlist ties break on (adc, neighbor_id); the
    re-rank rounds like ivf_topk."""
    sd = dim // m
    # --- index build (one-time at scale) ---
    _, coarse = _kmeans_centroids(corpus, n_cells, n_iter, id_col, vec_col, 6)
    assigned = ivf_assign(corpus, coarse, id_col, vec_col)
    books = _pq_train_cents(corpus, dim, m, kcode, n_iter, id_col, vec_col, 6)
    cents = books.selectExpr("subspace", "inline(__cb)")
    codes = (
        _pq_subvectors(corpus, dim, m, id_col, vec_col)
        .join(F.broadcast(books), "subspace")
        .select(
            F.col(id_col),
            F.col("subspace").cast("int").alias("subspace"),
            _nearest_code(F.col("__v"), F.col("__cb"), 6)["cell"]
            .cast("bigint").alias("code"),
        )
    )
    # --- query side: the nprobe nearest cells, and the per-query ADC
    # table — distance from each query subvector to each codeword,
    # fixed-point (m * kcode rows per query, broadcast) ---
    qcells = ivf_assign_multi(queries, coarse, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cell_id"
    )
    qvec = F.col(vec_col).cast("array<double>")
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.array(*[F.slice(qvec, j * sd + 1, sd) for j in range(m)])
        ).alias("subspace", "__qv"),
    )
    dtable = qsub.join(F.broadcast(cents), "subspace").select(
        "query_id",
        F.col("subspace").cast("int").alias("subspace"),
        F.col("cell_id").cast("bigint").alias("code"),
        F.floor(
            _l2_dist(F.col("__qv"), F.col("cent"), 6) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint").alias("d_int"),
    )
    # --- probe + ADC shortlist (codes only, no vectors) ---
    cand = F.broadcast(qcells).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col("cell_id")
        ),
        "cell_id",
    ).where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id"
    )
    # broadcast the candidate list (two longs per query x probed-cell
    # member: nprobe/n_cells of the corpus per query, see the docstring)
    # so the corpus-scale m-row codes stream past it unshuffled
    adc = (
        F.broadcast(cand).join(
            codes.select(
                F.col(id_col).alias("neighbor_id"), "subspace", "code"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(dtable), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_int").cast("bigint").alias("adc"))
    )
    return _refine(
        adc, F.col("adc").asc(), queries, corpus, k, refine, id_col, vec_col
    )


def ivf_pq_topk_oracle(
    table: str = "embeddings",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    m: int = 4,
    kcode: int = 4,
    n_iter: int = 1,
    refine: int = 4,
    max_query_id: int = 10,
) -> str:
    """Full DuckDB replay of ivf_pq_topk: coarse k-means CTEs + the
    per-subspace PQ codebook chains (same generators as the standalone
    oracles), then probe -> fixed-point ADC -> shortlist -> re-rank."""
    sd = dim // m
    kmeans = _kmeans_ctes(table, n_cells, n_iter, 6)
    # PQ codebook CTE chains, one per subspace (same as pq_encode_oracle)
    ctes = [kmeans]
    books_rows, codes_rows, dtab_rows = [], [], []
    for j in range(m):
        a, b = j * sd + 1, (j + 1) * sd
        p = f"s{j}"
        ctes.append(
            f"{p}_t AS (SELECT vec_id, embedding[{a}:{b}]::DOUBLE[] AS v "
            f"FROM {table})"
        )
        ctes.append(
            f"{p}_c0 AS (SELECT vec_id AS cell_id, v AS cent "
            f"FROM {p}_t WHERE vec_id < {kcode})"
        )
        for i in range(n_iter):
            ctes.append(f"""{p}_a{i + 1} AS (
                SELECT cell_id, v FROM (
                    SELECT t.vec_id, t.v, c.cell_id,
                           row_number() OVER (PARTITION BY t.vec_id
                               ORDER BY {_duck_round(_duck_l2('t.v', 'c.cent'), 6)} ASC,
                                        c.cell_id ASC) AS rn
                    FROM {p}_t t CROSS JOIN {p}_c{i} c
                ) WHERE rn = 1)""")
            ctes.append(f"""{p}_comp{i + 1} AS (
                SELECT cell_id, pos, {_duck_round('avg(val)', 6)} AS mval
                FROM (SELECT cell_id, generate_subscripts(v, 1) - 1 AS pos,
                             unnest(v) AS val
                      FROM {p}_a{i + 1})
                GROUP BY cell_id, pos)""")
            ctes.append(
                f"{p}_c{i + 1} AS (SELECT cell_id, "
                f"list(mval ORDER BY pos) AS cent "
                f"FROM {p}_comp{i + 1} GROUP BY cell_id)"
            )
        codes_rows.append(f"""
            SELECT vec_id, {j} AS subspace, cell_id AS code FROM (
                SELECT t.vec_id, c.cell_id,
                       row_number() OVER (PARTITION BY t.vec_id
                           ORDER BY {_duck_round(_duck_l2('t.v', 'c.cent'), 6)} ASC,
                                    c.cell_id ASC) AS rn
                FROM {p}_t t CROSS JOIN {p}_c{n_iter} c
            ) WHERE rn = 1""")
        dtab_rows.append(f"""
            SELECT q.query_id, {j} AS subspace, c.cell_id AS code,
                   CAST(floor({_duck_round(_duck_l2(f'q.qvec[{a}:{b}]', 'c.cent'), 6)}
                        * 1000000.0 + 0.5) AS BIGINT) AS d_int
            FROM q CROSS JOIN {p}_c{n_iter} c""")
    body = ",\n".join(ctes)
    codes_union = "\nUNION ALL\n".join(codes_rows)
    dtab_union = "\nUNION ALL\n".join(dtab_rows)
    return f"""
    WITH {body},
    assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT t.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN c{n_iter} c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
          FROM {table} WHERE vec_id < {max_query_id}),
    qcells AS (
        SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_duck_round(_duck_cos('q.qvec', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM q CROSS JOIN c{n_iter} c
        ) WHERE rn <= {nprobe}
    ),
    codes AS ({codes_union}),
    dtable AS ({dtab_union}),
    cand AS (
        SELECT qc.query_id, a.vec_id AS neighbor_id
        FROM qcells qc JOIN assigned a USING (cell_id)
        WHERE qc.query_id <> a.vec_id
    ),
    adc AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(sum(d.d_int) AS BIGINT) AS adc
        FROM cand c
        JOIN codes co ON co.vec_id = c.neighbor_id
        JOIN dtable d ON d.query_id = c.query_id
                     AND d.subspace = co.subspace AND d.code = co.code
        GROUP BY c.query_id, c.neighbor_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rn
            FROM adc
        ) WHERE rn <= {refine * k}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               {_duck_cos('q.qvec', 't.embedding::DOUBLE[]')} AS cos_sim
        FROM shortlist s
        JOIN q USING (query_id)
        JOIN {table} t ON t.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rnk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM rer
    ) WHERE rnk <= {k}"""


def hard_negatives(
    df: DataFrame,
    every: int = 40,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each query vector, the ``k`` most-similar corpus vectors with a
    DIFFERENT label.  The negatives that sit closest to the query in
    embedding space are the ones a contrastive loss learns most from
    (in-batch random negatives are mostly trivial); every major
    dense-retriever recipe (DPR, ANCE, GTR) mines them this way.

    This is the exact brute baseline (one broadcast of the
    ``1/every``-sampled query side over a single corpus scan — the
    :func:`cosine_topk` shape, plus the label-inequality gate in the
    join condition so same-class pairs never materialize).  The scale
    path is :func:`ann_join` + a label filter + per-query re-rank:
    candidates from probed IVF cells only, with k over-provisioned to
    survive the filter.

    Determinism: cosine snapped to 1e-6 fixed point (``_stable_round``)
    BEFORE the ranking window, ties by neighbor id — the ann_join
    contract, so the DuckDB twin cannot rank-diverge at float
    boundaries.
    """
    q = _queries(df.filter((F.col(id_col) % every) == 0), id_col, vec_col,
                 F.col(label_col).alias("qlabel"))
    c = _neighbors(df, id_col, vec_col, F.col(label_col).alias("neg_label"))
    scored = F.broadcast(q).join(c, F.col("qlabel") != F.col("neg_label"))
    sim = _stable_round(
        cosine_pre(F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")),
        6,
    )
    pairs = scored.select(
        "query_id", "neighbor_id", "neg_label", sim.alias("cos_sim")
    )
    return _top_n(pairs, k, F.col("cos_sim").desc()).select(
        "query_id", "neighbor_id", "neg_label",
        _stable_round(F.col("cos_sim"), 4).alias("cos_sim"), "rnk",
    )


def hard_negatives_oracle(
    table: str = "embeddings", every: int = 40, k: int = 3
) -> str:
    """DuckDB twin: the identical snapped-fold arithmetic (bit-exact
    cosine via :func:`_duck_cos`, 1e-6 snap before the window)."""
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
        FROM {table} WHERE vec_id % {every} = 0
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               c.label AS neg_label,
               floor({_duck_cos('q.qvec::DOUBLE[]', 'c.embedding::DOUBLE[]')}
                     * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
        FROM q JOIN {table} c ON c.label <> q.qlabel
    ),
    ranked AS (
        SELECT query_id, neighbor_id, neg_label, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, neg_label,
           floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cos_sim, rnk
    FROM ranked WHERE rnk <= {k}
    """


def _py_snap(x: float, decimals: int = 6) -> float:
    """Python twin of :func:`_stable_round` / :func:`_duck_round` —
    the same floor(x * 10^n + 0.5) / 10^n on IEEE doubles."""
    import math

    f = 10.0 ** decimals
    return math.floor(x * f + 0.5) / f


def mmr_diversify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` of the top-``n_candidates`` neighbors,
    each step maximizing ``lam*relevance - (1-lam)*max_sim_to_selected``
    — the standard diversity-aware selection for retrieval results,
    few-shot example pools, and dedup-at-selection-time.

    Shape for 100 TB: stage 1 is the exact top-n candidate search
    (broadcast queries, one corpus pass, per-query window top-n — the
    same plan as :func:`cosine_topk`); stage 2 is ``applyInPandas``
    over query_id groups, each group the BOUNDED n-candidate re-rank
    set (here n*dim doubles), so millions of queries re-rank in
    parallel with no shuffle beyond the stage-1 window's. The greedy is
    O(k*n) per query by keeping a running max-sim-to-selected column.

    Engine determinism: relevances and candidate-pair similarities are
    computed as strict left-fold dots in index order (the _duck_dot
    contract) and snapped to 1e-6 fixed point BEFORE the greedy; ties
    break by ascending id — so the DuckDB oracle (the same greedy
    unrolled into k chained CTEs, see :func:`mmr_diversify_oracle`)
    picks identical rows. No reference-repo counterpart (the reference
    is a 999-LoC SQL unparser); LLM-pipeline surface beyond it.
    """
    import pandas as pd

    scored = F.broadcast(_queries(queries, id_col, vec_col)).join(
        _neighbors(corpus, id_col, vec_col),
        F.col("query_id") != F.col("neighbor_id"),
    )
    rel = _stable_round(
        cosine_pre(F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")),
        6,
    )
    pairs = scored.select(
        "query_id", "neighbor_id", rel.alias("rel"),
        F.col("cvec").cast("array<double>").alias("cvec"),
    )
    cands = _top_n(pairs, n_candidates, F.col("rel").desc()).select(
        "query_id", F.col("neighbor_id").alias("cand_id"), "rel", "cvec"
    )

    def _fold_dot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        rows = pdf.sort_values(["rel", "cand_id"],
                               ascending=[False, True]).reset_index()
        ids = rows["cand_id"].tolist()
        rels = rows["rel"].tolist()
        vecs = [list(v) for v in rows["cvec"]]
        norms = [math.sqrt(_fold_dot(v, v)) for v in vecs]
        n = len(ids)
        # candidate-pair cosines, snapped — same fixed point the oracle
        # computes before ITS greedy
        sim = [[0.0] * n for _ in range(n)]
        for i in range(n):
            for j in range(i + 1, n):
                s = _py_snap(
                    _fold_dot(vecs[i], vecs[j]) / (norms[i] * norms[j]))
                sim[i][j] = sim[j][i] = s
        selected: list[int] = []
        # running max sim to the selected set — starts at -inf, NOT 0:
        # cosines can be negative and a 0 floor would understate the
        # diversity penalty's absence (caught by the oracle diff)
        maxsim = [float("-inf")] * n
        out = []
        qid = pdf["query_id"].iloc[0]
        for step in range(1, min(k, n) + 1):
            if step == 1:
                # the oracle's s1 argmaxes (snapped rel DESC, id ASC)
                # — NOT the lam-scaled score, whose snap can collapse
                # two adjacent rel fixed-point cells and flip the tie
                # toward the smaller id. rows are already in that
                # order, so the pick is index 0.
                best, best_score = 0, _py_snap(lam * rels[0])
            else:
                best, best_score = None, None
                for i in range(n):
                    if i in selected:
                        continue
                    score = _py_snap(
                        lam * rels[i] - (1.0 - lam) * maxsim[i])
                    if (best is None or score > best_score
                            or (score == best_score
                                and ids[i] < ids[best])):
                        best, best_score = i, score
            selected.append(best)
            for i in range(n):
                if sim[i][best] > maxsim[i]:
                    maxsim[i] = sim[i][best]
            out.append((qid, step, ids[best], best_score))
        return pd.DataFrame(
            out, columns=["query_id", "step", "vec_id", "mmr_score"])

    return cands.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id bigint, step int, vec_id bigint, mmr_score double",
    )


def mmr_diversify_oracle(
    table: str = "embeddings",
    max_query_id: int = 3,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
) -> str:
    """The same greedy UNROLLED into k chained CTEs (step N's argmax
    sees steps 1..N-1's picks) — recursion-free portable SQL, every
    score snapped to the same 1e-6 fixed point as the Spark side."""
    one_minus = 1.0 - lam
    cos = _duck_cos("a.v", "b.v")
    parts = [f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM {table} WHERE vec_id < {max_query_id}),
cand AS (
    SELECT query_id, cand_id, rel, v FROM (
        SELECT q.query_id, c.vec_id AS cand_id,
               {_duck_round(_duck_cos("q.qv", "c.embedding::DOUBLE[]"), 6)} AS rel,
               c.embedding::DOUBLE[] AS v,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {_duck_round(_duck_cos("q.qv", "c.embedding::DOUBLE[]"), 6)} DESC,
                            c.vec_id ASC) AS rnk
        FROM q JOIN {table} c ON q.query_id <> c.vec_id
    ) WHERE rnk <= {n_candidates}
),
pairs AS (
    SELECT a.query_id, a.cand_id AS ia, b.cand_id AS ib,
           {_duck_round(cos, 6)} AS s
    FROM cand a JOIN cand b
      ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
),
s1 AS (
    SELECT query_id, 1 AS step, cand_id AS vec_id,
           {_duck_round(f"{lam!r} * rel", 6)} AS mmr_score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, cand_id ASC) AS rn FROM cand)
    WHERE rn = 1
)"""]
    for step in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{i}" for i in range(1, step))
        parts.append(f""",
sel{step} AS ({prev}),
r{step} AS (
    SELECT c.query_id, c.cand_id,
           {_duck_round(
               f"{lam!r} * c.rel - {one_minus!r} * "
               f"(SELECT max(p.s) FROM pairs p JOIN sel{step} s "
               f"ON s.query_id = p.query_id AND s.vec_id = p.ib "
               f"WHERE p.query_id = c.query_id AND p.ia = c.cand_id)",
               6)} AS score
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM sel{step} s
                      WHERE s.query_id = c.query_id
                        AND s.vec_id = c.cand_id)
),
s{step} AS (
    SELECT query_id, {step} AS step, cand_id AS vec_id, score AS mmr_score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, cand_id ASC) AS rn FROM r{step})
    WHERE rn = 1
)""")
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, k + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


def ivf_recall_frontier(
    corpus: DataFrame,
    queries: DataFrame,
    nprobes: tuple[int, ...] = (1, 2, 4),
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The nprobe TUNING CURVE: recall@k versus scored-candidate cost
    at each probe width — the number every IVF deployment actually has
    to pick, measured instead of guessed (FAISS's nprobe sweep as a
    query plan). One row per nprobe: query count, total ground-truth
    hits, mean recall (exact integer milli: ``hits·1000 / (n_q·k)``),
    and the scored-pair count (the serving-cost proxy that recall is
    traded against).

    Composition of existing stages — :func:`ivf_assign` builds the
    index once (checkpointed: the persisted-index story at scale),
    :func:`cosine_topk` computes ground truth once, and each nprobe
    branch reuses both via :func:`ivf_assign_multi`'s broadcast-
    codebook probe; the union output is |nprobes| rows. Every branch
    is the ivf_topk cell-equi probe shape — the frontier costs
    |nprobes| probe joins over the SAME materialized index, not
    |nprobes| index builds."""
    cents = corpus.filter(F.col(id_col) < n_cells)
    c_assigned = materialize(
        _neighbors(ivf_assign(corpus, cents, id_col, vec_col), id_col,
                   vec_col, F.col("cell_id").alias("c_cell")),
        scale="corpus",
    )
    exact = materialize(
        cosine_topk(corpus, queries, k, id_col, vec_col)
        .select("query_id", "neighbor_id")
    )
    nq = exact.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries")
    )
    out = None
    for p in nprobes:
        qm = _queries(ivf_assign_multi(queries, cents, p, id_col, vec_col),
                      id_col, vec_col, "cell_id")
        scored = _exact_cosine(
            qm, c_assigned,
            (F.col("cell_id") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        topk = _top_n(scored, k, F.col("cos_sim").desc()).select(
            "query_id", "neighbor_id"
        )
        hits = topk.join(exact, ["query_id", "neighbor_id"], "left_semi")
        row = (
            hits.agg(F.count(F.lit(1)).cast("bigint").alias("total_hits"))
            .crossJoin(F.broadcast(scored.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_scored")
            )))
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(p).cast("bigint").alias("nprobe"),
                F.col("n_queries"),
                F.col("total_hits"),
                F.expr(f"CAST(total_hits * 1000 DIV (n_queries * {k}) "
                       "AS BIGINT)").alias("recall_milli"),
                F.col("n_scored"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def ivf_recall_frontier_oracle(
    table: str = "embeddings",
    nprobes: tuple[int, ...] = (1, 2, 4),
    k: int = 5,
    n_cells: int = 8,
    max_query_id: int = 10,
) -> str:
    arms = []
    for p in nprobes:
        arms.append(f"""
    SELECT CAST({p} AS BIGINT) AS nprobe,
           (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM exact_tk)
               AS n_queries,
           (SELECT CAST(count(*) AS BIGINT) FROM topk_{p} t
            WHERE EXISTS (SELECT 1 FROM exact_tk e
                          WHERE e.query_id = t.query_id
                            AND e.neighbor_id = t.neighbor_id))
               AS total_hits,
           (SELECT CAST(count(*) * 1000 // (
                (SELECT count(DISTINCT query_id) FROM exact_tk) * {k})
                AS BIGINT) FROM topk_{p} t
            WHERE EXISTS (SELECT 1 FROM exact_tk e
                          WHERE e.query_id = t.query_id
                            AND e.neighbor_id = t.neighbor_id))
               AS recall_milli,
           (SELECT CAST(count(*) AS BIGINT) FROM scored_{p})
               AS n_scored""")
    probe_ctes = []
    for p in nprobes:
        probe_ctes.append(f"""
    multiq_{p} AS (
        SELECT query_id, cell_id, qvec FROM (
            SELECT q.vec_id AS query_id, c.cell_id, q.embedding AS qvec,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_round(_duck_cos('q.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM (SELECT * FROM {table} WHERE vec_id < {max_query_id}) q
            CROSS JOIN cents c
        ) WHERE rn <= {p}
    ),
    scored_{p} AS (
        SELECT m.query_id, a.vec_id AS neighbor_id,
               {_duck_cos('m.qvec::DOUBLE[]', 'a.embedding::DOUBLE[]')}
                   AS cos_sim
        FROM multiq_{p} m JOIN assigned a
          ON m.cell_id = a.cell_id AND m.query_id <> a.vec_id
    ),
    topk_{p} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
            FROM scored_{p}
        ) WHERE rnk <= {k}
    )""")
    exact = cosine_topk_oracle(table, k, max_query_id)
    return f"""
    WITH cents AS (
        SELECT vec_id AS cell_id, embedding AS centroid FROM {table}
        WHERE vec_id < {n_cells}
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT t.vec_id, t.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY t.vec_id
                       ORDER BY {_duck_round(_duck_cos('t.embedding::DOUBLE[]', 'c.centroid::DOUBLE[]'), 6)} DESC,
                           c.cell_id ASC) AS rn
            FROM {table} t CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    exact_tk AS (
        SELECT query_id, neighbor_id FROM ({exact})
    ),{",".join(probe_ctes)}
    {" UNION ALL ".join(arms)}
    """
