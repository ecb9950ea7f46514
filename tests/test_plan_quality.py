"""Physical-plan quality gates — the 100-TB posture, asserted.

Correctness tests prove the right rows come back; these prove the right
PLAN produces them: filters reach the parquet scan, scans read only
projected columns, dimension joins broadcast, top-k windows use the
group-limit pushdown, and aggregations combine map-side. A regression
here is a scale bug even while every value still matches the oracle.
"""

import pytest

from datafusion_sqlgen_spark.plans.audit import (
    audit_plan, executed_plan, plan_text,
)
from datafusion_sqlgen_spark.workloads import build_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return build_queries()


def test_filter_pushdown_and_column_pruning(spark, queries):
    txt = plan_text(queries["ref_scan_filter"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in txt
    read_schema = txt.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_acctbal" not in read_schema, "scan reads columns the query never uses"


def test_dim_joins_broadcast(spark, queries):
    txt = plan_text(queries["join_broadcast_dims"](spark, SF_DIR))
    assert txt.count("BroadcastHashJoin") >= 2, (
        "nation/region dimension joins must broadcast, not shuffle"
    )


def test_topk_window_uses_group_limit(spark, queries):
    """Single-window top-k must plan a WindowGroupLimit (partial top-k
    before/after the shuffle instead of a full per-partition sort).
    (win_rank_topn itself carries a second window over the same keys, so
    the pushdown is semantically barred there — this is the pure shape.)"""
    from datafusion_sqlgen_spark.expressions import col, fn
    from datafusion_sqlgen_spark.plans import scan

    p = (
        scan("orders")
        .select(
            col("o_orderkey"),
            col("o_custkey"),
            fn("row_number")
            .over(partition_by=[col("o_custkey")],
                  order_by=[col("o_totalprice").desc()])
            .alias("rn"),
        )
        .filter(col("rn") <= 3)
    )
    txt = plan_text(p.to_df(spark))
    assert "WindowGroupLimit" in txt


def test_agg_partial_final(spark, queries):
    txt = plan_text(queries["agg_tpch_q1"](spark, SF_DIR))
    assert txt.count("HashAggregate") >= 2, (
        "groupBy must plan partial (map-side) + final aggregation"
    )
    assert "PushedFilters" in txt and "LessThanOrEqual(l_shipdate" in txt, (
        "shipdate filter must reach the parquet scan"
    )


def test_semi_join_stays_semi(spark, queries):
    txt = plan_text(queries["join_semi"](spark, SF_DIR))
    assert "LeftSemi" in txt, "left_semi must not degrade to inner+distinct"


def test_exact_dedup_partial_agg(spark, queries):
    """Hash-dedup must combine map-side: shuffle moves one row per
    distinct md5 per partition, not every document."""
    txt = plan_text(queries["dedup_exact"](spark, SF_DIR))
    assert txt.count("HashAggregate") >= 2


def test_no_cartesian_in_equi_joins(spark, queries):
    for name in ("join_tpch_q5ish", "join_broadcast_dims", "join_salted_skew"):
        txt = plan_text(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in txt, f"{name} planned a cartesian product"


def test_gap_fill_grid_broadcasts(spark, queries):
    """The generated hour grid and hourly agg are tiny relative to the
    fact table: the densifying outer join must broadcast, never
    sort-merge (a sort-merge here shuffles the grid AND the counts)."""
    txt = plan_text(queries["ts_gap_fill_hourly"](spark, SF_DIR))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_stable_sample_is_scan_plus_filter(spark, queries):
    """Deterministic sampling must stay a single narrow scan+filter —
    no shuffle, no UDF — so it fans out embarrassingly at 100 TB."""
    txt = plan_text(queries["sample_stable_hash"](spark, SF_DIR))
    assert "Exchange hashpartitioning" not in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_tpch_q3_dims_broadcast_filters_push(spark, queries):
    """q3: customer (dim vs lineitem) broadcasts; the segment filter
    reaches the customer scan."""
    txt = plan_text(queries["tpch_q3"](spark, SF_DIR))
    assert "BroadcastHashJoin" in txt
    assert "EqualTo(c_mktsegment,BUILDING)" in txt


def test_tpch_q9_no_cartesian_and_pruned(spark, queries):
    txt = plan_text(queries["tpch_q9"](spark, SF_DIR))
    assert "CartesianProduct" not in txt and "BroadcastNestedLoopJoin" not in txt
    # lineitem scan must not read the columns q9 never touches
    li_schema = [
        seg.split("ReadSchema:")[1].splitlines()[0]
        for seg in txt.split("Scan parquet")[1:] + txt.split("Scan ")[1:]
        if "ReadSchema:" in seg and "l_partkey" in seg
    ]
    assert li_schema and all("l_returnflag" not in s for s in li_schema)


def test_tpch_q17_correlated_subquery_decorrelates(spark, queries):
    """Catalyst must rewrite the per-part avg subquery into an aggregate
    + join — no per-row subquery execution shape exists in Spark, but a
    regression to BroadcastNestedLoop over the whole lineitem would be
    the failure mode here."""
    txt = plan_text(queries["tpch_q17"](spark, SF_DIR))
    assert "CartesianProduct" not in txt


def test_tpch_q18_semi_join_for_in_subquery(spark, queries):
    txt = plan_text(queries["tpch_q18"](spark, SF_DIR))
    assert "LeftSemi" in txt, "IN (subquery) must plan as a semi join"


def test_explode_no_shuffle(spark, queries):
    """Explode is a narrow transform: the lateral expansion itself must
    not introduce an exchange below the aggregation."""
    from datafusion_sqlgen_spark.expressions import col, fn, lit
    from datafusion_sqlgen_spark.plans import scan

    p = (
        scan("documents")
        .select(col("doc_id"), fn("split", col("text"), lit(" ")).alias("ws"))
        .explode(col("ws"), "w")
    )
    txt = plan_text(p.to_df(spark))
    assert "Generate" in txt and "Exchange" not in txt


def test_join_hints_steer_physical_strategy(spark):
    """The hint is the 100-TB join-strategy lever: it must reach the
    physical planner on BOTH render paths (Column API and generated SQL)."""
    from datafusion_sqlgen_spark.expressions import col
    from datafusion_sqlgen_spark.plans import scan

    cases = [
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ]
    for hint, marker in cases:
        p = (
            scan("orders")
            .join(scan("customer"),
                  on=col("o_custkey") == col("c_custkey"), hint=hint)
            .select(col("o_orderkey"), col("c_name"))
        )
        for df in (p.to_df(spark), spark.sql(p.to_sql("spark"))):
            phys = executed_plan(df)
            assert marker in phys, f"{hint}: {marker} missing\n{phys[:400]}"


def test_right_nested_join_operand_is_parenthesized(spark, duck):
    """A Join whose right operand is itself a Join must nest it as a
    derived table — splicing `a JOIN b ON ...` into the outer FROM would
    re-associate the tree."""
    from datafusion_sqlgen_spark.expressions import col
    from datafusion_sqlgen_spark.plans import scan
    from tests.conftest import assert_plan_matches_oracle

    inner = scan("nation").join(
        scan("region"), on=col("n_regionkey") == col("r_regionkey")
    )
    p = (
        scan("customer")
        .join(inner, on=col("c_nationkey") == col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .sort(col("c_custkey").asc())
        .limit(50)
    )
    rows = assert_plan_matches_oracle(spark, duck, p)
    assert len(rows) == 50


def test_profile_columns_is_single_pass(spark):
    """The profiler must compute all column stats in ONE scan (expand +
    partial/final agg) — the per-column UNION ALL shape would scan k
    times, which is the formulation to avoid at 100 TB."""
    from datafusion_sqlgen_spark.operators import profiling

    df = profiling.profile_columns(
        spark.table("orders"), ["o_orderkey", "o_custkey", "o_orderstatus"]
    )
    phys = executed_plan(df)
    assert phys.count("Scan parquet") == 1, phys[:600]
    assert df.count() == 3


def test_bucketed_range_join_avoids_nested_loop(spark):
    """The bucketized range join must plan as an EQUI join (hash/merge on
    the bucket id) — never a nested loop over the cross space — and must
    produce exactly the theta-join pairs (one bucket per matching pair)."""
    from datafusion_sqlgen_spark.operators import joins

    left = spark.table("lineitem").filter("l_orderkey < 500").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    right = spark.table("part").filter("p_partkey < 50").selectExpr(
        "p_partkey", "p_retailprice * 10 AS lo", "p_retailprice * 10 + 500 AS hi"
    )
    out = joins.range_join_bucketed(
        left, right, "l_extendedprice", "lo", "hi", 500.0
    ).select("l_orderkey", "l_linenumber", "p_partkey")
    phys = executed_plan(out)
    assert "NestedLoop" not in phys, phys[:600]

    import pyspark.sql.functions as F
    naive = left.join(
        right,
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") <= F.col("hi")),
    ).select("l_orderkey", "l_linenumber", "p_partkey")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, naive.collect()))


def test_simhash_hashes_each_word_once(spark):
    """SimHash must stage transform(words, md5) ONCE and fold the 16 bit
    extractions over the hashed array — Catalyst does not CSE md5 across
    lambda bodies, so an inlined md5 hashes every word 16x (at 100 TB the
    hashing IS the operator cost)."""
    from datafusion_sqlgen_spark.operators import dedup

    df = dedup.simhash(spark.table("documents"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5") == 1, (
        f"md5 appears {optimized.count('md5')}x in the optimized plan"
    )


def test_asof_join_single_shuffle_no_join(spark):
    """The as-of join must plan as union + ONE hash exchange + window —
    never as a relational join: the join+max_by shape pairs each left row
    with ALL earlier same-key right rows (per-key quadratic intermediate,
    fatal on a skewed 100-TB event stream)."""
    from datafusion_sqlgen_spark.operators import joins

    ev = spark.table("events")
    errors = ev.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "value")
    out = joins.asof_join(
        errors, clicks, on="user_id", left_time="ts",
        right_time="ts", value_cols=["value"],
    )
    phys = executed_plan(out)
    assert "Join" not in phys, phys[:800]
    n_exchanges = phys.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} hash exchanges:\n{phys[:800]}"


def test_asof_pair_stays_join_free(spark, queries):
    """Both parsed asof rows keep the union + window shape: no join
    operator of any kind (their ASOF LEFT desugar once compiled to a
    nested-loop join over the left key set)."""
    for name in ("parsed_asof_join", "parsed_asof_left_join"):
        phys = executed_plan(queries[name](spark, SF_DIR))
        assert "Join" not in phys, (name, phys[:500])
        assert "Window" in phys


def test_sink_roundtrip_readback_prunes_partitions(spark, queries):
    """Round-4 sink path: the partitioned-parquet layout written by
    sources.io.write_parquet must enable partition pruning on read —
    a filter on the partition column reads only that directory."""
    import tempfile

    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.sources import io as sio

    out = tempfile.mkdtemp(prefix="sink_prune_") + "/orders_by_status"
    src = spark.table("orders").limit(2000)
    sio.write_parquet(src, out, partition_by=["o_orderstatus"])
    back = sio.read_parquet(spark, out).filter(F.col("o_orderstatus") == "F")
    txt = plan_text(back)
    assert "PartitionFilters" in txt
    # the partition predicate must be IN the partition filters, not a
    # post-scan filter
    pf = txt.split("PartitionFilters:")[1].splitlines()[0]
    assert "o_orderstatus" in pf


def test_parsed_window_topk_uses_group_limit(spark):
    """SQL text through the parser must reach the same physical
    optimizations as the hand-built IR: a parsed rank-filter window plans
    the WindowGroupLimit pushdown."""
    from datafusion_sqlgen_spark.parser import parse_sql

    p = parse_sql(
        "SELECT o_orderkey, o_custkey FROM "
        "(SELECT o_orderkey, o_custkey, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST) AS rn "
        "FROM orders) AS t WHERE rn <= 3"
    )
    txt = plan_text(p.to_df(spark))
    assert "WindowGroupLimit" in txt


def test_parsed_hint_reaches_physical_plan(spark):
    """A /*+ BROADCAST(t) */ hint parsed from SQL text (plans.Hint) must
    steer the physical join strategy exactly like Join(broadcast=True)."""
    from datafusion_sqlgen_spark.parser import parse_sql

    p = parse_sql(
        "SELECT /*+ BROADCAST(nation) */ n_name, count(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    )
    txt = plan_text(p.to_df(spark))
    assert "BroadcastHashJoin" in txt


def test_shared_window_spec_plans_one_window_one_exchange(spark, queries):
    """Two window functions over the SAME spec (ts_sliding_1h_stats:
    interval-frame sum + count) must share one Window node above one
    hash exchange — a second exchange would double the shuffle for no
    semantic reason."""
    df = queries["ts_sliding_1h_stats"](spark, SF_DIR)
    phys = executed_plan(df)
    assert phys.count("Exchange hashpartitioning") == 1, phys[:600]
    assert phys.count("Window") == 1, phys[:600]


def _tree(txt: str) -> str:
    """The numbered-node tree section only (details repeat node names)."""
    return txt.split("\n\n")[0]


def test_sessionize_single_key_exchange(spark, queries):
    """Window pass + per-session aggregate must share ONE hash exchange
    on the key (hash(user_id) clusters (user_id, session_no) too), and
    no Join node appears anywhere."""
    txt = plan_text(queries["ts_sessionize"](spark, SF_DIR))
    tree = _tree(txt)
    assert "Join" not in tree
    hashes = [l for l in txt.splitlines()
              if "Arguments: hashpartitioning" in l]
    assert len({h.strip() for h in hashes}) == 1, hashes


def test_decontaminate_broadcasts_benchmark(spark, queries):
    """The benchmark shingle set must broadcast — a sort-merge join here
    would shuffle the full corpus shingle stream."""
    txt = plan_text(queries["text_decontaminate"](spark, SF_DIR))
    tree = _tree(txt)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_decontaminate_no_inferred_generate_filter(spark, queries):
    """explode (non-outer) of a staged attribute makes
    InferFiltersFromGenerate substitute the WHOLE shingle+md5 expression
    into a scan-level Filter — the hashing pass runs twice (measured 3x
    wall on the corpus side). The operator uses explode_outer, which the
    rule exempts; no Filter may mention md5."""
    txt = plan_text(queries["text_decontaminate"](spark, SF_DIR))
    for line in txt.splitlines():
        if "Condition" in line or ("Filter" in line and "md5" in line):
            assert "md5" not in line, line


def test_quantize_int8_is_narrow(spark, queries):
    """Pure per-row map: no exchange, no aggregate, no join."""
    txt = plan_text(queries["sim_quantize_int8"](spark, SF_DIR))
    tree = _tree(txt)
    assert "hashpartitioning" not in tree
    assert "Join" not in tree and "HashAggregate" not in tree


def test_repetition_single_doc_exchange(spark, queries):
    """Both aggregation levels must reuse the one explicit doc-id
    repartition (the naive groupBy chain would add a second shuffle)."""
    txt = plan_text(queries["text_repetition"](spark, SF_DIR))
    hashes = {l.strip() for l in txt.splitlines()
              if "Arguments: hashpartitioning" in l}
    assert len(hashes) == 1, hashes


def test_tfidf_single_explode_pass(spark, queries):
    """The corpus explode must appear ONCE in the physical tree — the
    join-back docfreq design recomputed the whole explode subtree."""
    txt = plan_text(queries["text_tfidf_topk"](spark, SF_DIR))
    tree = _tree(txt)
    assert tree.count("Generate") == 1, "explode subtree duplicated"


def test_rolling_anomaly_partial_agg_before_shuffle(spark, queries):
    """Raw events must compress to the hourly rollup map-side: a
    partial_count appears BELOW the first exchange (repartitioning the
    raw stream by key would move the full data through few keys)."""
    txt = plan_text(queries["ts_rolling_anomaly"](spark, SF_DIR))
    assert "partial_count" in txt
    tree = _tree(txt)
    read = tree.split("ReadSchema:")[-1] if "ReadSchema" in txt else ""
    assert "HashAggregate" in tree and "Window" in tree


def test_materialize_dedup_broadcast_anti(spark, queries):
    """The corpus-side pass is one broadcast LEFT ANTI join — documents
    never shuffle."""
    txt = plan_text(queries["dedup_materialize"](spark, SF_DIR))
    assert "LeftAnti" in txt
    assert "BroadcastHashJoin" in txt


def test_block_dedup_group_limit_two_shuffles(spark, queries):
    """The global first-occurrence choice must plan a partial+final
    WindowGroupLimit around ONE fixed-width md5-keyed exchange (rn=1
    prunes pre-shuffle); reassembly adds exactly one doc-id exchange.
    A per-block join design would shuffle block text twice."""
    txt = plan_text(queries["dedup_block_level"](spark, SF_DIR))
    assert "WindowGroupLimit" in txt, "rn=1 not pushed into group-limit"
    hashes = [l for l in txt.splitlines()
              if "Arguments: hashpartitioning" in l]
    assert len(hashes) == 2, hashes
    tree = _tree(txt)
    assert tree.count("Generate") == 1, "block explode duplicated"


def test_c4_filters_single_pass_no_shuffle(spark, queries):
    """One narrow projection: no exchange, and the word-length lambda
    reduction evaluates ONCE (inline reuse would copy it per flag —
    the simhash/decontaminate staging lesson)."""
    df = queries["text_c4_filters"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert plan.count("aggregate(") == 1, "length reduction duplicated"
    assert plan.count("split(") == 1, "tokenization duplicated"


def test_gopher_filters_single_pass_no_shuffle(spark, queries):
    """Gopher rules are a pure narrow map like the C4 chain: zero
    exchanges, and each staged array (words, lines) tokenizes ONCE —
    inline reuse would copy the split into every count column."""
    df = queries["text_gopher_filters"](spark, SF_DIR)
    plan = executed_plan(df)
    assert "Exchange" not in plan
    assert plan.count("aggregate(") == 1, "length reduction duplicated"
    # exactly two tokenizations: words (regex split) + lines (newline)
    assert plan.count("split(") == 2, plan.count("split(")


def test_pq_encode_argmin_is_narrow(spark, queries):
    """PQ's nearest-codeword assignment folds the broadcast codebook
    per row (array_min over structs) — no per-vector window, and the
    corpus never hash-shuffles on vec_id. The only exchanges aggregate
    k*(dim/m) component means and the k-row codebooks."""
    plan = queries["sim_pq_encode"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan, "argmin fell back to a window"
    assert "hashpartitioning(vec_id" not in plan, "corpus shuffled on id"


def test_fuzzy_join_equi_on_grams(spark, queries):
    """The edit-distance join must run as an EQUI join on the q-gram
    key — never a nested-loop/cartesian over the string pair space."""
    txt = plan_text(queries["join_fuzzy_names"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "Join" in txt  # hash or sort-merge equi join on __gram


def test_bm25_explode_free_takeordered(spark, queries):
    """BM25 tf is per-row (no posting-list explode), corpus stats are a
    1-row broadcast, and the top-k is a TakeOrdered, not a global sort."""
    plan = queries["text_bm25_topk"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "posting-list explode crept in"
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only exchange is the 1-row stats broadcast — the corpus never
    # hash- or range-shuffles
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_global_shuffle_range_partitioned(spark, queries):
    """The epoch shuffle is ONE range exchange + within-partition sort —
    never a single-partition global Sort (the ORDER BY rand() trap)."""
    plan = queries["sample_global_shuffle"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 1, plan[:400]


def test_temperature_mix_broadcast_rates(spark, queries):
    """The per-source rate table (#sources rows) must broadcast back to
    the corpus; documents never hash-shuffle."""
    txt = plan_text(queries["sample_temperature_mix"](spark, SF_DIR))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    # only the tiny counts aggregate hash-shuffles (source keys)
    hashes = [l for l in txt.splitlines()
              if "Arguments: hashpartitioning" in l]
    assert len(hashes) == 1, hashes


def test_recall_at_k_broadcasts_queries(spark, queries):
    """Both top-k tiers broadcast the query side; the corpus streams.
    (The exact tier's nested-loop against the broadcast query set is the
    documented brute-force audit shape, not a serving path.)"""
    txt = plan_text(queries["sim_recall_at_k"](spark, SF_DIR))
    assert txt.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in txt


def test_lsh_bucketed_topk_joins_once(spark, queries):
    """The LSH tier's bucket is a per-row expression of the vector, so
    the only join is the broadcast query side probing the corpus on its
    bucket — no join back to the bucket table by id."""
    a = audit_plan(queries["sim_cosine_topk_bucketed"](spark, SF_DIR))
    assert a.n_broadcast_joins == 1, a.plan_text[:2000]
    assert a.n_sort_merge_joins == 0 and a.n_nested_loop_joins == 0


def test_embedding_near_dup_joins_once(spark, queries):
    """Embedding dedup takes its bucket the same per-row way, so its
    one join is the bucket self-join of the pair search."""
    a = audit_plan(queries["dedup_embedding_cosine"](spark, SF_DIR))
    joins = (a.n_broadcast_joins + a.n_sort_merge_joins
             + a.n_nested_loop_joins)
    assert joins == 1, a.plan_text[:2000]


def test_kmeans_broadcasts_centroids_each_iteration(spark, queries):
    """Every Lloyd iteration must broadcast the k x d centroid table —
    the corpus is never hash-shuffled for assignment (only the tiny
    (cell, pos) component means shuffle)."""
    txt = plan_text(queries["sim_kmeans_fit"](spark, SF_DIR))
    assert txt.count("BroadcastExchange") >= 3  # 2 iters + final assign
    assert "SortMergeJoin" not in txt


def test_key_skew_take_ordered_no_global_sort(spark, queries):
    """Heavy-hitter selection must be a TakeOrdered top-N over the
    per-key counts, never a global Sort of the count table (distinct
    keys can number in the billions); the 1-row totals broadcast."""
    txt = plan_text(queries["profile_key_skew"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastExchange" in txt
    tree = _tree(txt)
    assert "Sort " not in tree.replace("TakeOrderedAndProject", ""), tree


def test_incremental_dedup_no_cartesian_anti_join(spark, queries):
    """The incremental update must stay candidate-bounded: the exact
    tier is an anti join on fixed-width hashes, the near tier joins band
    tables on (band, bucket) — no cartesian, no nested loop against the
    corpus."""
    txt = plan_text(queries["dedup_incremental"](spark, SF_DIR))
    assert "LeftAnti" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_unigram_logprob_broadcast_vocab(spark, queries):
    """The vocabulary (top-V + scalar total) must broadcast back to the
    exploded words — the corpus shuffles once (term counts), never for
    the scoring join."""
    txt = plan_text(queries["text_unigram_logprob"](spark, SF_DIR))
    assert txt.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in txt
    assert "TakeOrderedAndProject" in txt  # top-V vocab, not a full sort


# ---- round-5 gates: the round-4d additions (VERDICT r4 item 5) ----


def test_scd2_single_join_single_pass(spark, queries):
    """The SCD2 merge must execute its full-outer join ONCE: the three
    output versions (untouched / closed / new) come from one
    conditional-array explode above one join — never a union of three
    filtered re-joins (3x scans of both sides at scale)."""
    plan = queries["join_scd2_merge"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    joins_n = sum(plan.count(x) for x in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct",
    ))
    assert joins_n == 1, f"SCD2 planned {joins_n} joins, want exactly 1"
    assert "FullOuter" in plan
    assert plan.count("Generate") == 1  # the 0-2 version explode


def test_interval_overlap_equi_on_buckets(spark, queries):
    """Interval-interval overlap must run as an EQUI join on the bucket
    id (both sides exploded to touched buckets), never a nested-loop
    theta join over the interval pair space."""
    txt = queries["join_interval_overlap"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert txt.count("Generate") == 2  # one bucket explode per side


def test_basket_pairs_bounded_fanout_takeordered(spark, queries):
    """Market-basket lift: the self-join is equi on the basket key (the
    quadratic stays per-basket), count/item tables broadcast for the
    lift arithmetic, the single nested-loop is the 1-row basket-total
    broadcast, and the top-k is a TakeOrdered, not a global sort."""
    plan = queries["affinity_basket_pairs"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row total only
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # item-count lift joins


def test_funnel_single_user_shuffle(spark, queries):
    """The step funnel reduces to per-user min-timestamps: ONE
    hash-partitioned exchange on the user key, aggregates map-side
    combined."""
    plan = queries["ts_funnel_steps"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_cohort_retention_shuffle_budget(spark, queries):
    """Cohort retention: cohort assignment + activity distinct + final
    (cohort, week) count — three key shuffles, the user-cohort join
    broadcastable, no global sort."""
    plan = queries["ts_cohort_retention"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_mergeable_rollup_two_aggregate_shuffles(spark, queries):
    """The merge-law workload (two halves rolled up + merged): each
    rollup is a partial+final hash aggregate; the union re-aggregate
    shares the (hour, key) partitioning — bounded exchanges, no joins."""
    plan = queries["ts_mergeable_rollup"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_robust_stats_single_percentile_pass(spark, queries):
    """Robust stats (median/IQR/MAD): percentile sketches aggregate in
    one pass + one broadcast join for the MAD re-center — never a
    per-column full sort."""
    plan = queries["profile_robust_stats"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan  # no sort-based quantile
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_capped_per_group_window_group_limit(spark, queries):
    """Per-group capped sampling must compile to WindowGroupLimit (the
    rank<=k pushdown): partial top-k BEFORE the group shuffle, one
    exchange total."""
    plan = queries["sample_capped_per_group"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_kfold_is_shuffle_free(spark, queries):
    """k-fold assignment is pure row-local hash arithmetic: ZERO
    exchanges of any kind — the 100-TB ideal (split 100 TB with no data
    movement)."""
    plan = queries["sample_kfold"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_language_confidence_is_shuffle_free(spark, queries):
    """Language-ID + confidence margin is a narrow per-document
    projection: zero exchanges, zero Python evals — ingest-gate shape."""
    plan = queries["text_language_confidence"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ngram_counts_single_explode_single_shuffle(spark, queries):
    """Corpus n-gram counts: one explode pass, one (gram) aggregate
    exchange, top-k via TakeOrdered."""
    plan = queries["text_ngram_counts"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_component_stats_single_shuffle(spark, queries):
    """Embedding component stats: one posexplode + one (component)
    aggregate exchange — never a per-component scan."""
    plan = queries["sim_component_stats"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_dsir_weights_broadcast_scalars_no_cartesian(spark, queries):
    """DSIR importance weights: hashed-ngram count tables and scalar
    totals BROADCAST back to the corpus (the only nested-loop joins are
    1-row scalar broadcasts); the corpus itself never cartesians."""
    plan = queries["text_dsir_weights"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj <= 4 and plan.count("BroadcastExchange") >= bnlj


def test_dsir_resample_materializes_weights_once(spark, queries):
    """The per-doc weight table must be pinned before it branches into
    the max aggregate and the rate projection — without the cache the
    whole weights pipeline (vocab builds + corpus tokenization) re-runs
    per branch (measured 2.3x wall-clock at sf0.1)."""
    plan = queries["text_dsir_resample"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "weights cache dropped"


def test_semantic_dedup_pair_join_keyed_on_cells(spark, queries):
    """SemDeDup prune: the pairwise stage must be an equi join keyed on
    cell_id (one hash shuffle on a small int key), never a cartesian
    over the corpus; nested-loop joins appear only against broadcast
    1-row codebook/total sides (the ivf_assign shape)."""
    plan = queries["dedup_semantic"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the pair join and the survivor anti-join compile to equi joins
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 2
    assert "Exchange rangepartitioning" not in plan


def test_token_budget_mix_single_domain_shuffle(spark, queries):
    """Token-budget mixture: ONE hash exchange total (the per-domain
    running-sum window); the corpus total joins as a broadcast 1-row
    side; zero Python evals."""
    plan = queries["sample_token_budget_mix"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_ivf_pq_all_joins_broadcast_no_corpus_shuffle(spark, queries):
    """IVF-PQ: zero sort-merge joins — every join is against a
    broadcast small side (nprobe cells, ADC table, shortlist) or a
    broadcast 1-row codebook; no cartesian, no Python eval. The corpus
    reaches the plan only through scans + broadcast-hash probes.  The
    nprobe probe is ivf_assign_multi's in-row sort, so the only windows
    are the shortlist cut and the final rank."""
    plan = queries["sim_ivf_pq_topk"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window [") == 2, plan


def test_quantile_sketch_windows_only_over_state(spark, queries):
    """Binned quantiles: the window (cumulative bin counts) runs over
    the bounded state table, and the raw-value scan reads exactly the
    two needed columns with the null filter pushed."""
    plan = queries["profile_quantile_sketch"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<event_type:string,value:double>" in plan
    assert "PushedFilters: [IsNotNull(value)" in plan


def test_bloom_ngram_packed_filter_is_single_row_broadcast(spark, queries):
    """n-gram Bloom decontamination: the packed bit-array side is ONE
    broadcast row (a BroadcastNestedLoopJoin against it is the designed
    shape); no Python eval anywhere."""
    plan = queries["dedup_bloom_ngram_decontaminate"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # vs the 1-row packed filter


def test_phash_pairs_banded_equi_join_no_all_pairs(spark, queries):
    """phash_near_dup_pairs must generate candidates through the 16-bit
    band equi-join — never an all-pairs product over the corpus. The
    hamming verify runs on candidates only, JVM-side (no Python eval
    after the mapInPandas hash)."""
    plan = queries["mm_phash_pairs"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(ci" in plan or "ci#" in plan  # band keys join
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") <= 2


def test_theta_setops_plan_tiny_joins_no_python(spark, queries):
    """The theta sketch build exchanges only aggregated candidate rows
    (never raw events past the partial agg); the pairwise estimate join
    is a deliberate k-row-sketch-vs-k-row-sketch broadcast nested loop,
    never a sort-merge or true cartesian; everything stays JVM-side."""
    plan = queries["profile_theta_setops"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # sketch pairs only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_logprob_broadcast_lm_tables_no_python(spark, queries):
    """Both LM tables (top-B bigrams with their prev-counts, top-V
    vocab + scalar total) must broadcast back to the lagged token
    stream: the corpus shuffles for the counts and once for the
    doc-keyed lag window — the scoring joins never sort-merge, and the
    whole operator stays JVM-side (no Python eval anywhere)."""
    txt = plan_text(queries["text_bigram_logprob"](spark, SF_DIR))
    assert txt.count("BroadcastExchange") >= 3
    assert "SortMergeJoin" not in txt
    assert "CartesianProduct" not in txt
    assert "TakeOrderedAndProject" in txt  # top-B/top-V, not full sorts
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_sq8_topk_broadcast_queries_narrow_shuffle(spark, queries):
    """SQ8 search: quantization is an in-row map (no exchange before
    the scoring join); the query side broadcasts; no cartesian against
    the corpus (the scoring join is the deliberate broadcast
    nested-loop against the k-row query side); everything JVM-side."""
    txt = plan_text(queries["sim_sq8_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "SortMergeJoin" not in txt
    assert txt.count("BroadcastExchange") >= 2  # queries + shortlist
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_lr_train_broadcast_weights_integer_gradients(spark, queries):
    """LR training: every bucket-keyed join (scoring against the <=V-row
    weight table, the weight update against the fresh gradient) must
    broadcast — corpus-sized doc-keyed joins may legitimately
    sort-merge; no cartesian products beyond the deliberate 1-row
    scalar cross-joins; the whole loop stays JVM-side."""
    plan = queries["text_lr_train"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "SortMergeJoin [bucket" not in plan
    assert plan.count("BroadcastExchange") >= 3  # weights, bias, doc count
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_sq8_topk_broadcast_joins_no_corpus_shuffle(spark, queries):
    """IVF-SQ8: every query-time join is against a broadcast side
    (probed cells, quantized queries, shortlist); no cartesian beyond
    the deliberate k-row centroid nested loops; the corpus itself is
    never sort-merged; everything JVM-side.  The nprobe probe is
    ivf_assign_multi's in-row sort, so the only windows are the
    shortlist cut and the final rank."""
    plan = queries["sim_ivf_sq8_topk"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window [") == 2, plan


def test_ann_join_neither_corpus_broadcasts(spark, queries):
    """Cross-corpus ANN join (round 8): no FORCED broadcast of either
    corpus.  At sf0.001 the planner rightly broadcasts the 250-row
    side on its own — that is the adaptive behavior we want — so the
    gate disables the size heuristic (autoBroadcastJoinThreshold=-1):
    any BroadcastHashJoin that survives would mean a hard-coded
    broadcast hint on a corpus side, which would OOM at 100 TB.  The
    only broadcasts left are the 1-row centroid codebooks (the
    designed BroadcastNestedLoopJoin of the assignment folds), and the
    corpus-corpus join degrades to a shuffle on cell_id."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["sim_ann_join"](spark, SF_DIR)
        plan = executed_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "hashpartitioning(cell_id" in plan, plan[:2000]


def test_ann_join_multi_probe_bounds_candidates(spark):
    """nprobe=2 assignment emits exactly 2 rows per left vector, and
    every output query row carries <= k neighbors."""
    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.operators import similarity

    emb = spark.table("embeddings")
    left = emb.filter("vec_id % 2 = 1")
    cents = emb.filter("vec_id % 2 = 0").orderBy("vec_id").limit(8)
    probes = similarity.ivf_assign_multi(left, cents, nprobe=2)
    per_vec = probes.groupBy("vec_id").count().agg(
        F.min("count"), F.max("count")).first()
    assert per_vec[0] == 2 and per_vec[1] == 2
    out = similarity.ann_join(left, emb.filter("vec_id % 2 = 0"), k=3)
    worst = out.groupBy("query_id").count().agg(F.max("count")).first()[0]
    assert worst <= 3


def test_dml_statements_plan_shapes(spark, queries):
    """Round-10 DML desugars keep their zero-shuffle shapes: UPDATE is a
    single scan projection (no exchange, no join), DELETE a pushed-down
    scan filter, INSERT a positional union of two scans; the cascaded
    MERGE chain is exactly ONE (broadcast or sort-merge) left join plus
    a filter — never a cartesian product and never a second join."""
    upd = plan_text(queries["parsed_update_where"](spark, SF_DIR))
    assert "Exchange" not in upd and "Join" not in upd

    dele = plan_text(queries["parsed_delete_where"](spark, SF_DIR))
    assert "Exchange" not in dele and "Join" not in dele
    # the NOT-(p IS TRUE) survivor predicate is null-safe (<=>), which
    # parquet cannot push — it must still sit as the codegen filter
    # DIRECTLY on the scan (one pass, zero shuffle)
    assert "<=> true" in dele and "Filter" in dele

    ins = plan_text(queries["parsed_insert_select"](spark, SF_DIR))
    assert "Join" not in ins and "Exchange" not in ins and "Union" in ins

    # row-value membership plans as ONE LeftSemi on both keys; the
    # series spine is ONE LeftOuter from the generated axis — never a
    # cartesian in either
    riq = plan_text(queries["parsed_row_in_subquery"](spark, SF_DIR))
    assert riq.count("Join type:") == 1 and "Join type: LeftSemi" in riq
    spn = plan_text(queries["parsed_series_spine"](spark, SF_DIR))
    assert spn.count("Join type:") == 1 and "Join type: LeftOuter" in spn
    assert "Cartesian" not in riq and "Cartesian" not in spn

    cas = plan_text(queries["parsed_merge_multi_arm"](spark, SF_DIR))
    assert "Cartesian" not in cas

    # the insert cascade is target-passthrough UNION one anti join
    # (per-column CASEs are projection-side — no extra join per arm)
    ica = plan_text(queries["parsed_merge_insert_arms"](spark, SF_DIR))
    assert ica.count("Join type:") == 1 and "LeftAnti" in ica
    assert "Cartesian" not in ica and "Union" in ica
    # formatted explain prints each operator in the tree AND as a
    # detail block — "Join type:" appears exactly once per join
    n_joins = cas.count("Join type:")
    assert n_joins == 1, f"cascade must be ONE left join, saw {n_joins}"
    assert "Join type: LeftOuter" in cas


def test_triangle_count_no_cartesian_degree_bounded(spark, queries):
    """Triangle counting is three EQUI joins (wedge + closure) over the
    degree-oriented edge list plus hash aggregates — never a cartesian
    or a per-key nested loop, and fully JVM-side. The degree-ordered
    orientation is what keeps wedge-center out-degree O(sqrt(m)) on
    skewed graphs; the plan must show only hash-partitioned joins."""
    txt = plan_text(queries["graph_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_hard_negatives_broadcasts_query_side_only(spark, queries):
    """Hard-negative mining: the sampled query side broadcasts (the
    cosine_topk contract); the corpus must never exchange for the pair
    scoring — one scan into a broadcast join, ranking via the window.
    The label-inequality gate lives in the join condition (a
    BroadcastNestedLoopJoin over the tiny query side), so same-class
    pairs never materialize as rows."""
    txt = plan_text(queries["sim_hard_negatives"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastExchange" in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_vocab_growth_single_wide_shuffle_per_stage(spark, queries):
    """Heaps-curve: the token-keyed first-seen min aggregate is
    map-side combined (partial + final HashAggregate pairs), buckets
    cumulate over a window — no cartesian, no Python, no nested
    loops anywhere."""
    txt = plan_text(queries["text_vocab_growth"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "partial_min" in txt  # map-side combine on the token key
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_groups_frame_and_running_distinct_one_exchange(spark, queries):
    """The dense_rank / first-occurrence pre-columns sort on the same
    partition+order prefix as their main windows, so Catalyst plans
    ONE hash-partitioning exchange per window family — the desugars
    must not double the shuffle count."""
    import re

    txt = plan_text(queries["parsed_win_running_distinct"](spark, SF_DIR))
    # one exchange for the (event_type[, user_id]) window family; the
    # flag window partitions on (event_type, user_id) and the outer on
    # event_type — prefix-compatible, at most two hash exchanges and
    # no cartesian/python
    assert len(re.findall(r"Exchange hashpartitioning", txt)) <= 2
    assert "CartesianProduct" not in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_drift_psi_bounded_broadcasts_one_count_shuffle(spark, queries):
    """PSI drift gate (r12): the bucket edges and cohort totals ride as
    1-row broadcasts (BNLJ with a bounded build side — allowlisted);
    the only hash shuffle proportional to the data is the n_buckets-
    group count aggregate, map-side combined."""
    txt = plan_text(queries["profile_drift_psi"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "partial_sum" in txt or "partial_count" in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt


def test_mmr_diversify_one_topn_window_then_arrow_greedy(spark, queries):
    """MMR (r12): stage 1 is the broadcast-query top-n window (one
    corpus pass, RunningWindowFunction/WindowGroupLimit-eligible);
    stage 2 is the per-query bounded greedy as ONE Arrow-batched
    FlatMapGroupsInPandas — never a row-at-a-time BatchEvalPython, and
    never a corpus-side cartesian."""
    txt = plan_text(queries["sim_mmr_diversify"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in txt
    assert "CartesianProduct" not in txt
    # the candidate search broadcasts the CAPPED query side only (the
    # formatted explain puts the build side in the Arguments block)
    assert "BroadcastNestedLoopJoin" in txt
    assert "BuildLeft" in txt or "BuildRight" in txt
    # top-n never materializes full rankings: group-limit pushdown
    assert "WindowGroupLimit" in txt


def test_calibration_bins_copartitioned_label_join(spark, queries):
    """Calibration (r12): the label join re-uses the classifier's
    doc-key partitioning (equi-join, no nested loop), the weight table
    broadcasts, and the final reduce is the n_bins-group aggregate."""
    txt = plan_text(queries["text_calibration_bins"](spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "BroadcastHashJoin" in txt  # the broadcast weight table
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
