"""LLM-pipeline operators vs their DuckDB oracles on the driver tables."""

import pytest

from datafusion_sqlgen_spark.operators import dedup, joins, sampling, similarity, text, timeseries
from tests.conftest import cached_rdds, normalize_rows


def _df(spark, name):
    return spark.table(name)


def check(spark, duck, sdf, oracle_sql, ndigits=4):
    a = normalize_rows([tuple(r) for r in sdf.collect()], ndigits)
    b = normalize_rows(duck.execute(oracle_sql).fetchall(), ndigits)
    assert len(a) == len(b), f"row count {len(a)} vs oracle {len(b)}"
    assert a == b, f"mismatch\nspark: {a[:3]}\noracle: {b[:3]}"
    return a


def test_token_stats(spark, duck):
    check(spark, duck, text.token_stats(_df(spark, "documents")),
          text.token_stats_oracle())


def test_quality_score(spark, duck):
    check(spark, duck, text.quality_score(_df(spark, "documents")),
          text.quality_score_oracle())


def test_language_id(spark, duck):
    check(spark, duck, text.language_id(_df(spark, "documents")),
          text.language_id_oracle())


def test_fingerprint(spark, duck):
    check(spark, duck, text.fingerprint(_df(spark, "documents")),
          text.fingerprint_oracle())


def test_exact_dedup(spark, duck):
    check(spark, duck, dedup.exact_dedup(_df(spark, "documents")),
          dedup.exact_dedup_oracle())


def test_minhash_signatures(spark, duck):
    check(spark, duck, dedup.minhash_signatures(_df(spark, "documents")),
          dedup.minhash_signatures_oracle())


def test_minhash_buckets(spark, duck):
    check(spark, duck, dedup.minhash_buckets(_df(spark, "documents")),
          dedup.minhash_buckets_oracle())


def test_simhash(spark, duck):
    check(spark, duck, dedup.simhash(_df(spark, "documents")),
          dedup.simhash_oracle())


def test_ngram_jaccard(spark, duck):
    check(spark, duck,
          dedup.ngram_jaccard_pairs(_df(spark, "documents"), max_left_id=20,
                                    threshold=0.05),
          dedup.ngram_jaccard_pairs_oracle(max_left_id=20, threshold=0.05))


def test_cosine_topk(spark, duck):
    q = _df(spark, "embeddings").filter("vec_id < 10")
    check(spark, duck, similarity.cosine_topk(_df(spark, "embeddings"), q),
          similarity.cosine_topk_oracle(max_query_id=10), ndigits=3)


def test_lsh_bucket_stats(spark, duck):
    check(spark, duck, similarity.lsh_bucket_stats(_df(spark, "embeddings")),
          similarity.lsh_bucket_stats_oracle())


def test_cosine_topk_bucketed(spark, duck):
    q = _df(spark, "embeddings").filter("vec_id < 10")
    check(spark, duck,
          similarity.cosine_topk_bucketed(_df(spark, "embeddings"), q),
          similarity.cosine_topk_bucketed_oracle(max_query_id=10), ndigits=3)


def test_embedding_norm_stats(spark, duck):
    check(spark, duck, similarity.embedding_norm_stats(_df(spark, "embeddings")),
          similarity.embedding_norm_stats_oracle())


def test_embedding_near_dup(spark, duck):
    check(spark, duck, dedup.embedding_near_dup(_df(spark, "embeddings")),
          dedup.embedding_near_dup_oracle(), ndigits=3)


def test_ivf_topk(spark, duck):
    q = _df(spark, "embeddings").filter("vec_id < 10")
    check(spark, duck, similarity.ivf_topk(_df(spark, "embeddings"), q),
          similarity.ivf_topk_oracle(max_query_id=10), ndigits=3)


def test_asof_join(spark, duck):
    """Most recent click by the same user at or before each error event."""
    ev = _df(spark, "events")
    errors = ev.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "value")
    out = joins.asof_join(errors, clicks, on="user_id", left_time="ts",
                          right_time="ts", value_cols=["value"])
    oracle = joins.asof_join_oracle(
        "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')",
        "(SELECT user_id, ts, value FROM events WHERE event_type = 'click')",
        on="user_id", left_time="ts", right_time="ts",
        left_cols=["event_id", "user_id", "ts"], value_cols=["value"],
    )
    check(spark, duck, out, oracle)


def test_mixture_waterfill(spark, duck):
    """Water-filling mixture solver vs its DuckDB oracle; sanity: every
    capped domain sits exactly at the epoch cap, uncapped draws are
    weight-proportional."""
    out = check(
        spark, duck, sampling.mixture_waterfill(_df(spark, "documents")),
        sampling.mixture_waterfill_oracle(),
    )
    rows = sampling.mixture_waterfill(_df(spark, "documents")).collect()
    assert any(r["capped"] for r in rows)
    assert any(not r["capped"] for r in rows)
    for r in rows:
        if r["capped"]:
            assert r["epochs_milli"] == 2000
            assert r["draw_tokens"] == r["capacity"]
        else:
            assert r["draw_tokens"] < r["capacity"]


def test_asof_join_nearest(spark, duck):
    """Nearest click (either direction, 1-day tolerance) per error."""
    ev = _df(spark, "events")
    errors = ev.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "value")
    out = joins.asof_join_nearest(
        errors, clicks, on="user_id", left_time="ts", right_time="ts",
        value_cols=["value"], tolerance_s=86400,
    )
    oracle = joins.asof_join_nearest_oracle(
        "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')",
        "(SELECT user_id, ts, value FROM events WHERE event_type = 'click')",
        on="user_id", left_time="ts", right_time="ts", left_id="event_id",
        left_cols=["event_id", "user_id", "ts"], value_cols=["value"],
        tolerance_s=86400,
    )
    check(spark, duck, out, oracle)


def test_asof_join_nearest_edges(spark):
    """Hand-built edges: equidistant tie -> backward; a nearer
    out-of-tolerance candidate loses to a farther in-window one on the
    other side; equal timestamps match at distance 0; null left time
    matches nothing."""
    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 12, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 10, t(30)),    # tie: rights at 27s and 33s -> backward (27s)
         (2, 11, t(10)),    # backward 9s away but out of 5s tol; fwd 4s in
         (3, 12, t(15)),    # exact-equal right at 15s -> distance 0
         (4, 13, None),     # null left ts -> no match
         (5, 99, t(0))],    # no right rows for key 99
        "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(10, t(27), 1.0), (10, t(33), 2.0),
         (11, t(1), 3.0), (11, t(14), 4.0),
         (12, t(15), 5.0), (12, t(16), 6.0)],
        "k long, ts timestamp, v double")
    out = joins.asof_join_nearest(
        left, right, on="k", left_time="ts", right_time="ts",
        value_cols=["v"], tolerance_s=5,
    )
    got = {r["id"]: r["v_asof"] for r in out.collect()}
    assert got == {1: 1.0, 2: 4.0, 3: 5.0, 4: None, 5: None}


def test_salted_join_matches_plain(spark, duck):
    """Salting must be semantically invisible (inner and left modes)."""
    import pytest
    from pyspark.sql import functions as F

    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    for how in ("inner", "left"):
        salted = joins.salted_join(orders, cust, on="o_custkey", how=how)
        plain = orders.join(cust, on="o_custkey", how=how)
        assert salted.count() == plain.count()
        assert salted.subtract(plain).count() == 0
        assert plain.subtract(salted).count() == 0
    with pytest.raises(ValueError):
        joins.salted_join(orders, cust, on="o_custkey", how="full")


def test_range_join(spark, duck):
    """Parts joined to lineitems priced above retail (equi + residual range)."""
    from pyspark.sql import functions as F

    li = _df(spark, "lineitem")
    pt = _df(spark, "part")
    out = joins.range_join(
        li.select("l_orderkey", "l_partkey", "l_extendedprice"),
        pt.select("p_partkey", "p_retailprice"),
        cond=(F.col("l_partkey") == F.col("p_partkey"))
        & (F.col("l_extendedprice") > F.col("p_retailprice") * 20),
    ).select("l_orderkey", "l_partkey", F.round("l_extendedprice", 2).alias("price"))
    oracle = """
    SELECT l_orderkey, l_partkey, round(l_extendedprice, 2) AS price
    FROM lineitem JOIN part ON l_partkey = p_partkey
      AND l_extendedprice > p_retailprice * 20
    """
    check(spark, duck, out, oracle)


def test_connected_components_synthetic(spark):
    """CC on a known graph: two chains and an isolated edge."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["src", "dst"],
    )
    got = {
        (r.node, r.label)
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_near_dup_clusters(spark, duck):
    check(spark, duck,
          dedup.near_dup_clusters(_df(spark, "documents"), threshold=0.2),
          dedup.near_dup_clusters_oracle(threshold=0.2))


def test_cluster_ids_are_component_minima(spark):
    """Every cluster_id labels its own cluster's smallest member."""
    from pyspark.sql import functions as F

    cc = dedup.near_dup_clusters(_df(spark, "documents"), threshold=0.2)
    bad = (
        cc.groupBy("cluster_id").agg(F.min("doc_id").alias("lo"))
        .filter(F.col("lo") != F.col("cluster_id"))
    )
    assert bad.count() == 0


def test_stable_sample_deterministic(spark, duck):
    docs = _df(spark, "documents")
    s1 = sorted(r.doc_id for r in sampling.stable_sample(docs, 0.2).collect())
    s2 = sorted(r.doc_id for r in sampling.stable_sample(docs, 0.2).collect())
    assert s1 == s2 and len(s1) > 0
    # a different salt draws a (near-certainly) different sample
    s3 = sorted(
        r.doc_id for r in sampling.stable_sample(docs, 0.2, salt="other").collect()
    )
    assert s1 != s3
    # rate is approximate but bounded (binomial, n=total docs)
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.3 * n
    check(spark, duck,
          sampling.stable_sample(docs, 0.2).select("doc_id"),
          sampling.stable_sample_oracle(0.2, cols="doc_id"))


def test_hash_split_partition(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    split = sampling.hash_split(docs, holdout=0.25)
    # total preserved, both sides present, assignment is a function of id
    agg_rows = split.groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in agg_rows}
    assert set(counts) == {"train", "holdout"}
    assert sum(counts.values()) == docs.count()
    assert split.select("doc_id", "split").distinct().count() == docs.count()
    check(spark, duck,
          split.select("doc_id", "split"),
          sampling.hash_split_oracle(0.25, cols="doc_id"))


def test_word_positions(spark, duck):
    from pyspark.sql import functions as F

    out = text.word_positions(_df(spark, "documents").filter("doc_id < 50"))
    # 1-based contiguous positions per document
    stats = out.groupBy("doc_id").agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi"),
        F.count("*").alias("n"),
    )
    assert stats.filter("lo <> 1 OR hi <> n").count() == 0
    check(spark, duck, out,
          text.word_positions_oracle(where="WHERE doc_id < 50"))


def test_gap_fill_hourly(spark, duck):
    from pyspark.sql import functions as F

    out = timeseries.hourly_counts_gap_filled(_df(spark, "events"))
    # the grid is dense: every key covers the same full hour span
    per_key = out.groupBy("event_type").count()
    assert per_key.select("count").distinct().count() == 1
    # and gap rows exist (n=0) — otherwise this is just the plain rollup
    assert out.filter("n = 0").count() > 0
    check(spark, duck, out, timeseries.hourly_counts_gap_filled_oracle())


def test_locf_resample(spark, duck):
    from pyspark.sql import functions as F

    src = _df(spark, "events").filter("user_id < 20")
    out = timeseries.locf_resample(src)
    # LOCF never leaves a gap after a key's first observation
    w_ok = out.filter("v_filled IS NULL")
    first_obs = (
        timeseries.locf_resample(src)
        .filter("v_filled IS NOT NULL")
        .groupBy("user_id")
        .agg(F.min("hr").alias("first_hr"))
    )
    bad = w_ok.join(first_obs, "user_id").filter("hr >= first_hr")
    assert bad.count() == 0
    check(spark, duck, out,
          timeseries.locf_resample_oracle(where="WHERE user_id < 20"))


def test_stratified_sample(spark, duck):
    docs = _df(spark, "documents")
    rates = {"en": 0.1, "de": 1.0, "fr": 0.5}
    out = sampling.stratified_sample(docs, rates)
    # de is kept whole; unlisted strata (es/zh) drop entirely
    assert out.filter("lang = 'de'").count() == docs.filter("lang = 'de'").count()
    assert out.filter("lang IN ('es','zh')").count() == 0
    assert 0 < out.filter("lang = 'en'").count() < docs.filter("lang = 'en'").count()
    check(spark, duck,
          out.select("doc_id", "lang"),
          sampling.stratified_sample_oracle(rates, cols="doc_id, lang"))


def test_stable_topk_sample(spark, duck):
    docs = _df(spark, "documents")
    out = sampling.stable_topk_sample(docs, k=50)
    assert out.count() == 50
    # reproducible: same 50 ids on a second run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in sampling.stable_topk_sample(docs, k=50).collect())
    assert a == b
    check(spark, duck,
          out.select("doc_id", "lang"),
          sampling.stable_topk_sample_oracle(k=50, cols="doc_id, lang"))


def test_approx_count_distinct_within_tolerance(spark):
    """HLL sketch sanity: approx distinct within 5% of exact (engines'
    sketches differ, so this is a tolerance check, not an oracle hash)."""
    import pyspark.sql.functions as F

    r = (
        spark.table("orders")
        .agg(
            F.approx_count_distinct("o_custkey").alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()[0]
    )
    assert abs(r["approx"] - r["exact"]) <= 0.05 * r["exact"]


def test_pack_sequences_budget_boundaries(spark):
    from datafusion_sqlgen_spark.operators import text

    df = spark.createDataFrame(
        [(1, "a", ("w " * 10).strip()),
         (2, "a", ("w " * 10).strip()),
         (3, "a", ("w " * 10).strip()),
         (9, "b", ("w " * 5).strip())],
        "doc_id bigint, lang string, text string",
    )
    out = {r["doc_id"]: r for r in text.pack_sequences(df, budget=16).collect()}
    # lang 'a': starts 0, 10, 20 -> packs 0, 0, 1; lang 'b' restarts at 0
    assert (out[1]["start_offset"], out[1]["pack_id"]) == (0, 0)
    assert (out[2]["start_offset"], out[2]["pack_id"]) == (10, 0)
    assert (out[3]["start_offset"], out[3]["pack_id"]) == (20, 1)
    assert (out[9]["start_offset"], out[9]["pack_id"]) == (0, 0)


def test_redact_masks_both_patterns(spark):
    from datafusion_sqlgen_spark.operators import text
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io and card 1234567890 ok 123")],
        "doc_id bigint, text string",
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), text._EMAIL_RE, "<EMAIL>"),
        text._LONGNUM_RE, "<NUM>",
    )
    got = df.select(red.alias("t")).collect()[0]["t"]
    # email and >=6-digit run masked; the short 123 survives
    assert got == "mail <EMAIL> and card <NUM> ok 123"
    out = text.redact(df).collect()[0]
    assert out["n_chars_redacted"] == len(got)


def test_sessionize(spark, duck):
    from pyspark.sql import functions as F

    out = timeseries.sessionize(_df(spark, "events"), gap_s=1800)
    # session invariants: ids start at 1 and are contiguous per key;
    # start <= end; consecutive sessions of a key are separated by more
    # than the gap (otherwise they'd be one session)
    ids = out.groupBy("user_id").agg(
        F.min("session_no").alias("lo"),
        F.max("session_no").alias("hi"),
        F.count("*").alias("n"),
    )
    assert ids.filter("lo <> 1 OR hi <> n").count() == 0
    assert out.filter("session_start > session_end").count() == 0
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_no")
    gaps = out.select(
        "user_id",
        (F.col("session_start") - F.lag(F.col("session_end")).over(w)).alias(
            "gap"
        ),
    ).filter("gap IS NOT NULL")
    assert gaps.filter(F.col("gap") <= F.expr("INTERVAL 1800 SECOND")).count() == 0
    check(spark, duck, out, timeseries.sessionize_oracle())


def test_decontaminate(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    out = text.decontaminate(
        docs.filter("doc_id >= 20"), docs.filter("doc_id < 20")
    )
    # a benchmark doc checked against itself is 100% contaminated
    self_check = text.decontaminate(
        docs.filter("doc_id < 20"), docs.filter("doc_id < 20")
    )
    assert self_check.filter("overlap <> 1.0 OR NOT contaminated").count() == 0
    # matches never exceed totals
    assert out.filter("n_matched > n_shingles").count() == 0
    check(spark, duck, out, text.decontaminate_oracle())


def test_quantize_int8(spark, duck):
    from pyspark.sql import functions as F

    out = similarity.quantize_int8(_df(spark, "embeddings"))
    # reconstruction error is bounded by half a quantization step
    # (err <= 0.5/scale); the reported scale is rounded to 4 digits, so
    # allow the bound the matching slack
    assert out.filter("max_abs_err > 0.5 / scale + 1e-4").count() == 0
    assert out.filter("scale IS NULL").count() == 0
    check(spark, duck, out, similarity.quantize_int8_oracle())


def test_repetition_stats(spark, duck):
    from pyspark.sql import functions as F

    out = text.repetition_stats(_df(spark, "documents"))
    # fractions are well-formed and consistent: the top gram's share
    # never exceeds rep_frac unless it is unique (count 1)
    assert out.filter("top_gram_frac > 1 OR rep_frac > 1").count() == 0
    assert out.filter(
        "top_gram_count > 1 AND top_gram_frac > rep_frac"
    ).count() == 0
    # a degenerate all-same-word doc is pure repetition
    deg = spark.createDataFrame(
        [(1, "spam spam spam spam spam")], ["doc_id", "text"]
    )
    row = text.repetition_stats(deg).collect()[0]
    assert row.rep_frac == 1.0 and row.top_gram_frac == 1.0
    check(spark, duck, out, text.repetition_stats_oracle())


def test_tfidf_top_terms(spark, duck):
    from pyspark.sql import functions as F

    out = text.tfidf_top_terms(_df(spark, "documents"), k=5)
    # exactly k (or fewer, for tiny docs) ranked terms per doc, ranks
    # contiguous from 1, scores non-increasing within a doc
    per_doc = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("hi")
    )
    assert per_doc.filter("n > 5 OR hi <> n").count() == 0
    w_bad = out.alias("a").join(
        out.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.rank") + 1 == F.col("b.rank"))
        & (F.col("a.score") < F.col("b.score")),
    )
    assert w_bad.count() == 0
    check(spark, duck, out, text.tfidf_top_terms_oracle(k=5))


def test_rolling_anomaly(spark, duck):
    from pyspark.sql import functions as F

    out = timeseries.rolling_anomaly(_df(spark, "events"))
    # a window of one observation has no sample stddev -> never anomalous
    assert out.filter("sigma IS NULL AND is_anomaly").count() == 0
    # z is sign-consistent with the deviation from the window mean
    assert out.filter("z > 0 AND n < mu OR z < 0 AND n > mu").count() == 0
    check(spark, duck, out, timeseries.rolling_anomaly_oracle())


def test_materialize_dedup(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    out = dedup.materialize_dedup(docs, threshold=0.2)
    clusters = dedup.near_dup_clusters(docs, threshold=0.2)
    # exactly one representative per cluster survives
    kept = out.select("doc_id")
    reps = clusters.filter("doc_id = cluster_id").select("doc_id")
    dropped = clusters.filter("doc_id <> cluster_id").select("doc_id")
    assert kept.intersect(dropped).count() == 0
    assert reps.subtract(kept).count() == 0
    assert out.count() == docs.count() - dropped.count()
    check(spark, duck, out, dedup.materialize_dedup_oracle(threshold=0.2))


def test_deterministic_shuffle_order(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    shuffled = sampling.deterministic_shuffle(docs, out_partitions=8)
    # global order: every partition's keys precede the next partition's,
    # and rows are sorted within each partition
    parts = (
        shuffled.select(
            F.spark_partition_id().alias("pid"), "shuffle_key", "doc_id"
        )
        .groupBy("pid")
        .agg(
            F.min("shuffle_key").alias("lo"),
            F.max("shuffle_key").alias("hi"),
        )
        .orderBy("pid")
        .collect()
    )
    for prev, cur in zip(parts, parts[1:]):
        assert prev.hi <= cur.lo, (prev, cur)
    seq = [r.shuffle_key for r in shuffled.select("shuffle_key").collect()]
    # collect preserves partition-then-offset order in local mode
    assert seq == sorted(seq)
    # reproducible across runs; a new salt draws a different epoch order
    ids1 = [r.doc_id for r in shuffled.select("doc_id").collect()]
    ids2 = [
        r.doc_id
        for r in sampling.deterministic_shuffle(docs, out_partitions=8)
        .select("doc_id").collect()
    ]
    assert ids1 == ids2
    ids3 = [
        r.doc_id
        for r in sampling.deterministic_shuffle(
            docs, salt="epoch2", out_partitions=8
        ).select("doc_id").collect()
    ]
    assert ids3 != ids1 and sorted(ids3) == sorted(ids1)
    # the key column matches the oracle's md5 permutation exactly
    check(spark, duck,
          shuffled.select("doc_id", "shuffle_key"),
          sampling.deterministic_shuffle_oracle(cols="doc_id"))


def test_quality_dedup_keeps_best_copy(spark):
    from pyspark.sql import functions as F

    # two near-identical docs; the HIGHER-id copy is cleaner (no junk
    # punctuation), so quality-aware selection must invert min-id policy
    base = "the quick brown fox jumps over the lazy dog again and again"
    noisy = base + " ###$$$%%%^^^&&&***!!!???###$$$%%%"
    rows = [
        (1, noisy),
        (2, base),
        (10, "a completely different document about spark partitions"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    survivors = sorted(
        r.doc_id
        for r in dedup.quality_dedup(docs, threshold=0.2).collect()
    )
    assert survivors == [2, 10], survivors
    # min-id policy keeps doc 1 instead — the policies genuinely differ
    minid = sorted(
        r.doc_id
        for r in dedup.materialize_dedup(docs, threshold=0.2).collect()
    )
    assert minid == [1, 10], minid


def test_dsir_weights_favor_target_domain(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    target = docs.filter(F.col("lang") == "de")
    w = text.dsir_weights(docs, target)
    means = {
        r.lang: r.m
        for r in w.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(F.avg("mean_logratio").alias("m")).collect()
    }
    # documents from the target domain must score higher than the
    # corpus-average language under the target/source likelihood ratio
    assert means["de"] == max(means.values()), means
    assert means["de"] > means["en"], means
    check(spark, duck,
          w,
          text.dsir_weights_oracle(target_where="lang = 'de'"))


def test_fuzzy_join_blocking_is_lossless(spark):
    from pyspark.sql import functions as F

    # edge cases: substitution, insertion (shifts every later gram),
    # deletion, prefix/suffix edits, and a pair just over the bound
    names = [
        (1, "small ring"),
        (2, "small wing"),   # substitution, dist 1
        (3, "small rings"),  # suffix insertion, dist 1
        (4, "smal ring"),    # interior deletion, dist 1
        (5, "xsmall ring"),  # prefix insertion, dist 1
        (6, "small kings"),  # dist 2 from #1 - must NOT match
    ]
    df = spark.createDataFrame(names, ["id_a", "name_a"])
    rhs = df.select(
        F.col("id_a").alias("id_b"), F.col("name_a").alias("name_b")
    )
    got = {
        (r.id_a, r.id_b)
        for r in joins.fuzzy_join(
            df, rhs, "id_a", "name_a", "id_b", "name_b", max_dist=1
        ).filter("id_a < id_b").collect()
    }
    want = {(1, 2), (1, 3), (1, 4), (1, 5), (3, 6)}  # kings~rings s=1
    assert got == want, got


def test_fuzzy_join_lossless_on_short_strings(spark):
    """ADVICE r4 item 2: strings below the pigeonhole bound
    (q*(d+1)+d = 5 for q=2,d=1) — including sub-q strings, where the
    unclamped gram sequence used to generate phantom grams — must still
    satisfy the naive-oracle losslessness contract via the exact
    length-blocked path."""
    import random

    from pyspark.sql import functions as F

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    # lengths 1..7 straddle the bound; "" excluded (levenshtein trivially
    # pairs it with every 1-char string — covered by ("a","") below)
    rows = [
        (i, "".join(rng.choice("ab") for _ in range(rng.randint(1, 7))))
        for i in range(80)
    ] + [(80, "a"), (81, ""), (82, "xy"), (83, "x")]
    df = spark.createDataFrame(rows, ["id_a", "s_a"])
    rhs = df.select(F.col("id_a").alias("id_b"), F.col("s_a").alias("s_b"))
    got = sorted(
        (r.id_a, r.id_b, r.edit_dist)
        for r in joins.fuzzy_join(
            df, rhs, "id_a", "s_a", "id_b", "s_b", max_dist=1
        ).filter("id_a < id_b").collect()
    )
    want = sorted(
        (i, j, lev(a, b))
        for i, a in rows for j, b in rows
        if i < j and lev(a, b) <= 1
    )
    assert got == want, f"{len(got)} vs {len(want)}"


def test_pq_encode_semantics(spark):
    from pyspark.sql import functions as F

    emb = _df(spark, "embeddings")
    out = similarity.pq_encode(emb, dim=64, m=4, k=4, n_iter=1)
    n = emb.count()
    # every vector gets exactly one code per subspace
    assert out.count() == n * 4
    assert out.groupBy("vec_id").count().filter("count <> 4").count() == 0
    assert out.select("subspace").distinct().count() == 4
    codes = {r.code for r in out.select("code").distinct().collect()}
    assert codes <= {0, 1, 2, 3}
    # encoding is deterministic across runs
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(
        tuple(r)
        for r in similarity.pq_encode(
            emb, dim=64, m=4, k=4, n_iter=1
        ).collect()
    )
    assert a == b
    # dim must divide evenly
    import pytest as _pytest
    with _pytest.raises(ValueError):
        similarity.pq_encode(emb, dim=64, m=5)


def test_interval_overlap_join_duplicate_free(spark):
    from pyspark.sql import functions as F

    # crafted so pairs share MANY buckets (long intervals, small width):
    # the canonical-first-bucket rule must still emit each pair once
    lhs = spark.createDataFrame(
        [(1, 0.0, 100.0), (2, 50.0, 60.0), (3, 200.0, 210.0)],
        ["a_id", "a_lo", "a_hi"],
    )
    rhs = spark.createDataFrame(
        [(10, 90.0, 150.0), (20, 0.0, 300.0), (30, 400.0, 410.0)],
        ["b_id", "b_lo", "b_hi"],
    )
    got = sorted(
        (r.a_id, r.b_id)
        for r in joins.interval_overlap_join(
            lhs, rhs, "a_lo", "a_hi", "b_lo", "b_hi", 10.0
        ).collect()
    )
    # ground truth: all overlapping pairs, each exactly once
    want = sorted(
        (a, b)
        for a, alo, ahi in [(1, 0, 100), (2, 50, 60), (3, 200, 210)]
        for b, blo, bhi in [(10, 90, 150), (20, 0, 300), (30, 400, 410)]
        if alo <= bhi and blo <= ahi
    )
    assert got == want, (got, want)


def test_fuzzy_join_lossless_randomized(spark):
    import random

    from pyspark.sql import functions as F

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(42)
    alpha = "abcd "
    rows = [
        (i, "".join(rng.choice(alpha) for _ in range(rng.randint(5, 12))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id_a", "s_a"])
    rhs = df.select(F.col("id_a").alias("id_b"), F.col("s_a").alias("s_b"))
    got = sorted(
        (r.id_a, r.id_b, r.edit_dist)
        for r in joins.fuzzy_join(
            df, rhs, "id_a", "s_a", "id_b", "s_b", max_dist=1
        ).filter("id_a < id_b").collect()
    )
    want = sorted(
        (i, j, lev(a, b))
        for i, a in rows for j, b in rows
        if i < j and abs(len(a) - len(b)) <= 1 and lev(a, b) <= 1
    )
    assert got == want, f"{len(got)} vs {len(want)}"


def test_dsir_resample_selects_and_matches_oracle(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    sel = text.dsir_resample(
        docs, docs.filter("lang = 'de'"), temperature=0.05
    )
    n = sel.count()
    assert 0 < n < docs.count()  # a real subset, not all/none
    # target-language documents keep at a rate >= the corpus average
    kept = sel.join(docs.select("doc_id", "lang"), "doc_id")
    de_rate = kept.filter("lang = 'de'").count() / docs.filter(
        "lang = 'de'"
    ).count()
    avg_rate = n / docs.count()
    assert de_rate >= avg_rate, (de_rate, avg_rate)
    check(spark, duck, sel,
          text.dsir_resample_oracle(target_where="lang = 'de'",
                                    temperature=0.05))


def test_kmeans_rebuild_holds_no_blocks_of_previous_build(spark):
    """A fresh build of the same query recomputes: the build_queries()
    runner releases the previous build's pins before it builds, so the
    second sim_kmeans_fit build holds none of the first build's blocks
    (and cannot read them through CacheManager's canonical-plan match)."""
    from datafusion_sqlgen_spark.workloads import build_queries
    from tests.conftest import SF_DIR

    fit = build_queries()["sim_kmeans_fit"]
    before = cached_rdds(spark)
    fit(spark, SF_DIR).count()
    first = cached_rdds(spark) - before
    assert first  # the Lloyd means stay pinned while the build is live
    fit(spark, SF_DIR).count()
    now = cached_rdds(spark)
    assert not first & now
    assert now - before  # the second build pinned its own means


def test_query_scope_releases_its_rdds(spark, monkeypatch):
    """A pin, a model-scale cut and a corpus-scale cut made inside a
    query_scope() hold storage blocks while it is open; after it exits
    getRDDStorageInfo() shows none of them."""
    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.materialize import materialize, query_scope

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    base = _df(spark, "documents").limit(20).select("doc_id")
    before = cached_rdds(spark)
    with query_scope() as scope:
        materialize(base.distinct(), eager=False).count()
        materialize(base.groupBy("doc_id").count())
        materialize(base.select((F.col("doc_id") * 2).alias("d")),
                    scale="corpus")
        assert [(m.kind, m.scale, m.eager)
                for m in scope.materializations] == [
            ("pin", "model", False),
            ("local", "model", True),
            ("local", "corpus", True),
        ]
        ours = cached_rdds(spark) - before
        assert len(ours) == 3
    assert not ours & cached_rdds(spark)
    assert scope.materializations == []


def test_kmeans_fit_job_count(spark, tmp_path):
    """The Lloyd loop's job floor, pinned: building kmeans_fit(n_iter=2)
    launches no job, and executing it runs 13 — per iteration one
    codebook step (the means shuffle, one global collect of the means
    into the next broadcast row, its broadcast), never a (cell_id)
    regroup or a posexplode of the output (the regrouping loop ran 15
    on this input).  Re-derive for any workload with
    ``scripts/explain_workload.py <workload> <sf_dir> --jobs``."""
    from perfbench.probes import SparkCounters

    counters = SparkCounters(spark)
    path = str(tmp_path / "emb")
    spark.range(256).coalesce(1).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 15), i -> CAST(sin(id * 7 + i) AS FLOAT)) "
        "AS embedding",
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    start = counters.mark()
    fit = similarity.kmeans_fit(corpus, k=8, n_iter=2)
    assert counters.delta(start, counters.mark())["jobs"] == 0
    start = counters.mark()
    fit.write.format("noop").mode("overwrite").save()
    assert counters.delta(start, counters.mark())["jobs"] == 13


def test_codebook_from_means_slices_every_cell(spark):
    """The next-iteration codebook cuts the once-sorted means by
    position: with hundreds of cells, some absent (empty cells drop
    out) and the means arriving unordered across partitions, every
    present cell still gets exactly its own components in pos order."""
    d = 5
    cells = [c for c in range(300) if c % 7 != 3]
    rows = [(c, p, float(c * 10 + p)) for c in cells for p in range(d)]
    means = spark.createDataFrame(
        rows[::-1], "cell_id INT, pos INT, m DOUBLE"
    ).repartition(4)
    (cb,) = similarity._codebook_from_means(means).collect()
    assert [(e.cell_id, list(e.centroid)) for e in cb["__cb"]] == [
        (c, [float(c * 10 + p) for p in range(d)]) for c in cells
    ]


def test_kmeans_fit_many_cells_matches_oracle(spark, duck):
    """k=64 cells (an eighth of the corpus): the per-cell codebook cut
    and the broadcast argmax agree with the DuckDB Lloyd chain well
    beyond the k=8 of the catalog workload."""
    check(spark, duck,
          similarity.kmeans_fit(_df(spark, "embeddings"), k=64, n_iter=2),
          similarity.kmeans_fit_oracle(k=64, n_iter=2))


def test_corpus_cuts_leave_no_checkpoint_files(spark, tmp_path, monkeypatch):
    """A corpus-scale cut is a local checkpoint when no checkpoint dir is
    configured (local mode: executor loss == process loss) and a
    RELIABLE checkpoint to SPARK_GRAFT_CHECKPOINT_DIR when one is; same
    rows either way. A scope that runs graph_triangle_count and the PCA
    component leaves that dir with no files once it exits — the files
    are deleted with the scope, not left to GC-driven cleanCheckpoints."""
    import os

    from datafusion_sqlgen_spark.materialize import materialize, query_scope
    from datafusion_sqlgen_spark.workloads import build_queries
    from tests.conftest import SF_DIR

    def files() -> list:
        return [f for _root, _dirs, fs in os.walk(ck) for f in fs]

    queries = build_queries()
    base = _df(spark, "documents").limit(10).select("doc_id")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    assert spark.sparkContext.getCheckpointDir() is None
    with query_scope() as scope:
        local_rows = sorted(
            r[0] for r in materialize(base, scale="corpus").collect())
        assert [m.kind for m in scope.materializations] == ["local"]
    assert spark.sparkContext.getCheckpointDir() is None
    ck = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ck))
    try:
        with query_scope() as scope:
            rel_rows = sorted(
                r[0] for r in materialize(base, scale="corpus").collect())
            assert files(), "reliable mode must write checkpoint partitions"
            for name in ("graph_triangle_count", "sim_pca_component"):
                assert queries[name](spark, SF_DIR).count() > 0
            assert {m.kind for m in scope.materializations
                    if m.scale == "corpus"} == {"reliable"}
            assert len(scope.materializations) >= 4
        assert files() == []
    finally:
        # unset the session-wide checkpoint dir so later tests (shared
        # spark fixture) stay in local mode
        jsc = spark.sparkContext._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.empty()
        )
    assert spark.sparkContext.getCheckpointDir() is None
    assert rel_rows == local_rows


def test_work_dirs_live_until_the_next_build(spark):
    """Workloads that stage files take their dir from the current scope:
    three such builds in a row through build_queries() leave at most one
    of their dirs (the live build's) under the temp dir, and releasing
    the session scope removes that one too."""
    import glob
    import os
    import tempfile

    from datafusion_sqlgen_spark.materialize import release_session
    from datafusion_sqlgen_spark.workloads import build_queries
    from tests.conftest import SF_DIR

    def dirs() -> set:
        return {
            p for prefix in ("src_jsonl_", "src_csv_", "src_orc_")
            for p in glob.glob(os.path.join(tempfile.gettempdir(),
                                            prefix + "*"))
        }

    before = dirs()
    queries = build_queries()
    for name in ("source_jsonl_roundtrip", "source_csv_roundtrip",
                 "source_orc_roundtrip"):
        assert queries[name](spark, SF_DIR).count() > 0
    assert len(dirs() - before) <= 1
    release_session()
    assert not dirs() - before


def test_leakage_safe_split_groups_never_straddle_folds(spark, duck):
    """Round-6 operator: every near-dup cluster lands in exactly one
    fold (the leakage guarantee), singletons keep their own id as
    group, folds stay hash-balanced, and the oracle twin matches."""
    from datafusion_sqlgen_spark.operators import dedup, sampling

    docs = _df(spark, "documents")
    out = sampling.leakage_safe_split(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    # leakage guarantee: one fold per group
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group_id"], set()).add(r["fold"])
    assert all(len(folds) == 1 for folds in by_group.values())
    # the known near-dup clusters really do share groups
    clusters = dedup.near_dup_clusters(docs, threshold=0.2).collect()
    gid = {r["doc_id"]: r["cluster_id"] for r in clusters}
    got = {r["doc_id"]: r["group_id"] for r in rows}
    for doc, cl in gid.items():
        assert got[doc] == cl
    assert len(gid) > 0  # the fixture corpus does contain near-dups
    # hash balance: no fold takes more than half the corpus
    from collections import Counter

    fold_sizes = Counter(r["fold"] for r in rows)
    assert len(fold_sizes) == 5 and max(fold_sizes.values()) < len(rows) / 2
    check(spark, duck, out, sampling.leakage_safe_split_oracle())


def test_kfold_assign_balanced_and_stable(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    folds = sampling.kfold_assign(docs, k=5)
    counts = {r.fold: r.n for r in folds.groupBy("fold")
              .agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert set(counts) == {0, 1, 2, 3, 4}
    # hash-balanced: each fold within 2x of the uniform share
    for c in counts.values():
        assert n / 10 < c < n / 2.5, counts
    # stable across runs; every id maps to exactly one fold
    a = sorted((r.doc_id, r.fold) for r in folds.select("doc_id", "fold").collect())
    b = sorted((r.doc_id, r.fold)
               for r in sampling.kfold_assign(docs, k=5)
               .select("doc_id", "fold").collect())
    assert a == b
    check(spark, duck,
          folds.select("doc_id", "fold"),
          sampling.kfold_assign_oracle(cols="doc_id"))


def test_mergeable_rollup_merge_law(spark):
    from pyspark.sql import functions as F

    ev = _df(spark, "events")
    full = timeseries.mergeable_rollup(ev)
    # ANY disjoint partition of the raw data must merge to the same
    # states: try a 3-way split on a different predicate than the
    # workload's
    parts = [ev.filter(f"event_id % 3 = {i}") for i in range(3)]
    merged = timeseries.merge_rollups(
        timeseries.merge_rollups(
            timeseries.mergeable_rollup(parts[0]),
            timeseries.mergeable_rollup(parts[1]),
        ),
        timeseries.mergeable_rollup(parts[2]),
    )
    a = sorted(
        tuple(r) for r in timeseries.finalize_rollup(full).collect()
    )
    b = sorted(
        tuple(r) for r in timeseries.finalize_rollup(merged).collect()
    )
    assert a == b


def test_upsert_semantics(spark):
    from pyspark.sql import functions as F

    cur = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "name", "v"],
    )
    upd = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], ["k", "name", "v"]
    )
    got = sorted(tuple(r) for r in joins.upsert(cur, upd, "k").collect())
    assert got == [
        (1, "a", 10.0), (2, "b2", 99.0), (3, "c", 30.0), (4, "d", 40.0)
    ], got
    # ADVICE r4 item 3: no forced broadcast hint (a hint never degrades —
    # a huge update batch must be able to fall back to a shuffle join).
    # The anti join is still there, and AQE's runtime plan picks the
    # broadcast for this small key list on its own.
    res = joins.upsert(cur, upd, "k")
    res.collect()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_merge_semantics(spark):
    from pyspark.sql import functions as F

    hist = spark.createDataFrame(
        [
            # key 1: one closed version + one open
            (1, "a_old", "2023-01-01", "2024-01-01", False),
            (1, "a", "2024-01-01", None, True),
            (2, "b", "2024-01-01", None, True),
            (3, "c", "2024-01-01", None, True),
        ],
        ["k", "attr", "valid_from", "valid_to", "is_current"],
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    snap = spark.createDataFrame(
        # 1 unchanged, 2 changed, 3 missing, 4 new
        [(1, "a"), (2, "b2"), (4, "d")], ["k", "attr"]
    )
    out = joins.scd2_merge(hist, snap, "k", ["attr"], "2024-06-01")
    rows = {
        (r.k, r.attr, str(r.valid_from)[:10],
         str(r.valid_to)[:10] if r.valid_to else None, r.is_current)
        for r in out.collect()
    }
    assert rows == {
        (1, "a_old", "2023-01-01", "2024-01-01", False),  # history kept
        (1, "a", "2024-01-01", None, True),               # unchanged
        (2, "b", "2024-01-01", "2024-06-01", False),      # closed
        (2, "b2", "2024-06-01", None, True),              # new version
        (3, "c", "2024-01-01", None, True),               # missing kept
        (4, "d", "2024-06-01", None, True),               # new key
    }, rows
    # full-snapshot mode closes missing keys
    closed = joins.scd2_merge(
        hist, snap, "k", ["attr"], "2024-06-01", close_missing=True
    )
    k3 = [(r.attr, r.is_current, str(r.valid_to)[:10] if r.valid_to else None)
          for r in closed.filter("k = 3").collect()]
    assert k3 == [("c", False, "2024-06-01")], k3


def test_semantic_dedup_prunes_within_cluster_dups(spark, duck):
    from pyspark.sql import functions as F

    emb = _df(spark, "embeddings")
    out = dedup.semantic_dedup(emb)
    rows = {r.vec_id: r.cell_id for r in out.collect()}
    n = emb.count()
    # meaningful, non-degenerate prune: survivors are a strict subset
    assert 0 < len(rows) < n
    # survivors carry a cluster id; cluster count is bounded by n_cells
    assert len(set(rows.values())) <= 8
    # the drop rule keeps the lowest id of every qualifying pair: the
    # global minimum id can never have a lower-id duplicate, so it
    # always survives
    min_id = emb.agg(F.min("vec_id")).collect()[0][0]
    assert min_id in rows
    # deterministic across runs
    again = {r.vec_id: r.cell_id for r in dedup.semantic_dedup(emb).collect()}
    assert rows == again
    check(spark, duck, out, dedup.semantic_dedup_oracle())


def test_token_budget_mix_shares_and_determinism(spark, duck):
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    out = sampling.token_budget_mix(docs)
    rows = [(r.doc_id, r.source, r.n_tokens, r.cum_tokens_before)
            for r in out.collect()]
    assert rows  # non-empty at every SF (budget shares scale with data)
    # only weighted sources are admitted
    assert {r[1] for r in rows} <= {"src0", "src1", "src2", "src3"}
    # each admitted doc started under its domain share, and overshoot is
    # bounded by one document: tokens(source) - max_doc <= share
    from datafusion_sqlgen_spark.operators.text import words_col

    weights = {"src0": 40, "src1": 30, "src2": 20, "src3": 10}
    total = (
        docs.filter(F.col("source").isin(*weights))
        .agg(F.sum(F.size(words_col(F.col("text")))))
        .collect()[0][0]
    )
    per_src: dict[str, list[int]] = {}
    for _, src, n_tok, _ in rows:
        per_src.setdefault(src, []).append(n_tok)
    for src, toks in per_src.items():
        share = total * 30 * weights[src] // 10000
        assert sum(toks) - max(toks) <= share <= sum(toks) + share
    # weights must sum to 100
    with pytest.raises(ValueError):
        sampling.token_budget_mix(docs, weights={"src0": 50})
    # deterministic across runs
    again = [(r.doc_id, r.source, r.n_tokens, r.cum_tokens_before)
             for r in sampling.token_budget_mix(docs).collect()]
    assert sorted(rows) == sorted(again)
    check(spark, duck, out, sampling.token_budget_mix_oracle())


def test_classifier_weights_deterministic_and_bounded(spark):
    w = text.make_hash_weights(spark, vocab_size=64).collect()
    assert len(w) == 64
    assert all(-32768 <= r["w_fp"] <= 32767 for r in w)
    again = {r["bucket"]: r["w_fp"] for r in
             text.make_hash_weights(spark, vocab_size=64).collect()}
    assert {r["bucket"]: r["w_fp"] for r in w} == again


def test_classifier_score_shape_and_gram_count(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "hello"), (3, "")],
        "doc_id bigint, text string",
    )
    out = text.classifier_score(docs, text.make_hash_weights(spark))
    rows = {r["doc_id"]: r for r in out.collect()}
    # 3 unigrams + 2 bigrams; single word -> 1 gram; empty -> absent
    assert rows[1]["n_grams"] == 5
    assert rows[2]["n_grams"] == 1
    assert 3 not in rows
    for r in rows.values():
        assert 0.0 < r["score"] < 1.0
        assert r["label"] == (r["score"] >= 0.5) or abs(r["score"] - 0.5) < 1e-3


def test_ivf_pq_topk_laws(spark):
    """IVF-PQ output contract: contiguous ranks 1..k per query, cos_sim
    non-increasing with rank, no self-matches; recall vs the exact
    brute force is positive (the shortlist re-rank recovers real
    neighbors, not arbitrary rows)."""
    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.operators import similarity as sim

    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    rows = sim.ivf_pq_topk(emb, qs, k=5).collect()
    per_q: dict = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        per_q.setdefault(r["query_id"], []).append((r["rnk"], r["cos_sim"]))
    assert len(per_q) == 10
    for q, rr in per_q.items():
        rr.sort()
        assert [x[0] for x in rr] == list(range(1, len(rr) + 1))
        sims = [x[1] for x in rr]
        assert sims == sorted(sims, reverse=True)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, qs, k=5).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, recall  # nprobe=2/8 cells; sanity floor


# ---- substring-span dedup (round 7) ----


def test_substring_spans_basic_planted(spark):
    """Two docs sharing an exact 40-char run are both flagged; a doc
    with unique text has dup_frac 0."""
    shared = "x" * 17 + "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG " * 2
    rows = [
        (1, "aaa " + shared + " unique-tail-one-1111"),
        (2, "bbb " + shared + " unique-tail-two-2222"),
        (3, "entirely different text with no forty-char overlap at all "
            "padded padded padded padded padded padded"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.substring_span_stats(df).collect()}
    assert out[1]["n_dup_spans"] > 0
    assert out[2]["n_dup_spans"] > 0
    assert out[3]["n_dup_spans"] == 0
    assert out[3]["dup_frac"] == 0.0
    for r in out.values():
        assert 0.0 <= r["dup_frac"] <= 1.0
        assert r["n_dup_spans"] <= r["n_spans"]


def test_substring_spans_within_doc_repeat_not_cross_doc(spark):
    """A doc that repeats ITS OWN substring is not cross-doc duplicated
    — the flag requires > 1 distinct doc."""
    df = spark.createDataFrame(
        [(1, ("self-repeating block! " * 10))], ["doc_id", "text"]
    )
    out = dedup.substring_span_stats(df).collect()
    assert len(out) == 1
    assert out[0]["n_dup_spans"] == 0


def test_substring_spans_short_docs_excluded(spark):
    df = spark.createDataFrame(
        [(1, "too short"), (2, None)], ["doc_id", "text"]
    )
    assert dedup.substring_span_stats(df).collect() == []


def test_substring_spans_span_count_arithmetic(spark):
    """n_spans = floor((len - gram_len) / stride) + 1 for len >=
    gram_len — the offsets contract the DuckDB twin replays."""
    text = "z" * 100
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = dedup.substring_span_stats(df, gram_len=40, stride=10).collect()
    assert out[0]["n_spans"] == (100 - 40) // 10 + 1


def test_substring_spans_plan_shuffles_hash_not_text(spark):
    """The exchanges must carry the 52-bit gram hash, never the span
    text: no 'substring(' appears in any Exchange-adjacent projection
    output — spans are hashed in the same projection that creates
    them, before any shuffle."""
    df = spark.table("documents")
    plan = dedup.substring_span_stats(df)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # span text reduced to gh before the exchange: the shuffle keys are
    # gh / doc_id
    assert "hashpartitioning(gh" in plan


def test_pps_systematic_sample_invariants(spark, duck):
    """Systematic PPS contract: per group, mark-crossing counts
    telescope to exactly n_per_group (floor(total*n/total) == n), the
    last picked row carries pick_idx == n, at most n distinct rows are
    picked, and any row heavier than total/n is selected with
    certainty."""
    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    n = 16
    out = sampling.pps_systematic_sample(docs, n_per_group=n)
    rows = out.collect()
    assert rows
    per_group: dict[str, list] = {}
    for r in rows:
        per_group.setdefault(r["source"], []).append(r)
    base = (
        docs.where(F.col("n_chars").isNotNull() & (F.col("n_chars") > 0))
        .groupBy("source")
        .agg(F.sum(F.col("n_chars").cast("bigint")).alias("total"))
    )
    totals = {r["source"]: r["total"] for r in base.collect()}
    assert set(per_group) == set(totals)
    for src, picked in per_group.items():
        assert len(picked) <= n
        assert max(r["pick_idx"] for r in picked) == n
    # certainty selection: every row with w*n > total must be picked
    heavy = docs.where(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    ).select("doc_id", "source", F.col("n_chars").cast("bigint").alias("w"))
    picked_ids = {(r["source"], r["doc_id"]) for r in rows}
    for r in heavy.collect():
        if r["w"] * n > totals[r["source"]]:
            assert (r["source"], r["doc_id"]) in picked_ids
    # deterministic across runs
    again = sorted(tuple(r) for r in
                   sampling.pps_systematic_sample(docs, n_per_group=n).collect())
    assert sorted(tuple(r) for r in rows) == again
    check(spark, duck, out, sampling.pps_systematic_sample_oracle())


def test_pps_systematic_sample_plan_two_phase(spark):
    """Scale gate: no corpus-wide per-group window.  The only window
    partitioned by `source` alone runs over the <=256-row per-bucket
    subtotal table (input is a HashAggregate, not the scan); corpus
    rows are cumulated in (source, bucket) windows."""
    df = spark.table("documents")
    plan = sampling.pps_systematic_sample(df)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # phase-2 window partitions carry the bucket column
    assert "windowspecdefinition(source" in plan.lower()
    assert "__b" in plan


def test_segment_dedup_ccnet(spark, duck):
    """CCNet segment-dedup contract: n_kept <= n_segs, a doc whose
    every segment is unique keeps everything (clean_md5 == md5 of the
    rejoined original segments), dropping is symmetric (every copy of
    a cross-doc segment goes), and the DuckDB twin agrees."""
    docs = _df(spark, "documents")
    out = dedup.segment_dedup(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows
    assert all(r["n_kept"] <= r["n_segs"] for r in rows.values())
    # synthetic: two docs sharing one segment, one doc fully unique
    shared = " ".join(f"s{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, shared + " " + uniq_a), (2, shared + " " + uniq_b),
         (3, uniq_b.replace("b", "c"))],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup.segment_dedup(df).collect()}
    assert got[1]["n_segs"] == 2 and got[1]["n_kept"] == 1
    assert got[2]["n_segs"] == 2 and got[2]["n_kept"] == 1
    assert got[3]["n_kept"] == got[3]["n_segs"] == 1
    import hashlib
    assert got[1]["clean_md5"] == hashlib.md5(uniq_a.encode()).hexdigest()
    check(spark, duck, out, dedup.segment_dedup_oracle())


def test_segment_dedup_plan_hash_keyed_count(spark):
    """The occurrence-count aggregation must key on the 52-bit segment
    hash (map-side combinable 8-byte key), never the segment text."""
    plan = dedup.segment_dedup(spark.table("documents"))._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(sh" in plan


def test_pagerank_mass_and_determinism(spark, duck):
    """Fixed-point PageRank: total rank mass conserved to bounded floor
    loss, bit-identical across runs, and the chained-CTE DuckDB twin
    reproduces every BIGINT rank."""
    from datafusion_sqlgen_spark.operators import graph

    emb = _df(spark, "embeddings")
    edges = graph.knn_edges(emb)
    out = graph.pagerank(edges, iterations=3)
    rows = sorted(tuple(r) for r in out.collect())
    n = len(rows)
    scale = 10**12
    tot = sum(r[1] for r in rows)
    # every floor-division loses < 1 unit per node per term per iteration
    assert scale - 8 * n * 3 <= tot <= scale
    again = sorted(tuple(r) for r in
                   graph.pagerank(graph.knn_edges(emb), iterations=3).collect())
    assert rows == again
    check(spark, duck, out,
          graph.pagerank_oracle(graph.knn_edges_oracle_cte(), iterations=3))


def test_pagerank_iterations_reuse_checkpointed_invariants(spark):
    """VERDICT r7 'What's wrong' §3 + VERDICT r10 watch item: the
    loop-invariant (edges ⋈ degree) table and the (node, n) base must
    be MATERIALIZED ONCE (r11: eager localCheckpoint) so iterations
    read stored partitions instead of re-deriving the join from
    lineage.  The ranks plan therefore scans the checkpoint RDDs —
    one ExistingRDD scan per reference across the unrolled iterations
    — and contains the invariant-build machinery (the knn window /
    degree aggregation) ZERO times: it ran during the eager
    checkpoint, before the caller's action."""
    from datafusion_sqlgen_spark.operators import graph

    emb = _df(spark, "embeddings")
    ranks = graph._pagerank_plan(
        graph.knn_edges(emb), iterations=3, damp_pct=85, scale=10**12
    )
    ranks.collect()
    ex = ranks._jdf.queryExecution().executedPlan().toString()
    # 3 iterations unroll to >= 2 refs of ed and >= 3 refs of base
    assert ex.count("Scan ExistingRDD") >= 5, ex[:2000]
    assert "InMemoryTableScan" not in ex  # no persist anywhere
    # the ranks-side plan never recomputes the edge build
    assert "posexplode" not in ex and "levenshtein" not in ex


def test_pagerank_leaves_no_session_cache(spark):
    """ADVICE r9 / VERDICT r9 item 5, r11 rework: pagerank must leave
    NO CacheManager entry behind — now trivially true because nothing
    persists at any point (checkpoint blocks live outside the
    CacheManager and are released with the query's scope).  The
    returned frame is lazy: the caller's action
    is the only full pass (the r10 eager-final-checkpoint version ran
    the whole query twice — the 1.49x bench regression)."""
    from datafusion_sqlgen_spark.operators import graph

    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()  # isolate from sibling tests' caches
    emb = _df(spark, "embeddings")
    out = graph.pagerank(graph.knn_edges(emb), iterations=2)
    assert cm.isEmpty(), "pagerank left a persisted cache entry"
    assert out.count() > 0
    assert cm.isEmpty()  # the action adds none either


def test_pagerank_star_graph_ranks_center_highest(spark):
    """A star graph (hub <-> 8 spokes) must rank the hub strictly above
    every spoke."""
    from datafusion_sqlgen_spark.operators import graph

    fwd = [(0, i) for i in range(1, 9)]
    edges = spark.createDataFrame(
        fwd + [(d, s) for s, d in fwd], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank_fp"] for r in
             graph.pagerank(edges, iterations=3).collect()}
    assert all(ranks[0] > ranks[i] for i in range(1, 9))


def test_knn_edges_bounded_degree_no_pair_join(spark):
    """Edge build is O(n*d) — lead() windows, never a within-bucket
    pair join: no more than 2*d edges out of any node, symmetric, and
    the plan has no join at all."""
    from datafusion_sqlgen_spark.operators import graph

    emb = _df(spark, "embeddings")
    edges = graph.knn_edges(emb, d=2)
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert len(rows) == len(set(rows))  # no duplicate edges
    assert set(rows) == {(d, s) for s, d in rows}  # symmetric
    from collections import Counter
    deg = Counter(s for s, _ in rows)
    assert max(deg.values()) <= 4  # d forward + <= d backward
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_lr_train_roundtrips_into_inference_and_separates_classes(spark):
    """The trained weight table must plug straight back into the
    classifier_score inference path (same (bucket, w_fp) contract; the
    bias row's bucket -1 matches no gram hash, so it rides along
    harmlessly), and two epochs from zero init must already separate
    the classes: mean score of positive-label docs above the mean of
    the rest."""
    docs = _df(spark, "documents")
    trained = text.lr_train_hashed(docs, n_iter=2)
    scored = text.classifier_score(docs, trained.filter("bucket >= 0"))
    rows = scored.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).collect()
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)
    en = [r["score"] for r in rows if r["lang"] == "en"]
    rest = [r["score"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_lr_train_loss_decreases_with_epochs(spark):
    """Training must actually optimize ITS OWN objective: mean logistic
    loss on the trained sum-margin (sum of bucket weights + bias — the
    margin the gradients descend) strictly decreases over epochs and
    starts below the zero-init loss ln(2). (classifier_score's
    inference logit is the per-gram MEAN — a calibration rescale of
    the same weights, not the training objective.)"""
    import math

    from pyspark.sql import functions as F

    docs = _df(spark, "documents")
    feats = text._hashed_gram_features(docs, 4096, "text", "doc_id")
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )

    def mean_loss(w):
        brows = w.filter("bucket = -1").collect()
        bias = (brows[0]["w_fp"] if brows else 0) / 65536.0
        sc = (
            feats.join(w.filter("bucket >= 0"), "bucket")
            .groupBy("doc_id")
            .agg((F.sum(F.col("cnt") * F.col("w_fp")) / 65536.0).alias("m"))
        )
        rows = labels.join(sc, "doc_id", "left").fillna({"m": 0.0}).collect()
        tot = 0.0
        for r in rows:
            p = 1.0 / (1.0 + math.exp(-(r["m"] + bias)))
            p = min(max(p, 1e-12), 1 - 1e-12)
            tot += -(r["y"] * math.log(p) + (1 - r["y"]) * math.log(1 - p))
        return tot / len(rows)

    l1 = mean_loss(text.lr_train_hashed(docs, n_iter=1))
    l2 = mean_loss(text.lr_train_hashed(docs, n_iter=2))
    assert l2 < l1 < math.log(2)


def test_ann_ladder_recall_vs_brute_force(spark):
    """Quality audit of the round-7 ANN tiers: SQ8 (quantized but
    exhaustive + exact re-rank) must reproduce brute-force top-5
    almost perfectly; IVF-SQ8 (probes nprobe/n_cells of the corpus)
    trades recall for the candidate bound and must still clear 0.5 on
    the driver embeddings."""
    emb = _df(spark, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    sq8 = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sq8_topk(emb, queries, k=5).collect()
    }
    ivf_sq8 = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_sq8_topk(emb, queries, k=5).collect()
    }
    assert len(exact) == 50
    assert len(sq8 & exact) / len(exact) >= 0.9
    assert len(ivf_sq8 & exact) / len(exact) >= 0.5


def test_embedding_decontaminate_per_source_accounting(spark, duck):
    """Round-8 semantic decontamination: per-source keep/drop counts
    match the DuckDB replay, both arms fire, and kept+dropped covers
    exactly the corpus docs that have embeddings."""
    from datafusion_sqlgen_spark.operators import dedup as dd

    emb = _df(spark, "embeddings")
    out = dd.embedding_decontaminate(
        emb.filter("vec_id % 10 <> 0"),
        emb.filter("vec_id % 10 = 0"),
        _df(spark, "documents"),
    )
    rows = out.collect()
    check(spark, duck, out, dd.embedding_decontaminate_oracle())
    assert sum(r.n_dropped for r in rows) > 0  # not a trivially-green gate
    assert sum(r.n_kept for r in rows) > 0
    from pyspark.sql import functions as F

    corpus_n = emb.filter("vec_id % 10 <> 0").join(
        _df(spark, "documents").select(
            F.col("doc_id").alias("vec_id")), "vec_id").count()
    assert sum(r.n_kept + r.n_dropped for r in rows) == corpus_n


def test_ann_join_ranks_on_snapped_similarity(spark):
    """VERDICT r8 item 3: the top-k window must order by the 1e-6
    fixed-point similarity, not the raw double — a k-boundary near-tie
    (here ~2e-8 apart in raw cosine) snaps to the SAME key and breaks
    to the LOWER neighbor_id on every engine.  Raw-double ranking would
    put neighbor 9 (the infinitesimally-closer vector) first."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    right = spark.createDataFrame(
        [(3, [1.0, 2e-4]), (9, [1.0, 1e-4])],
        "vec_id bigint, embedding array<double>",
    )
    got = (
        similarity.ann_join(left, right, k=2, n_cells=2, nprobe=2)
        .orderBy("rnk")
        .collect()
    )
    # raw cosines differ (~1e-8) but both snap to 1.0 at 1e-6
    assert [r.neighbor_id for r in got] == [3, 9]
    assert [r.cos_sim for r in got] == [1.0, 1.0]


def test_ivf_probe_ranks_cells_on_snapped_similarity(spark):
    """The nprobe probe of ivf_sq8_topk and ivf_pq_topk ranks coarse
    cells like ivf_assign_multi and both DuckDB oracles: by the 1e-6
    snapped cosine, lowest cell on ties.  The query's raw cosines to
    the two trained cells are 0.99994999 (cell 0) and 0.99995001
    (cell 1); both snap to 0.99995, so nprobe=1 probes cell 0, whose
    only member is neighbor 0.  A raw-cosine probe picks cell 1."""
    schema = "vec_id bigint, embedding array<double>"
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.01]), (1, [1.0, -0.01])], schema
    )
    queries = spark.createDataFrame([(5, [1.0, -1e-6])], schema)
    probe = dict(k=1, n_cells=2, nprobe=1, n_iter=1)
    sq8 = similarity.ivf_sq8_topk(corpus, queries, **probe).collect()
    pq = similarity.ivf_pq_topk(
        corpus, queries, dim=2, m=1, kcode=2, **probe
    ).collect()
    assert [r.neighbor_id for r in sq8] == [0]
    assert [r.neighbor_id for r in pq] == [0]


def test_pca_power_component_properties(spark):
    """Round-10 PCA power iteration: unit norm after the final snap,
    sign convention (weight at pos 0 non-negative), bit-identical
    re-run (no RNG), and variance along the learned direction beats
    the uniform start direction — the thing power iteration maximizes.
    Oracle equality is the sim_pca_component sweep row."""
    import math

    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.operators import similarity as sim

    emb = spark.table("embeddings")
    v = {r["pos"]: r["w"] for r in sim.pca_power_component(emb).collect()}
    assert len(v) == 64
    assert abs(math.sqrt(sum(w * w for w in v.values())) - 1.0) < 1e-4
    assert v[0] >= 0
    again = {r["pos"]: r["w"]
             for r in sim.pca_power_component(emb).collect()}
    assert again == v

    def proj_variance(weights):
        arr = F.array(*[F.lit(float(weights[i])) for i in range(64)])
        dot = F.aggregate(
            F.zip_with(F.col("embedding").cast("array<double>"), arr,
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return emb.select(dot.alias("p")).agg(
            F.var_pop("p").alias("v")).collect()[0]["v"]

    uniform = {i: 1.0 / 8.0 for i in range(64)}
    assert proj_variance(v) > proj_variance(uniform)


def test_pca_degenerate_corpus(spark):
    """Constant-vector corpus: every centered value is 0, the power
    step has no direction, and the weights must be all-NaN — the
    DuckDB oracle's IEEE 0/0 behavior (ADVICE r13: the retired
    distributed plan emitted all-ZERO weights via F.floor's NaN->0
    BIGINT cast, silently diverging from the oracle)."""
    import math

    from datafusion_sqlgen_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    rows = sim.pca_power_component(emb).collect()
    assert len(rows) == 3
    assert all(math.isnan(r["w"]) for r in rows)


def test_triangle_count_known_graph(spark):
    """Hand-built graph: K4 on {1,2,3,4} (4 triangles, each node in 3)
    plus a pendant 4-5 (no triangle) and a duplicate + reversed edge
    (must not double-count)."""
    from datafusion_sqlgen_spark.operators import graph

    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges += [(4, 5), (1, 2), (2, 1)]  # dup + reverse + pendant
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # node 5: no triangle row


def test_triangle_count_matches_unoriented_oracle(spark, duck):
    """The degree-oriented Spark shape ≡ the orientation-free DuckDB
    triple join on the real similarity graph."""
    from datafusion_sqlgen_spark.operators import graph

    got = sorted(
        (r.node, r.triangles)
        for r in graph.triangle_count(
            graph.knn_edges(spark.table("embeddings"))
        ).collect()
    )
    want = sorted(
        tuple(r) for r in duck.execute(
            graph.triangle_count_oracle(graph.knn_edges_oracle_cte())
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_hard_negatives_label_gate_and_k(spark):
    """No returned negative shares the query's label; each query yields
    at most k rows ranked 1..k by snapped cosine."""
    from datafusion_sqlgen_spark.operators import similarity

    emb = spark.table("embeddings")
    out = similarity.hard_negatives(emb, every=40, k=3).collect()
    assert out, "no queries sampled"
    labels = {r.vec_id: r.label for r in emb.collect()}
    per_q: dict = {}
    for r in out:
        assert labels[r.query_id] != r.neg_label
        assert labels[r.neighbor_id] == r.neg_label
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= 3


def test_curriculum_buckets_equal_count_and_ordered(spark, duck):
    """Round-13 curriculum tiers: equal-count split (sizes differ by at
    most 1, larger tiers first), score ranges are non-overlapping and
    ascending with the bucket id."""
    from datafusion_sqlgen_spark.operators import sampling
    from datafusion_sqlgen_spark.operators import text as tx

    out = sampling.curriculum_buckets(
        tx.quality_score(spark.table("documents")))
    rows = sorted(map(tuple, out.collect()))
    sizes = [r[1] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)  # ntile: remainder first
    for (b1, _, _, max1), (b2, _, min2, _) in zip(rows, rows[1:]):
        assert b2 == b1 + 1
        assert min2 >= max1  # ascending, non-overlapping score ranges


def test_winsorize_clip_fractions(spark, duck):
    """Round-13 winsorize: at most ~lo/~hi tail fractions are clipped
    per group, bounds are ordered, and the winsorized mean sits inside
    [lo_b, hi_b]."""
    from datafusion_sqlgen_spark.operators import profiling as pf

    out = pf.winsorize_stats(spark.table("events"))
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["lo_b"] <= r["hi_b"]
        assert r["n_lo"] <= r["n"] * 0.05 + 1
        assert r["n_hi"] <= r["n"] * 0.05 + 1
        assert r["lo_b"] <= r["mean_w"] <= r["hi_b"]


def test_cross_source_matrix_accounts_all_pairs(spark, duck):
    """Round-13 provenance matrix: pair counts sum to the verified
    near-dup pair count, source pairs are unordered (src_a <= src_b),
    and mean_jaccard stays within the verify threshold..1 band."""
    from datafusion_sqlgen_spark.operators import dedup as dd

    pairs_n = dd.minhash_dedup_pairs(spark.table("documents")).count()
    out = dd.cross_source_matrix(spark.table("documents")).collect()
    assert sum(r["n_pairs"] for r in out) == pairs_n
    for r in out:
        assert r["src_a"] <= r["src_b"]
        assert 0.5 <= r["mean_jaccard"] <= 1.0


def test_snapshot_diff_statuses(spark):
    """Round-13 snapshot diff: crafted old/new classify exactly."""
    from datafusion_sqlgen_spark.operators.joins import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k BIGINT, v STRING")
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, None), (5, "e")], "k BIGINT, v STRING")
    got = {r["status"]: r["n_keys"]
           for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # 1 removed; 2 unchanged; 3 changed; 4 unchanged (NULL==NULL
    # null-safe); 5 added
    assert got == {"removed": 1, "unchanged": 2, "changed": 1, "added": 1}


def test_lateness_audit_buckets(spark):
    """Round-13 lateness audit: an ordered stream is all bucket 0; a
    crafted out-of-order arrival puts the late event in the right
    minute bucket; arrival ties resolve by the tie column."""
    import datetime as dt

    from datafusion_sqlgen_spark.operators.timeseries import lateness_audit

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, sec, uid, arr):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, "view",
                1.0, "{}", arr)

    schema = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING, "
              "arrival BIGINT")
    # user 1: event at t+300s arrives FIRST (arr 0), then an event at
    # t+0 arrives (arr 1) -> 300s late = bucket 5; then t+400 on time
    df = spark.createDataFrame([
        ev(0, 300, 1, 0), ev(1, 0, 1, 1), ev(2, 400, 1, 2),
        # user 2: perfectly ordered
        ev(3, 0, 2, 3), ev(4, 60, 2, 4),
    ], schema)
    got = {r["bucket"]: (r["n_events"], r["max_late_s"])
           for r in lateness_audit(
               df, arrival_col="arrival", tie_col="event_id").collect()}
    assert got == {0: (4, 0.0), 5: (1, 300.0)}

    # a perfectly ordered stream (user 2) -> everything bucket 0
    got2 = lateness_audit(
        df.filter("user_id = 2"), arrival_col="event_id").collect()
    assert len(got2) == 1 and got2[0]["bucket"] == 0
    assert got2[0]["max_late_s"] == 0.0


def test_snapshot_diff_rejects_empty_attrs(spark):
    import pytest as _pytest

    from datafusion_sqlgen_spark.operators.joins import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "k BIGINT, v STRING")
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, "k", [])


def test_snapshot_drift_audit(spark, duck):
    """Round-13 snapshot drift: oracle parity plus invariants — the
    derived nullable column shows a nonzero null rate, never-null
    columns report 0 bp on both sides, distinct counts are positive,
    and means exist exactly for the numeric columns."""
    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.operators import profiling as pf

    src = spark.table("events").withColumn(
        "value_n", F.expr("CASE WHEN value < 20 THEN NULL ELSE value END")
    )
    out = pf.snapshot_drift(
        src, cohort_sql="ts >= TIMESTAMP '2024-01-16'",
        columns=["event_type", "props", "value_n", "user_id"],
        numeric_cols=["value_n", "user_id"],
    )
    oracle = pf.snapshot_drift_oracle(
        table="(SELECT *, CASE WHEN value < 20 THEN NULL "
              "ELSE value END AS value_n FROM events)",
        cohort_sql="ts >= TIMESTAMP '2024-01-16'",
        columns=["event_type", "props", "value_n", "user_id"],
        numeric_cols=["value_n", "user_id"],
    )
    rows = {r[0]: r for r in check(spark, duck, out, oracle)}
    assert set(rows) == {"event_type", "props", "value_n", "user_id"}
    r = rows["value_n"]
    assert r[3] > 0 and r[4] > 0          # base/curr null bp
    for c in ("event_type", "props", "user_id"):
        assert rows[c][3] == 0 and rows[c][4] == 0
    for c in ("value_n", "user_id"):
        assert rows[c][8] is not None     # base_mean_milli
    for c in ("event_type", "props"):
        assert rows[c][8] is None
    for c in rows:
        assert rows[c][5] > 0 and rows[c][6] > 0  # distinct counts


def test_pmi_collocations(spark, duck):
    """Round-13 PMI collocations: oracle parity plus invariants —
    results ordered by snapped PMI desc, every pair meets min_count,
    pairs are unordered-normalized (a <= b)."""
    from datafusion_sqlgen_spark.operators import text as tx

    rows = check(
        spark, duck, tx.pmi_collocations(_df(spark, "documents")),
        tx.pmi_collocations_oracle(),
    )
    got = tx.pmi_collocations(_df(spark, "documents")).collect()
    assert 0 < len(got) <= 50
    pmis = [r["pmi_micro"] for r in got]
    assert pmis == sorted(pmis, reverse=True)
    for r in got:
        assert r["pair_count"] >= 5
        assert r["a"] <= r["b"]


def test_time_weighted_avg(spark, duck):
    """Round-13 TWAP: oracle parity plus a hand-check — a key holding
    value 10 for 3/4 of its span and 90 for 1/4 has twa 30000 milli
    while the naive row mean reads 50000 (the terminal 50 carries no
    time weight but a full row weight); a single-obs key reports NULL
    twa."""
    from datetime import datetime

    out = timeseries.time_weighted_avg(_df(spark, "events"))
    check(spark, duck, out, timeseries.time_weighted_avg_oracle())

    t = lambda m: datetime(2024, 1, 1, 12, m, 0)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, 7, t(0), 10.0),   # held 30 min of a 40-min span
         (2, 7, t(30), 90.0),  # held 10 min
         (3, 7, t(40), 50.0),  # terminal: zero weight
         (4, 8, t(0), 42.0)],  # single obs: no interval
        "event_id long, user_id long, ts timestamp, value double")
    got = {r["user_id"]: r for r in
           timeseries.time_weighted_avg(ev).collect()}
    assert got[7]["twa_milli"] == 30000   # (10*30 + 90*10) / 40
    assert got[7]["mean_milli"] == 50000  # (10+90+50)/3
    assert got[7]["n_obs"] == 3
    assert got[8]["twa_milli"] is None
    assert got[8]["span_us"] is None


def test_ngram_containment(spark, duck):
    """Round-13 containment: oracle parity plus the asymmetry
    invariants — containment >= jaccard on every pair, and the fixture
    exhibits at least one genuinely asymmetric pair (high containment,
    low jaccard: the quote-inclusion class Jaccard misses)."""
    out = dedup.ngram_containment_pairs(
        _df(spark, "documents"), max_left_id=60, threshold=0.1
    )
    check(spark, duck, out,
          dedup.ngram_containment_pairs_oracle(max_left_id=60,
                                               threshold=0.1))
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["containment"] >= r["jaccard"]
        assert r["smaller"] in (r["id_a"], r["id_b"])
    assert any(r["containment"] > 2 * r["jaccard"] for r in rows)


def test_ivf_recall_frontier(spark, duck):
    """Round-13 nprobe frontier: oracle parity plus monotonicity — both
    recall and scored-pair cost are non-decreasing in nprobe, and
    nprobe=n_cells would be exhaustive (recall ceiling sanity via the
    widest probe being the best)."""
    out = similarity.ivf_recall_frontier(
        _df(spark, "embeddings"),
        _df(spark, "embeddings").filter("vec_id < 10"),
    )
    check(spark, duck, out, similarity.ivf_recall_frontier_oracle())
    rows = sorted(map(tuple, out.collect()))
    assert [r[0] for r in rows] == [1, 2, 4]
    recalls = [r[3] for r in rows]
    costs = [r[4] for r in rows]
    assert recalls == sorted(recalls)
    assert costs == sorted(costs)
    assert all(r[1] == rows[0][1] for r in rows)  # same query count


def test_weighted_hybrid_topk(spark, duck):
    """Round-13 weighted fusion: oracle parity plus invariants — norms
    in [0,1], fused score equals the convex combination (recomputed),
    ranks contiguous from 1, and at least one doc scores from both
    lists."""
    from datafusion_sqlgen_spark.operators import text as tx

    out = tx.weighted_hybrid_topk(
        _df(spark, "documents"), _df(spark, "embeddings"),
        ["hash", "join", "vector"], query_vec_id=0,
    )
    check(spark, duck, out, tx.weighted_hybrid_topk_oracle(
        ["hash", "join", "vector"], query_vec_id=0))
    rows = sorted(out.collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert 0.0 <= r["lex_norm"] <= 1.0
        assert 0.0 <= r["vec_norm"] <= 1.0
    assert any(r["lex_norm"] > 0 and r["vec_norm"] > 0 for r in rows)


def test_kmeans_membership_partitions_corpus(spark):
    """Every corpus vector lands in exactly one cell: n_members sums to
    the corpus size, and components are finite."""
    import math

    emb = spark.table("embeddings")
    res = similarity.kmeans_fit(emb, k=4, n_iter=1).collect()
    per_cell = {}
    for r in res:
        per_cell[r["cell_id"]] = r["n_members"]
        assert math.isfinite(r["component"])
    assert sum(per_cell.values()) == emb.count()
