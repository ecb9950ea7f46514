"""Structured Streaming: replay the events table as a file stream and
verify streamed results equal the batch equivalents."""

import os
import shutil
from functools import partial

import pytest
from pyspark.sql import functions as F

from datafusion_sqlgen_spark import streaming as st
from tests.conftest import SF_DIR, cached_rdds, normalize_rows


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    # split events into 3 files so the stream has multiple triggers
    d = tmp_path_factory.mktemp("events_stream")
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    n = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    third = n // 3 + 1
    for i in range(3):
        con.execute(
            f"COPY (SELECT * FROM ev ORDER BY event_id LIMIT {third} OFFSET {i * third}) "
            f"TO '{d}/part{i}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def test_tumbling_window_matches_batch(spark, stream_dir, tmp_path):
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(st.tumbling_window_stream(ev), str(tmp_path), "t_tumble",
              "complete")
    streamed = normalize_rows(
        [tuple(r) for r in spark.sql("SELECT * FROM t_tumble").collect()], 2
    )
    batch = normalize_rows(
        [
            tuple(r)
            for r in spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("win.start"), F.col("win.end"), "event_type", "n", "sum_value")
            .collect()
        ],
        2,
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_session_window_stream_runs(spark, stream_dir, tmp_path):
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(st.session_window_stream(ev, gap="30 minutes"),
              str(tmp_path), "t_sess", "complete")
    rows = spark.sql("SELECT * FROM t_sess").collect()
    assert len(rows) > 0
    # sessions are per-user, disjoint, end > start
    for r in rows:
        assert r["session_end"] > r["session_start"]


def test_stream_dedup(spark, stream_dir, tmp_path):
    # duplicate one file to create exact duplicate events across triggers
    dup_dir = str(tmp_path / "dup_events")
    shutil.copytree(stream_dir, dup_dir)
    shutil.copy(f"{stream_dir}/part0.parquet", f"{dup_dir}/part0_copy.parquet")
    ev = st.read_events_stream(spark, dup_dir)
    st.replay(st.stream_dedup(ev), str(tmp_path / "work"), "t_dedup")
    n_dedup = spark.sql("SELECT count(DISTINCT event_id) FROM t_dedup").collect()[0][0]
    n_total = spark.sql("SELECT count(*) FROM t_dedup").collect()[0][0]
    n_batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir).count()
    assert n_dedup == n_batch
    assert n_total == n_batch  # duplicates within watermark dropped


def test_stream_static_enrich(spark, stream_dir, tmp_path):
    batch_ev = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    dim = (
        batch_ev.select("user_id").distinct()
        .withColumn("segment", F.col("user_id") % 10)
    )
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(st.stream_static_enrich(ev, dim), str(tmp_path), "t_enrich")
    streamed = normalize_rows(
        [tuple(r) for r in spark.sql(
            "SELECT event_id, segment FROM t_enrich").collect()]
    )
    batch = normalize_rows(
        [tuple(r) for r in batch_ev.join(dim, "user_id", "left")
         .select("event_id", "segment").collect()]
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_stream_attribution_matches_batch(spark, stream_dir, tmp_path):
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.click_purchase_attribution_stream(ev, attribution="30 minutes"),
        str(tmp_path),
        "t_attr",
    )
    streamed = normalize_rows(
        [tuple(r) for r in spark.sql("SELECT * FROM t_attr").collect()], 2
    )
    batch_ev = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    clicks = batch_ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = batch_ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    )
    batch = normalize_rows(
        [
            tuple(r)
            for r in clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
            )
            .select(
                F.col("c_user").alias("user_id"),
                "click_ts",
                "purchase_ts",
                F.round("value", 2).alias("value"),
            )
            .collect()
        ],
        2,
    )
    assert streamed == batch
    assert len(streamed) > 0


@pytest.fixture(scope="module")
def disordered_stream_dir(tmp_path_factory):
    """Replay with event-time DISORDER, bounded by the watermark: one in
    five events is delivered TWO DAYS late (< the 3-day watermark the
    test passes), rows are shuffled within each trigger file, and the
    files overlap in event time — so every trigger contains data older
    than the max timestamp already seen. Watermark correctness, not
    happy-path replay. (Events span ~30 days at sf0.001, so day-scale
    lateness is what actually crosses the ~10-day trigger boundaries.)"""
    d = tmp_path_factory.mktemp("events_disordered")
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    con.execute(
        "CREATE VIEW dv AS SELECT *, ts + CASE WHEN event_id % 5 = 0 "
        "THEN INTERVAL 2 DAY ELSE INTERVAL 0 DAY END AS __delivery FROM ev"
    )
    lo, hi = con.execute(
        "SELECT min(__delivery), max(__delivery) FROM dv"
    ).fetchone()
    span = (hi - lo) / 3
    for i in range(3):
        t0 = lo + i * span
        t1 = hi if i == 2 else lo + (i + 1) * span
        cmp_hi = "<=" if i == 2 else "<"
        con.execute(
            f"COPY (SELECT event_id, ts, user_id, event_type, value, props "
            f"FROM dv WHERE __delivery >= TIMESTAMP '{t0}' "
            f"AND __delivery {cmp_hi} TIMESTAMP '{t1}' "
            f"ORDER BY hash(event_id)) "
            f"TO '{d}/part{i}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def test_stream_attribution_under_event_time_disorder(
    spark, stream_dir, disordered_stream_dir, tmp_path
):
    """The stream-stream attribution join must produce EXACTLY the batch
    result under late, shuffled delivery — late rows are within the
    watermark, so none may be dropped and none may be duplicated."""
    # the disorder is real: later trigger files carry event times older
    # than earlier files' maxima
    per_file = []
    for i in range(3):
        f = spark.read.parquet(f"{disordered_stream_dir}/part{i}.parquet")
        mn, mx = f.agg(F.min("ts"), F.max("ts")).collect()[0]
        per_file.append((mn, mx))
    assert per_file[1][0] < per_file[0][1], "file1 must overlap file0"
    assert per_file[2][0] < per_file[1][1], "file2 must overlap file1"
    # same multiset of events, different delivery order
    a = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    b = spark.read.schema(st.EVENTS_SCHEMA).parquet(disordered_stream_dir)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0

    ev = st.read_events_stream(spark, disordered_stream_dir)
    st.replay(
        st.click_purchase_attribution_stream(
            ev, attribution="30 minutes", watermark="3 days"
        ),
        str(tmp_path),
        "t_attr_disorder",
    )
    streamed = normalize_rows(
        [tuple(r) for r in spark.sql("SELECT * FROM t_attr_disorder").collect()],
        2,
    )
    batch_ev = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    clicks = batch_ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = batch_ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    )
    batch = normalize_rows(
        [
            tuple(r)
            for r in clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (
                    F.col("purchase_ts")
                    <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")
                ),
            )
            .select(
                F.col("c_user").alias("user_id"),
                "click_ts",
                "purchase_ts",
                F.round("value", 2).alias("value"),
            )
            .collect()
        ],
        2,
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_parquet_sink_with_checkpoint(spark, stream_dir, tmp_path):
    """writeStream -> partitioned parquet files with a checkpoint dir —
    the production sink path (memory sink is test-only). Exactly-once:
    re-reading the sink yields each input row once."""
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    ev = st.read_events_stream(spark, stream_dir)
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(out)
    n_in = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir).count()
    assert written.count() == n_in
    # partition pruning works on the sink layout
    one_type = written.filter(F.col("event_type") == "click")
    assert 0 < one_type.count() < n_in


def test_foreach_batch_idempotent_sink(spark, stream_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite: the sink lands the
    same rollup the batch twin computes, and re-applying the final batch
    (simulating a post-failure replay) leaves the content unchanged."""
    from datafusion_sqlgen_spark.streaming import ops as st

    out = str(tmp_path / "rollup_parquet")
    ckpt = str(tmp_path / "ckpt")
    events = st.read_events_stream(spark, stream_dir)
    rolled = st.hourly_rollup_stream(events).withColumn(
        "hour", F.date_format(F.col("hour"), "yyyy-MM-dd-HH")
    )
    q = st.foreach_batch_idempotent_sink(rolled, out, ckpt, ["hour"])
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out)
    first = {tuple(r) for r in got.select("hour", "event_type", "n").collect()}
    assert len(first) > 0

    # replay: rewrite the same aggregate state again -> identical content
    (got.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("hour").parquet(out))
    again = {tuple(r) for r in
             spark.read.parquet(out).select("hour", "event_type", "n").collect()}
    assert again == first


def test_session_window_stream_matches_batch_sessionize(
    spark, stream_dir, tmp_path
):
    """Cross-layer invariant: streaming session_window totals equal the
    batch operator's (timeseries.sessionize) on the same data — backfill
    and live paths must agree on session boundaries. session_window's
    end is last_event + gap (end-exclusive), so compare starts, counts,
    and values; strict_gap=True aligns the diff==gap boundary."""
    from datafusion_sqlgen_spark.operators import timeseries

    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.session_window_stream(ev, gap="30 minutes", watermark="365 days"),
        str(tmp_path),
        "t_sess_twin",
        "complete",
    )
    streamed = sorted(
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in spark.sql("SELECT * FROM t_sess_twin").collect()
    )
    batch_df = timeseries.sessionize(
        spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir),
        gap_s=1800,
        strict_gap=True,
    )
    batch = sorted(
        (r.user_id, r.session_start, r.n_events, r.total_value)
        for r in batch_df.collect()
    )
    assert len(streamed) == len(batch) > 0
    for (su, ss, sn, sv), (bu, bs, bn, bv) in zip(streamed, batch):
        assert (su, ss, sn) == (bu, bs, bn)
        # stream rounds to 2, batch to 4 — compare within rounding slack
        assert abs(sv - round(bv, 2)) < 0.011, (su, ss, sv, bv)


@pytest.fixture(scope="module")
def docs_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW dv AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    n = con.execute("SELECT count(*) FROM dv").fetchone()[0]
    half = n // 2 + 1
    for i in range(2):
        con.execute(
            f"COPY (SELECT * FROM dv ORDER BY doc_id LIMIT {half} OFFSET {i * half}) "
            f"TO '{d}/part{i}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def test_streaming_text_filter_matches_batch(spark, docs_stream_dir, tmp_path):
    """The text tier's pure-projection operators run on a stream
    UNCHANGED: streamed c4_filters == batch c4_filters row-for-row.
    (Stateless map — no watermark, no state store, append mode.)"""
    from datafusion_sqlgen_spark.operators import text as t

    stream = st.read_documents_stream(spark, docs_stream_dir)
    out = st.streaming_text_filter(stream)
    st.replay(out, str(tmp_path), "docs_filtered")
    got = normalize_rows(
        tuple(r) for r in spark.table("docs_filtered").collect()
    )
    batch = t.c4_filters(
        t.prepare_documents(spark.table("documents"))
    )
    want = normalize_rows(tuple(r) for r in batch.collect())
    assert got == want


def test_streaming_incremental_dedup_sink(spark, docs_stream_dir, tmp_path):
    """Continuous dedup ingestion: per-trigger incremental_dedup against
    the accumulating corpus. Invariants: the final corpus is exact-dup
    free, every admitted row came from the input, and a checkpointed
    restart re-ingests nothing."""
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    stream = st.read_documents_stream(spark, docs_stream_dir)
    q = st.streaming_incremental_dedup_sink(stream, corpus, ckpt)
    q.processAllAvailable()
    q.stop()

    final = st.read_dedup_corpus(spark, corpus)
    n = final.count()
    assert n > 0
    # exact-duplicate free
    assert final.select(F.md5("text")).distinct().count() == n
    # subset of the input
    src = spark.table("documents")
    assert final.join(src, "doc_id", "left_anti").count() == 0
    # never larger than the input's distinct-text count
    assert n <= src.select(F.md5("text")).distinct().count()

    # checkpointed restart: no new files -> no new rows
    q2 = st.streaming_incremental_dedup_sink(
        st.read_documents_stream(spark, docs_stream_dir), corpus, ckpt
    )
    q2.processAllAvailable()
    q2.stop()
    assert st.read_dedup_corpus(spark, corpus).count() == n


def test_bounded_dedup_batches_leave_no_blocks(spark, tmp_path):
    """Each dedup ingest batch runs in its own query_scope(): after a
    4-file bounded replay (3 batches pin incremental_dedup
    intermediates) none of the storage blocks its batches created
    remain, so a continuous stream holds at most one batch's."""
    import duckdb

    from datafusion_sqlgen_spark.streaming.ops import run_bounded_dedup

    src = tmp_path / "docs_files"
    src.mkdir()
    con = duckdb.connect()
    for i in range(4):
        path = src / f"part{i}.parquet"
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
            f" WHERE doc_id % 4 = {i}) TO '{path}' (FORMAT PARQUET)"
        )
        os.utime(path, (1_000_000_000 + i * 3600,) * 2)

    before = cached_rdds(spark)
    corpus = run_bounded_dedup(spark, str(src), str(tmp_path / "work"))
    assert corpus.count() > 0
    assert cached_rdds(spark) - before == set()


def test_dedup_ingest_batch_replay_and_crash_recovery(spark, tmp_path):
    """Round-6 VERDICT item 2: the corpus commit must be idempotent BY
    CONSTRUCTION.  (a) Re-invoking write_batch with an already-committed
    batch id leaves the corpus byte-identical — even for content that
    would pass admission (a NEW doc id with NEW text, the case the old
    append-path only survived accidentally).  (b) A crash mid-write
    leaves only hidden staging, which readers never see and the replay
    cleans up."""
    corpus = str(tmp_path / "corpus")
    docs = spark.table("documents").limit(20)
    st.dedup_ingest_batch(docs, 0, corpus)
    once = sorted(
        tuple(r) for r in st.read_dedup_corpus(spark, corpus).collect()
    )
    assert len(once) > 0
    # (a) replay of committed batch 0 with DIFFERENT admissible content:
    # committed-directory guard short-circuits before any admission logic
    other = (
        spark.table("documents")
        .orderBy(F.desc("doc_id"))
        .limit(5)
        .withColumn("text", F.concat(F.col("text"), F.lit(" fresh")))
    )
    st.dedup_ingest_batch(other, 0, corpus)
    assert sorted(
        tuple(r) for r in st.read_dedup_corpus(spark, corpus).collect()
    ) == once
    # (b) crash mid-write: stale staging dir with garbage, no commit dir
    staging = os.path.join(str(tmp_path / "corpus"), ".staging-batch-1")
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write")
    # staging is invisible to readers
    assert sorted(
        tuple(r) for r in st.read_dedup_corpus(spark, corpus).collect()
    ) == once
    # the replay of batch 1 cleans staging and commits atomically
    batch1 = (
        spark.table("documents")
        .filter(F.col("doc_id").between(100, 110))
        .withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
    )
    st.dedup_ingest_batch(batch1, 1, corpus)
    final = st.read_dedup_corpus(spark, corpus)
    assert final.count() > len(once)
    assert not os.path.exists(staging)
    # exact-duplicate free across both committed batches
    assert (
        final.select(F.md5("text")).distinct().count() == final.count()
    )


def test_dedup_ingest_fully_rejected_batch_still_commits_marker(
    spark, tmp_path
):
    """A batch whose every document is a duplicate admits nothing but
    must still commit its (empty) batch directory as the replay marker
    — and the data-less directory must not break subsequent corpus
    reads or ingests (Spark writes zero part files for an empty
    DataFrame, so schema inference would fail on it)."""
    corpus = str(tmp_path / "corpus")
    docs = spark.table("documents").limit(10)
    st.dedup_ingest_batch(docs, 0, corpus)
    n0 = st.read_dedup_corpus(spark, corpus).count()
    # batch 1 = identical content -> fully rejected, empty commit
    st.dedup_ingest_batch(docs, 1, corpus)
    assert os.path.isdir(os.path.join(corpus, "batch=1"))
    assert st.read_dedup_corpus(spark, corpus).count() == n0
    # replay of the fully-rejected batch: still a no-op
    st.dedup_ingest_batch(docs, 1, corpus)
    assert st.read_dedup_corpus(spark, corpus).count() == n0
    # a later batch with genuinely novel content (appending " x" would
    # be near-dup-rejected, correctly) ingests over the empty marker
    fresh = docs.withColumn(
        "text",
        F.concat(F.lit("wholly novel text nr "), F.col("doc_id").cast("string")),
    )
    st.dedup_ingest_batch(fresh, 2, corpus)
    assert st.read_dedup_corpus(spark, corpus).count() > n0


def test_streaming_rollup_sink_matches_batch(spark, stream_dir, tmp_path):
    """The continuously-merged state table must finalize to exactly the
    batch rollup of all replayed data — the merge algebra under
    trigger-at-a-time arrival."""
    from datafusion_sqlgen_spark.operators import timeseries as ts

    state = str(tmp_path / "rollup_state")
    q = st.streaming_rollup_sink(
        st.read_events_stream(spark, stream_dir),
        state,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    streamed = normalize_rows(
        [
            tuple(r)
            for r in ts.finalize_rollup(
                st.read_rollup_state(spark, state)
            ).collect()
        ],
        4,
    )
    batch = normalize_rows(
        [
            tuple(r)
            for r in ts.finalize_rollup(
                ts.mergeable_rollup(
                    spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
                )
            ).collect()
        ],
        4,
    )
    assert streamed == batch and len(streamed) > 0


def test_rollup_batch_replay_is_idempotent(spark, stream_dir, tmp_path):
    """ADVICE r4 item 1: the additive state merge must NOT double-count
    a crash-recovery replay — re-applying an already-applied batch_id is
    a no-op, while the next batch_id still merges."""
    from datafusion_sqlgen_spark.operators import timeseries as ts

    state = str(tmp_path / "state")
    batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    st.rollup_merge_batch(batch, 0, state)
    once = sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    )
    # replay of batch 0 (same or stale id): state unchanged
    st.rollup_merge_batch(batch, 0, state)
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once
    # a NEW batch id still merges (counts double since same data)
    st.rollup_merge_batch(batch, 1, state)
    n_after = {
        (r["hr"], r[1]): r["n"]
        for r in st.read_rollup_state(spark, state).collect()
    }
    n_once = {(r[0], r[1]): r[2] for r in once}
    assert n_after == {k: 2 * v for k, v in n_once.items()}


def test_rollup_crash_mid_promote_leaves_committed_generation(
    spark, stream_dir, tmp_path
):
    """Round-6 VERDICT item 3: the promote is stage + one atomic rename.
    A crash mid-promote (stale staging, possibly torn) must leave the
    last committed generation fully readable, and the replay must
    commit cleanly over it."""
    state = str(tmp_path / "state")
    batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    st.rollup_merge_batch(batch, 0, state)
    once = sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    )
    # simulate the crash: torn staging for generation 1, no commit
    staging = os.path.join(state, ".staging-gen-1")
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-00000.parquet"), "wb") as f:
        f.write(b"torn promote")
    # reader still resolves the committed generation, untouched
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once
    # replay of batch 1: staging cleaned, new generation committed
    st.rollup_merge_batch(batch, 1, state)
    assert not os.path.exists(staging)
    n_after = {
        (r["hr"], r[1]): r["n"]
        for r in st.read_rollup_state(spark, state).collect()
    }
    n_once = {(r[0], r[1]): r[2] for r in once}
    assert n_after == {k: 2 * v for k, v in n_once.items()}
    # retired generations stay bounded: at most 2 on disk
    gens = [d for d in os.listdir(state) if d.startswith("gen-")]
    assert len(gens) <= 2


@pytest.mark.parametrize(
    "runner, columns",
    [
        ("run_bounded_rollup",
         ["hr", "event_type", "n", "total", "mean", "lo", "hi"]),
        ("run_bounded_sketch", ["event_type", "register", "rho"]),
        ("run_bounded_kmeans", ["cell", "dim", "n", "centroid"]),
        ("run_bounded_scd2",
         ["user_id", "event_type", "valid_from", "valid_to", "is_current"]),
        ("run_bounded_dedup", ["doc_id", "text_md5"]),
    ],
    ids=["rollup", "sketch", "kmeans", "scd2", "dedup"],
)
def test_bounded_replay_empty_source_returns_empty_schema(
    spark, tmp_path, runner, columns
):
    """Zero input files -> zero triggers -> no committed state; every
    bounded replay returns an empty frame with its output schema, not
    a read error."""
    from datafusion_sqlgen_spark.streaming import ops

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    out = getattr(ops, runner)(spark, src, str(tmp_path / "work"))
    assert out.columns == columns
    assert out.count() == 0


def test_legacy_flat_layout_fails_loud_not_silent_reset(
    spark, stream_dir, tmp_path
):
    """Round-6 review finding: a state/corpus root holding flat parquet
    files from the pre-generation layout must FAIL the batch with a
    migration message — treating it as 'never committed' would silently
    zero accumulated rollup state or re-admit every document."""
    import pytest

    state = str(tmp_path / "state")
    os.makedirs(state)
    with open(os.path.join(state, "part-00000.parquet"), "wb") as f:
        f.write(b"pre-round-6 flat state")
    batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    with pytest.raises(Exception, match="refusing to treat"):
        st.rollup_merge_batch(batch, 0, state)
    # the foreign file was not touched
    assert os.path.exists(os.path.join(state, "part-00000.parquet"))

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    with open(os.path.join(corpus, "part-00000.parquet"), "wb") as f:
        f.write(b"pre-round-6 flat corpus")
    with pytest.raises(Exception, match="refusing to treat"):
        st.read_dedup_corpus(spark, corpus)
    docs = spark.table("documents").limit(5)
    with pytest.raises(Exception, match="refusing to treat"):
        st.dedup_ingest_batch(docs, 0, corpus)


_GENERATION_SINKS = ["rollup", "sketch", "kmeans", "scd2"]


def _generation_body(spark, stream_dir, sink):
    """``(body, batch)`` of one generation sink over the test fixtures."""
    from datafusion_sqlgen_spark.streaming import ops

    events = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    return {
        "rollup": (ops.rollup_merge_batch, events),
        "sketch": (ops.sketch_merge_batch, events),
        "kmeans": (partial(ops.kmeans_update_batch, k=4),
                   spark.table("embeddings").limit(40)),
        "scd2": (ops.scd2_apply_batch, events),
        "scd2_tombstones": (
            partial(ops.scd2_apply_batch,
                    tombstone_where="event_type = 'error'"),
            events,
        ),
    }[sink]


def _visible(state):
    return sorted(d for d in os.listdir(state) if not d.startswith("."))


@pytest.mark.parametrize("sink", _GENERATION_SINKS)
def test_generation_sink_replay_and_torn_staging(
    spark, stream_dir, tmp_path, sink
):
    """The state contract every generation sink shares: replaying an
    applied batch id is a no-op; a torn ``.staging-gen-<id>`` left by a
    crash mid-promote never shadows the committed generation, and the
    retry deletes it and commits; at most two generations stay on
    disk."""
    body, batch = _generation_body(spark, stream_dir, sink)
    state = str(tmp_path / "state")

    def current():
        return sorted(
            tuple(r) for r in st.read_rollup_state(spark, state).collect()
        )

    body(batch, 0, state)
    once = current()
    assert once
    body(batch, 0, state)  # crash-recovery replay of the applied id
    assert current() == once and _visible(state) == ["gen-0"]
    staging = os.path.join(state, ".staging-gen-1")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-00000.parquet"), "wb") as f:
        f.write(b"torn promote")
    assert current() == once
    body(batch, 1, state)
    assert not os.path.exists(staging)
    body(batch, 2, state)
    assert _visible(state) == ["gen-1", "gen-2"]


@pytest.mark.parametrize("sink", _GENERATION_SINKS)
def test_generation_sink_fails_loud_on_corrupt_state(
    spark, stream_dir, tmp_path, sink
):
    """A corrupt COMMITTED generation must FAIL the next merging batch,
    naming the file, not silently reset accumulated state to the
    current batch (the old bare-except bug).  Replays at or below the
    committed id short-circuit before reading, so only a NEW batch id
    trips the read."""
    body, batch = _generation_body(spark, stream_dir, sink)
    state = str(tmp_path / "state")
    part = os.path.join(state, "gen-0", "part-00000.parquet")
    os.makedirs(os.path.dirname(part))
    with open(part, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(
        Exception, match=r"part-00000\.parquet is not a Parquet file"
    ):
        body(batch, 1, state)
    # the corrupt generation was NOT overwritten by the failed batch
    with open(part, "rb") as f:
        assert f.read() == b"not a parquet file"
    assert _visible(state) == ["gen-0"]


# per sink: a state column to drop, and a state column with a type it
# must not have
_STATE_DRIFT = {
    "rollup": ("max_v", "n", "int"),
    "sketch": ("register", "rho", "string"),
    "kmeans": ("s", "n", "int"),
    "scd2": ("valid_to", "is_current", "string"),
}


@pytest.mark.parametrize(
    "drift", ["missing_column", "wrong_type", "extra_column"]
)
@pytest.mark.parametrize("sink", _GENERATION_SINKS)
def test_generation_sink_fails_loud_on_drifted_state(
    spark, stream_dir, tmp_path, sink, drift
):
    """A committed generation whose schema drifted (a column missing,
    of the wrong type, or unexpected) FAILS the next merging batch,
    naming the column, before any merge runs; the drifted generation
    stays as it was and no new generation commits."""
    body, batch = _generation_body(spark, stream_dir, sink)
    body(batch, 0, str(tmp_path / "clean"))
    gen0 = st.read_rollup_state(spark, str(tmp_path / "clean"))
    dropped, col, typ = _STATE_DRIFT[sink]
    drifted, cause = {
        "missing_column": (
            gen0.drop(dropped), rf"missing columns \['{dropped}'\]"),
        "wrong_type": (
            gen0.withColumn(col, F.col(col).cast(typ)),
            rf"{col}: {typ} \(expected "
            rf"{gen0.schema[col].dataType.simpleString()}\)"),
        "extra_column": (
            gen0.withColumn("extra", F.lit(1)),
            r"unexpected columns \['extra'\]"),
    }[drift]
    state = str(tmp_path / "state")
    drifted.write.parquet(os.path.join(state, "gen-0"))
    with pytest.raises(IOError, match=cause):
        body(batch, 1, state)
    assert _visible(state) == ["gen-0"]


@pytest.mark.parametrize(
    "sink, jobs",
    [("rollup", 2), ("sketch", 3), ("kmeans", 6), ("scd2", 3),
     ("scd2_tombstones", 6)],
)
def test_generation_sink_trigger_jobs(
    spark, stream_dir, tmp_path, sink, jobs
):
    """The job count of a non-first trigger. The previous generation is
    read with the body's state schema after a driver-side footer check,
    so no trigger pays a schema-inference job. The rollup trigger is
    ONE aggregate over the previous generation unioned with the batch
    rows: one shuffle-map job plus the generation write — no emptiness
    probe, no second aggregate."""
    from perfbench.probes import SparkCounters

    counters = SparkCounters(spark)
    body, batch = _generation_body(spark, stream_dir, sink)
    state = str(tmp_path / "state")
    body(batch, 0, state)
    start = counters.mark()
    body(batch, 1, state)
    assert counters.delta(start, counters.mark())["jobs"] == jobs


def test_rollup_empty_batch_leaves_state_unchanged(
    spark, stream_dir, tmp_path
):
    """No foreachBatch body special-cases an empty batch: it commits its
    generation (the batch id is recorded) holding exactly the previous
    state — for the dedup corpus, an empty ``batch=<id>`` marker. The
    one exception is an empty FIRST k-means batch, which has no rows to
    seed the centroids from and commits nothing."""
    from datafusion_sqlgen_spark.streaming import ops

    events = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    emb = spark.table("embeddings").limit(40)
    bodies = {
        "rollup": (st.rollup_merge_batch, events, "gen-1"),
        "sketch": (st.sketch_merge_batch, events, "gen-1"),
        "kmeans": (partial(ops.kmeans_update_batch, k=4), emb, "gen-1"),
        "scd2": (ops.scd2_apply_batch, events, "gen-1"),
        "dedup": (st.dedup_ingest_batch,
                  spark.table("documents").limit(20), "batch=1"),
    }
    for name, (body, batch, commit) in bodies.items():
        read = st.read_dedup_corpus if name == "dedup" else st.read_rollup_state
        state = str(tmp_path / name)
        body(batch, 0, state)
        once = sorted(tuple(r) for r in read(spark, state).collect())
        assert once, name
        body(batch.limit(0), 1, state)
        assert os.path.isdir(os.path.join(state, commit)), name
        assert sorted(
            tuple(r) for r in read(spark, state).collect()
        ) == once, name
    first = str(tmp_path / "kmeans_first")
    ops.kmeans_update_batch(emb.limit(0), 0, first, k=4)
    assert not os.path.exists(first)


@pytest.fixture(scope="module")
def stream_dir_with_empty(stream_dir, tmp_path_factory):
    """The 3 event files plus an EMPTY one, ordered by mtime so the
    empty file is the second trigger of a 4-trigger replay."""
    import duckdb

    d = tmp_path_factory.mktemp("events_stream_empty")
    order = ["part0.parquet", "empty.parquet", "part1.parquet",
             "part2.parquet"]
    for name in order:
        if name != "empty.parquet":
            shutil.copy(os.path.join(stream_dir, name), d / name)
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{stream_dir}/part0.parquet') "
        f"WHERE false) TO '{d}/empty.parquet' (FORMAT PARQUET)"
    )
    for i, name in enumerate(order):
        os.utime(d / name, (1_000_000 + i, 1_000_000 + i))
    return str(d)


def test_stage_replay_fails_naming_an_empty_bucket(spark):
    """A bucketed split whose bucket column leaves a trigger without
    rows fails before any replay runs, naming the empty bucket."""
    rows = spark.range(6).withColumn("__b", (F.col("id") % 2).cast("int"))
    with pytest.raises(RuntimeError, match=r"__b=2 .* is empty"):
        st.stage_replay(rows, "stage_test_", files=3, bucket="__b")


def test_bounded_rollup_runs_one_trigger_per_file(
    spark, stream_dir, stream_dir_with_empty, tmp_path
):
    """run_bounded_rollup over 4 files runs exactly 4 triggers (one
    committed batch per file), and the empty file in the middle of the
    stream leaves the finalized state equal to the batch rollup."""
    from datafusion_sqlgen_spark.operators import timeseries as ts

    work = tmp_path / "work"
    out = st.run_bounded_rollup(spark, stream_dir_with_empty, str(work))
    commits = os.listdir(work / "checkpoint" / "commits")
    assert sorted(c for c in commits if not c.startswith(".")) == [
        "0", "1", "2", "3"
    ]
    batch = ts.finalize_rollup(ts.mergeable_rollup(
        spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    ))
    streamed = sorted(tuple(r) for r in out.collect())
    assert streamed == sorted(tuple(r) for r in batch.collect())
    assert len(streamed) > 0


def test_streaming_sketch_sink_matches_one_pass(spark, stream_dir, tmp_path):
    """The union law, trigger-at-a-time: N max-merges of per-batch HLL
    register tables equal the one-pass register build over all data."""
    from datafusion_sqlgen_spark.operators import profiling as pr

    state = str(tmp_path / "sketch_state")
    q = st.streaming_sketch_sink(
        st.read_events_stream(spark, stream_dir),
        state,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    )
    whole = sorted(
        tuple(r)
        for r in pr.hll_registers(
            spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
        ).select("event_type", "register", "rho").collect()
    )
    assert streamed == whole and len(streamed) > 0


def test_sketch_merge_batch_replay_is_noop(spark, stream_dir, tmp_path):
    """Replay is harmless twice over: the guard skips an applied batch
    id, and even WITHOUT the guard the max-merge is idempotent — a new
    batch id carrying the same data leaves the registers unchanged."""
    state = str(tmp_path / "state")
    batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    st.sketch_merge_batch(batch, 0, state)
    once = sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    )
    st.sketch_merge_batch(batch, 0, state)  # guard path
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once
    st.sketch_merge_batch(batch, 1, state)  # algebra path (max-merge)
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once


def test_sketch_crash_mid_promote_leaves_committed_generation(
    spark, stream_dir, tmp_path
):
    """A staging directory abandoned by a crash never shadows the last
    committed generation — readers keep resolving consistent state."""
    import shutil

    state = str(tmp_path / "state")
    batch = spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
    st.sketch_merge_batch(batch, 0, state)
    once = sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    )
    # simulate a crash mid-promote of batch 1: staging written, rename
    # never happened
    shutil.copytree(f"{state}/gen-0", f"{state}/.staging-gen-1")
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once
    # recovery replays batch 1 to completion
    st.sketch_merge_batch(batch, 1, state)
    assert sorted(
        tuple(r) for r in st.read_rollup_state(spark, state).collect()
    ) == once


def test_session_stream_unwatermarked_exact_multi_trigger(
    spark, stream_dir, tmp_path
):
    """The driver-workload path (round 7): watermark=None + exact=True
    over event-id-split files (NOT time-ordered), one file per trigger.
    A watermark would wrongly drop whole earlier-timestamped batches as
    late; without it the complete-mode state must merge sessions across
    triggers to exactly the single-batch result, with DECIMAL-exact
    value sums."""
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.session_window_stream(ev, watermark=None, exact=True),
        str(tmp_path),
        "t_sess_nowm",
        "complete",
    )
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM t_sess_nowm").collect()
    )
    batch = sorted(
        tuple(r)
        for r in st.session_window_stream(
            spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir),
            watermark=None,
            exact=True,
        ).collect()
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_attribution_stream_exact_multi_trigger_wide_watermark(
    spark, stream_dir, tmp_path
):
    """The driver-workload path (round 7): event-id-split files, one
    per trigger, wide watermark (the files are NOT time-ordered — a
    production-width watermark would drop earlier-timestamped batches),
    exact value passthrough.  The stream-stream join state must match
    purchases to clicks ACROSS trigger boundaries to exactly the batch
    self-join result."""
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.click_purchase_attribution_stream(
            ev, watermark="3650 days", exact=True
        ),
        str(tmp_path),
        "t_attr_exact",
    )
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM t_attr_exact").collect()
    )
    batch = sorted(
        tuple(r)
        for r in st.click_purchase_attribution_stream(
            spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir),
            watermark="3650 days",
            exact=True,
        ).collect()
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_sliding_stream_unwatermarked_multi_trigger(
    spark, stream_dir, tmp_path
):
    """The driver-workload path (round 7): overlapping sliding windows
    must accumulate counts across file-triggers (complete-mode state),
    matching the single-batch result exactly; every event lands in
    exactly window/slide = 2 windows."""
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.sliding_window_stream(ev, watermark=None), str(tmp_path),
        "t_slide_nowm", "complete",
    )
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM t_slide_nowm").collect()
    )
    batch_df = st.sliding_window_stream(
        spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir),
        watermark=None,
    )
    batch = sorted(tuple(r) for r in batch_df.collect())
    assert streamed == batch
    n_events = (
        spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir).count()
    )
    assert sum(r[2] for r in streamed) == 2 * n_events


def test_running_totals_exact_multi_trigger(spark, stream_dir, tmp_path):
    """The driver-workload path (round 7): fixed-point BIGINT state in
    applyInPandasWithState must accumulate exactly across triggers —
    the final per-user snapshot (max-n_events emission) equals the
    batch GROUP BY with the same value snap, as integers."""
    ev = st.read_events_stream(spark, stream_dir)
    st.replay(
        st.user_running_totals_stream_exact(ev),
        str(tmp_path),
        "t_totals_fx",
        "update",
    )
    import pyspark.sql.functions as F

    final = {
        (r["user_id"]): (r["n_events"], r["total_fx"])
        for r in spark.sql("""
            SELECT user_id, n_events, total_fx FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY n_events DESC) rn
                FROM t_totals_fx) WHERE rn = 1
        """).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["fx"])
        for r in spark.read.schema(st.EVENTS_SCHEMA).parquet(stream_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("bigint")
            ).alias("fx"),
        )
        .collect()
    }
    assert final == batch and len(final) > 0


def _replay_counting_triggers(spark, build):
    """Rows of the replayed workload ``build`` and how many streaming
    triggers its replay ran."""
    from perfbench.probes import trigger_log

    log = trigger_log(spark)
    try:
        rows = build(spark).collect()
        return rows, len(log.take())
    finally:
        spark.streams.removeListener(log)


def test_stream_attribution_left_outer_flushes_unmatched(spark):
    """LEFT OUTER stream-stream interval join (round 10b): the bounded
    replay must emit EVERY unmatched click as a NULL-purchase row (the
    watermark-eviction path — time-ordered triggers + sentinel flush),
    matching the batch LEFT-JOIN twin exactly."""
    from datafusion_sqlgen_spark.workloads import (
        _streaming_attribution_left_result,
    )

    res, triggers = _replay_counting_triggers(
        spark, _streaming_attribution_left_result)
    # 4 quartile files + 1 sentinel file + the no-data flush batch
    assert triggers == 6
    assert any(r.purchase_ts is None for r in res), (
        "no unmatched clicks flushed — outer state never evicted"
    )
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
            "left",
        )
        .select(
            F.col("c_user").alias("user_id"), "click_ts",
            "purchase_ts", "value",
        )
        .collect()
    )
    assert normalize_rows([tuple(r) for r in res], 6) == normalize_rows(
        [tuple(r) for r in batch], 6
    )


def test_stream_point_in_time_enrich_matches_batch_twin(spark):
    """Round 11: streaming point-in-time (ASOF) enrichment — TWO
    chained stateful operators (LEFT OUTER interval join feeding a
    per-click max_by aggregate; watermark propagation across them is
    the SPARK-42376 machinery).  The bounded replay must equal the
    batch twin exactly: one row per click, the latest same-user
    purchase within the 30-minute lookback, NULL-enriched clicks kept."""
    from datafusion_sqlgen_spark.workloads import (
        _streaming_pit_enrich_result,
    )

    rows, triggers = _replay_counting_triggers(
        spark, _streaming_pit_enrich_result)
    # 4 quartile files + 1 sentinel file + the no-data flush batch
    assert triggers == 6
    n_clicks = (
        spark.table("events").filter(F.col("event_type") == "click")
        .count()
    )
    assert len(rows) == n_clicks  # exactly one output row per click
    assert any(r.purchase_ts is None for r in rows), (
        "no NULL-enriched clicks — aggregate state never evicted"
    )
    ev = spark.table("events")
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), "value",
    )
    batch = (
        c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") <= F.col("click_ts"))
            & (F.col("pts")
               >= F.col("click_ts") - F.expr("INTERVAL 30 minutes")),
            "left",
        )
        .groupBy("event_id", "cu", "click_ts")
        .agg(F.max_by(F.struct(F.col("pts").alias("purchase_ts"),
                               "value"),
                      F.struct("pts", "value")).alias("__m"))
        .select("event_id", F.col("cu").alias("user_id"), "click_ts",
                F.col("__m.purchase_ts").alias("purchase_ts"),
                F.col("__m.value").alias("value"))
    )
    key = lambda r: (r[0],)  # noqa: E731 — event_id is unique
    assert sorted(map(tuple, rows), key=key) \
        == sorted(map(tuple, batch.collect()), key=key)


def test_kmeans_sink_replay_is_idempotent(spark, tmp_path):
    """Replaying an already-committed batch id is a no-op: MODEL state
    would re-observe a different model on replay, so the batch-id guard
    is mandatory (not just wasted-work protection like the sketch
    sink's)."""
    from datafusion_sqlgen_spark.streaming.ops import kmeans_update_batch

    emb = spark.table("embeddings").limit(40)
    state = os.path.join(str(tmp_path), "km_state")
    kmeans_update_batch(emb, 0, state, k=4)
    first = sorted(map(tuple, st.read_rollup_state(spark, state).collect()))
    kmeans_update_batch(emb, 0, state, k=4)  # replay: must be a no-op
    assert _visible(state) == ["gen-0"]
    again = sorted(map(tuple, st.read_rollup_state(spark, state).collect()))
    assert again == first


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    """Replaying an already-committed batch id is a no-op: HISTORY
    state is order-dependent — a replayed merge would close and re-open
    versions a second time — so the batch-id guard is mandatory."""
    from datafusion_sqlgen_spark.streaming.ops import scd2_apply_batch

    ev = spark.table("events").limit(200)
    state = os.path.join(str(tmp_path), "scd2_state")
    scd2_apply_batch(ev, 0, state)
    first = sorted(map(tuple, st.read_rollup_state(spark, state).collect()))
    scd2_apply_batch(ev, 0, state)  # replay: must be a no-op
    assert _visible(state) == ["gen-0"]
    again = sorted(map(tuple, st.read_rollup_state(spark, state).collect()))
    assert again == first


def test_scd2_sink_versions_close_and_reopen_at_event_time(spark, tmp_path):
    """Two sequential batches where a key changes: the open version
    closes AT the change row's event time and the new version opens
    FROM it; an unchanged key keeps one open version; within-batch
    churn compacts to the LAST row per key."""
    import datetime as dt
    import os

    from datafusion_sqlgen_spark.streaming.ops import scd2_apply_batch

    def ev_df(rows):
        return spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                  "event_type STRING, value DOUBLE, props STRING")

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    state = os.path.join(str(tmp_path), "scd2_state")
    # batch 0: user 1 churns within the batch (view then click — only
    # click may enter history), user 2 appears once
    scd2_apply_batch(ev_df([
        (0, t(1), 1, "view", 1.0, "{}"),
        (1, t(2), 1, "click", 1.0, "{}"),
        (2, t(3), 2, "view", 1.0, "{}"),
    ]), 0, state)
    # batch 1: user 1 changes to purchase at t(5); user 2 unchanged
    scd2_apply_batch(ev_df([
        (3, t(5), 1, "purchase", 1.0, "{}"),
        (4, t(6), 2, "view", 1.0, "{}"),
    ]), 1, state)
    rows = {
        (r["user_id"], r["event_type"]):
            (r["valid_from"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(f"{state}/gen-1").collect()
    }
    assert len(rows) == 3
    assert rows[(1, "click")] == (t(2), t(5), False)     # closed at change
    assert rows[(1, "purchase")] == (t(5), None, True)   # reopened from it
    assert rows[(2, "view")] == (t(3), None, True)       # untouched
    assert (1, "view") not in rows                       # compacted away


def test_scd2_merge_effective_param_validation(spark):
    """Exactly one of effective / effective_from_col; close_missing
    needs the literal form."""
    import pytest as _pytest

    from datafusion_sqlgen_spark.operators.joins import scd2_merge

    h = spark.createDataFrame(
        [], "k BIGINT, a STRING, valid_from TIMESTAMP, "
            "valid_to TIMESTAMP, is_current BOOLEAN")
    s = spark.createDataFrame([], "k BIGINT, a STRING, ts TIMESTAMP")
    with _pytest.raises(ValueError):
        scd2_merge(h, s, "k", ["a"])  # neither
    with _pytest.raises(ValueError):
        scd2_merge(h, s, "k", ["a"], effective="2024-01-01",
                   effective_from_col="ts")  # both
    with _pytest.raises(ValueError):
        scd2_merge(h, s, "k", ["a"], effective_from_col="ts",
                   close_missing=True)  # no time for missing keys


def test_scd2_tombstone_closes_without_reopen_and_key_returns(spark, tmp_path):
    """CDC deletes: a tombstone closes the open version at its event
    time with NO new open row; the key re-appearing in a later batch
    opens a fresh version; a tombstone for a never-seen key is a
    no-op; a tombstone for an already-closed key is a no-op."""
    import datetime as dt
    import os

    from datafusion_sqlgen_spark.streaming.ops import scd2_apply_batch

    def ev_df(rows):
        return spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                  "event_type STRING, value DOUBLE, props STRING")

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    tomb = "event_type = 'error'"
    state = os.path.join(str(tmp_path), "scd2_state")
    # batch 0: users 1, 2 open
    scd2_apply_batch(ev_df([
        (0, t(1), 1, "view", 1.0, "{}"),
        (1, t(1), 2, "click", 1.0, "{}"),
    ]), 0, state, tombstone_where=tomb)
    # batch 1: user 1 deleted at t3; user 9 tombstone (never seen)
    scd2_apply_batch(ev_df([
        (2, t(3), 1, "error", 1.0, "{}"),
        (3, t(3), 9, "error", 1.0, "{}"),
    ]), 1, state, tombstone_where=tomb)
    rows = {(r["user_id"], r["event_type"]):
            (r["valid_from"], r["valid_to"], r["is_current"])
            for r in spark.read.parquet(f"{state}/gen-1").collect()}
    assert rows == {
        (1, "view"): (t(1), t(3), False),   # closed by tombstone
        (2, "click"): (t(1), None, True),   # untouched
    }
    # batch 2: user 1 returns as purchase; stray tombstone for user 1's
    # CLOSED history is impossible (compaction), but a tombstone for
    # the re-opened row in the SAME batch would have compacted over it
    scd2_apply_batch(ev_df([
        (4, t(5), 1, "purchase", 1.0, "{}"),
    ]), 2, state, tombstone_where=tomb)
    rows = {(r["user_id"], r["event_type"], r["is_current"]):
            (r["valid_from"], r["valid_to"])
            for r in spark.read.parquet(f"{state}/gen-2").collect()}
    assert rows[(1, "purchase", True)] == (t(5), None)   # fresh version
    assert rows[(1, "view", False)] == (t(1), t(3))      # history kept
    assert len(rows) == 3


def test_scd2_point_in_time_semantics(spark):
    """Temporal lookup: boundary ts picks the NEW version (valid_from
    inclusive, valid_to exclusive); facts before a key's first version
    and inside tombstone gaps get NULL; batch history builder equals
    the streaming sink's result on the same 4-batch replay rules."""
    import datetime as dt

    from datafusion_sqlgen_spark.operators.joins import scd2_point_in_time

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    hist = spark.createDataFrame(
        [
            (1, "view", t(2), t(5), False),
            (1, "click", t(5), t(8), False),   # closed by tombstone at 8
            (1, "buy", t(10), None, True),     # re-opened after a gap
        ],
        "user_id BIGINT, event_type STRING, valid_from TIMESTAMP, "
        "valid_to TIMESTAMP, is_current BOOLEAN",
    )
    facts = spark.createDataFrame(
        [(i, 1, t(h)) for i, h in enumerate([1, 2, 5, 7, 9, 11])],
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP",
    )
    got = {r["event_id"]: r["dim_event_type"]
           for r in scd2_point_in_time(facts, hist).collect()}
    assert got == {
        0: None,       # before first version
        1: "view",     # boundary: valid_from inclusive
        2: "click",    # boundary: old version's valid_to exclusive
        3: "click",
        4: None,       # tombstone gap
        5: "buy",
    }


def test_replays_release_queries_views_and_dirs(spark):
    """A memory-table replay, a foreachBatch replay and a sentinel
    replay built through the catalog leave nothing behind once the
    session scope is released: no active streaming query, no
    ``streaming_*_tbl`` temp view, and no new replay dir (work dirs or
    Spark's temporary checkpoints) under the temp dir."""
    import glob
    import tempfile

    from datafusion_sqlgen_spark.materialize import release_session
    from datafusion_sqlgen_spark.workloads import build_queries

    def dirs() -> set:
        return {
            p for pattern in ("stream_*", "temporary*")
            for p in glob.glob(os.path.join(tempfile.gettempdir(), pattern))
        }

    before = dirs()
    queries = build_queries()
    for name in ("streaming_sessions_result", "streaming_hll_registers",
                 "streaming_attribution_left_result"):
        assert queries[name](spark, SF_DIR).collect(), name
    release_session()
    assert spark.streams.active == []
    assert [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("streaming_")
    ] == []
    assert not dirs() - before
