"""Text-analysis operators for training-data pipelines.

All operators are pure ``pyspark.sql.functions`` column expressions —
JVM-side, whole-stage-codegen, no Python UDFs — so they scan-scale
linearly: at 100 TB each is a single pass over the documents table with
no shuffle (per-row) or a single hash-shuffle (per-group aggregations).

Every operator has a matching DuckDB oracle builder (``*_oracle``) using
the same deterministic math, so the driver can hash-compare results.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas-UDF type hints resolve here
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_sqlgen_spark.materialize import materialize

# Deterministic stopword list used by quality scoring and language ID.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

_WORD_SPLIT_SPARK = r"\s+"
_WORD_SPLIT_DUCK = r"\s+"


def words_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (the BPE-ish regex
    tokenizer lives in token_count_bpe below)."""
    return F.split(F.lower(text), _WORD_SPLIT_SPARK)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics: whitespace tokens, chars, avg token
    length. One narrow projection — no shuffle."""
    words = words_col(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(words).cast("bigint").alias("n_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars_computed"),
        F.round(
            F.aggregate(words, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w))
            / F.size(words),
            4,
        ).alias("avg_token_len"),
    )


def token_stats_oracle(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           len(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')) AS n_tokens,
           length(text) AS n_chars_computed,
           round(list_sum(list_transform(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}'),
                                         w -> length(w)))
                 / len(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')), 4) AS avg_token_len
    FROM {table}
    """


def top_terms(
    df: DataFrame, k: int = 50, text_col: str = "text", min_len: int = 3
) -> DataFrame:
    """Corpus-wide top-k terms: explode → count → top-k.

    The classic heavy-shuffle text job, shaped for scale: the count
    aggregates map-side before the word-keyed shuffle (one row per
    distinct word per partition crosses the wire, not one per
    occurrence), and the final top-k is a TakeOrdered, not a full sort.
    Ties break lexicographically for determinism."""
    words = words_col(F.col(text_col))
    return (
        df.select(F.explode(words).alias("term"))
        .filter(F.length("term") >= min_len)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def top_terms_oracle(table: str = "documents", k: int = 50, min_len: int = 3) -> str:
    return f"""
    SELECT term, count(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')) AS term
          FROM {table})
    WHERE length(term) >= {min_len}
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT {k}
    """


def zipf_slope(
    df: DataFrame, k: int = 100, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """Zipf-law fit over the top-``k`` corpus terms: the slope of
    ``ln(freq)`` against ``ln(rank)`` — natural text sits near -1;
    a much flatter slope flags template/boilerplate spam (the head is
    artificially even), much steeper flags a degenerate head (a few
    tokens dominating, e.g. markup soup).  With the Heaps curve
    (:func:`vocab_growth`) this is the second classic corpus-health
    diagnostic a curation pipeline runs per source/snapshot.

    Shape: one map-side-combined token count shuffle, a TakeOrdered
    top-k (never a full sort), then ranking and the regression over
    the k surviving rows — a single bounded partition regardless of
    corpus size, so the operator costs one aggregation pass at 100 TB.
    The slope comes from ``regr_slope`` and snaps to 1e-6 (a <= k-point
    regression over ln values — far inside the snap, the vocab_growth
    precedent); ranks tie-break lexicographically so the fit is
    deterministic.

    Returns (rank, term, n, zipf_slope) — k rows, slope constant.
    """
    top = (
        df.select(F.explode(words_col(F.col(text_col))).alias("term"))
        .filter(F.length("term") >= min_len)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    slope = F.expr("regr_slope(ln(n), ln(rank))").over(wall)
    return ranked.select(
        "rank", "term", "n",
        (F.floor(slope * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("zipf_slope"),
    )


def zipf_slope_oracle(
    table: str = "documents", k: int = 100, min_len: int = 2
) -> str:
    """DuckDB twin with the regression spelled as the explicit
    closed-form sums (n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²) — a different
    mechanism from Spark's ``regr_slope`` accumulator, so a slope bug
    cannot pass both sides; the 1e-6 snap absorbs the two formulas'
    ULP-level difference (same argument as vocab_growth's fit)."""
    return f"""
    WITH top AS (
        SELECT term, count(*) AS n
        FROM (SELECT unnest(string_split_regex(lower(text),
                  '{_WORD_SPLIT_DUCK}')) AS term FROM {table})
        WHERE length(term) >= {min_len}
        GROUP BY term
        ORDER BY n DESC, term ASC
        LIMIT {k}
    ),
    ranked AS (
        SELECT term, n,
               row_number() OVER (ORDER BY n DESC, term ASC) AS rank
        FROM top
    ),
    fit AS (
        SELECT (count(*) * sum(ln(n) * ln(rank))
                - sum(ln(rank)) * sum(ln(n)))
               / (count(*) * sum(ln(rank) * ln(rank))
                  - sum(ln(rank)) * sum(ln(rank))) AS slope
        FROM ranked
    )
    SELECT r.rank, r.term, r.n,
           floor(f.slope * 1000000 + 0.5) / 1000000 AS zipf_slope
    FROM ranked r CROSS JOIN fit f
    """


def word_positions(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize with 1-based positions (``posexplode``) — the substrate
    for positional n-grams, context windows, and span labeling. One
    generate per row, no shuffle; output is (doc_id, pos, word).

    Positions are 1-based to match SQL ordinality (DuckDB
    ``generate_subscripts``; Spark's ``posexplode`` is 0-based, shifted
    here) and the reference's 1-based array indexing
    (/root/reference/datafusion-sqlgen/tests/select.rs:276)."""
    words = words_col(F.col(text_col))
    return (
        df.select(F.col(id_col), F.posexplode(words).alias("pos0", "word"))
        .select(
            F.col(id_col),
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            "word",
        )
    )


def word_positions_oracle(table: str = "documents", where: str = "") -> str:
    return f"""
    SELECT doc_id,
           generate_subscripts(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}'), 1) AS pos,
           unnest(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')) AS word
    FROM {table} {where}
    """


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality scoring: length, punctuation ratio, stopword
    ratio (standard pre-training filters, cf. C4/Gopher rules). Pure
    column math; deterministic."""
    text = F.col(text_col)
    words = words_col(text)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    # punct counts non-alnum-non-space chars: total minus stripped length
    punct_ratio = F.round(
        (n_chars - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))) / n_chars, 4
    )
    sw = F.array([F.lit(w) for w in STOPWORDS])
    stop_ratio = F.round(
        F.size(F.array_intersect(words, sw)) / F.size(words), 4
    )
    score = F.round(
        F.when(n_chars < 20, 0.0).otherwise(
            1.0 - punct_ratio - F.when(stop_ratio > 0.5, 0.5).otherwise(0.0)
        ),
        4,
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars_q"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_distinct_ratio"),
        score.alias("quality"),
    )


def quality_score_oracle(table: str = "documents") -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    SELECT doc_id,
           length(text) AS n_chars_q,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                 / length(text)::DOUBLE, 4) AS punct_ratio,
           round(len(list_intersect(string_split_regex(lower(text), '\\s+'), [{sw}]))
                 / len(string_split_regex(lower(text), '\\s+'))::DOUBLE, 4) AS stopword_distinct_ratio,
           round(CASE WHEN length(text) < 20 THEN 0.0 ELSE
                 1.0 - round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                             / length(text)::DOUBLE, 4)
                     - CASE WHEN round(len(list_intersect(string_split_regex(lower(text), '\\s+'), [{sw}]))
                                       / len(string_split_regex(lower(text), '\\s+'))::DOUBLE, 4) > 0.5
                            THEN 0.5 ELSE 0.0 END
                 END, 4) AS quality
    FROM {table}
    """


# n-gram language profiles: tiny deterministic trigram sets per language.
# (Real lang-id uses larger profiles; the *operator shape* — score text
# against per-language n-gram sets, argmax — is the same at any size.)
LANG_PROFILES = {
    "en": ("the", "and", "ing", "ion", "ent"),
    "de": ("der", "die", "und", "sch", "ein"),
    "fr": ("les", "des", "ent", "que", "ion"),
    "es": ("los", "las", "que", "ion", "ent"),
}


def _lang_exprs(text: Column):
    """(scores-by-lang, pred, best) expression trio shared by
    language_id and language_id_confidence: profile-trigram occurrence
    scores, CASE-chain argmax (first language in sorted order wins
    ties)."""
    langs = sorted(LANG_PROFILES)
    scores = {}
    for lang in langs:
        s = None
        for g in LANG_PROFILES[lang]:
            # occurrences of g: (len - len(remove g)) / len(g)
            occ = (F.length(text) - F.length(F.replace(text, F.lit(g), F.lit("")))) / len(g)
            s = occ if s is None else s + occ
        scores[lang] = s.cast("double")
    pred = None
    best_score = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1:]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else cond & c
        if cond is None:  # last language: unconditional ELSE
            pred = pred.otherwise(lang)
            best_score = best_score.otherwise(scores[lang])
        elif pred is None:
            pred = F.when(cond, lang)
            best_score = F.when(cond, scores[lang])
        else:
            pred = pred.when(cond, lang)
            best_score = best_score.when(cond, scores[lang])
    return scores, pred, best_score


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram-heuristic language ID: count profile-trigram hits per
    language, argmax via a CASE chain (deterministic tie-break: first
    language in sorted order wins). Single projection; no shuffle; the
    CASE-chain argmax is portable to the DuckDB oracle (which cannot
    ``greatest`` structs)."""
    _, pred, best_score = _lang_exprs(F.lower(F.col(text_col)))
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        F.round(best_score, 2).alias("lang_score"),
    )


def language_id_confidence(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_margin: float = 1.0,
) -> DataFrame:
    """language_id plus the CONFIDENCE gate real pipelines filter on:
    the margin between the best and second-best language scores
    (fastText-style thresholding — a confident 'en' is kept, a 0.1-margin
    coin flip is routed to review/drop). Margin is tie-order-independent
    (a sorted-scores difference), so it composes with the CASE-chain
    argmax without re-deciding ties. Still one narrow projection, no
    shuffle."""
    scores, pred, best_score = _lang_exprs(F.lower(F.col(text_col)))
    ordered = F.reverse(
        F.array_sort(F.array([scores[l] for l in sorted(LANG_PROFILES)]))
    )
    margin = F.round(ordered[0] - ordered[1], 2)
    return df.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        F.round(best_score, 2).alias("lang_score"),
        margin.alias("lang_margin"),
        (margin >= min_margin).alias("confident"),
    )


def language_id_confidence_oracle(
    table: str = "documents", min_margin: float = 1.0
) -> str:
    langs = sorted(LANG_PROFILES)
    score_sql = {}
    for lang in langs:
        occ = " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{g}', ''))) / {len(g)}"
            for g in LANG_PROFILES[lang]
        )
        score_sql[lang] = f"CAST({occ} AS DOUBLE)"
    pred_whens, score_whens = [], []
    for i, lang in enumerate(langs):
        others = langs[i + 1:]
        if others:
            cond = " AND ".join(
                f"{score_sql[lang]} >= {score_sql[o]}" for o in others
            )
            pred_whens.append(f"WHEN {cond} THEN '{lang}'")
            score_whens.append(f"WHEN {cond} THEN {score_sql[lang]}")
        else:
            pred_whens.append(f"ELSE '{lang}'")
            score_whens.append(f"ELSE {score_sql[lang]}")
    arr = ", ".join(score_sql[l] for l in langs)
    margin = (
        f"round(list_sort([{arr}], 'DESC')[1] "
        f"- list_sort([{arr}], 'DESC')[2], 2)"
    )
    return f"""
    SELECT doc_id,
           CASE {' '.join(pred_whens)} END AS lang_pred,
           round(CASE {' '.join(score_whens)} END, 2) AS lang_score,
           {margin} AS lang_margin,
           ({margin} >= {min_margin}) AS confident
    FROM {table}
    """


def language_id_oracle(table: str = "documents") -> str:
    langs = sorted(LANG_PROFILES)
    score_sql = {}
    for lang in langs:
        occ = " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{g}', ''))) / {len(g)}"
            for g in LANG_PROFILES[lang]
        )
        score_sql[lang] = f"CAST({occ} AS DOUBLE)"
    pred_whens, score_whens = [], []
    for i, lang in enumerate(langs):
        others = langs[i + 1:]
        if others:
            cond = " AND ".join(
                f"{score_sql[lang]} >= {score_sql[o]}" for o in others
            )
            pred_whens.append(f"WHEN {cond} THEN '{lang}'")
            score_whens.append(f"WHEN {cond} THEN {score_sql[lang]}")
        else:
            pred_whens.append(f"ELSE '{lang}'")
            score_whens.append(f"ELSE {score_sql[lang]}")
    return f"""
    SELECT doc_id,
           CASE {' '.join(pred_whens)} END AS lang_pred,
           round(CASE {' '.join(score_whens)} END, 2) AS lang_score
    FROM {table}
    """


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                shingle: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic-min MD5 over word ``shingle``-grams
    (a winnowing-style rolling fingerprint with window = whole doc).
    MD5 is available and identical in Spark and DuckDB, so the fingerprint
    is engine-independent — that is why it is used here instead of the
    engines' native (and mutually different) ``hash()`` functions."""
    # words staged as a column: Catalyst does no CSE inside lambda
    # bodies, so an inline split() would re-tokenize once per shingle
    # index (the simhash staging lesson)
    staged = df.select(
        F.col(id_col), words_col(F.col(text_col)).alias("__w")
    )
    w = F.col("__w")
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(w) - (shingle - 1), F.lit(1))
    )
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i, shingle))
    )
    return staged.select(
        F.col(id_col),
        F.array_min(F.transform(shingles, F.md5)).alias("fingerprint"),
    )


def fingerprint_oracle(table: str = "documents", shingle: int = 5) -> str:
    return f"""
    SELECT doc_id,
           list_min(list_transform(
               list_transform(
                   range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - {shingle - 1}, 1) + 1),
                   i -> array_to_string(list_slice(string_split_regex(lower(text), '\\s+'),
                                                   i, i + {shingle - 1}), ' ')),
               s -> md5(s))) AS fingerprint
    FROM {table}
    """


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the training
    /RAG chunking step. ``size``-word chunks every ``stride`` words
    (stride < size -> overlap; the tail chunk may be shorter).

    Scale path: pure built-in composition (split -> sequence ->
    posexplode -> slice), whole-stage-codegen'd, no Python in the loop —
    the UDTF twin in ``functions.udfs.make_chunk_udtf`` is the
    per-row-Python extension point tier, kept for API parity and tested
    equal to this."""
    ws = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(ws), F.lit(1)), F.lit(stride))
    piece = F.slice(F.col("ws"), F.col("start"), size)
    return (
        df.select(F.col(id_col), ws.alias("ws"),
                  F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join(piece, " ").alias("chunk"),
            F.size(piece).cast("int").alias("n_words"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "lang",
) -> DataFrame:
    """Greedy sequence packing for training-batch prep: assign documents
    to fixed token-budget packs by their running token offset.

    Within each ``part_col`` shard (language/domain — packing normally
    groups alike data anyway), documents are laid out in ``id_col`` order
    and ``pack_id = floor(start_offset / budget)`` — documents that start
    inside the same budget window share a pack.

    Scale: the running sum is a window per shard — parallelism equals the
    shard count, and no shard's token count needs to fit in memory (the
    window is an incremental scan, not a collect). A single global pack
    ordering would serialize into one partition; sharding is the design.
    """
    from pyspark.sql import Window

    n = F.size(words_col(F.col(text_col))).cast("bigint")
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(F.col(id_col), F.col(part_col), n.alias("n_tokens"))
    return (
        base.withColumn(
            "start_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "pack_id",
            F.floor(F.col("start_offset") / F.lit(budget)).cast("bigint"),
        )
    )


def pack_sequences_oracle(
    table: str = "documents", budget: int = 2048
) -> str:
    return f"""
    SELECT doc_id, lang, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset,
           CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {budget}) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, lang,
               len(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}'))
                   AS n_tokens
        FROM {table}
    ) t
    """


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_LONGNUM_RE = r"[0-9]{6,}"


def redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII-style masking: replace emails and long digit runs with typed
    placeholder tokens. Pure JVM regexp_replace — a narrow codegen'd
    projection, no shuffle, the shape of any at-scale scrubbing pass.
    (The driver corpus has no PII; the workload synthesizes some per row
    so the masking path is actually exercised.)"""
    red = F.regexp_replace(
        F.regexp_replace(F.col(text_col), _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    return df.select(
        F.col(id_col),
        F.length(red).cast("bigint").alias("n_chars_redacted"),
        F.md5(red).alias("redacted_md5"),
    )


def redact_oracle(table: str = "documents") -> str:
    # DuckDB regexp_replace is first-match unless the 'g' flag is passed
    return f"""
    SELECT doc_id,
           length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_LONGNUM_RE}', '<NUM>', 'g')) AS n_chars_redacted,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_LONGNUM_RE}', '<NUM>', 'g')) AS redacted_md5
    FROM {table}
    """


def _shingle_md5s(words: Column, shingle: int) -> Column:
    """Distinct MD5s of word ``shingle``-grams over a STAGED words
    array (MD5 because it is engine-identical).

    The argument must be a materialized column, not an inline
    ``split(...)`` expression: Catalyst does not hoist common
    subexpressions out of lambda bodies, so an inline split would
    re-tokenize the document once per shingle index — the same
    pathology round 3 fixed for simhash. Callers ``select`` the words
    array first."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (shingle - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, shingle)))
    return F.array_distinct(F.transform(grams, F.md5))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of
    its distinct word ``shingle``-grams that appear anywhere in the
    benchmark set — the standard train/test-contamination check run
    before training on scraped data.

    Scale shape: the benchmark side collapses to a DISTINCT shingle-hash
    set (benchmarks are millions of shingles at most — broadcast), so
    the corpus makes ONE pass: shingle, explode, map-side broadcast
    join, then a single (doc) aggregate. The corpus' total shingle count
    rides along the exploded rows (``n_shingles`` before explode), so no
    second join or shuffle reconciles totals with matches. At 100 TB the
    only shuffle is the final count-per-doc aggregate keyed on doc id.
    """
    bench_sh = (
        benchmark.select(words_col(F.col(text_col)).alias("w"))
        .select(F.explode(_shingle_md5s(F.col("w"), shingle)).alias("sh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    shingled = corpus.select(
        F.col(id_col), words_col(F.col(text_col)).alias("w")
    ).select(
        F.col(id_col), _shingle_md5s(F.col("w"), shingle).alias("shs")
    )
    # explode_OUTER, deliberately: for a plain explode of a staged
    # attribute, Catalyst's InferFiltersFromGenerate adds size(shs) > 0
    # and pushdown substitutes the WHOLE shingle+md5 expression into a
    # Filter at the scan — the entire hashing pass would run twice (and
    # serially on under-split local files). outer generators are exempt,
    # and the array is never empty (>= 1 shingle by construction), so
    # the semantics are identical. Measured 10x on the corpus pass.
    long = shingled.select(
        F.col(id_col),
        F.size("shs").alias("n_shingles"),
        F.explode_outer("shs").alias("sh"),
    )
    joined = long.join(F.broadcast(bench_sh), "sh", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_matched"),
        )
        .select(
            id_col,
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            F.round(F.col("n_matched") / F.col("n_shingles"), 4).alias("overlap"),
            (F.col("n_matched") >= F.lit(threshold) * F.col("n_shingles")).alias(
                "contaminated"
            ),
        )
    )


def decontaminate_oracle(
    corpus_rel: str = "(SELECT * FROM documents WHERE doc_id >= 20)",
    benchmark_rel: str = "(SELECT * FROM documents WHERE doc_id < 20)",
    shingle: int = 3,
    threshold: float = 0.5,
) -> str:
    grams = (
        f"list_transform(range(1, greatest(len(string_split_regex(lower(text), "
        f"'{_WORD_SPLIT_DUCK}')) - {shingle - 1}, 1) + 1), "
        f"i -> md5(array_to_string(list_slice(string_split_regex(lower(text), "
        f"'{_WORD_SPLIT_DUCK}'), i, i + {shingle - 1}), ' ')))"
    )
    return f"""
    WITH corpus_sh AS (
        SELECT doc_id, list_distinct({grams}) AS shs
        FROM {corpus_rel} c
    ),
    bench_sh AS (
        SELECT DISTINCT unnest(list_distinct({grams})) AS sh
        FROM {benchmark_rel} b
    ),
    long AS (
        SELECT doc_id, len(shs) AS n_shingles, unnest(shs) AS sh
        FROM corpus_sh
    ),
    counted AS (
        SELECT long.doc_id,
               any_value(long.n_shingles) AS n_shingles,
               count(bench_sh.sh) AS n_matched
        FROM long LEFT JOIN bench_sh ON long.sh = bench_sh.sh
        GROUP BY long.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_matched AS BIGINT) AS n_matched,
           round(n_matched / n_shingles, 4) AS overlap,
           n_matched >= {threshold} * n_shingles AS contaminated
    FROM counted
    """


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 2,
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style quality
    filters): per document, the fraction of word ``gram``-grams covered
    by the single most frequent gram (``top_gram_frac``) and by all
    grams occurring more than once (``rep_frac``). High values mark
    boilerplate / degenerate generations that a training pipeline drops.

    Scale shape: explode grams, then ONE shuffle — an explicit
    repartition on the doc id that BOTH aggregations reuse (hash(doc)
    clusters (doc, gram) too, so Catalyst adds no further exchange; the
    naive groupBy(doc, gram) -> groupBy(doc) chain would shuffle twice).
    A per-row lambda (count occurrences inside the array) would avoid
    the shuffle entirely but is O(words^2) per document — wrong for the
    long tail of 100k-word documents.
    """
    # words staged (no CSE inside lambda bodies — see _shingle_md5s);
    # grams stay INLINE in the explode: a staged-attribute explode would
    # trip InferFiltersFromGenerate into duplicating the gram build at
    # the scan (the decontaminate defect)
    staged = df.select(F.col(id_col), words_col(F.col(text_col)).alias("__w"))
    w = F.col("__w")
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (gram - 1), F.lit(1)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i, gram))
    )
    long = staged.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).repartition(F.col(id_col))
    per_gram = long.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    rep = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.max("c").cast("bigint").alias("top_gram_count"),
        rep.cast("bigint").alias("n_rep_grams"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_gram_frac"),
        F.round(rep / F.sum("c"), 4).alias("rep_frac"),
    )


def repetition_stats_oracle(table: str = "documents", gram: int = 2) -> str:
    return f"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}') AS ws
        FROM {table}
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(ws) - {gram - 1}, 1) + 1),
                   i -> array_to_string(list_slice(ws, i, i + {gram - 1}), ' ')
               )) AS g
        FROM w
    ),
    c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(max(c) AS BIGINT) AS top_gram_count,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_rep_grams,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_gram_frac,
           round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / sum(c), 4) AS rep_frac
    FROM c GROUP BY doc_id
    """


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic relevance/keyword
    extraction over a corpus: tf(d,t) * (ln((N+1)/(df(t)+1)) + 1),
    smoothed so unseen-term idf stays finite.

    Scale shape: ONE corpus explode pass in a single lineage — tf
    aggregate keyed (doc, term), then document frequency as a COUNT
    window over the term partition (tf already holds one row per
    (doc, term), so the window count IS df), then the per-doc rank
    window. Three shuffles of the compact tf table, but the expensive
    text explode runs once; a join-back design would recompute the
    whole explode subtree for the docfreq branch (Spark shares no
    uncached subplans). N comes from a 1-row broadcast (count-only
    scan: parquet footers, not data). Ranking happens on
    round(score, 6) with a lexicographic tiebreak: exact-tied (tf, df)
    pairs rank identically in both engines, and rounding first keeps
    sub-ulp libm ln() differences from ever reordering the top-k.
    """
    words = words_col(F.col(text_col))
    long = df.select(F.col(id_col), F.explode(words).alias("term")).filter(
        F.length("term") >= min_len
    )
    tf = long.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    wt = Window.partitionBy("term")
    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        F.col(id_col),
        F.col("term"),
        F.round(
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + 1.0)
                    / (F.count(F.lit(1)).over(wt).cast("double") + 1.0)
                )
                + 1.0
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.select(
            id_col, "term", "score", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", F.round("score", 4).alias("score"))
    )


def tfidf_top_terms_oracle(
    table: str = "documents", k: int = 5, min_len: int = 3
) -> str:
    return f"""
    WITH long AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')) AS term
        FROM {table}
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM long WHERE length(term) >= {min_len}
        GROUP BY doc_id, term
    ),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM {table}),
    docfreq AS (
        SELECT term,
               ln((n.n_docs + 1.0) / (count(*)::DOUBLE + 1.0)) + 1.0 AS idf
        FROM tf, n GROUP BY term, n.n_docs
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, round(tf.tf * docfreq.idf, 6) AS score
        FROM tf JOIN docfreq ON tf.term = docfreq.term
    ),
    ranked AS (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term ASC) AS rank
        FROM scored
    )
    SELECT doc_id, rank, term, round(score, 4) AS score
    FROM ranked WHERE rank <= {k}
    """


def c4_filters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The C4 heuristic filter set (Raffel et al. 2020, the public
    rules behind the C4 corpus), adapted document-level: minimum word
    count, mean-word-length bounds, curly-brace (code/markup) filter,
    'lorem ipsum' placeholder filter, terminal-punctuation flag. Emits
    one boolean per rule plus the composite ``keep`` so a pipeline can
    audit which rule fired — dropping rows is then a .filter("keep").

    ``ends_punct`` is reported but NOT part of ``keep``: C4 applies it
    per line; on delimiter-free corpora it would zero the corpus.

    Pure narrow projection — one pass, no shuffle, codegen'd. The
    word-length reduction is STAGED as its own projection layer so it
    evaluates once per row: CollapseProject keeps non-cheap aliases
    used more than once (reusing the Column object inline would copy
    the lambda aggregate into every flag — the simhash staging
    lesson)."""
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        words_col(F.col(text_col)).alias("__w"),
    )
    w = F.col("__w")
    measured = staged.select(
        F.col(id_col),
        F.col("__t"),
        F.size(w).cast("bigint").alias("n_words"),
        F.round(
            F.aggregate(
                w, F.lit(0).cast("double"), lambda a, x: a + F.length(x)
            ) / F.size(w),
            4,
        ).alias("mean_word_len"),
    )
    nw, ml, t = F.col("n_words"), F.col("mean_word_len"), F.col("__t")
    return measured.select(
        F.col(id_col),
        nw,
        ml,
        (nw >= 5).alias("min_words_ok"),
        ((ml >= 3.0) & (ml <= 10.0)).alias("mean_len_ok"),
        (~t.contains("{")).alias("no_brace"),
        (~F.lower(t).contains("lorem ipsum")).alias("no_lorem"),
        # \z (absolute end) — Java's $ matches before a trailing
        # newline, RE2's does not; \z agrees in both engines
        t.rlike(r"[.!?]\z").alias("ends_punct"),
        (
            (nw >= 5) & (ml >= 3.0) & (ml <= 10.0)
            & ~t.contains("{") & ~F.lower(t).contains("lorem ipsum")
        ).alias("keep"),
    )


def c4_filters_oracle(table: str = "documents") -> str:
    words = "string_split_regex(lower(text), '\\s+')"
    mean_len = (
        f"round(list_sum(list_transform({words}, w -> length(w)))"
        f" / len({words})::DOUBLE, 4)"
    )
    return f"""
    SELECT doc_id,
           len({words}) AS n_words,
           {mean_len} AS mean_word_len,
           len({words}) >= 5 AS min_words_ok,
           ({mean_len} >= 3.0 AND {mean_len} <= 10.0) AS mean_len_ok,
           NOT contains(text, '{{') AS no_brace,
           NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
           regexp_matches(text, '[.!?]\\z') AS ends_punct,
           (len({words}) >= 5 AND {mean_len} >= 3.0 AND {mean_len} <= 10.0
            AND NOT contains(text, '{{')
            AND NOT contains(lower(text), 'lorem ipsum')) AS keep
    FROM {table}
    """


def prepare_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Ingest normalization — the text-operator contract.

    Every operator in this module (and the dedup tier) assumes NON-NULL
    text: on a NULL the engines legitimately diverge (Spark's legacy
    ``size(split(NULL))`` is -1 where DuckDB's ``len`` is NULL, booleans
    built from the -1 then differ from NULL three-valued logic, and the
    divergence poisons every downstream flag). Real corpora do contain
    NULLs, so the pipeline entry point maps them to '' ONCE — a narrow
    per-row coalesce — instead of sprinkling defensive coalesces through
    every expression. tests/test_null_text_contract.py proves the
    operators agree with their DuckDB oracles on NULL-bearing input once
    this step runs."""
    return df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    alpha: float = 0.5,
) -> DataFrame:
    """Perplexity-proxy quality scoring without a language model: each
    document's mean unigram log-probability under the corpus's own
    top-``vocab_size`` term distribution (out-of-vocabulary terms get
    ``alpha``/total smoothing). Low scores flag boilerplate/gibberish —
    the cheap stand-in for the KenLM perplexity filter in public
    pipelines (CCNet-style), fully deterministic and oracle-checkable.

    Scale shape: one corpus term count (map-side combined), a TakeOrdered
    top-V vocabulary with the global total attached (V rows, broadcast),
    then one doc-keyed aggregation over the exploded words joined to the
    broadcast vocab — the corpus shuffles once (term count) and the
    documents' word explosion never shuffles (broadcast lookup + local
    re-aggregation by doc id)."""
    words = words_col(F.col(text_col))
    exploded = df.select(F.col(id_col), F.explode(words).alias("term"))
    freqs = exploded.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = freqs.agg(F.sum("c").alias("total"))
    vocab = (
        freqs.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(vocab_size)
        .crossJoin(F.broadcast(totals))
        .select("term", (F.log(F.col("c") / F.col("total"))).alias("logp"))
    )
    # OOV rows take the smoothed logp; the scalar total re-broadcasts
    # (the left join's total column would be NULL on OOV rows)
    scored = (
        exploded.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("logp"), F.log(F.lit(alpha) / F.col("total"))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )


def unigram_logprob_oracle(
    table: str = "documents", vocab_size: int = 1000, alpha: float = 0.5
) -> str:
    words = "string_split_regex(lower(text), '\\s+')"
    return f"""
    WITH exploded AS (
        SELECT doc_id, unnest({words}) AS term FROM {table}
    ),
    freqs AS (SELECT term, count(*) AS c FROM exploded GROUP BY term),
    totals AS (SELECT sum(c) AS total FROM freqs),
    vocab AS (
        SELECT term, ln(c / total) AS logp
        FROM (SELECT term, c FROM freqs ORDER BY c DESC, term ASC
              LIMIT {vocab_size}) CROSS JOIN totals
    )
    SELECT doc_id,
           round(avg(coalesce(v.logp, ln({alpha} / t.total))), 4)
               AS mean_logprob,
           count(*) AS n_words
    FROM exploded e
    LEFT JOIN vocab v USING (term)
    CROSS JOIN totals t
    GROUP BY doc_id
    """


def bigram_interp_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    bigram_size: int = 2000,
    lam: float = 0.7,
    alpha: float = 0.5,
) -> DataFrame:
    """Interpolated bigram language-model scoring — the next step up
    from :func:`unigram_logprob` toward the KenLM perplexity filter in
    CCNet-style pipelines: per-token
    ``ln(lam * P(w|prev) + (1-lam) * P_uni(w))`` (Jelinek-Mercer
    interpolation), averaged per document.  ``P(w|prev)`` comes from the
    corpus's own top-``bigram_size`` bigram table (0 outside it, and for
    each document's first token); ``P_uni`` from the top-``vocab_size``
    unigram table with ``alpha``/total OOV smoothing.

    Determinism: per-token log-probs are snapped to 1e-6 fixed-point
    BIGINTs before the per-doc sum, so the mean is independent of
    partial-aggregation order and engine summation order; the final
    mean uses the engine-identical floor-rounding formulation.

    Scale shape: ONE corpus shuffle for the bigram count (the unigram
    count shares the exploded scan), TakeOrdered top-B/top-V tables
    broadcast (B+V rows), then the per-token scoring is a doc-keyed
    window (lag) whose partitioning the final per-doc aggregation
    reuses — the token stream shuffles once, the corpus never
    all-pairs. At 100 TB the LM tables stay KB-sized; everything else
    is map-side against broadcasts."""
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    words = words_col(F.col(text_col))
    toks = df.select(
        F.col(id_col), F.posexplode(words).alias("pos", "term")
    )
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = freqs.agg(F.sum("c").alias("total"))
    vocab = (
        freqs.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(vocab_size)
        .crossJoin(F.broadcast(totals))
        .select("term", (F.col("c") / F.col("total")).alias("pu"))
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("term").over(w))
    bigrams = (
        pairs.where(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("bc"))
        .orderBy(F.col("bc").desc(), F.col("prev").asc(), F.col("term").asc())
        .limit(bigram_size)
        .join(
            F.broadcast(freqs.withColumnRenamed("term", "prev")),
            "prev",
        )
        .select("prev", "term", (F.col("bc") / F.col("c")).alias("pb"))
    )
    lp = F.log(
        F.lit(lam) * F.coalesce(F.col("pb"), F.lit(0.0))
        + F.lit(1.0 - lam)
        * F.coalesce(F.col("pu"), F.lit(alpha) / F.col("total"))
    )
    scored = (
        pairs.join(F.broadcast(vocab), "term", "left")
        .join(F.broadcast(bigrams), ["prev", "term"], "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.floor(lp * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("lpfx"),
        )
    )
    return scored.groupBy(id_col).agg(
        _stable_round(
            F.sum("lpfx").cast("double")
            / (F.lit(1e6) * F.count(F.lit(1))),
            4,
        ).alias("mean_logprob"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )


def bigram_interp_logprob_oracle(
    table: str = "documents",
    vocab_size: int = 1000,
    bigram_size: int = 2000,
    lam: float = 0.7,
    alpha: float = 0.5,
) -> str:
    """DuckDB twin of :func:`bigram_interp_logprob`: unnest +
    generate_subscripts replays posexplode, lag() the window, and the
    SAME fixed-point snap before the per-doc sum makes the comparison
    immune to summation order (reference corpus-building parity:
    datafusion-sqlgen has no LM tier; cited for the documents-table
    shape only)."""
    words = f"string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')"
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({words}) AS term,
               generate_subscripts({words}, 1) AS pos
        FROM {table}
    ),
    freqs AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    totals AS (SELECT sum(c) AS total FROM freqs),
    vocab AS (
        SELECT term, c / total AS pu
        FROM (SELECT term, c FROM freqs ORDER BY c DESC, term ASC
              LIMIT {vocab_size}) CROSS JOIN totals
    ),
    pairs AS (
        SELECT doc_id, term,
               lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM toks
    ),
    bigrams AS (
        SELECT b.prev, b.term, b.bc / f.c AS pb
        FROM (SELECT prev, term, count(*) AS bc
              FROM pairs WHERE prev IS NOT NULL
              GROUP BY prev, term
              ORDER BY bc DESC, prev ASC, term ASC
              LIMIT {bigram_size}) b
        JOIN freqs f ON f.term = b.prev
    ),
    scored AS (
        SELECT p.doc_id,
               CAST(floor(ln({lam} * coalesce(b.pb, 0.0)
                          + {1.0 - lam} * coalesce(v.pu, {alpha} / t.total))
                          * 1e6 + 0.5) AS BIGINT) AS lpfx
        FROM pairs p
        LEFT JOIN vocab v ON v.term = p.term
        LEFT JOIN bigrams b ON b.prev = p.prev AND b.term = p.term
        CROSS JOIN totals t
    )
    SELECT doc_id,
           floor(CAST(sum(lpfx) AS DOUBLE) / (1e6 * count(*)) * 1e4 + 0.5)
               / 1e4 AS mean_logprob,
           count(*) AS n_words
    FROM scored
    GROUP BY doc_id
    """


# Bullet prefixes / ellipsis suffixes for the Gopher line-shape rules.
GOPHER_BULLETS = ("- ", "* ", "• ")
GOPHER_ELLIPSES = ("...", "…")


def gopher_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> DataFrame:
    """The Gopher / MassiveText document-quality rule set (Rae et al.
    2021, §A1.1 — the published heuristics, reimplemented): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio ('#' and
    ellipsis), fraction of words containing an alphabetic character,
    stopword presence, and the line-shape rules (fraction of lines
    starting with a bullet / ending with an ellipsis). Emits one boolean
    per rule plus the composite ``keep`` so a pipeline can audit which
    rule fired — the companion to :func:`c4_filters` (together they are
    the standard public pre-training filter stack).

    Scale shape: pure narrow projection, one pass, zero shuffle,
    codegen'd. Three STAGED projection layers — (1) tokenize words and
    lines once, (2) reduce to per-document integer counts, (3) cheap
    ratio/flag arithmetic — so each array is materialized once per row
    (CollapseProject keeps non-cheap aliases used more than once; the
    simhash/c4 staging lesson)."""
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        words_col(F.col(text_col)).alias("__w"),
        F.split(F.col(text_col), r"\n", -1).alias("__lines"),
    )
    t, w, lines = F.col("__t"), F.col("__w"), F.col("__lines")
    sw = F.array([F.lit(x) for x in STOPWORDS])

    def occurrences(needle: str) -> Column:
        return (
            (F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit(""))))
            / len(needle)
        ).cast("bigint")

    bullet = lambda x: (
        x.startswith(GOPHER_BULLETS[0])
        | x.startswith(GOPHER_BULLETS[1])
        | x.startswith(GOPHER_BULLETS[2])
    )
    ellipsis_end = lambda x: (
        x.endswith(GOPHER_ELLIPSES[0]) | x.endswith(GOPHER_ELLIPSES[1])
    )
    counts = staged.select(
        F.col(id_col),
        F.size(w).cast("bigint").alias("n_words"),
        F.aggregate(w, F.lit(0).cast("double"), lambda a, x: a + F.length(x))
        .alias("__sum_len"),
        (occurrences("#") + occurrences("...") + occurrences("…"))
        .alias("__n_sym"),
        # Unicode letter class, not [a-z]: the Gopher/MassiveText rule is
        # "words containing an alphabetic character", and the corpus has
        # de/fr text whose words can be all-accented (ü, é, ß)
        F.size(F.filter(w, lambda x: x.rlike(r"\p{L}")))
        .cast("bigint").alias("__n_alpha"),
        F.size(F.array_intersect(w, sw)).cast("bigint").alias("stopword_hits"),
        F.size(lines).cast("bigint").alias("__n_lines"),
        F.size(F.filter(lines, bullet)).cast("bigint").alias("__n_bullet"),
        F.size(F.filter(lines, ellipsis_end)).cast("bigint")
        .alias("__n_ell_lines"),
    )
    nw = F.col("n_words")
    mean_len = F.round(F.col("__sum_len") / nw, 4)
    symbol_ratio = F.round(F.col("__n_sym") / nw, 4)
    alpha_frac = F.round(F.col("__n_alpha") / nw, 4)
    bullet_frac = F.round(F.col("__n_bullet") / F.col("__n_lines"), 4)
    ell_frac = F.round(F.col("__n_ell_lines") / F.col("__n_lines"), 4)
    flags = {
        "words_ok": (nw >= min_words) & (nw <= max_words),
        "mean_len_ok": (mean_len >= min_mean_len) & (mean_len <= max_mean_len),
        "symbol_ok": symbol_ratio <= max_symbol_ratio,
        "alpha_ok": alpha_frac >= min_alpha_frac,
        "stopword_ok": F.col("stopword_hits") >= min_stopword_hits,
        "bullet_ok": bullet_frac <= max_bullet_frac,
        "ellipsis_ok": ell_frac <= max_ellipsis_frac,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return counts.select(
        F.col(id_col),
        nw,
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        F.col("stopword_hits"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def gopher_filters_oracle(
    table: str = "documents",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
) -> str:
    sw = ", ".join(f"'{x}'" for x in STOPWORDS)
    occ = (
        "(length(t) - length(replace(t, '{n}', ''))) / {ln}"
    )
    n_sym = " + ".join(
        occ.format(n=n, ln=len(n)) for n in ("#", "...", "…")
    )
    bullet = " OR ".join(
        f"starts_with(x, '{b}')" for b in GOPHER_BULLETS
    )
    ell = " OR ".join(f"ends_with(x, '{e}')" for e in GOPHER_ELLIPSES)
    return f"""
    WITH staged AS (
        SELECT doc_id,
               text AS t,
               string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}') AS w,
               string_split(text, chr(10)) AS lines
        FROM {table}
    ),
    counts AS (
        SELECT doc_id,
               len(w) AS n_words,
               list_sum(list_transform(w, x -> length(x)))::DOUBLE AS sum_len,
               CAST({n_sym} AS BIGINT) AS n_sym,
               len(list_filter(w, x -> regexp_matches(x, '\\p{{L}}'))) AS n_alpha,
               len(list_intersect(w, [{sw}])) AS stopword_hits,
               len(lines) AS n_lines,
               len(list_filter(lines, x -> {bullet})) AS n_bullet,
               len(list_filter(lines, x -> {ell})) AS n_ell_lines
        FROM staged
    ),
    ratios AS (
        SELECT doc_id, n_words, stopword_hits,
               round(sum_len / n_words, 4) AS mean_word_len,
               round(n_sym / n_words::DOUBLE, 4) AS symbol_ratio,
               round(n_alpha / n_words::DOUBLE, 4) AS alpha_word_frac,
               round(n_bullet / n_lines::DOUBLE, 4) AS bullet_line_frac,
               round(n_ell_lines / n_lines::DOUBLE, 4) AS ellipsis_line_frac
        FROM counts
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
           stopword_hits, bullet_line_frac, ellipsis_line_frac,
           (n_words >= {min_words} AND n_words <= {max_words}) AS words_ok,
           (mean_word_len >= {min_mean_len} AND mean_word_len <= {max_mean_len}) AS mean_len_ok,
           (symbol_ratio <= {max_symbol_ratio}) AS symbol_ok,
           (alpha_word_frac >= {min_alpha_frac}) AS alpha_ok,
           (stopword_hits >= {min_stopword_hits}) AS stopword_ok,
           (bullet_line_frac <= {max_bullet_frac}) AS bullet_ok,
           (ellipsis_line_frac <= {max_ellipsis_frac}) AS ellipsis_ok,
           (n_words >= {min_words} AND n_words <= {max_words}
            AND mean_word_len >= {min_mean_len} AND mean_word_len <= {max_mean_len}
            AND symbol_ratio <= {max_symbol_ratio}
            AND alpha_word_frac >= {min_alpha_frac}
            AND stopword_hits >= {min_stopword_hits}
            AND bullet_line_frac <= {max_bullet_frac}
            AND ellipsis_line_frac <= {max_ellipsis_frac}) AS keep
    FROM ratios
    """


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed term query (Robertson &
    Zaragoza 2009; Lucene's non-negative idf variant) — the lexical
    retrieval primitive behind eval-contamination lookups, hard-negative
    mining, and quality probes over a training corpus.

    Scale shape, deliberately explode-free: per-document term
    frequencies come from ``size(filter(words, = term))`` per query term
    — ONE narrow pass over the corpus, no posting-list shuffle (the
    query is fixed and small, so tf is a per-row computation, not a
    join). Corpus statistics (N, avgdl, per-term df) reduce to a single
    1-row aggregate that broadcasts back; scoring is another narrow map
    and the top-k is a TakeOrdered, not a global sort. Ranking uses the
    ROUNDED score (ties → smallest id) so libm ULP noise can't reorder
    engines."""
    if not query_terms or len(query_terms) > 16:
        raise ValueError("query_terms must hold 1..16 terms")
    staged = df.select(
        F.col(id_col), words_col(F.col(text_col)).alias("__w")
    )
    w = F.col("__w")

    def eq(term: str):
        # a default-arg capture (lambda x, t=t: ...) would make the
        # lambda binary, which F.filter treats as (element, INDEX)
        return lambda x: x == F.lit(term)

    per_doc = staged.select(
        F.col(id_col),
        F.size(w).cast("double").alias("dl"),
        *[
            F.size(F.filter(w, eq(t))).cast("double").alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        part = idf * tf * (k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), score.alias("__raw"))
        .filter(F.col("__raw") > 0)
        .select(F.col(id_col), F.round("__raw", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_oracle(
    query_terms: list[str],
    k: int = 10,
    table: str = "documents",
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    tf_cols = ",\n               ".join(
        f"len(list_filter(w, x -> x = '{t}'))::DOUBLE AS tf_{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ",\n               ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_{i}"
        for i in range(len(query_terms))
    )
    parts = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * tf_{i} * ({k1} + 1.0)"
        f" / (tf_{i} + {k1} * ((1.0 - {b}) + {b} * dl / avgdl)))"
        for i in range(len(query_terms))
    )
    return f"""
    WITH staged AS (
        SELECT doc_id, string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}') AS w
        FROM {table}
    ),
    perdoc AS (
        SELECT doc_id, len(w)::DOUBLE AS dl,
               {tf_cols}
        FROM staged
    ),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
               {df_cols}
        FROM perdoc
    ),
    scored AS (
        SELECT doc_id, {parts} AS raw
        FROM perdoc CROSS JOIN stats
    )
    SELECT doc_id, round(raw, 4) AS bm25
    FROM scored WHERE raw > 0
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {k}
    """


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights for domain-targeted data selection
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling" — the published recipe, with hashed-ngram features
    simplified to the same top-V unigram model :func:`unigram_logprob`
    uses): each corpus document's weight is its mean token
    log-likelihood RATIO between the target domain's unigram
    distribution and the corpus's own, ``mean(log p_target(t) - log
    p_source(t))``. Positive = more target-like than average; feed the
    weights to threshold or temperature sampling to select a
    domain-matched subset.

    Scale shape: two tiny vocabularies (one term count per corpus, each
    reduced to a broadcast top-V table with its total attached), then
    ONE explode of the scored corpus with two broadcast lookups and a
    doc-keyed re-aggregation. The corpus shuffles once (its own term
    count); the target corpus — typically small — once."""

    def vocab(src: DataFrame, prefix: str):
        exploded = src.select(
            F.explode(words_col(F.col(text_col))).alias("term")
        )
        freqs = exploded.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
        totals = freqs.agg(F.sum("c").alias(f"{prefix}_total"))
        top = (
            freqs.orderBy(F.col("c").desc(), F.col("term").asc())
            .limit(vocab_size)
            .crossJoin(F.broadcast(totals))
            .select(
                "term",
                F.log(F.col("c") / F.col(f"{prefix}_total"))
                .alias(f"{prefix}_logp"),
            )
        )
        return top, totals

    tgt_vocab, tgt_totals = vocab(target_df, "tgt")
    src_vocab, src_totals = vocab(df, "src")
    exploded = df.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("term")
    )
    scored = (
        exploded.join(F.broadcast(tgt_vocab), "term", "left")
        .join(F.broadcast(src_vocab), "term", "left")
        .crossJoin(F.broadcast(tgt_totals))
        .crossJoin(F.broadcast(src_totals))
        .select(
            F.col(id_col),
            (
                F.coalesce(
                    F.col("tgt_logp"),
                    F.log(F.lit(alpha) / F.col("tgt_total")),
                )
                - F.coalesce(
                    F.col("src_logp"),
                    F.log(F.lit(alpha) / F.col("src_total")),
                )
            ).alias("lr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lr"), 4).alias("mean_logratio"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )


def dsir_weights_oracle(
    table: str = "documents",
    target_where: str = "lang = 'de'",
    vocab_size: int = 1000,
    alpha: float = 0.5,
) -> str:
    words = "string_split_regex(lower(text), '\\s+')"

    def vocab(src: str, prefix: str) -> str:
        return f"""
    {prefix}_freqs AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest({words}) AS term FROM {src}) GROUP BY term
    ),
    {prefix}_totals AS (SELECT sum(c) AS total FROM {prefix}_freqs),
    {prefix}_vocab AS (
        SELECT term, ln(c / total) AS logp
        FROM (SELECT term, c FROM {prefix}_freqs
              ORDER BY c DESC, term ASC LIMIT {vocab_size})
        CROSS JOIN {prefix}_totals
    )"""

    return f"""
    WITH target AS (SELECT text FROM {table} WHERE {target_where}),
    {vocab('target', 'tgt')},
    {vocab(table, 'src')},
    exploded AS (
        SELECT doc_id, unnest({words}) AS term FROM {table}
    )
    SELECT doc_id,
           round(avg(coalesce(tv.logp, ln({alpha} / tt.total))
                     - coalesce(sv.logp, ln({alpha} / st.total))), 4)
               AS mean_logratio,
           count(*) AS n_words
    FROM exploded e
    LEFT JOIN tgt_vocab tv USING (term)
    LEFT JOIN src_vocab sv USING (term)
    CROSS JOIN tgt_totals tt
    CROSS JOIN src_totals st
    GROUP BY doc_id
    """


def ngram_counts(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Corpus-wide top-k word n-grams — the n-gram LM substrate (count
    tables for Kneser-Ney-style smoothing, collocation mining, template
    detection). Currently word bigrams (``n`` reserved for the same
    shape at higher orders).

    Scale shape: adjacent words pair up IN-ROW (``zip_with`` of the
    words array against its shifted self — no positional explode, no
    self-join), then one explode feeds a map-side-combined count and a
    TakeOrdered top-k. The DuckDB oracle builds the same pairs the
    relational way (positions + pos+1 self-join) — two shapes, one
    semantics, which is itself part of the check."""
    if n != 2:
        raise NotImplementedError("word bigrams only (n=2)")
    return (
        df.select(F.explode(_bigrams(words_col(F.col(text_col))))
                  .alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )


def ngram_counts_oracle(table: str = "documents", k: int = 50) -> str:
    return f"""
    WITH wp AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}'), 1) AS pos,
               unnest(string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')) AS word
        FROM {table}
    )
    SELECT a.word || ' ' || b.word AS ngram, count(*) AS n
    FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY 1
    ORDER BY n DESC, ngram ASC
    LIMIT {k}
    """


def dsir_resample(
    df: DataFrame,
    target_df: DataFrame,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    alpha: float = 0.5,
    salt: str = "dsir",
) -> DataFrame:
    """The selection half of DSIR: turn :func:`dsir_weights` into an
    actual subset — keep each document with probability
    ``exp((w - w_max) / temperature)`` (the best-matching doc keeps with
    probability 1; lower ratios decay exponentially; ``temperature``
    flattens or sharpens). Membership is the repo's standard
    deterministic md5-threshold test, so the same corpus + salt always
    selects the same subset, on any engine.

    Scale shape on top of dsir_weights: one 1-row max aggregate
    (broadcast back), then a narrow rate projection ROUNDED to 4 before
    the 65536-bucket floor (exp ULP cannot flip a boundary) and the
    threshold filter — all on the (id, weight) table dsir_weights
    already reduced to. No join back to the corpus: the weight table
    carries one row per scored document (round 5 removed a redundant
    id-keyed join that re-shuffled the id set for nothing — callers
    join the returned ids to fetch payloads when they need them)."""
    wts = dsir_weights(
        df, target_df, text_col, id_col, vocab_size, alpha
    ).select(id_col, "mean_logratio")
    # materialize the per-doc weight table before it branches into the
    # max aggregate AND the rate projection: without this Spark re-runs
    # the whole weights pipeline (vocab builds + corpus tokenization)
    # once per branch — measured 14 Generate nodes / 28 scans in one
    # plan. The cached table is (id, double) per document — the one
    # intermediate small enough to pin at any corpus scale.
    wts = materialize(wts, eager=False)
    mx = wts.agg(F.max("mean_logratio").alias("__mx"))
    rate = F.round(
        F.exp((F.col("mean_logratio") - F.col("__mx")) / temperature), 4
    )
    rates = wts.crossJoin(F.broadcast(mx)).select(
        F.col(id_col), rate.alias("rate")
    )
    thr = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
        F.lower(
            F.lpad(F.hex(F.floor(F.col("rate") * 65536).cast("int")), 4, "0")
        )
    )
    key = F.substring(
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ), 1, 4,
    )
    return rates.filter(key < thr).select(id_col, "rate")


def dsir_resample_oracle(
    table: str = "documents",
    target_where: str = "lang = 'de'",
    temperature: float = 1.0,
    vocab_size: int = 1000,
    alpha: float = 0.5,
    salt: str = "dsir",
) -> str:
    weights = dsir_weights_oracle(table, target_where, vocab_size, alpha)
    return f"""
    WITH wts AS (SELECT doc_id, mean_logratio FROM ({weights})),
    mx AS (SELECT max(mean_logratio) AS w_max FROM wts),
    rates AS (
        SELECT doc_id,
               round(exp((mean_logratio - w_max) / {temperature}), 4) AS rate
        FROM wts CROSS JOIN mx
    )
    SELECT doc_id, rate
    FROM rates
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':{salt}'), 1, 4)
          < CASE WHEN rate >= 1.0 THEN 'g'
                 ELSE lower(lpad(hex(CAST(floor(rate * 65536) AS INT)), 4, '0'))
            END
    """


# --- Hashed n-gram linear classifier (fastText-style inference) --------


def make_hash_weights(
    spark: SparkSession, vocab_size: int = 4096, salt: str = "ft"
) -> DataFrame:
    """Deterministic stand-in for a TRAINED hashed-ngram linear model
    (fastText / VW style: features hash into ``vocab_size`` buckets,
    one weight per bucket). In production the weight table is loaded
    from a training artifact; here each weight derives from md5 of its
    bucket id so the DuckDB oracle can rebuild the identical table.
    Weights are FIXED-POINT bigints in [-32768, 32767] (= w * 2^16):
    integer sums are order-independent, which keeps the doc score
    engine-identical — the float path (sum doubles, then sigmoid)
    would depend on Spark's partial-agg fold order."""
    return spark.range(vocab_size).select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + salt))),
                    1, 4,
                ),
                16, 10,
            ).cast("bigint")
            - F.lit(32768)
        ).alias("w_fp"),
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame,
    vocab_size: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Score documents with a hashed-ngram linear classifier — the
    fastText-shaped quality/domain gate every published curation
    pipeline runs (CCNet, RefinedWeb, FineWeb: a linear model over
    hashed word uni+bigrams, sigmoid, threshold). This is the INFERENCE
    path as one Spark plan: in-row gram construction (``zip_with``
    against the shifted self — no positional explode), one explode,
    one broadcast join against the V-row weight table, and a map-side
    combined per-doc integer sum. At 100 TB the weight table is KBs
    broadcast everywhere and the only shuffle is the doc-keyed
    re-aggregation of (id, partial-sum) rows.

    Logit = mean bucket weight over the doc's grams (fastText averages
    feature vectors); score = sigmoid(logit), rounded via the
    engine-stable floor formula; ``label`` thresholds the RAW score."""
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    agg = (
        _hashed_grams(df, vocab_size, text_col, id_col)
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("w_fp").alias("__sfp"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
    )
    logit = F.col("__sfp").cast("double") / (
        F.lit(65536.0) * F.col("n_grams").cast("double")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return agg.select(
        F.col(id_col),
        F.col("n_grams"),
        _stable_round(score, 4).alias("score"),
        (score >= F.lit(threshold)).alias("label"),
    )


def classifier_score_oracle(
    table: str = "documents",
    vocab_size: int = 4096,
    salt: str = "ft",
    threshold: float = 0.5,
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import _duck_round

    sig = (
        f"(1.0 / (1.0 + exp(-(CAST(__sfp AS DOUBLE) "
        f"/ (65536.0 * CAST(n_grams AS DOUBLE))))))"
    )
    return f"""
    WITH wts AS (
        SELECT CAST(range AS INT) AS bucket,
               CAST(concat('0x', substr(md5(CAST(range AS VARCHAR)
                    || ':{salt}'), 1, 4)) AS BIGINT) - 32768 AS w_fp
        FROM range(0, {vocab_size})
    ),
    ws AS (
        SELECT doc_id,
               string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}') AS w
        FROM {table}
    ),
    grams AS (
        SELECT doc_id, unnest(list_concat(
            list_filter(w, x -> x <> ''),
            list_transform(range(1, len(w)),
                           i -> w[i] || ' ' || w[i + 1])
        )) AS gram
        FROM ws
    ),
    b AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
                    % {vocab_size} AS INT) AS bucket
        FROM grams
    ),
    a AS (
        SELECT doc_id, sum(w.w_fp) AS __sfp,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM b JOIN wts w USING (bucket) GROUP BY doc_id
    )
    SELECT doc_id, n_grams, {_duck_round(sig, 4)} AS score,
           {sig} >= {threshold} AS label
    FROM a"""


def _bigrams(w: Column) -> Column:
    """Adjacent-word pairs of the words array ``w``, built in-row:
    ``zip_with`` against the shifted self, no positional explode."""
    pairs = F.zip_with(
        w,
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # zip_with pads the tail with NULL -> concat_ws drops the null side,
    # leaving a bare last word: real bigrams contain the joining space
    return F.filter(pairs, lambda g: g.contains(" "))


def _hashed_grams(
    df: DataFrame, vocab_size: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, bucket) per word uni+bigram occurrence, the bucket being
    the gram's md5 prefix mod ``vocab_size`` — the hashed-ngram
    features of classifier_score and lr_train_hashed."""
    w = words_col(F.col(text_col))
    grams = F.concat(F.filter(w, lambda g: g != F.lit("")), _bigrams(w))
    return df.select(F.col(id_col), F.explode(grams).alias("gram")).select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
            .cast("bigint") % vocab_size
        ).cast("int").alias("bucket"),
    )


def _hashed_gram_features(
    df: DataFrame, vocab_size: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, bucket, cnt) count features over hashed word uni+bigrams
    — ``_hashed_grams`` aggregated to counts so the training loop
    touches one narrow row per distinct (doc, bucket)."""
    return (
        _hashed_grams(df, vocab_size, text_col, id_col)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def lr_train_hashed(
    df: DataFrame,
    vocab_size: int = 4096,
    n_iter: int = 2,
    lr: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    positive: str = "en",
) -> DataFrame:
    """TRAIN the hashed-ngram linear classifier on Spark — the other
    half of classifier_score (which is inference under a shipped weight
    table): full-batch logistic-regression gradient descent over count
    features of hashed word uni+bigrams, label = ``label_col ==
    positive``.  Output: the trained fixed-point weight table
    (bucket, w_fp = w * 2^16; bias as bucket -1) — feed it straight
    back into ``classifier_score``-style inference.

    Cross-engine determinism (what makes a TRAINED model
    hash-checkable): weights live as 2^16 fixed-point BIGINTs; per-doc
    margins are exact integer dot products; per-doc errors (sigmoid -
    y) snap to 1e-6 fixed point BEFORE the gradient sums, so every
    gradient is an exact BIGINT sum — order-free under any partial
    aggregation — and the weight update floor-rounds identically in
    both engines.  From zero init the first epoch's errors are exactly
    +-0.5, so iteration 1 needs no weight join at all.

    Scale shape: the gram explosion runs ONCE into persisted
    (doc, bucket, cnt) features (the "index build"); each epoch is a
    broadcast join against the <=V-row weight table, one doc-keyed
    integer aggregation, one bucket-keyed integer aggregation (<=V
    rows out).  Doc count and bias arrive as broadcast 1-row
    aggregates — no driver collect.  Caveat at extreme scale: a
    per-bucket gradient sum is |err_fx| <= 1e6 times the bucket's
    occurrence count, so past ~10^9 occurrences per bucket the BIGINT
    sum should shed the 1e6 error scale (or move to DECIMAL) to stay
    within double-exact range for the update's float step."""
    feats = materialize(
        _hashed_gram_features(df, vocab_size, text_col, id_col), eager=False
    )
    labs = df.select(
        F.col(id_col),
        F.when(F.col(label_col) == positive, F.lit(1))
        .otherwise(F.lit(0)).cast("bigint").alias("y"),
    )
    nd = labs.agg(F.count(F.lit(1)).alias("__n"))

    def delta(g_col: Column) -> Column:
        return F.floor(
            F.lit(lr) * g_col.cast("double") * F.lit(65536.0)
            / (F.lit(1e6) * F.col("__n").cast("double"))
            + F.lit(0.5)
        ).cast("bigint")

    w_df = None
    b_df = None
    for _ in range(n_iter):
        if w_df is None:
            err = labs.select(
                F.col(id_col),
                (F.lit(500000) - F.lit(1000000) * F.col("y"))
                .cast("bigint").alias("err_fx"),
            )
        else:
            s = (
                feats.join(F.broadcast(w_df), "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("cnt") * F.col("w_fp")).alias("s_fp"))
            )
            logit = (
                F.coalesce(F.col("s_fp"), F.lit(0)).cast("double")
                + F.col("b_fp").cast("double")
            ) / F.lit(65536.0)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
            err = (
                labs.join(s, id_col, "left")
                .crossJoin(F.broadcast(b_df))
                .select(
                    F.col(id_col),
                    F.floor(
                        (p - F.col("y").cast("double")) * F.lit(1e6)
                        + F.lit(0.5)
                    ).cast("bigint").alias("err_fx"),
                )
            )
        g = (
            feats.join(err, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("cnt") * F.col("err_fx")).alias("g_fx"))
            .crossJoin(F.broadcast(nd))
        )
        if w_df is None:
            w_df = g.select("bucket", (-delta(F.col("g_fx"))).alias("w_fp"))
        else:
            # both sides are <=V rows; broadcast the fresh gradient so
            # the weight update never sort-merges
            w_df = (
                w_df.join(F.broadcast(g), "bucket")
                .select(
                    "bucket",
                    (F.col("w_fp") - delta(F.col("g_fx"))).alias("w_fp"),
                )
            )
        gb = err.agg(F.sum("err_fx").alias("g_fx")).crossJoin(
            F.broadcast(nd)
        )
        if b_df is None:
            b_df = gb.select((-delta(F.col("g_fx"))).alias("b_fp"))
        else:
            b_df = b_df.crossJoin(F.broadcast(gb)).select(
                (F.col("b_fp") - delta(F.col("g_fx"))).alias("b_fp")
            )
    bias_row = (
        b_df.crossJoin(F.broadcast(nd))
        .where(F.col("__n") > 0)
        .select(
            F.lit(-1).cast("int").alias("bucket"),
            F.col("b_fp").cast("bigint").alias("w_fp"),
        )
    )
    return (
        w_df.where(F.col("w_fp") != 0)
        .select(F.col("bucket").cast("int").alias("bucket"), "w_fp")
        .unionAll(bias_row)
    )


def lr_train_hashed_oracle(
    table: str = "documents",
    vocab_size: int = 4096,
    n_iter: int = 2,
    lr: float = 0.05,
    label_col: str = "lang",
    positive: str = "en",
) -> str:
    """DuckDB twin of :func:`lr_train_hashed`: the SAME epochs unrolled
    as chained CTEs (the kmeans-oracle pattern), exact integer
    gradients, identical floor-rounded updates."""
    parts = [f"""
    ws AS (
        SELECT doc_id,
               string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}') AS w
        FROM {table}
    ),
    grams AS (
        SELECT doc_id, unnest(list_concat(
            list_filter(w, x -> x <> ''),
            list_transform(range(1, len(w)),
                           i -> w[i] || ' ' || w[i + 1])
        )) AS gram
        FROM ws
    ),
    feat AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
                    % {vocab_size} AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM grams GROUP BY 1, 2
    ),
    lab AS (
        SELECT doc_id,
               CASE WHEN {label_col} = '{positive}'
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
        FROM {table}
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM lab),
    err1 AS (
        SELECT doc_id, CAST(500000 - 1000000 * y AS BIGINT) AS err_fx
        FROM lab
    )"""]
    upd = (
        "CAST(floor({lr} * CAST({g} AS DOUBLE) * 65536.0"
        " / (1e6 * nd) + 0.5) AS BIGINT)"
    )
    prev_w, prev_b = None, None
    for it in range(1, n_iter + 1):
        e = f"err{it}"
        if it > 1:
            parts.append(f"""
    s{it} AS (
        SELECT f.doc_id, sum(f.cnt * {prev_w}.w_fp) AS s_fp
        FROM feat f JOIN {prev_w} ON {prev_w}.bucket = f.bucket
        GROUP BY f.doc_id
    ),
    {e} AS (
        SELECT l.doc_id,
               CAST(floor((1.0 / (1.0 + exp(-(
                       (CAST(coalesce(s.s_fp, 0) AS DOUBLE)
                        + CAST({prev_b}.b_fp AS DOUBLE)) / 65536.0)))
                   - CAST(l.y AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS err_fx
        FROM lab l
        LEFT JOIN s{it} s ON s.doc_id = l.doc_id
        CROSS JOIN {prev_b}
    )""")
        gw = upd.format(lr=lr, g="sum(e.err_fx * f.cnt)")
        gb = upd.format(lr=lr, g="sum(err_fx)")
        if prev_w is None:
            parts.append(f"""
    w{it} AS (
        SELECT f.bucket, -{gw} AS w_fp
        FROM feat f JOIN {e} e ON e.doc_id = f.doc_id
        CROSS JOIN nn GROUP BY f.bucket, nd
    ),
    b{it} AS (
        SELECT -{gb} AS b_fp FROM {e} CROSS JOIN nn GROUP BY nd
    )""")
        else:
            parts.append(f"""
    w{it} AS (
        SELECT {prev_w}.bucket, {prev_w}.w_fp - {gw} AS w_fp
        FROM feat f
        JOIN {e} e ON e.doc_id = f.doc_id
        JOIN {prev_w} ON {prev_w}.bucket = f.bucket
        CROSS JOIN nn
        GROUP BY {prev_w}.bucket, {prev_w}.w_fp, nd
    ),
    b{it} AS (
        SELECT {prev_b}.b_fp - {gb} AS b_fp
        FROM {e} CROSS JOIN {prev_b} CROSS JOIN nn
        GROUP BY {prev_b}.b_fp, nd
    )""")
        prev_w, prev_b = f"w{it}", f"b{it}"
    return (
        "WITH " + ",".join(parts) + f"""
    SELECT CAST(bucket AS INT) AS bucket, w_fp
    FROM {prev_w} WHERE w_fp != 0
    UNION ALL
    SELECT CAST(-1 AS INT), b_fp FROM {prev_b}
    WHERE (SELECT count(*) FROM lab) > 0
    """
    )


# ---------------------------------------------------------------------------
# BPE merge-rule training (round 8): learn a byte-pair-encoding merge
# table from the corpus itself — the tokenizer-training step of an LLM
# data pipeline, on the same engine that cleans the data.  Published
# algorithm (Sennrich et al. 2016; GPT-2/tiktoken lineage): start from
# characters, repeatedly merge the most frequent adjacent symbol pair.
#
# Engine-portable determinism: the symbol sequence of each word is a
# space-joined STRING, a merge is two literal `replace` passes of
# ' a b ' -> ' ab ' (two passes so an alternating chain ' a b a b '
# fully merges — the shared-separator blind spot of single-pass
# replace; any residue beyond two passes is identical in both engines
# by construction, and the variant is documented as the operator's
# semantics), and the winning pair breaks frequency ties by (a, b)
# string order.  No RNG, no float, no engine-specific tokenizer.
#
# Scale shape: the corpus collapses ONCE into a word-frequency table
# capped at `top_words` (the classic BPE-training working set — word
# SHAPES, not the corpus, drive the merges; cap chosen deterministic by
# (freq DESC, word)).  Each of the `n_merges` iterations is one narrow
# pair-explode + one map-side-combined groupBy over that bounded table,
# an argmax of ONE collected row (the k-means/CC pattern — a 1-row
# driver aggregate per iteration is the documented legitimate collect),
# and one literal-replace map.  localCheckpoint flattens the per-
# iteration lineage exactly like connected_components.
# ---------------------------------------------------------------------------

def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    top_words: int = 2000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules; returns ``(rank, a, b,
    pair_count)`` — the merge table a tokenizer would serialize.

    Scale shape (round-13 optimization, guide §1.2/§5): the ONLY
    data-scaled pass is the distributed word histogram (explode +
    map-side-combined count, capped at ``top_words``); the merge loop
    then runs driver-side over the collected <=top_words-row histogram
    — the model-sized table every real tokenizer trainer holds in one
    process. The previous formulation shipped each of the ``n_merges``
    iterations back to the cluster as a pair-count aggregate + 1-row
    argmax collect + localCheckpoint over that same 2000-row table:
    2 job barriers per merge (~13 jobs total) to move at most 2000
    tiny rows — pure fixed cost at every scale, since the histogram
    cap (not the corpus) bounds the loop's input. Results are
    bit-identical: pair counts are exact BIGINT sums, the argmax tie
    order (cnt DESC, a, b) is codepoint order on both sides, and
    Python ``str.replace`` applies non-overlapping left-to-right
    exactly like ``F.replace``.

    Driver-memory contract (ADVICE r13): ``top_words`` bounds what is
    collected — the driver holds one (word, count) row per entry, so
    keep it model-sized (10^3..10^6). The corpus-scaled histogram pass
    stays distributed regardless."""
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                        r"\s+")
            ).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(top_words)
    )
    # model-sized collect: <= top_words rows by construction
    shapes = [(r["w"], int(r["n"])) for r in words.collect()]
    seqs = [(" " + " ".join(w) + " ", n) for w, n in shapes]

    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict = {}
        for seq, n in seqs:
            syms = seq.strip().split(" ")
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, int(cnt)))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        seqs = [(s.replace(pat, rep).replace(pat, rep), n) for s, n in seqs]
    return spark.createDataFrame(
        merges, "rank int, a string, b string, pair_count bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a trained merge table (:func:`bpe_train_merges` output):
    tokenize every document's alphabetic words with the ranked merges
    and return ``(doc_id, n_words, n_tokens)`` — the token-budget
    accounting a packing/mixing stage consumes.

    Scale shape: the merge table is tiny (one row per learned rule) and
    collects once — the broadcast-rules pattern (k-means centroids,
    classifier weights).  Tokenization runs over the DISTINCT word
    vocabulary (zipfian corpora collapse ~100x here), all JVM-side
    literal replaces — no Python UDF — then one vocab-keyed join back
    and a doc-keyed aggregate.  Words outside the training cap still
    tokenize (the rules simply apply less often) — encode never
    requires the training vocabulary."""
    rules = [(r["a"], r["b"]) for r in
             merges.orderBy("rank").select("rank", "a", "b").collect()]

    words = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    r"\s+")
        ).alias("w"),
    ).where(F.col("w").rlike("^[a-z]+$"))

    vocab = words.select("w").distinct().select(
        "w",
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.expr("regexp_extract_all(w, '.', 0)")),
            F.lit(" "),
        ).alias("seq"),
    )
    for a, b in rules:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        vocab = vocab.withColumn(
            "seq", F.replace(F.replace("seq", pat, rep), pat, rep)
        )
    tok = vocab.select(
        "w", F.size(F.split(F.trim(F.col("seq")), " ")).alias("n_tok")
    )
    return (
        words.join(tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


def bpe_encode_oracle(
    table: str = "documents",
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_words: int = 2000,
) -> str:
    """DuckDB twin: re-derives the merge rules with the train oracle's
    unrolled chain, then applies them to the FULL distinct vocabulary
    (not the training cap) with the same two-pass literal replace."""
    train = bpe_train_merges_oracle(table, n_merges, text_col, top_words)
    # reuse the train oracle's WITH chain; strip its final SELECT union
    with_block = train[len("WITH "):train.index("\n    SELECT rank")]
    parts = [with_block.rstrip().rstrip(",")]
    parts.append(f"""allw AS (
        SELECT {id_col}, w FROM (
            SELECT {id_col}, unnest(string_split_regex(
                lower(coalesce({text_col}, '')), '\\s+')) AS w
            FROM {table}
        ) WHERE regexp_matches(w, '^[a-z]+$')
    )""")
    parts.append("""e0 AS (
        SELECT w,
               ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
                   || ' ' AS seq
        FROM (SELECT DISTINCT w FROM allw)
    )""")
    for r in range(1, n_merges + 1):
        parts.append(f"""e{r} AS (
        SELECT w,
               replace(replace(seq,
                   (SELECT ' ' || a || ' ' || b || ' ' FROM m{r}),
                   (SELECT ' ' || a || b || ' ' FROM m{r})),
                   (SELECT ' ' || a || ' ' || b || ' ' FROM m{r}),
                   (SELECT ' ' || a || b || ' ' FROM m{r})) AS seq
        FROM e{r - 1}
    )""")
    parts.append(f"""tok AS (
        SELECT w, len(string_split(trim(seq), ' ')) AS n_tok
        FROM e{n_merges}
    )""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM allw JOIN tok USING (w)
    GROUP BY {id_col}""")


def bpe_train_merges_oracle(
    table: str = "documents",
    n_merges: int = 6,
    text_col: str = "text",
    top_words: int = 2000,
) -> str:
    """Iteration-unrolled DuckDB twin: same word cap, same pair counts,
    same (cnt DESC, a, b) argmax, same two-pass literal replace."""
    parts = [f"""words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(string_split_regex(
                lower(coalesce({text_col}, '')), '\\s+')) AS w
            FROM {table}
        ) WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w ORDER BY n DESC, w LIMIT {top_words}
    )""",
             """s0 AS MATERIALIZED (
        SELECT w, n,
               ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
                   || ' ' AS seq
        FROM words
    )"""]
    prev = "s0"
    for r in range(1, n_merges + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
        SELECT syms[i] AS a, syms[i + 1] AS b,
               CAST(sum(n) AS BIGINT) AS cnt
        FROM (SELECT n, string_split(trim(seq), ' ') AS syms FROM {prev}),
             UNNEST(generate_series(1, len(syms) - 1)) AS g(i)
        GROUP BY 1, 2
    )""")
        parts.append(f"""m{r} AS MATERIALIZED (
        SELECT {r} AS rank, a, b, cnt FROM p{r}
        ORDER BY cnt DESC, a, b LIMIT 1
    )""")
        parts.append(f"""s{r} AS MATERIALIZED (
        SELECT w, n,
               replace(replace(seq,
                   (SELECT ' ' || a || ' ' || b || ' ' FROM m{r}),
                   (SELECT ' ' || a || b || ' ' FROM m{r})),
                   (SELECT ' ' || a || ' ' || b || ' ' FROM m{r}),
                   (SELECT ' ' || a || b || ' ' FROM m{r})) AS seq
        FROM s{r - 1}
    )""")
        prev = f"s{r}"
    union = "\n    UNION ALL\n    ".join(
        f"SELECT rank, a, b, cnt AS pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {union}"


def vocab_growth(
    df: DataFrame,
    buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Heaps-law vocabulary-growth curve per source: as the corpus
    grows doc by doc, how fast does the distinct-token vocabulary grow
    against total tokens?  V ~ K * N^beta with beta ~ 0.4-0.6 for
    natural text; a source whose curve is too flat (template spam —
    vocabulary saturates) or too steep (OCR noise / random strings —
    every token new) is a curation red flag, and beta feeds tokenizer
    sizing (expected vocab at 100-TB corpus scale is an extrapolation
    of exactly this curve).

    Shape: docs bucket into ``buckets`` ntiles by id order per source;
    each token's FIRST-seen doc (one min-aggregate on the exploded
    token table — the only wide shuffle, map-side combined on the
    token key) assigns its vocabulary contribution to one bucket;
    bucket sums then cumulate over a ``buckets``-row-per-source window.
    All counts are BIGINT-exact; the per-source Heaps slope
    (``regr_slope(ln V, ln N)`` over the bucket checkpoints) is snapped
    to 1e-6 — a <= ``buckets``-point regression, far inside the snap.

    Returns (source, bucket, cum_tokens, cum_vocab, heaps_slope).
    """
    toks = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    doc_tok = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    wb = Window.partitionBy("source").orderBy("doc_id")
    doc_b = doc_tok.select(
        "source", "doc_id", "n_tok",
        F.ntile(buckets).over(wb).alias("bucket"),
    )
    first_seen = toks.groupBy("source", "term").agg(
        F.min("doc_id").alias("fdoc")
    )
    new_vocab = (
        first_seen.join(
            doc_b.select("source", F.col("doc_id").alias("fdoc"), "bucket"),
            ["source", "fdoc"],
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    per_bucket = (
        doc_b.groupBy("source", "bucket")
        .agg(F.sum("n_tok").alias("bucket_tokens"))
        .join(new_vocab, ["source", "bucket"], "left")
        .na.fill({"new_vocab": 0})
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bucket.select(
        "source", "bucket",
        F.sum("bucket_tokens").over(wc).cast("bigint").alias("cum_tokens"),
        F.sum("new_vocab").over(wc).cast("bigint").alias("cum_vocab"),
    )
    ws = Window.partitionBy("source")
    slope = F.floor(
        F.expr(
            "regr_slope(ln(CAST(cum_vocab AS DOUBLE)), "
            "ln(CAST(cum_tokens AS DOUBLE)))"
        ).over(ws) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return cum.select(
        "source", "bucket", "cum_tokens", "cum_vocab",
        slope.alias("heaps_slope"),
    )


def vocab_growth_oracle(table: str = "documents", buckets: int = 10) -> str:
    """DuckDB twin: same bucket/first-seen construction spelled as
    chained CTEs over ``unnest`` (different machinery, same integers;
    the slope replayed with the identical ln/regr_slope arithmetic and
    the same 1e-6 floor snap)."""
    return f"""
    WITH toks AS (
        SELECT source, doc_id, t.term
        FROM {table},
             unnest(string_split_regex(lower(text),
                    '{_WORD_SPLIT_DUCK}')) AS t(term)
        WHERE t.term <> ''
    ),
    doc_tok AS (
        SELECT source, doc_id, count(*) AS n_tok
        FROM toks GROUP BY source, doc_id
    ),
    doc_b AS (
        SELECT source, doc_id, n_tok,
               ntile({buckets}) OVER (PARTITION BY source
                                      ORDER BY doc_id) AS bucket
        FROM doc_tok
    ),
    first_seen AS (
        SELECT source, term, min(doc_id) AS fdoc
        FROM toks GROUP BY source, term
    ),
    new_vocab AS (
        SELECT f.source, d.bucket, count(*) AS new_vocab
        FROM first_seen f
        JOIN doc_b d ON d.source = f.source AND d.doc_id = f.fdoc
        GROUP BY f.source, d.bucket
    ),
    per_bucket AS (
        SELECT d.source, d.bucket,
               sum(d.n_tok) AS bucket_tokens,
               coalesce(any_value(v.new_vocab), 0) AS new_vocab
        FROM doc_b d
        LEFT JOIN new_vocab v
          ON v.source = d.source AND v.bucket = d.bucket
        GROUP BY d.source, d.bucket
    ),
    cum AS (
        SELECT source, bucket,
               CAST(sum(bucket_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(sum(new_vocab) OVER w AS BIGINT) AS cum_vocab
        FROM per_bucket
        WINDOW w AS (PARTITION BY source ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT source, bucket, cum_tokens, cum_vocab,
           floor(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                            ln(CAST(cum_tokens AS DOUBLE)))
                 OVER (PARTITION BY source) * 1000000.0 + 0.5)
               / 1000000.0 AS heaps_slope
    FROM cum
    """


def calibration_bins(
    df: DataFrame,
    weights: DataFrame,
    n_bins: int = 10,
    vocab_size: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: Column | None = None,
) -> DataFrame:
    """Reliability-diagram bins for the hashed-ngram quality classifier
    — the standard calibration check before a score threshold gates a
    corpus (a classifier that says 0.9 should be right ~90% of the
    time; the bin where mean score and empirical positive rate diverge
    is where the threshold misbehaves). ``label_col`` is the evaluation
    label expressed over the DOCUMENT row (default: ``lang = 'en'``,
    the fixture's stand-in for a held-out judgment).

    Shape for 100 TB: :func:`classifier_score`'s plan (broadcast
    weights, one doc-keyed re-aggregation) plus one doc-keyed equi-join
    back to the corpus for the label (same key as the aggregation —
    co-partitioned under AQE) and a final ``n_bins``-group map-side-
    combined count/mean reduce. Output is ``n_bins`` rows.
    """
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    if label_col is None:
        label_col = (F.col("lang") == F.lit("en"))
    scored = classifier_score(
        df, weights, vocab_size=vocab_size,
        text_col=text_col, id_col=id_col,
    ).select(id_col, "score")
    # coalesce: a NULL label (e.g. lang IS NULL) counts as NEGATIVE on
    # both engines — Spark's avg would silently skip the NULL while
    # the oracle's CASE maps it to 0 (review r12 #4)
    labeled = df.select(
        F.col(id_col),
        F.coalesce(label_col, F.lit(False)).cast("int").alias("__y"),
    ).join(scored, id_col)
    bin_ = F.least(
        F.floor(F.col("score") * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    return (
        labeled.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            _stable_round(F.avg("score"), 6).alias("mean_score"),
            _stable_round(F.avg(F.col("__y").cast("double")), 6)
                .alias("frac_pos"),
        )
    )


def calibration_bins_oracle(
    table: str = "documents",
    n_bins: int = 10,
    vocab_size: int = 4096,
    salt: str = "ft",
    label_sql: str = "lang = 'en'",
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import _duck_round

    inner = classifier_score_oracle(table, vocab_size, salt)
    # label_sql is evaluated in a subselect whose ONLY scope is the docs
    # table, so a multi-column predicate ("lang = 'en' AND score > 0"
    # where score is a docs column) resolves against docs exactly like
    # the Spark side's label_col — never against the scored CTE
    # (ADVICE r12: the old "d.{label_sql}" qualified only the first
    # identifier).
    return f"""
WITH scored AS ({inner}),
labels AS (
    SELECT doc_id, CASE WHEN {label_sql} THEN 1 ELSE 0 END AS y
    FROM {table}
),
lab AS (
    SELECT s.doc_id, s.score, l.y
    FROM scored s JOIN labels l USING (doc_id)
)
SELECT least(CAST(floor(score * {n_bins}) AS INT), {n_bins - 1}) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       {_duck_round("avg(score)", 6)} AS mean_score,
       {_duck_round("avg(CAST(y AS DOUBLE))", 6)} AS frac_pos
FROM lab
GROUP BY 1
"""


def rrf_hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 15,
    depth: int = 50,
    c: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009): fuse the lexical BM25 top-``depth`` list with the
    vector cosine top-``depth`` list into one ranking, ``score(d) =
    sum over lists of 1/(c + rank_list(d))`` — the standard first
    composition every RAG / data-curation retrieval stack reaches for
    (robust to the two scorers' incomparable score scales because only
    RANKS enter the sum).

    The sum is kept integer-exact as a fixed-point ``rrf_fp =
    floor(1e12 / (c + rank))`` per contribution (ranks are small
    integers, so 1e12/(c+rank) is never within 1e-3 of an integer
    crossing except when it IS one — double floor is exact on both
    engines), making the fused ordering ULP-proof across engines.

    Scale shape for 100 TB: each half keeps its own documented plan
    (:func:`bm25_topk`: one narrow corpus pass + 1-row broadcast stats
    + TakeOrdered; ``similarity.cosine_topk``: broadcast query row,
    one corpus pass + WindowGroupLimit). The fusion itself touches only
    the two ≤ ``depth``-row lists — a unionByName plus one tiny
    groupBy; nothing after the retrieval stages scales with the corpus.
    The many-query generalization is the identical union + groupBy
    keyed on (query_id, doc_id), both lists already carrying query_id.
    """
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.similarity import cosine_topk

    if k > depth:
        raise ValueError("k must be <= depth (fusion cannot rank past "
                         "the per-list retrieval depth)")
    fp = float(10**12)

    lex = bm25_topk(
        docs, query_terms, k=depth, text_col=text_col, id_col=doc_id_col
    ).withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(doc_id_col).asc())
        ).cast("int"),
    )
    vec = cosine_topk(
        embeddings,
        embeddings.filter(F.col(vec_id_col) == query_vec_id),
        k=depth, id_col=vec_id_col, vec_col=vec_col,
    ).select(
        F.col("neighbor_id").alias(doc_id_col),
        F.col("rnk").cast("int").alias("vec_rank"),
    )

    contrib = lex.select(
        F.col(doc_id_col),
        F.col("lex_rank"),
        F.lit(None).cast("int").alias("vec_rank"),
        F.floor(F.lit(fp) / (F.lit(c) + F.col("lex_rank")))
            .cast("bigint").alias("__fp"),
    ).unionByName(vec.select(
        F.col(doc_id_col),
        F.lit(None).cast("int").alias("lex_rank"),
        F.col("vec_rank"),
        F.floor(F.lit(fp) / (F.lit(c) + F.col("vec_rank")))
            .cast("bigint").alias("__fp"),
    ))
    fused = contrib.groupBy(doc_id_col).agg(
        F.max("lex_rank").alias("lex_rank"),
        F.max("vec_rank").alias("vec_rank"),
        F.sum("__fp").cast("bigint").alias("rrf_fp"),
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(
                    F.col("rrf_fp").desc(), F.col(doc_id_col).asc())
            ).cast("int"),
        )
        .orderBy(F.col("rrf_fp").desc(), F.col(doc_id_col).asc())
        .limit(k)
    )


def rrf_hybrid_topk_oracle(
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 15,
    depth: int = 50,
    c: int = 60,
    doc_table: str = "documents",
    vec_table: str = "embeddings",
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import _duck_cos

    lex_inner = bm25_topk_oracle(query_terms, k=depth, table=doc_table)
    return f"""
WITH lex AS ({lex_inner}),
lexr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                AS INT) AS lex_rank
    FROM lex
),
q AS (SELECT embedding AS qvec FROM {vec_table}
      WHERE vec_id = {query_vec_id}),
vecscored AS (
    SELECT cv.vec_id AS doc_id,
           {_duck_cos('q.qvec::DOUBLE[]', 'cv.embedding::DOUBLE[]')}
               AS cos_sim
    FROM q CROSS JOIN {vec_table} cv
    WHERE cv.vec_id <> {query_vec_id}
),
vecr AS (
    SELECT doc_id, r AS vec_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
                    AS INT) AS r
        FROM vecscored
    ) WHERE r <= {depth}
),
contrib AS (
    SELECT doc_id, lex_rank, CAST(NULL AS INT) AS vec_rank,
           CAST(floor(1000000000000.0 / ({c} + lex_rank)) AS BIGINT) AS fp
    FROM lexr
    UNION ALL
    SELECT doc_id, CAST(NULL AS INT) AS lex_rank, vec_rank,
           CAST(floor(1000000000000.0 / ({c} + vec_rank)) AS BIGINT) AS fp
    FROM vecr
),
fused AS (
    SELECT doc_id, max(lex_rank) AS lex_rank, max(vec_rank) AS vec_rank,
           CAST(sum(fp) AS BIGINT) AS rrf_fp
    FROM contrib GROUP BY doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_fp,
       CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id ASC)
            AS INT) AS rnk
FROM fused
ORDER BY rrf_fp DESC, doc_id ASC
LIMIT {k}
"""


_UNIGRAM_INF = 10**15  # unreachable-segmentation sentinel (fits BIGINT
#                        even after summing a full max_word_len path)


def _viterbi_pieces(w: str, costs: dict, max_piece_len: int) -> list:
    """Viterbi-segment one word under an integer piece-cost dict.
    Integer costs make the DP exact, so the argmin path is
    bit-identical to the oracle's unrolled SQL DP; ties at a backtrack
    step break to the SMALLEST start (the longest piece), scanning
    starts ascending."""
    L = len(w)
    best = [0] + [_UNIGRAM_INF] * L
    for j in range(1, L + 1):
        for i in range(max(0, j - max_piece_len), j):
            c = costs.get(w[i:j])
            if c is not None and best[i] + c < best[j]:
                best[j] = best[i] + c
    out = []
    pos = L
    while pos > 0:
        for i in range(max(0, pos - max_piece_len), pos):
            c = costs.get(w[i:pos])
            if c is not None and best[i] + c == best[pos]:
                out.append(w[i:pos])
                pos = i
                break
    out.reverse()
    return out


def unigram_lm_train(
    docs: DataFrame,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    seed_multi: int = 48,
    text_col: str = "text",
    top_words: int = 2000,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018),
    simplified to deterministic HARD EM: seed a substring vocabulary,
    then iterate (E) Viterbi-segment every word shape under the current
    piece log-probs and (M) re-estimate probs from the optimal-path
    usage counts, PRUNING multi-char pieces that won every zero Viterbi
    competitions (the count-threshold simplification of the published
    likelihood-loss prune; single chars are never pruned — coverage).
    Returns the serialized tokenizer table ``(piece, n_uses,
    logprob)`` after ``n_rounds`` EM rounds — the other mainstream
    tokenizer family beside :func:`bpe_train_merges`.

    Determinism contract (drives the oracle): costs are fixed-point
    ``floor(-ln(p) * 1e6 + 0.5)`` BIGINTs, the DP is integer-exact,
    and backtrack ties choose the longest piece; seed caps order by
    (freq DESC, piece ASC).

    Scale shape for 100 TB (round-13 optimization, guide §1.2/§5):
    the ONLY data-scaled pass is the distributed word-shape histogram
    (explode + map-side-combined count, capped at ``top_words``); the
    seed/EM loop then runs driver-side over the collected
    <=top_words-row histogram — model-sized work every real tokenizer
    trainer does in one process (the E-step Viterbi was ALREADY plain
    Python inside a pandas UDF; the previous formulation paid ~10 job
    barriers, two collects and three localCheckpoints per training
    run just to ship those same <=2000 rows back and forth). Exact
    integer seed/usage counts, ``math.log`` on the same IEEE doubles
    (C libm — the same library DuckDB's ``ln`` binds, where the
    retired plan used JVM ``Math.log``; the 1e6-fixed-point +0.5
    floor snap absorbs sub-ULP differences either way, sweep-verified
    at all three SFs), and codepoint tie order keep the result
    bit-identical to the unrolled oracle.

    Driver-memory contract (ADVICE r13): ``top_words`` bounds what is
    collected — the driver holds one word-shape row per entry (plus
    the derived piece dict), so keep it model-sized (10^3..10^6). The
    corpus-scaled histogram pass stays distributed regardless."""
    import math

    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                        r"\s+")
            ).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$")
               & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(top_words)
    )
    spark = docs.sparkSession
    # model-sized collect: <= top_words rows by construction
    shapes = [(r["w"], int(r["n"])) for r in words.collect()]
    out_schema = "piece string, n_uses bigint, logprob double"
    if not shapes:
        return spark.createDataFrame([], out_schema)

    # seed: every substring occurrence of length 1..max_piece_len,
    # weighted by word count (overlaps counted — the standard seed)
    freq: dict = {}
    for w, n in shapes:
        L = len(w)
        for ln_ in range(1, max_piece_len + 1):
            for p in range(L - ln_ + 1):
                piece = w[p:p + ln_]
                freq[piece] = freq.get(piece, 0) + n
    multis = sorted(
        ((p, f) for p, f in freq.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:seed_multi]
    seed = [(p, f) for p, f in freq.items() if len(p) == 1] + multis
    tot = float(sum(f for _, f in seed))
    # vocab: piece -> (n_uses, cost); cost = floor(-ln(p)*1e6 + 0.5)
    vocab = {
        p: (f, int(math.floor(-math.log(f / tot) * 1e6 + 0.5)))
        for p, f in seed
    }

    for _ in range(n_rounds):
        costs = {p: c for p, (_, c) in vocab.items()}
        usage: dict = {}
        for w, n in shapes:
            for piece in _viterbi_pieces(w, costs, max_piece_len):
                usage[piece] = usage.get(piece, 0) + n
        pruned = []  # (piece, n_uses, adj) — drop unused multis
        for p in vocab:
            u = usage.get(p, 0)
            adj = u if u > 0 else (1 if len(p) == 1 else None)
            if adj is not None:
                pruned.append((p, u, adj))
        tot2 = float(sum(adj for _, _, adj in pruned))
        vocab = {
            p: (u, int(math.floor(-math.log(adj / tot2) * 1e6 + 0.5)))
            for p, u, adj in pruned
        }
    return spark.createDataFrame(
        [(p, u, (-float(c)) / 1000000.0) for p, (u, c) in vocab.items()],
        out_schema,
    )


def _unigram_train_parts(
    table: str = "documents",
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    seed_multi: int = 48,
    text_col: str = "text",
    top_words: int = 2000,
) -> list:
    """WITH-clause parts of the unrolled unigram trainer, ending at the
    final vocab CTE ``v{n_rounds}`` — shared by the train oracle and
    the encode oracle (which re-derives the vocab the same way
    bpe_encode_oracle re-derives the merge rules).

    Each EM round's E-step is the SAME Viterbi DP unrolled column-wise
    — per-word cost array (one flat W*W list, positions i*W+j), then
    forward best[0..W] and a W-step backtrack as nested subquery
    layers, ties to the longest piece via CASE arm order — and the
    M-step the same prune + fixed-point rescore. MATERIALIZED pins
    every stage (the DP columns reference each other heavily)."""
    inf = _UNIGRAM_INF
    w_, p_ = max_word_len, max_piece_len
    parts = [f"""shapes AS MATERIALIZED (
    SELECT w, CAST(count(*) AS BIGINT) AS n, length(w) AS len FROM (
        SELECT unnest(string_split_regex(
            lower(coalesce({text_col}, '')), '\\s+')) AS w
        FROM {table}
    ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {w_}
    GROUP BY w ORDER BY n DESC, w LIMIT {top_words}
)""", f"""grid AS (
    SELECT i.range AS i, j.range AS j
    FROM range(0, {w_}) i, range(1, {w_} + 1) j
)""", f"""subs AS (
    SELECT substr(s.w, g.i + 1, g.j - g.i) AS piece,
           CAST(sum(s.n) AS BIGINT) AS freq
    FROM shapes s JOIN grid g
      ON g.j > g.i AND g.j - g.i <= {p_} AND g.j <= s.len
    GROUP BY 1
)""", f"""seed AS MATERIALIZED (
    SELECT piece, freq FROM subs WHERE length(piece) = 1
    UNION ALL
    SELECT piece, freq FROM (
        SELECT piece, freq FROM subs WHERE length(piece) > 1
        ORDER BY freq DESC, piece ASC LIMIT {seed_multi})
)""", """v0 AS MATERIALIZED (
    SELECT piece, freq AS n_uses,
           CAST(floor(-ln(CAST(freq AS DOUBLE) / t.tot) * 1000000.0
                      + 0.5) AS BIGINT) AS cost
    FROM seed, (SELECT CAST(sum(freq) AS DOUBLE) AS tot FROM seed) t
)"""]

    for r in range(1, n_rounds + 1):
        v_prev = f"v{r - 1}"
        parts.append(f"""e{r} AS (
    SELECT s.w, g.i, g.j,
           CASE WHEN g.j > g.i AND g.j - g.i <= {p_} AND g.j <= s.len
                THEN coalesce(v.cost, {inf}) ELSE {inf} END AS cost
    FROM shapes s CROSS JOIN grid g
    LEFT JOIN {v_prev} v
      ON g.j > g.i AND g.j - g.i <= {p_} AND g.j <= s.len
     AND v.piece = substr(s.w, g.i + 1, g.j - g.i)
)""")
        parts.append(f"""a{r} AS MATERIALIZED (
    SELECT w, list(cost ORDER BY i, j) AS carr FROM e{r} GROUP BY w
)""")
        # forward DP + backtrack as NESTED SUBQUERY LAYERS — one added
        # column per layer. Lateral column aliases would inline each
        # referenced alias textually, and the b/p chains reference
        # their predecessors up to max_piece_len times each, so the
        # expression tree blows up ~4^W and planning never returns
        # (measured: hang at sf0.001); subquery layers keep it a DAG.
        inner = (f"SELECT s.w, s.n, s.len, a.carr, "
                 f"CAST(0 AS BIGINT) AS b0 "
                 f"FROM shapes s JOIN a{r} a USING (w)")
        for j in range(1, w_ + 1):
            terms = ", ".join(
                f"b{i} + carr[{i * w_ + j}]"
                for i in range(max(0, j - p_), j)
            )
            inner = (f"SELECT *, CASE WHEN {j} > len THEN {inf} "
                     f"ELSE least({terms}) END AS b{j} FROM ({inner})")
        barr = "[" + ", ".join(f"b{j}" for j in range(w_ + 1)) + "]"
        inner = f"SELECT *, {barr} AS barr, len AS p0 FROM ({inner})"
        for k in range(1, w_ + 1):
            pk = f"p{k - 1}"
            arms = []
            for d in range(p_, 1, -1):
                arms.append(
                    f"WHEN {pk} >= {d} AND barr[{pk} - {d - 1}] "
                    f"+ carr[({pk} - {d}) * {w_} + {pk}] "
                    f"= barr[{pk} + 1] THEN {pk} - {d}")
            i_expr = (f"CASE WHEN {pk} <= 0 THEN 0 "
                      + " ".join(arms)
                      + f" ELSE {pk} - 1 END")
            inner = f"SELECT *, {i_expr} AS i{k} FROM ({inner})"
            inner = (f"SELECT *, "
                     f"CASE WHEN {pk} <= 0 THEN NULL "
                     f"ELSE substr(w, i{k} + 1, {pk} - i{k}) END AS pc{k}, "
                     f"CASE WHEN {pk} <= 0 THEN 0 ELSE i{k} END AS p{k} "
                     f"FROM ({inner})")
        parts.append(f"d{r} AS MATERIALIZED (\n    {inner}\n)")
        pcs = ", ".join(f"pc{k}" for k in range(1, w_ + 1))
        parts.append(f"""u{r} AS MATERIALIZED (
    SELECT piece, CAST(sum(n) AS BIGINT) AS n_uses FROM (
        SELECT n, unnest([{pcs}]) AS piece FROM d{r}
    ) WHERE piece IS NOT NULL GROUP BY piece
)""")
        parts.append(f"""pr{r} AS MATERIALIZED (
    SELECT v.piece, coalesce(u.n_uses, 0) AS n_uses,
           CASE WHEN coalesce(u.n_uses, 0) > 0
                THEN coalesce(u.n_uses, 0)
                WHEN length(v.piece) = 1 THEN 1 END AS adj
    FROM {v_prev} v LEFT JOIN u{r} u USING (piece)
    WHERE coalesce(u.n_uses, 0) > 0 OR length(v.piece) = 1
)""")
        parts.append(f"""v{r} AS MATERIALIZED (
    SELECT piece, CAST(n_uses AS BIGINT) AS n_uses,
           CAST(floor(-ln(CAST(adj AS DOUBLE) / t.tot) * 1000000.0
                      + 0.5) AS BIGINT) AS cost
    FROM pr{r}, (SELECT CAST(sum(adj) AS DOUBLE) AS tot FROM pr{r}) t
)""")
    return parts


def unigram_lm_train_oracle(
    table: str = "documents",
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    seed_multi: int = 48,
    text_col: str = "text",
    top_words: int = 2000,
) -> str:
    """Iteration-unrolled DuckDB twin of :func:`unigram_lm_train`
    (see :func:`_unigram_train_parts` for the DP construction)."""
    parts = _unigram_train_parts(
        table, n_rounds, max_piece_len, max_word_len, seed_multi,
        text_col, top_words)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT piece, n_uses, "
          f"-(CAST(cost AS DOUBLE) / 1000000.0) AS logprob FROM v{n_rounds}"
    )


_UNIGRAM_UNK = 40 * 10**6  # cost of a vocab-missing single char at
#                            encode time (logprob -40: finite so every
#                            word still segments, huge so it never wins
#                            a competition a known piece could)


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 30,
) -> DataFrame:
    """Serve a trained unigram-LM vocabulary (:func:`unigram_lm_train`
    output): Viterbi-tokenize every document's alphabetic words and
    return ``(doc_id, n_words, n_tokens, logprob)`` — token-budget
    accounting plus the document's total piece log-likelihood (the
    LM-quality signal a perplexity gate consumes). The serving twin of
    :func:`bpe_encode` for the unigram family.

    Words longer than ``max_word_len`` (30 — beyond any alphabetic
    fixture word) are excluded from both counts on both engines; a
    single char missing from the vocabulary segments at the finite
    ``_UNIGRAM_UNK`` cost, so encode never requires the training
    vocabulary to cover the serving corpus.

    Scale shape: the vocab collects once (bounded: alphabet +
    seed_multi rows) and rides into an Arrow-batched pandas UDF over
    the DISTINCT word vocabulary (zipfian ~100x collapse, the
    bpe_encode pattern), then one vocab-keyed join back and a
    doc-keyed aggregate."""
    rows = vocab.select("piece", "logprob").collect()  # model-sized
    costs = {
        r["piece"]: int(round(-r["logprob"] * 1e6)) for r in rows
    }

    @F.pandas_udf("n_tok int, cost bigint")
    def segstats(ws: pd.Series) -> pd.DataFrame:
        def one(w: str):
            L = len(w)

            def c_of(sub):
                c = costs.get(sub)
                if c is None and len(sub) == 1:
                    return _UNIGRAM_UNK
                return c

            best = [0] + [_UNIGRAM_INF] * L
            for j in range(1, L + 1):
                for i in range(max(0, j - max_piece_len), j):
                    c = c_of(w[i:j])
                    if c is not None and best[i] + c < best[j]:
                        best[j] = best[i] + c
            n_tok = 0
            pos = L
            while pos > 0:
                for i in range(max(0, pos - max_piece_len), pos):
                    c = c_of(w[i:pos])
                    if c is not None and best[i] + c == best[pos]:
                        n_tok += 1
                        pos = i
                        break
            return n_tok, best[L]

        stats = ws.map(one)
        return pd.DataFrame({
            "n_tok": stats.map(lambda t: t[0]).astype("int32"),
            "cost": stats.map(lambda t: t[1]).astype("int64"),
        })

    words = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    r"\s+")
        ).alias("w"),
    ).where(F.col("w").rlike("^[a-z]+$")
            & (F.length("w") <= max_word_len))
    wstats = (
        words.select("w").distinct()
        .withColumn("st", segstats(F.col("w")))
        .select("w", F.col("st.n_tok").alias("n_tok"),
                F.col("st.cost").alias("wcost"))
    )
    return (
        words.join(wstats, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            (-(F.sum("wcost").cast("double")) / F.lit(1000000.0))
            .alias("logprob"),
        )
    )


def unigram_encode_oracle(
    table: str = "documents",
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    seed_multi: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_words: int = 2000,
    max_enc_word_len: int = 30,
) -> str:
    """DuckDB twin of :func:`unigram_encode`: re-derives the trained
    vocab via :func:`_unigram_train_parts` (the bpe_encode_oracle
    pattern), then runs the SAME Viterbi DP — unrolled to
    ``max_enc_word_len`` — over the distinct serving words, counting
    backtrack steps and reading the path cost off the forward table
    (no piece strings needed at encode time).  Missing single chars
    cost ``_UNIGRAM_UNK``, exactly like the Spark UDF."""
    inf, unk = _UNIGRAM_INF, _UNIGRAM_UNK
    p_, we = max_piece_len, max_enc_word_len
    parts = _unigram_train_parts(
        table, n_rounds, max_piece_len, max_word_len, seed_multi,
        text_col, top_words)
    vfinal = f"v{n_rounds}"
    parts.append(f"""encw AS MATERIALIZED (
    SELECT w, length(w) AS len FROM (
        SELECT DISTINCT unnest(string_split_regex(
            lower(coalesce({text_col}, '')), '\\s+')) AS w
        FROM {table}
    ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {we}
)""")
    parts.append(f"""egrid AS (
    SELECT i.range AS i, j.range AS j
    FROM range(0, {we}) i, range(1, {we} + 1) j
)""")
    parts.append(f"""ee AS (
    SELECT s.w, g.i, g.j,
           CASE WHEN g.j > g.i AND g.j - g.i <= {p_} AND g.j <= s.len
                THEN coalesce(v.cost,
                              CASE WHEN g.j - g.i = 1 THEN {unk}
                                   ELSE {inf} END)
                ELSE {inf} END AS cost
    FROM encw s CROSS JOIN egrid g
    LEFT JOIN {vfinal} v
      ON g.j > g.i AND g.j - g.i <= {p_} AND g.j <= s.len
     AND v.piece = substr(s.w, g.i + 1, g.j - g.i)
)""")
    parts.append(
        "ea AS MATERIALIZED (\n"
        "    SELECT w, list(cost ORDER BY i, j) AS carr "
        "FROM ee GROUP BY w\n)")
    inner = ("SELECT s.w, s.len, a.carr, CAST(0 AS BIGINT) AS b0 "
             "FROM encw s JOIN ea a USING (w)")
    for j in range(1, we + 1):
        terms = ", ".join(
            f"b{i} + carr[{i * we + j}]"
            for i in range(max(0, j - p_), j)
        )
        inner = (f"SELECT *, CASE WHEN {j} > len THEN {inf} "
                 f"ELSE least({terms}) END AS b{j} FROM ({inner})")
    barr = "[" + ", ".join(f"b{j}" for j in range(we + 1)) + "]"
    inner = f"SELECT *, {barr} AS barr, len AS p0 FROM ({inner})"
    for k in range(1, we + 1):
        pk = f"p{k - 1}"
        arms = []
        for d in range(p_, 1, -1):
            arms.append(
                f"WHEN {pk} >= {d} AND barr[{pk} - {d - 1}] "
                f"+ carr[({pk} - {d}) * {we} + {pk}] "
                f"= barr[{pk} + 1] THEN {pk} - {d}")
        i_expr = (f"CASE WHEN {pk} <= 0 THEN 0 "
                  + " ".join(arms)
                  + f" ELSE {pk} - 1 END")
        inner = (f"SELECT *, CASE WHEN {pk} <= 0 THEN 0 "
                 f"ELSE ({i_expr}) END AS p{k} FROM ({inner})")
    steps = " + ".join(
        f"CASE WHEN p{k - 1} > 0 THEN 1 ELSE 0 END"
        for k in range(1, we + 1)
    )
    parts.append(
        f"ed AS MATERIALIZED (\n"
        f"    SELECT w, CAST({steps} AS INT) AS n_tok, "
        f"barr[p0 + 1] AS wcost FROM ({inner})\n)")
    parts.append(f"""docw AS (
    SELECT {id_col}, w FROM (
        SELECT {id_col}, unnest(string_split_regex(
            lower(coalesce({text_col}, '')), '\\s+')) AS w
        FROM {table}
    ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {we}
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       -(CAST(sum(wcost) AS DOUBLE) / 1000000.0) AS logprob
FROM docw JOIN ed USING (w)
GROUP BY {id_col}"""
    )


# PII patterns (the BigCode/StarCoder-style curation pass, simplified
# to the three regex-detectable classes). Java regex and DuckDB's RE2
# agree on this subset: char classes, bounded repeats, \b, no
# backrefs. Applied IN ORDER to the progressively-scrubbed text (an
# email is scrubbed before the IP pass can eat its dotted digits).
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}-\d{3,4}-\d{3,4}\b", "<PHONE>"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Regex PII redaction — the standard pre-training curation pass:
    emails, dotted-quad IPs and international phone numbers are counted
    then masked, in that order, each pattern evaluated against the text
    AFTER the previous pattern's replacement (well-defined overlap
    semantics; documented in _PII_PATTERNS). Returns ``(doc_id,
    n_email, n_ip, n_phone, scrubbed)``.

    Scale shape: a pure narrow map — regexp_count + regexp_replace are
    JVM-side whole-stage-codegen expressions, zero shuffle, zero UDF;
    at 100 TB this runs at scan speed and composes with any downstream
    filter in the same stage."""
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat, rep in _PII_PATTERNS:
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("bigint")
            .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, rep)
    return df.select(F.col(id_col), *counts, cur.alias("scrubbed"))


def pii_scrub_oracle(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    cur = f"coalesce({text_col}, '')"
    cols = []
    for name, pat, rep in _PII_PATTERNS:
        # DuckDB single-quoted strings are escape-free: pass the regex
        # verbatim (only quote-double), never backslash-double
        pat_sql = pat.replace("'", "''")
        cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat_sql}')) AS BIGINT)"
            f" AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat_sql}', '{rep}', 'g')"
    col_sql = ",\n       ".join(cols)
    return (
        f"SELECT {id_col},\n       {col_sql},\n"
        f"       {cur} AS scrubbed\nFROM {table}"
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility audit: tokens-per-word by ``group_col``
    (usually language) under a trained BPE merge table — the standard
    multilingual health check before committing to a tokenizer (a
    language whose fertility is 2x another's pays 2x the context
    budget for the same content; the classic under-trained-script
    signal). Returns ``(group, n_docs, n_words, n_tokens, fertility)``
    with fertility 1e-6-snapped.

    Scale shape: :func:`bpe_encode`'s plan (broadcast rules, distinct-
    vocab tokenize, doc-keyed aggregate) plus one doc-keyed equi-join
    to the group label (same key — co-partitioned under AQE) and a
    final tiny group reduce."""
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    enc = bpe_encode(docs, merges, text_col=text_col, id_col=id_col)
    labeled = enc.join(
        docs.select(F.col(id_col), F.col(group_col).alias("grp")), id_col)
    return (
        labeled.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            _stable_round(
                F.sum("n_tokens").cast("double")
                / F.sum("n_words").cast("double"), 6,
            ).alias("fertility"),
        )
    )


def tokenizer_fertility_oracle(
    table: str = "documents",
    group_col: str = "lang",
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_words: int = 2000,
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import _duck_round

    enc = bpe_encode_oracle(table, n_merges, text_col, id_col, top_words)
    return f"""
WITH enc AS ({enc})
SELECT d.{group_col} AS {group_col},
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       {_duck_round('CAST(sum(e.n_tokens) AS DOUBLE) / sum(e.n_words)', 6)}
           AS fertility
FROM enc e JOIN {table} d USING ({id_col})
GROUP BY 1
"""


def label_agreement(
    df: DataFrame,
    weights: DataFrame,
    threshold: float = 0.5,
    vocab_size: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: Column | None = None,
) -> DataFrame:
    """Inter-labeler agreement (Cohen's kappa, 1960) between the hashed
    n-gram quality classifier thresholded at ``threshold`` and a second
    label over the document row (default ``lang = 'en'``) — the label
    QA check before trusting either signal as training-data ground
    truth (raw accuracy flatters imbalanced labels; kappa discounts
    chance agreement). Returns ONE row: the 2x2 confusion counts,
    observed/expected agreement, and kappa (1e-6-snapped; NULL when
    expected agreement is 1 — degenerate marginals).

    Scale shape: :func:`classifier_score`'s plan + one co-partitioned
    doc-keyed label join + a single 1-row aggregate (map-side
    partials); the arithmetic runs on the 1-row result."""
    from datafusion_sqlgen_spark.operators.similarity import _stable_round

    if label_col is None:
        label_col = (F.col("lang") == F.lit("en"))
    scored = classifier_score(
        df, weights, vocab_size=vocab_size,
        text_col=text_col, id_col=id_col,
    ).select(id_col, "score")
    labeled = df.select(
        F.col(id_col),
        F.coalesce(label_col, F.lit(False)).cast("int").alias("b"),
    ).join(scored, id_col).select(
        (F.col("score") >= F.lit(threshold)).cast("int").alias("a"),
        "b",
    )
    agg = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("a") * F.col("b"))).cast("bigint").alias("n11"),
        F.sum((F.col("a") * (1 - F.col("b")))).cast("bigint").alias("n10"),
        F.sum(((1 - F.col("a")) * F.col("b"))).cast("bigint").alias("n01"),
        F.sum(((1 - F.col("a")) * (1 - F.col("b")))).cast("bigint")
        .alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") / n
        * (F.col("n11") + F.col("n01")).cast("double") / n
        + (F.col("n01") + F.col("n00")).cast("double") / n
        * (F.col("n10") + F.col("n00")).cast("double") / n
    )
    kappa = (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))
    return agg.select(
        "n", "n11", "n10", "n01", "n00",
        _stable_round(po, 6).alias("po"),
        _stable_round(pe, 6).alias("pe"),
        _stable_round(kappa, 6).alias("kappa"),
    )


def label_agreement_oracle(
    table: str = "documents",
    threshold: float = 0.5,
    vocab_size: int = 4096,
    salt: str = "ft",
    label_sql: str = "lang = 'en'",
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import _duck_round

    inner = classifier_score_oracle(table, vocab_size, salt)
    po = "CAST(n11 + n00 AS DOUBLE) / n"
    pe = ("CAST(n11 + n10 AS DOUBLE) / n * (CAST(n11 + n01 AS DOUBLE) / n)"
          " + CAST(n01 + n00 AS DOUBLE) / n"
          " * (CAST(n10 + n00 AS DOUBLE) / n)")
    kappa = f"(({po}) - ({pe})) / nullif(1.0 - ({pe}), 0.0)"
    return f"""
WITH scored AS ({inner}),
labels AS (
    SELECT doc_id,
           CASE WHEN coalesce({label_sql}, FALSE) THEN 1 ELSE 0 END AS b
    FROM {table}
),
pairs AS (
    SELECT CASE WHEN s.score >= {threshold} THEN 1 ELSE 0 END AS a, l.b
    FROM scored s JOIN labels l USING (doc_id)
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a * b) AS BIGINT) AS n11,
           CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
           CAST(sum((1 - a) * b) AS BIGINT) AS n01,
           CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
    FROM pairs
)
SELECT n, n11, n10, n01, n00,
       {_duck_round(po, 6)} AS po,
       {_duck_round(pe, 6)} AS pe,
       {_duck_round(kappa, 6)} AS kappa
FROM agg
"""


def pmi_collocations(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 5,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation mining by pointwise mutual information over a
    sliding token window — the word2vec-style pair-generation /
    PMI-ranking primitive of corpus analytics (Church & Hanks 1990).
    Every token pairs with the next ``window`` tokens in its document
    (forward-only, so each co-occurrence is generated exactly once);
    pairs normalize unordered (``least``/``greatest``), and
    ``pmi = ln(p(a,b) / (p(a)·p(b)))`` ranks the top-``top_n`` pairs
    seen at least ``min_count`` times.

    Exactness: the PMI argument is built as ONE double division of two
    exact BIGINT products (``c_ab·N²  /  T·c_a·c_b``) — both engines
    round that division identically, so a single ``ln`` + the 1e-6
    snap is engine-stable (sub-ulp libm differences vanish in the
    snap, the tfidf precedent). N² bounds the exact range to ~3e15
    tokens; beyond that flip the argument to log-difference form and
    widen the snap.

    Scale shape: ONE doc-keyed exchange for the ``lead`` windows (the
    per-doc sort is the tokenizer's own partition), ONE pair-group
    count shuffle (map-side partials; the inherent cost of exact
    co-occurrence counts), then vocab-sized broadcast joins for the
    unigram marginals, a 1-row totals broadcast, and a global
    TakeOrderedAndProject for the top-n — nothing else touches the
    corpus. Beyond-reference LLM-pipeline surface."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(words_col(F.col(text_col))).alias("pos", "term"),
    ).filter(F.col("term") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = toks.select(
        F.col("term"),
        F.array(
            *[F.lead("term", j).over(w) for j in range(1, window + 1)]
        ).alias("__nbrs"),
    )
    pairs = (
        leads.select(
            F.col("term"), F.explode("__nbrs").alias("other")
        )
        .filter(F.col("other").isNotNull() & (F.col("other") != ""))
        .select(
            F.least("term", "other").alias("a"),
            F.greatest("term", "other").alias("b"),
        )
    )
    # both aggregates are consumed more than once (marginals + totals);
    # materialize each so its corpus pass runs exactly once — pc is the
    # co-occurrence matrix (bounded by pair-vocab, the intermediate a
    # real pipeline persists anyway), uni is vocab-sized
    pc = materialize(pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_count")
    ))
    uni = materialize(toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ))
    # marginals' totals come from the already-aggregated pair/unigram
    # tables (pre-min_count), so the corpus subtree is never re-scanned
    totals = pc.agg(
        F.sum("pair_count").cast("bigint").alias("t_pairs")
    ).crossJoin(
        F.broadcast(
            uni.agg(F.sum("c").cast("bigint").alias("n_toks"))
        )
    )
    num = F.col("pair_count") * F.col("n_toks") * F.col("n_toks")
    den = F.col("t_pairs") * F.col("ca") * F.col("cb")
    return (
        pc.filter(F.col("pair_count") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("term", "a")
                          .withColumnRenamed("c", "ca")), "a")
        .join(F.broadcast(uni.withColumnRenamed("term", "b")
                          .withColumnRenamed("c", "cb")), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("a"), F.col("b"), F.col("pair_count"),
            F.floor(
                F.log(num.cast("double") / den.cast("double"))
                * F.lit(1e6) + F.lit(0.5)
            ).cast("bigint").alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("a").asc(),
                 F.col("b").asc())
        .limit(top_n)
    )


def pmi_collocations_oracle(
    table: str = "documents",
    window: int = 3,
    min_count: int = 5,
    top_n: int = 50,
) -> str:
    words = f"string_split_regex(lower(text), '{_WORD_SPLIT_DUCK}')"
    shifts = ", ".join(
        f"lead(term, {j}) OVER (PARTITION BY doc_id ORDER BY pos)"
        for j in range(1, window + 1)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({words}) AS term,
               generate_subscripts({words}, 1) AS pos
        FROM {table}
    ),
    tok AS (SELECT * FROM toks WHERE term <> ''),
    leads AS (
        SELECT term, [{shifts}] AS nbrs
        FROM tok
    ),
    pairs AS (
        SELECT least(term, other) AS a, greatest(term, other) AS b
        FROM (SELECT term, unnest(nbrs) AS other FROM leads)
        WHERE other IS NOT NULL AND other <> ''
    ),
    pc AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS pair_count
        FROM pairs GROUP BY a, b
    ),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term
    ),
    totals AS (
        SELECT (SELECT CAST(sum(pair_count) AS BIGINT) FROM pc) AS t_pairs,
               (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_toks
    )
    SELECT p.a, p.b, p.pair_count,
           CAST(floor(ln(
               CAST(p.pair_count * t.n_toks * t.n_toks AS DOUBLE)
               / CAST(t.t_pairs * ua.c * ub.c AS DOUBLE)
           ) * 1e6 + 0.5) AS BIGINT) AS pmi_micro
    FROM pc p
    JOIN uni ua ON ua.term = p.a
    JOIN uni ub ON ub.term = p.b
    CROSS JOIN totals t
    WHERE p.pair_count >= {min_count}
    ORDER BY pmi_micro DESC, p.a ASC, p.b ASC
    LIMIT {top_n}
    """


def weighted_hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 15,
    depth: int = 50,
    w_lex: int = 60,
    w_vec: int = 40,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via WEIGHTED min-max score fusion — the other
    standard composition beside :func:`rrf_hybrid_topk` (the one every
    hybrid-search deployment A/Bs against RRF): each list's scores
    min-max-normalize to [0,1] WITHIN its own top-``depth`` list, and
    the fused score is ``(w_lex·norm_lex + w_vec·norm_vec)/100`` —
    rank-insensitive, so a dominant-score hit keeps its margin where
    RRF would flatten it to 1/(c+rank).

    Engine stability: both input scores are already 4-decimal-snapped
    by their stages, min/max over the ≤depth-row lists are exact
    selections of those snapped doubles, and every normalization step
    is IEEE-exact (+,−,×,÷ round identically everywhere) — the fused
    score then snaps to 1e-6 before ranking, so ordering is ULP-proof.
    A degenerate list (max = min) normalizes to 1.0 for every member —
    documented, matching the oracle. A doc absent from one list
    contributes 0 from it (the standard convex-combination convention).

    Scale shape: identical to RRF — each half keeps its own documented
    retrieval plan; the fusion is a unionByName + one tiny groupBy over
    the two ≤depth-row lists, with the per-list min/max as windows over
    those same tiny lists. Nothing after retrieval scales with the
    corpus."""
    from pyspark.sql import Window

    from datafusion_sqlgen_spark.operators.similarity import cosine_topk

    if k > depth:
        raise ValueError("k must be <= depth (fusion cannot rank past "
                         "the per-list retrieval depth)")
    wall = Window.partitionBy()

    def _norm(score):
        lo, hi = F.min(score).over(wall), F.max(score).over(wall)
        return F.when(hi > lo, (score - lo) / (hi - lo)).otherwise(
            F.lit(1.0)
        )

    lex = bm25_topk(
        docs, query_terms, k=depth, text_col=text_col, id_col=doc_id_col
    ).select(
        F.col(doc_id_col),
        _norm(F.col("bm25")).alias("lex_norm"),
        F.lit(None).cast("double").alias("vec_norm"),
    )
    vec = cosine_topk(
        embeddings,
        embeddings.filter(F.col(vec_id_col) == query_vec_id),
        k=depth, id_col=vec_id_col, vec_col=vec_col,
    ).select(
        F.col("neighbor_id").alias(doc_id_col),
        F.lit(None).cast("double").alias("lex_norm"),
        _norm(F.col("cos_sim")).alias("vec_norm"),
    )
    fused = (
        lex.unionByName(vec)
        .groupBy(doc_id_col)
        .agg(
            F.max("lex_norm").alias("lex_norm"),
            F.max("vec_norm").alias("vec_norm"),
        )
        .select(
            F.col(doc_id_col),
            F.round(F.coalesce(F.col("lex_norm"), F.lit(0.0)), 6)
            .alias("lex_norm"),
            F.round(F.coalesce(F.col("vec_norm"), F.lit(0.0)), 6)
            .alias("vec_norm"),
            F.floor(
                (F.lit(float(w_lex))
                 * F.coalesce(F.col("lex_norm"), F.lit(0.0))
                 + F.lit(float(w_vec))
                 * F.coalesce(F.col("vec_norm"), F.lit(0.0)))
                / F.lit(100.0) * F.lit(1e6) + F.lit(0.5)
            ).cast("bigint").alias("fused_micro"),
        )
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(
                    F.col("fused_micro").desc(), F.col(doc_id_col).asc()
                )
            ),
        )
        .filter(F.col("rnk") <= k)
    )


def weighted_hybrid_topk_oracle(
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 15,
    depth: int = 50,
    w_lex: int = 60,
    w_vec: int = 40,
    table: str = "documents",
    vec_table: str = "embeddings",
) -> str:
    from datafusion_sqlgen_spark.operators.similarity import (
        cosine_topk_oracle,
    )

    lex = bm25_topk_oracle(query_terms, k=depth, table=table)
    vec = cosine_topk_oracle(vec_table, k=depth,
                             max_query_id=query_vec_id + 1)
    return f"""
    WITH lex_list AS ({lex}),
    vec_list AS (
        SELECT * FROM ({vec}) WHERE query_id = {query_vec_id}
    ),
    lex_n AS (
        SELECT doc_id,
               CASE WHEN max(bm25) OVER () > min(bm25) OVER ()
                    THEN (bm25 - min(bm25) OVER ())
                         / (max(bm25) OVER () - min(bm25) OVER ())
                    ELSE 1.0 END AS lex_norm,
               CAST(NULL AS DOUBLE) AS vec_norm
        FROM lex_list
    ),
    vec_n AS (
        SELECT neighbor_id AS doc_id,
               CAST(NULL AS DOUBLE) AS lex_norm,
               CASE WHEN max(cos_sim) OVER () > min(cos_sim) OVER ()
                    THEN (cos_sim - min(cos_sim) OVER ())
                         / (max(cos_sim) OVER () - min(cos_sim) OVER ())
                    ELSE 1.0 END AS vec_norm
        FROM vec_list
    ),
    fused AS (
        SELECT doc_id,
               round(coalesce(max(lex_norm), 0.0), 6) AS lex_norm,
               round(coalesce(max(vec_norm), 0.0), 6) AS vec_norm,
               CAST(floor(({w_lex}.0 * coalesce(max(lex_norm), 0.0)
                           + {w_vec}.0 * coalesce(max(vec_norm), 0.0))
                          / 100.0 * 1e6 + 0.5) AS BIGINT) AS fused_micro
        FROM (SELECT * FROM lex_n UNION ALL SELECT * FROM vec_n)
        GROUP BY doc_id
    )
    SELECT doc_id, lex_norm, vec_norm, fused_micro,
           row_number() OVER (ORDER BY fused_micro DESC, doc_id ASC)
               AS rnk
    FROM fused
    QUALIFY rnk <= {k}
    """
