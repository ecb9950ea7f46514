"""UDF tier: Arrow-vectorized pandas UDFs for what built-ins cannot say.

The reference exposes zero extension points (SURVEY.md §2.2 UDF row);
Spark's are first-class. House rules, enforced by example here:

1. built-in ``F.*`` first (JVM, codegen) — everything in operators/ is
   built that way;
2. ``@pandas_udf`` (Arrow batches) when Python is genuinely needed;
3. row-at-a-time ``F.udf`` never in a hot path.

These UDFs exist as the vetted patterns for tier 2, and each is
regression-tested: ``grouped_zscore`` against its Window twin
``grouped_zscore_window``, ``make_chunk_udtf`` against the built-in
``operators.text.chunk_documents``, and ``bpeish_token_count`` against
the same regex in Python and, as the ``udf_bpeish_token_count`` catalog
row, against its DuckDB oracle.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
# (the GPT-2 pre-tokenizer shape, minus byte-level details).
_BPEISH = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")


@pandas_udf(T.IntegerType())
def bpeish_token_count(text: pd.Series) -> pd.Series:
    """Vectorized token counting with a BPE-ish regex — the Python-only
    sibling of the whitespace counter in operators.text.token_stats."""
    return text.fillna("").map(lambda t: len(_BPEISH.findall(t))).astype("int32")


def grouped_zscore(df, group_col: str, value_col: str):
    """applyInPandas example: per-group z-score normalization (grouped-map
    pandas UDF — each group becomes one pandas DataFrame on an executor).

    At scale: one shuffle on ``group_col``; groups must fit in executor
    memory — use the Window-function twin for unbounded groups."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", zscore double"

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col]
        sd = v.std(ddof=1)
        pdf = pdf.copy()
        pdf["zscore"] = (v - v.mean()) / sd if sd and not math.isnan(sd) else 0.0
        return pdf

    return df.groupBy(group_col).applyInPandas(zscore, schema=out_schema)


def grouped_zscore_window(df, group_col: str, value_col: str):
    """The built-in twin of grouped_zscore: same math via Window
    functions — no Python, unbounded group size. Prefer this one."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col)
    v = F.col(value_col)
    sd = F.stddev_samp(value_col).over(w)
    return df.withColumn(
        "zscore",
        F.when(sd.isNull() | (sd == 0), 0.0).otherwise(
            (v - F.avg(value_col).over(w)) / sd
        ),
    )


def make_chunk_udtf(size: int = 32, stride: int = 24):
    """Python UDTF (Spark >= 3.5 table function) emitting overlapping
    word-window chunks per document — the per-row-Python tier of the
    custom-operator ladder. Production chunking uses the built-in
    composition in ``operators.text.chunk_documents`` (codegen'd, no
    Python); this exists as the extension-point surface (the reference
    has zero UDF/UDTF extension points — SURVEY.md §2.2 last row) and is
    tested equal to the built-in path.

    Register and call from SQL:
        spark.udtf.register("chunk_document", make_chunk_udtf())
        SELECT c.* FROM documents, LATERAL chunk_document(doc_id, text) c
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk string, n_words int")
    class ChunkDocument:
        def eval(self, doc_id, text):
            words = (text or "").split(" ")
            n = max(len(words), 1)
            for idx, start in enumerate(range(0, n, stride)):
                piece = words[start : start + size]
                yield doc_id, idx, " ".join(piece), len(piece)

    return ChunkDocument
