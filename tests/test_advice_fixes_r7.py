"""Round-13 ADVICE fixes (ADVICE r12, all low):

1. ``calibration_bins_oracle`` interpolated the label predicate as
   ``d.{label_sql}``, table-qualifying only the FIRST identifier — a
   multi-column predicate ("lang = 'en' AND doc_id % 2 = 0") left the
   later refs unqualified, free to resolve against the scored CTE.
   Fixed: the predicate now evaluates in a subselect whose only scope
   is the docs table, matching the Spark side's label_col-over-docs
   semantics for ANY docs-column predicate.
2. ``topk_finalize`` broke rank ties with ``F.col(key).asc()`` (Spark:
   NULLS FIRST) while the batch oracle says ``user_id ASC`` (DuckDB:
   NULLS LAST) — a NULL key tying at the rank-k boundary would diverge.
   Fixed: ``asc_nulls_last`` on the Spark side, ``NULLS LAST`` spelled
   in the oracle.
"""

import duckdb
import pytest


# ---------------------------------------------------------------------------
# 1. calibration label_sql: multi-column predicates resolve over docs
# ---------------------------------------------------------------------------

def test_calibration_multicolumn_label_predicate(spark):
    from pyspark.sql import functions as F

    from datafusion_sqlgen_spark.operators import text as _text
    from datafusion_sqlgen_spark.operators.text import make_hash_weights

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW cal_docs2 AS SELECT * FROM VALUES "
        "(CAST(0 AS BIGINT), 'alpha beta gamma delta', 'en'), "
        "(CAST(1 AS BIGINT), 'omega psi chi phi', 'en'), "
        "(CAST(2 AS BIGINT), 'zeta eta theta iota', 'de'), "
        "(CAST(3 AS BIGINT), 'kappa lambda mu nu', CAST(NULL AS STRING)) "
        "t(doc_id, text, lang)"
    )
    label = (F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)
    mine = sorted(map(tuple, _text.calibration_bins(
        spark.table("cal_docs2"), make_hash_weights(spark),
        label_col=label,
    ).collect()))

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'alpha beta gamma delta', 'en'), "
        "(1, 'omega psi chi phi', 'en'), "
        "(2, 'zeta eta theta iota', 'de'), "
        "(3, 'kappa lambda mu nu', NULL)) t(doc_id, text, lang)"
    )
    # the multi-column predicate that ADVICE r12 flagged: under the old
    # "d.{label_sql}" interpolation the second conjunct was unqualified
    orc = sorted(map(tuple, con.execute(_text.calibration_bins_oracle(
        label_sql="lang = 'en' AND doc_id % 2 = 0")).fetchall()))
    assert len(mine) == len(orc) > 0
    for a, b in zip(mine, orc):
        assert a[0] == b[0] and a[1] == b[1]
        assert abs(a[2] - b[2]) < 1e-9 and abs(a[3] - b[3]) < 1e-9


# ---------------------------------------------------------------------------
# 2. topk_finalize NULL-key rank ties match the oracle (NULLS LAST)
# ---------------------------------------------------------------------------

def test_topk_finalize_null_key_tie_nulls_last(spark):
    from datafusion_sqlgen_spark.streaming.ops import topk_finalize

    # NULL key TIES at the k boundary (k=2): n=5 wins rank 1; the
    # n=3 tie is (NULL vs 7) — NULLS LAST must rank 7 at 2, NULL at 3
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW topk_counts AS SELECT "
        "CAST(day AS TIMESTAMP) day, CAST(user_id AS BIGINT) user_id, "
        "CAST(n AS BIGINT) n FROM VALUES "
        "('2024-01-01', 1, 5), "
        "('2024-01-01', NULL, 3), "
        "('2024-01-01', 7, 3) "
        "t(day, user_id, n)"
    )
    got = {(r["user_id"], r["rnk"]) for r in topk_finalize(
        spark.table("topk_counts"), k=2).collect()}
    assert got == {(1, 1), (7, 2)}

    # and the committed oracle text spells the same null ordering
    from datafusion_sqlgen_spark.workloads import _STREAMING_TOPK_ORACLE
    assert "NULLS LAST" in _STREAMING_TOPK_ORACLE
