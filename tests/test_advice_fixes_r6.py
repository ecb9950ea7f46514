"""Round-12 ADVICE fixes (ADVICE r11):

1. (medium) The comma-join precedence guard now also rejects
   NATURAL RIGHT/FULL JOIN and RIGHT/FULL SEMI|ANTI JOIN after an
   implicit comma cross-join — the original guard only peeked for
   OUTER/JOIN, so those spellings silently left-folded as
   (a CROSS b) RIGHT c, the exact regrouping divergence vs the
   standard's a x (b RIGHT c) the guard was added to reject.
   Bonus found while fixing: RIGHT/FULL SEMI|ANTI JOIN anywhere used
   to silently parse as LEFT semi/anti (inverting which side
   survives); neither Spark nor DuckDB supports the spelling, so it
   now raises.
2. (low) FrameBound covers() treats a zero-interval bound as the
   current row (spanning on either side), so
   RANGE BETWEEN INTERVAL '0' DAY FOLLOWING AND UNBOUNDED FOLLOWING
   with EXCLUDE CURRENT ROW is accepted instead of over-rejected.
   Probing the fix exposed a REAL engine divergence: DuckDB evaluates
   INTERVAL '0' x PRECEDING as a high bound strictly (current row
   excluded: [None, 10, 30] on the fixture) while Spark follows the
   standard (included: [10, 30, 60]) — so the renderer now normalizes
   any zero-interval bound to CURRENT ROW (semantically identical per
   the standard on BOTH sides of the frame), keeping the dual renders
   convergent.
"""

import duckdb
import pytest

from datafusion_sqlgen_spark.parser import ParseError, parse_sql
from tests.conftest import normalize_rows


# ---------------------------------------------------------------------------
# 1. comma-join precedence guard widening
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("tail", [
    "NATURAL RIGHT JOIN region",
    "NATURAL FULL JOIN region",
    "NATURAL RIGHT OUTER JOIN region",
    "RIGHT JOIN region ON n_regionkey = r_regionkey",
    "FULL OUTER JOIN region ON n_regionkey = r_regionkey",
    "RIGHT SEMI JOIN region ON n_regionkey = r_regionkey",
    "FULL ANTI JOIN region ON n_regionkey = r_regionkey",
])
def test_comma_then_right_or_full_rejected(tail):
    with pytest.raises(ParseError):
        parse_sql(f"SELECT 1 FROM customer, nation {tail}")


def test_comma_then_left_and_natural_left_still_parse():
    # LEFT-directional joins after a comma keep the left-fold meaning
    # under the standard's precedence, so they stay accepted
    parse_sql(
        "SELECT 1 FROM customer, nation "
        "LEFT JOIN region ON n_regionkey = r_regionkey"
    )
    parse_sql("SELECT 1 FROM customer, nation NATURAL LEFT JOIN region")
    parse_sql("SELECT 1 FROM customer, nation NATURAL JOIN region")


@pytest.mark.parametrize("spelling", [
    "RIGHT SEMI JOIN region ON n_regionkey = r_regionkey",
    "RIGHT ANTI JOIN region ON n_regionkey = r_regionkey",
    "FULL SEMI JOIN region ON n_regionkey = r_regionkey",
    "FULL ANTI JOIN region ON n_regionkey = r_regionkey",
])
def test_right_full_semi_anti_rejected_everywhere(spelling):
    """Pre-r12 these parsed as LEFT semi/anti — a silent inversion of
    which relation survives the join. Neither Spark nor DuckDB has the
    spelling; it must be a parse error, not a guess."""
    with pytest.raises(ParseError, match="not a supported join type"):
        parse_sql(f"SELECT 1 FROM nation {spelling}")


def test_left_semi_anti_still_parse():
    for d in ("SEMI", "ANTI"):
        plan = parse_sql(
            f"SELECT n_name FROM nation LEFT {d} JOIN region "
            "ON n_regionkey = r_regionkey"
        )
        s = plan.to_sql("spark")
        assert parse_sql(s).to_sql("spark") == s


# ---------------------------------------------------------------------------
# 2. zero-interval frame bounds span the current row
# ---------------------------------------------------------------------------

def test_zero_interval_following_frame_accepted_and_correct():
    q = (
        "SELECT k, ts, SUM(x) OVER (PARTITION BY k ORDER BY ts "
        "RANGE BETWEEN INTERVAL '0' DAY FOLLOWING AND UNBOUNDED "
        "FOLLOWING EXCLUDE CURRENT ROW) AS s FROM t"
    )
    plan = parse_sql(q)  # pre-fix: ValueError 'does not span the current row'
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01', 10), "
        "(1, TIMESTAMP '2024-01-02', 20), "
        "(1, TIMESTAMP '2024-01-03', 30)) v(k, ts, x)"
    )
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) ORDER BY k, ts"
    ).fetchall()
    # frame at row i is rows i..end; EXCLUDE CURRENT ROW removes row i:
    # expected s = sum of strictly-later rows
    assert [r[2] for r in mine] == [50, 30, None]


def test_zero_interval_preceding_high_bound_accepted():
    # UNBOUNDED PRECEDING .. INTERVAL '0' DAY PRECEDING also spans
    q = (
        "SELECT k, ts, SUM(x) OVER (PARTITION BY k ORDER BY ts "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL '0' DAY "
        "PRECEDING EXCLUDE CURRENT ROW) AS s FROM t"
    )
    plan = parse_sql(q)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, TIMESTAMP '2024-01-01', 10), "
        "(1, TIMESTAMP '2024-01-02', 20), "
        "(1, TIMESTAMP '2024-01-03', 30)) v(k, ts, x)"
    )
    mine = con.execute(
        f"SELECT * FROM ({plan.to_sql('duckdb')}) ORDER BY k, ts"
    ).fetchall()
    assert [r[2] for r in mine] == [None, 10, 30]


def test_nonzero_noncovering_interval_frames_still_rejected():
    with pytest.raises(ValueError, match="span"):
        parse_sql(
            "SELECT SUM(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL "
            "'1' DAY FOLLOWING AND UNBOUNDED FOLLOWING EXCLUDE "
            "CURRENT ROW) FROM t"
        )


# ---------------------------------------------------------------------------
# round-12 self-review fixes (inline code review of the r12 diff)
# ---------------------------------------------------------------------------


def test_struct_star_rejected_outside_struct():
    """Review r12 #6: only struct(t.*) parses — other functions keep
    the pre-r12 fail-at-parse behavior."""
    parse_sql("SELECT struct(t.*) AS s FROM tbl t")
    for fn in ("greatest", "count", "concat"):
        with pytest.raises(ParseError):
            parse_sql(f"SELECT {fn}(t.*) FROM tbl t")


def test_mmr_step1_tie_matches_oracle_ordering():
    """Review r12 #2: step 1 must argmax (snapped rel DESC, id ASC)
    like the oracle's s1, NOT the lam-scaled snapped score which can
    collapse two adjacent rel fixed-point cells. Fixture: rels
    0.123456 vs 0.123455 both lam*snap to 0.086419; the HIGHER rel
    must win even though the lower-rel candidate has the smaller id."""
    import math

    lam = 0.7
    f = 10.0 ** 6
    snap = lambda x: math.floor(x * f + 0.5) / f
    assert snap(lam * 0.123456) == snap(lam * 0.123455)  # the collapse
    # the fix picks sorted-by-(rel desc, id asc) index 0:
    rows = sorted([(5, 0.123455), (9, 0.123456)],
                  key=lambda t: (-t[1], t[0]))
    assert rows[0][0] == 9  # higher rel wins despite larger id


def test_streaming_psi_clamps_below_range_mass(spark):
    """Review r12 #3: values below the reference lo must clamp INTO
    bucket 0, not fall off the finalize grid as negative bucket ids."""
    from datafusion_sqlgen_spark.streaming import ops as st

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW psi_probe AS SELECT * FROM VALUES "
        "(TIMESTAMP '2024-01-01 01:00:00', 'purchase', CAST(-50.0 AS DOUBLE)), "
        "(TIMESTAMP '2024-01-01 02:00:00', 'purchase', 5.0), "
        "(TIMESTAMP '2024-01-01 03:00:00', 'purchase', 999.0) "
        "t(ts, event_type, value)"
    )
    # batch DataFrame through the same bucket expression (the stream fn
    # works on batch frames too — groupBy window is batch-executable)
    out = st.drift_psi_stream(
        spark.table("psi_probe"), lo=0.0, hi=10.0, n_buckets=10
    ).collect()
    buckets = {r["bucket"]: r["n_cur"] for r in out}
    assert buckets == {0: 1, 5: 1, 9: 1}  # -50 -> 0, 5.0 -> 5, 999 -> 9


def test_calibration_label_null_counts_negative(spark):
    """Review r12 #4: a NULL default label (lang IS NULL) is a
    NEGATIVE on both engines, not silently dropped from the average."""
    import duckdb as _duck

    from datafusion_sqlgen_spark.operators import text as _text

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW cal_docs AS SELECT * FROM VALUES "
        "(CAST(0 AS BIGINT), 'alpha beta gamma delta', 'en'), "
        "(CAST(1 AS BIGINT), 'omega psi chi phi', CAST(NULL AS STRING)) "
        "t(doc_id, text, lang)"
    )
    from datafusion_sqlgen_spark.operators.text import make_hash_weights

    mine = sorted(map(tuple, _text.calibration_bins(
        spark.table("cal_docs"), make_hash_weights(spark)
    ).collect()))
    con = _duck.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'alpha beta gamma delta', 'en'), "
        "(1, 'omega psi chi phi', NULL)) t(doc_id, text, lang)"
    )
    orc = sorted(map(tuple, con.execute(
        _text.calibration_bins_oracle()).fetchall()))
    assert len(mine) == len(orc)
    for a, b in zip(mine, orc):
        assert a[0] == b[0] and a[1] == b[1]
        assert abs(a[2] - b[2]) < 1e-9 and abs(a[3] - b[3]) < 1e-9
