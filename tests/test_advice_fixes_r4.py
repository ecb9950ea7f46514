"""Hand-written oracles for plan workloads, restated against the registry.

A plan workload's oracle is hand-written when it is not its own
``plan.to_sql("duckdb")`` text: the driver sample must carry such an
oracle for every plan row it checks, and the campaign total must not
shrink below 55.
"""

from datafusion_sqlgen_spark.workloads import catalog


def _norm(sql: str) -> str:
    return " ".join(sql.split())


def _is_hand_oracle(w) -> bool:
    try:
        render = w.plan.to_sql("duckdb")
    except ValueError:  # fail-closed renders have no DuckDB text
        return True
    return _norm(render) != _norm(w.oracle)


def test_every_sampled_ir_workload_has_hand_oracle():
    """Every plan row in the 50-row driver sample is checked against an
    independent oracle, never against its own DuckDB render."""
    sample = list(catalog().items())[:50]
    missing = [
        n for n, w in sample
        if w.plan is not None and not _is_hand_oracle(w)
    ]
    assert missing == [], f"sampled plan rows without hand oracle: {missing}"


def test_hand_oracle_campaign_total():
    n = sum(
        w.plan is not None and _is_hand_oracle(w)
        for w in catalog().values()
    )
    assert n >= 55, n
