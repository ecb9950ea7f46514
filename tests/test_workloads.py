"""The workload registry: driver-sample rotation, oracle coverage, and
the counts the docs quote from it."""

import json
import os
import re

import pytest

from datafusion_sqlgen_spark.workloads import (
    _latest_driver_rows,
    build_oracles,
    build_queries,
    catalog,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _max_shipped_round() -> int:
    """Highest N across CORRECTNESS_r*.json in the repo root."""
    import glob

    rounds = [
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
    ]
    assert rounds, "no CORRECTNESS artifacts found"
    return max(rounds)


def test_sample_is_never_sampled_then_stale_oldest_first():
    """Rotation policy, recomputed here independently of
    ``workloads._rotation``: the sample leads with red-at-latest rows,
    then every workload with NO driver row through the max shipped round
    (weakest evidence), then the stale backlog oldest-first."""
    latest: dict[str, int] = {}
    latest_row: dict[str, dict] = {}
    for r in range(1, _max_shipped_round() + 1):
        with open(os.path.join(_REPO, f"CORRECTNESS_r{r:02d}.json")) as f:
            for name, row in json.load(f).items():
                latest[name] = r
                latest_row[name] = row
    catalog = list(build_queries())
    red = [n for n in catalog
           if n in latest_row and not latest_row[n].get("hash_match")]
    never = [n for n in catalog if n not in latest]
    stale = sorted(
        (n for n in catalog if n in latest and n not in red),
        key=lambda n: (latest[n], catalog.index(n)),
    )
    expected = (red + never + stale)[:50]
    assert catalog[:50] == expected, (
        [(i, a, b) for i, (a, b) in enumerate(zip(catalog[:50], expected))
         if a != b])
    # every never-sampled row made the window
    assert set(never) <= set(catalog[:50])


def test_no_workload_has_ever_finished_red():
    """Every workload's most recent driver check must be green; a red
    row means a regression the rotation must prioritize over freshness.
    Globs ALL CORRECTNESS files."""
    import glob

    latest_row: dict = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            latest_row.update(json.load(f))  # later rounds win
    assert len(latest_row) >= 193  # grows monotonically
    names = set(build_queries())
    stuck_red = sorted(
        n for n, row in latest_row.items()
        if n in names and not row.get("hash_match")
    )
    assert stuck_red == [], f"workloads red at latest check: {stuck_red}"


def test_sampled_workloads_have_oracles():
    """Everything in the sample window gets the STRONG driver check
    (rows+schema+hash vs DuckDB), with no exceptions."""
    oracles = build_oracles()
    missing = [
        n for n in list(build_queries())[:50] if n not in oracles
    ]
    assert missing == [], f"sampled workloads without oracle SQL: {missing}"


def test_latest_driver_rows_numeric_round_order(tmp_path):
    # r2 (green) then r100 (red): lexically r100 < r2, so a lexical
    # merge would let r2 overwrite r100 and report the row green/stale
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps(
        {"wl": {"hash_match": True}}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps(
        {"wl": {"hash_match": False}}))
    latest_round, latest_row = _latest_driver_rows(str(tmp_path))
    assert latest_round["wl"] == 100
    assert latest_row["wl"]["hash_match"] is False


def test_latest_driver_rows_padded_files_still_ordered(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"wl": {"hash_match": False}, "only_r01": {"hash_match": True}}))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps(
        {"wl": {"hash_match": True}}))
    latest_round, latest_row = _latest_driver_rows(str(tmp_path))
    assert latest_round == {"wl": 12, "only_r01": 1}
    assert latest_row["wl"]["hash_match"] is True


def test_plan_oracles_differ_from_their_own_render():
    """Every plan workload ships a hand-written oracle, never its own
    ``plan.to_sql("duckdb")``: a rendering bug shared by both dialects
    would otherwise confirm itself. Only the fail-closed ASOF+tolerance
    renders have no DuckDB text to compare against."""
    def norm(sql: str) -> str:
        return " ".join(sql.split())

    same, unrenderable = [], []
    for name, w in catalog().items():
        if w.plan is None:
            continue
        try:
            render = w.plan.to_sql("duckdb")
        except ValueError:
            unrenderable.append(name)
            continue
        if norm(render) == norm(w.oracle):
            same.append(name)
    assert same == [], f"oracles identical to their own render: {same}"
    assert sorted(unrenderable) == [
        "parsed_asof_tolerance", "parsed_asof_tolerance_left"]


def _plan_classes(cls):
    for sub in cls.__subclasses__():
        yield sub
        yield from _plan_classes(sub)


def test_plan_workloads_run_their_spark_sql(spark, monkeypatch):
    """A plan workload's build is one ``spark.sql`` call on the plan's
    Spark SQL rendering; no node's ``to_df`` runs."""
    from datafusion_sqlgen_spark.plans import Plan

    calls = {"sql": 0, "to_df": 0}

    def never(self, spark):
        calls["to_df"] += 1
        raise AssertionError(f"{type(self).__name__}.to_df called")

    for cls in (Plan, *_plan_classes(Plan)):
        if "to_df" in vars(cls):
            monkeypatch.setattr(cls, "to_df", never)
    sql = spark.sql

    def counted(text, *args, **kwargs):
        calls["sql"] += 1
        return sql(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", counted)
    for name, w in catalog().items():
        if w.plan is None:
            continue
        before = calls["sql"]
        w.build(spark)
        assert calls["sql"] == before + 1, name
    assert calls["to_df"] == 0


def test_with_workloads_leave_no_temp_views(spark):
    """CTEs are bound inside the query text, so building a ``With``
    workload registers no view that outlives it. A fresh session keeps
    the views other tests registered out of the comparison."""
    from datafusion_sqlgen_spark.catalog import register_tables
    from tests.conftest import SF_DIR

    session = spark.newSession()
    register_tables(session, SF_DIR)
    before = sorted(t.name for t in session.catalog.listTables())
    queries = build_queries()
    for name in ("cte_top_customers", "tpch_q15", "parsed_win_topn",
                 "parsed_cte_agg", "parsed_script_views"):
        queries[name](session, SF_DIR)
    assert sorted(t.name for t in session.catalog.listTables()) == before


def _n_workloads() -> int:
    return len(catalog())


def _n_plan_workloads() -> int:
    return sum(w.plan is not None for w in catalog().values())


# doc, the patterns whose every captured number is quoted from the
# registry, and the registry count they must all equal
_DOC_COUNTS = {
    "readme-catalog": (
        "README.md", [r"(\d+)-query catalog", r"all (\d+) workloads"],
        _n_workloads),
    "readme-plan-oracles": (
        "README.md", [r"all (\d+) plan workloads carry"],
        _n_plan_workloads),
    "coverage-sweep-stamp": (
        "COVERAGE.md", [r"(\d+)/(\d+) green at\s+each scale"],
        _n_workloads),
    "coverage-plan-oracles": (
        "COVERAGE.md", [r"`workloads\.catalog\(\)`, (\d+)\s+rows"],
        _n_plan_workloads),
}


@pytest.mark.parametrize("case", list(_DOC_COUNTS))
def test_doc_counts_match_registry(case):
    doc, patterns, count = _DOC_COUNTS[case]
    with open(os.path.join(_REPO, doc)) as f:
        text = f.read()
    cited = {
        int(g) for p in patterns for m in re.finditer(p, text)
        for g in m.groups()
    }
    assert cited == {count()}, (
        f"{doc} cites {sorted(cited)}, registry has {count()}")


def test_no_repo_root_debris():
    """Keep the repo root free of accidental log/tmp droppings (a stray
    oracle_sweep usage trace once landed there as err.log)."""
    debris = [
        f for f in os.listdir(_REPO)
        if f.endswith((".log", ".tmp", ".bak", ".orig"))
    ]
    assert debris == [], f"repo-root debris: {debris}"
