import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_sqlgen_spark import get_spark, register_tables

    spark = get_spark(app_name="dsq-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                      shuffle_partitions=8)
    register_tables(spark, SF_DIR)
    yield spark


@pytest.fixture(autouse=True)
def _release_session_scope():
    """Release the session scope after every test, so no test sees the
    pins, checkpoints or work dirs another test left behind."""
    yield
    from datafusion_sqlgen_spark.materialize import release_session

    release_session()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from datafusion_sqlgen_spark.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con


def cached_rdds(spark) -> set:
    """Ids of the RDDs that hold storage blocks right now."""
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.memSize() + i.diskSize() > 0
    }


def normalize_rows(rows, ndigits=4):
    """Order-insensitive, float-rounded row multiset for comparisons."""
    import datetime as dt
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, ndigits)
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, dt.date):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
            return float(v)  # Decimal
        return v

    return sorted(
        (tuple(norm(v) for v in row) for row in rows),
        key=lambda r: tuple(str(x) for x in r),
    )


def assert_plan_matches_oracle(spark, duck, plan, ndigits=4):
    """The dual-render + oracle invariant in one helper:
    to_df(spark) == spark.sql(to_sql('spark')) == duckdb(to_sql('duckdb'))."""
    df_rows = [tuple(r) for r in plan.to_df(spark).collect()]
    sql_spark = plan.to_sql("spark")
    sql_rows = [tuple(r) for r in spark.sql(sql_spark).collect()]
    sql_duck = plan.to_sql("duckdb")
    duck_rows = duck.execute(sql_duck).fetchall()
    a, b, c = (
        normalize_rows(df_rows, ndigits),
        normalize_rows(sql_rows, ndigits),
        normalize_rows(duck_rows, ndigits),
    )
    assert a == b, f"DataFrame != spark.sql\nSQL: {sql_spark}\n{a[:5]}\nvs\n{b[:5]}"
    assert a == c, f"Spark != DuckDB oracle\nSpark SQL: {sql_spark}\nDuck SQL: {sql_duck}\n{a[:5]}\nvs\n{c[:5]}"
    return a
