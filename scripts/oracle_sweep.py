#!/usr/bin/env python
"""Driver-mimic correctness sweep: run every ``queries()`` entry on Spark
and its ``oracle_sql()`` on DuckDB at the same sf dir, and compare them
with ``registry.oracle_mismatch`` — the driver-strength rule tier-1's
catalog gate applies at sf0.001 (column names, row count, dtype kind,
floats within rtol 1e-6, everything else exact).

Usage: python scripts/oracle_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from datafusion_sqlgen_spark import TABLES, get_spark, register_tables
    from datafusion_sqlgen_spark.registry import oracle_mismatch

    # keep ok/FAIL lines greppable: the console progress bar's \r glues
    # itself onto result lines otherwise (static conf — must be set at
    # session build, not via spark.conf.set)
    spark = get_spark(
        app_name="oracle-sweep",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name in sorted(queries):
        if only and name not in only:
            continue
        try:
            got = queries[name](spark, sf_dir).toPandas()
            why = oracle_mismatch(got, con.execute(oracles[name]).df())
        except Exception as ex:  # noqa: BLE001
            why = f"error {ex!r}"
        if why is None:
            print(f"ok    {name}: {len(got)} rows, values match")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {why}"[:300])

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
