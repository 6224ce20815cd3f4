"""Simulate the verify driver: vanilla SparkSession + __spark_entry__ contract.

Unlike tools/parity.py (which uses the engine's tuned session), this creates
a bare SparkSession the way an external driver would, imports the entry
module, smoke-runs entry(), then checks every queries() entry against its
oracle_sql() on DuckDB at the given sf dir.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from pyspark.sql import SparkSession  # noqa: E402

from parity import compare, oracle_connection  # noqa: E402


def main() -> int:
    # usage: driver_sim.py [sf_dir] [query ...] — with names given, only
    # those queries run (entry() smoke still runs): vanilla-session spot
    # checks without the full 10-minute sweep
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as mod

    out = mod.entry(spark)
    rows = out.collect()
    print(f"entry(): {len(rows)} rows, schema={out.schema.simpleString()}")
    for r in rows:
        print("  ", r)
    assert len(rows) > 0, "entry() returned no rows"

    con = oracle_connection(sf_dir)

    queries, oracles = mod.queries(), mod.oracle_sql()
    if only:
        queries = {n: f for n, f in queries.items() if n in only}
    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            n_rows_only += 1
            continue
        problems = compare(sdf, con.execute(oracles[name]).fetchdf())
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"\ndriver-sim: {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
