"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB at a given sf dir,
compares row count, column names, and order-insensitive values (floats
compared exactly after the in-query rounding both engines apply).

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402
from caseguarddatapipeline_spark.session import get_spark  # noqa: E402
from caseguarddatapipeline_spark.sources import TABLES  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The real driver hashes raw values, so an int64-vs-float64 column
        # (e.g. Spark BIGINT vs a DuckDB HUGEINT sum widened to float) hash-
        # mismatches even when the values are equal. Surface that here so
        # oracle dtype drift is caught locally (the q12 round-3 red row was
        # exactly this artifact).
        kinds = {av.dtype.kind, bv.dtype.kind}
        if kinds & {"i", "u"} and "f" in kinds:
            problems.append(
                f"col {c}: dtype-kind mismatch spark={av.dtype} duck={bv.dtype}"
                " (driver value-hash would differ; CAST the oracle)"
            )
            continue
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = ((av - bv).abs() < 1e-9) | (av.isna() & bv.isna())
            else:
                ok = (av == bv) | (av.isna() & bv.isna())
            if not ok.all():
                bad = (~ok).idxmax()
                problems.append(
                    f"col {c}: first mismatch row {bad}: spark={av[bad]!r} duck={bv[bad]!r}"
                )
        except Exception as e:  # dtype mismatch etc.
            problems.append(f"col {c}: compare error {e} (spark {av.dtype}, duck {bv.dtype})")
    return problems


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table file in ``sf_dir`` —
    the names every oracle reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    queries, oracles = build_catalog()
    spark = get_spark("parity")
    con = oracle_connection(sf_dir)
    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:500]}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS-ONLY" if len(sdf) >= 0 else "EMPTY"
            print(f"{status:9s} {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:500]}")
            n_fail += 1
            continue
        problems = compare(sdf, ddf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS      {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
