"""Snapshot .explain("formatted") for the bench headliners into
plans/<round>/<query>_<tag>.txt — the optimization round's before/after
plan evidence (driver cannot run Spark; these files are the record).
The round dir defaults to r14; override with $PLAN_ROUND.

Usage: python tools/plan_snap.py <tag> [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402
from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402
from caseguarddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]
    spark = get_spark("plan-snap")
    queries, _ = build_catalog()
    import os

    outdir = REPO / "plans" / os.environ.get("PLAN_ROUND", "r14")
    outdir.mkdir(parents=True, exist_ok=True)
    names = only or list(bench.BENCH_QUERIES)
    for name in names:
        df = queries[name](spark, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (outdir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
