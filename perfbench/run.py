"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. The line before it
carries the per-operation breakdown and, traced, the tracing overhead:
traced minus untraced end-to-end metrics, against the median of the
untraced runs of the same workload made earlier in this checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK_ROOT = REPO / ".perfbench_work"


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.

    The engine talks to its Python workers over unix domain sockets,
    whose paths may not exceed 107 bytes. They are made in a directory
    named relative to the repository root, the working directory of the
    JVM and its workers, so a checkout at a long path still fits."""
    os.chdir(REPO)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    local = work / "spark-local"
    tmp = work / "tmp"
    sockets = work / "s"
    for d in (local, tmp, sockets):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        f"--conf spark.python.unix.domain.socket.dir="
        f"{sockets.relative_to(REPO)} pyspark-shell"
    )


def _stop_jvm() -> None:
    """End the Spark JVM and its Python workers, and wait for them: the
    JVM exits when its stdin pipe closes, and its workers follow it."""
    from pyspark import SparkContext
    from tracing import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    left = descendants()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = {p for p in left if _alive(p)}
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process not yet reaped by its
    new parent counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("caseguarddatapipeline_spark", "tools/parity.py")
               if not (REPO / p).exists()]
    if missing:
        print(f"perfbench: the program under test is missing: {missing}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, str(HERE))
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work)
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop()
        _stop_jvm()
        workloads.clean(work)

    # every untraced run's end-to-end metrics are kept, so a traced run
    # can report its overhead against the median of them
    saved = WORK_ROOT / "results" / f"{args.workload}.jsonl"
    e2e = run.detail["end_to_end"]
    if args.trace:
        base = ([json.loads(line) for line in saved.read_text().splitlines()]
                if saved.exists() else [])
        # runs saved before a metric existed do not count for it
        base = {k: [b[k] for b in base if k in b] for k in e2e}
        run.detail["tracing_overhead"] = {
            k: e2e[k] - statistics.median(base[k]) if base[k]
            else "no untraced run of this workload in this checkout"
            for k in e2e
        }
    else:
        saved.parent.mkdir(parents=True, exist_ok=True)
        with saved.open("a") as fh:
            fh.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
    print(workloads.dump_detail(run))

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
