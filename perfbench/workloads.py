"""The benchmark's workloads: ``serve`` and ``tail``.

Each workload sets up (session, catalog, tables) several times and
reports the median, runs its measured operations (``serve`` after an
untimed warm-up pass), checks their outputs outside the timed window and
returns its metrics. See README.md for why each workload exists and what
each metric means.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import gen
from tracing import Tracer, peak_rss_mb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from caseguarddatapipeline_spark import flows  # noqa: E402
from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402
from caseguarddatapipeline_spark.session import (  # noqa: E402
    enable_low_latency,
    get_spark,
)
from caseguarddatapipeline_spark.sources.tables import (  # noqa: E402
    TABLES,
    disable_warm_cache,
    enable_warm_cache,
    load_table,
)
from caseguarddatapipeline_spark.streaming.assembly import (  # noqa: E402
    run_assembly_stream,
)
from parity import _canon, compare  # noqa: E402

# The 21 serving classes: the 20 headline queries of the DuckDB 2x gate
# plus the DataFrame form of the flagship, whose plan build is the
# costliest of the SQL-vs-DataFrame twins.
SERVE_QUERIES = [
    "q1_pricing_summary_sql", "q3_shipping_priority_sql",
    "q5_regional_volume_sql", "q18_large_orders_sql", "j5_brand_revenue",
    "a1_reconciliation_summary_sql", "a5_group_stats",
    "a6_hourly_throughput", "w2_recent_events_per_entity",
    "f11_json_decode_validate", "e1_exact_dedup",
    "e1_minhash_lsh_vectorized", "e2_cosine_topk_vectorized",
    "e2_knn_per_query_vectorized", "e3_quality_score", "e4_multimodal_join",
    "e1_span_dedup_sql", "e3_bpe_encode_sql", "e5_global_token_budget_sql",
    "e2_sq8_search_sql", "a1_reconciliation_summary",
]
# The heavy tail, in the fixed order of one batch run: shuffle- and
# checkpoint-bound catalog queries, then the flagship flow and the
# streaming assembly drain. Other heavy queries are left out to keep a run
# near a minute (README.md, "Sizing").
TAIL_QUERIES = ["e5_dedup_report", "e1_dedup_clusters"]
TAIL_ORDER = TAIL_QUERIES + ["sync_tenant_daily", "assembly_stream"]
# The DuckDB twin timed right after each operation: its oracle SQL. The
# daily sync's twin is the flagship summary it is built on; the assembly
# drain has none.
TWINS = {n: n for n in SERVE_QUERIES + TAIL_QUERIES}
TWINS["sync_tenant_daily"] = "a1_reconciliation_summary"
STREAM_STAGES = ["admission_exact_dedup", "signature_kernel",
                 "neardup_probe", "quality_budget", "state_writes"]
OP_FIELDS = ["call_ms", "exec_ms", "jobs"]

# The metrics every workload emits, in BENCHMARK.json's order: the
# end-to-end ones untraced, the per-layer ones traced. A workload emits 0
# for an operation or a streaming drain it does not run.
E2E_METRICS = ["setup_s", "vs_duckdb"]
LAYER_METRICS = [
    "pass_s", "op_ms", "peak_rss_mb", "session.start_s", "catalog.build_s",
    "sources.warm_s", "warmup_s",
    "floor.job_launch_ms", "floor.exchange_ms", "floor.broadcast_ms",
    "floor.python_stage_ms", "operators.call_ms", "operators.call_share",
    "exec.exec_ms", "exec.jobs_per_op", "exec.stages_per_op",
    "exec.tasks_per_op", "exec.exchanges_per_op", "exec.shuffle_kb_per_op",
    "exec.scan_kb_per_op",
    "streaming.batches", "streaming.batch_ms", "streaming.add_batch_ms",
    "streaming.planning_ms",
    *[f"streaming.stage.{s}_s" for s in STREAM_STAGES],
    *[f"op.{n}.{f}" for n in SERVE_QUERIES + TAIL_ORDER for f in OP_FIELDS],
]

# Sizes chosen from traced runs on a 4-core box (README.md, "Sizing"):
# they keep a run of either workload near a minute.
SERVE_SF = 0.01
TAIL_SF = 0.01
# the first round starts the JVM and the next one still warms its JIT, so
# the median of 5 lands on a warm round
SETUP_ROUNDS = 5
ASSEMBLY_DOCS, ASSEMBLY_FILES, ASSEMBLY_FILES_PER_TRIGGER = 1_000, 4, 2
# near copies the 4x4-band MinHash gate may miss: a pair sharing 78 of
# 79 shingles still misses now and then
NEAR_MISS_TOLERANCE = 0.05


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


def geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values))


def oracle_problems(spark_pdf, duck_pdf) -> list[str]:
    """``tools/parity.compare``, except that a floating column may differ
    by one cent: the two engines sum large money columns in different
    orders, so a sum that lands on a rounding boundary can round to
    neighbouring cents on some generated inputs."""
    import numpy as np

    problems = compare(spark_pdf, duck_pdf)
    if not problems or len(spark_pdf) != len(duck_pdf):
        return problems
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    left = []
    for p in problems:
        col = p[4:p.index(":")] if p.startswith("col ") else None
        if (col in a and a[col].dtype.kind == "f" and b[col].dtype.kind == "f"
                and np.allclose(a[col], b[col], rtol=1e-12, atol=0.01,
                                equal_nan=True)):
            continue
        left.append(p)
    return left


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probes(spark) -> dict:
    """Plans that each add one fixed cost to a one-task job: an exchange,
    a broadcast join, a Python (Arrow) stage."""
    import pyspark.sql.functions as F

    def base():
        return spark.range(0, 1000, 1, 1)

    def identity(it):
        yield from it

    return {
        "job": base,
        "exchange": lambda: base().groupBy((F.col("id") % 7).alias("k"))
        .count(),
        "broadcast": lambda: base().join(
            F.broadcast(spark.range(0, 10, 1, 1)), "id"
        ),
        "python": lambda: base().mapInArrow(identity, "id long"),
    }


class Run:
    """One benchmark run: set-up, warm-up, measured operations, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: Path) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.attempted = self.failed = 0
        self.spark = None
        self.tracer: Tracer | None = None
        # per operation class, per measured execution: call/exec seconds
        # and, traced, the status-surface counts
        self.ops: dict[str, dict[str, list[float]]] = {}
        self.stream_groups: list[str] = []
        self.detail: dict = {}
        self.duck = None
        # per measured pass: Spark seconds over DuckDB seconds for the twins
        self.ratios: list[float] = []

    # -- bookkeeping --------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAIL {what}", file=sys.stderr)

    def call(self, name: str, fn, action=None,
             measured: bool = True) -> float | None:
        """Run one operation. ``fn()`` is the call into the engine; it
        returns a DataFrame, which ``action`` then executes (default: the
        noop sink), or None when the call did all its work eagerly. A
        measured call records its call and execution seconds. Returns the
        seconds taken, or None when the operation failed."""
        traced = measured and self.tracer is not None
        group = self.tracer.begin() if traced else None
        self.stream_groups = []
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = fn()
            t1 = time.perf_counter()
            if df is not None:
                (action or _noop)(df)
            t2 = time.perf_counter()
        except Exception as e:  # a failed operation counts, the run goes on
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if traced:
                self.tracer.end()
        if not measured:
            return t2 - t0
        slot = self.ops.setdefault(name, {})
        values = {"call_s": t1 - t0, "exec_s": t2 - t1}
        if traced:
            # streaming drains run their jobs under the query's run id
            st = self.tracer.stats([group, *self.stream_groups])
            values.update(jobs=st.jobs, stages=st.stages, tasks=st.tasks,
                          exchanges=st.exchanges,
                          shuffle_bytes=st.shuffle_bytes,
                          scan_bytes=st.scan_bytes)
        for k, v in values.items():
            slot.setdefault(k, []).append(v)
        return t2 - t0

    def measured_pass(self, order: list[str], op_for, sink_for=None) -> None:
        """Run ``order`` once, measured. Right after each operation its
        DuckDB twin runs twice on the same files and the faster run
        counts, so both engines are timed under the same load on a shared
        box; the pass's ratio of summed Spark time to summed twin time
        goes to ``ratios``."""
        spark_s = duck_s = 0.0
        for name in order:
            took = self.call(name, op_for(name),
                             sink_for(name) if sink_for else None)
            if took is None:
                continue
            spark_s += took
            if name in TWINS:
                twin = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    self.duck.sql(self.oracles[TWINS[name]]).arrow()
                    twin.append(time.perf_counter() - t0)
                duck_s += min(twin)
        if duck_s:
            self.ratios.append(spark_s / duck_s)

    def open_twins(self, sf_dir: str, names: list[str]) -> None:
        """A DuckDB connection over the workload's files, with the twin of
        each of ``names`` run once untimed."""
        self.duck = _duck(sf_dir)
        for n in names:
            if n in TWINS:
                self.duck.sql(self.oracles[TWINS[n]]).arrow()

    def passes(self, orders: list[list[str]], one_pass,
               at_least: int = 1) -> list[float]:
        """Measured passes in the seeded orders: after the first
        ``at_least``, a pass starts while it is expected to end inside
        ``seconds``. Returns each pass's wall seconds."""
        walls: list[float] = []
        start = time.perf_counter()
        for p, order in enumerate(orders):
            spent = time.perf_counter() - start
            if (len(walls) >= at_least
                    and spent + statistics.median(walls) > self.seconds):
                break
            t0 = time.perf_counter()
            one_pass(p, order)
            walls.append(time.perf_counter() - t0)
        return walls

    # -- set-up -------------------------------------------------------------

    def setup(self, app: str, sf_dir: str, serving: bool) -> float:
        """SETUP_ROUNDS rounds of session start, catalog build and table
        load (plus cache materialization under the serving profile);
        rounds after the first restart the SparkContext in the same JVM.
        Returns the median round time."""
        rounds: list[dict[str, float]] = []
        for _ in range(SETUP_ROUNDS):
            if self.spark is not None:
                disable_warm_cache()
                self.spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app)
            t1 = time.perf_counter()
            self.queries, self.oracles = build_catalog()
            t2 = time.perf_counter()
            if serving:
                enable_warm_cache(nproc())
                enable_low_latency(spark, shuffle_partitions=nproc())
            for t in TABLES:
                df = load_table(spark, sf_dir, t)
                if serving:
                    _noop(df)
            t3 = time.perf_counter()
            rounds.append({"session.start_s": t1 - t0,
                           "catalog.build_s": t2 - t1,
                           "sources.warm_s": t3 - t2, "total": t3 - t0})
            self.spark = spark
        self.detail["setup_rounds"] = rounds
        if self.trace:
            self.tracer = Tracer(self.spark)
        return statistics.median(r["total"] for r in rounds)

    def stop(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None
        if self.spark is not None:
            disable_warm_cache()
            self.spark.stop()
            self.spark = None

    # -- checks -------------------------------------------------------------

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.fail(f"{name}: {'; '.join(problems)[:400]}")

    def check_queries(self, sf_dir: str, outputs: dict) -> None:
        """Each query output (a pandas frame, or a zero-argument function
        that reads one) against its DuckDB oracle."""
        con = _duck(sf_dir)
        try:
            for name, pdf in outputs.items():
                if callable(pdf):
                    pdf = pdf()
                duck = con.sql(self.oracles[name]).fetchdf()
                self.check(name, oracle_problems(pdf, duck))
        finally:
            con.close()

    # -- floors (traced runs only) -------------------------------------------

    def floors(self) -> dict[str, float]:
        """The named fixed costs, recomputed on this box: a one-task job,
        and the extra cost of one exchange, one broadcast join and one
        Python (Arrow) stage over it. Median of 5 after one warm-up."""
        med = {}
        for name, make in _probes(self.spark).items():
            _noop(make())
            samples = []
            for _ in range(5):
                t0 = time.perf_counter()
                _noop(make())
                samples.append(time.perf_counter() - t0)
            med[name] = statistics.median(samples) * 1000
        job = med["job"]
        return {
            "floor.job_launch_ms": job,
            "floor.exchange_ms": med["exchange"] - job,
            "floor.broadcast_ms": med["broadcast"] - job,
            "floor.python_stage_ms": med["python"] - job,
        }


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads={nproc()}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def finish(run: Run, setup_s: float, passes: list[float]) -> dict[str, float]:
    """The run's metrics: end-to-end untraced, per-layer traced. Both
    sets are also kept in ``run.detail`` with the per-class breakdown."""
    ops = run.ops
    latencies = [c + e for o in ops.values()
                 for c, e in zip(o["call_s"], o["exec_s"])]
    # each class's median latency, so a burst of load on the shared box
    # during one pass moves neither metric
    typical = [
        statistics.median(c + e for c, e in zip(o["call_s"], o["exec_s"]))
        for o in ops.values()
    ]
    e2e = {
        "setup_s": setup_s,
        "vs_duckdb": statistics.median(run.ratios),
    }
    run.detail.update(
        end_to_end=e2e, pass_s=sum(typical), op_ms=geomean(typical) * 1000,
        ratios=run.ratios,
        peak_rss_mb=peak_rss_mb(), passes_s=passes,
        latencies=len(latencies),
        latency_p50_ms=nearest_rank(latencies, 50) * 1000,
        latency_p95_ms=nearest_rank(latencies, 95) * 1000,
        ops={name: {k: statistics.median(v) for k, v in vals.items()}
             for name, vals in ops.items()},
    )
    out = _layer_metrics(run) if run.trace else e2e
    want = LAYER_METRICS if run.trace else E2E_METRICS
    assert list(out) == want, f"emitted {list(out)} != {want}"
    return out


def _layer_metrics(run: Run) -> dict[str, float]:
    """The per-layer metrics every workload emits (see README.md): means
    per measured operation execution, so the costly classes weigh in."""
    samples = [o for o in run.ops.values()]

    def mean(key: str) -> float:
        return statistics.fmean(v for o in samples for v in o[key])

    rounds = run.detail["setup_rounds"]
    out = {"pass_s": run.detail["pass_s"], "op_ms": run.detail["op_ms"],
           "peak_rss_mb": run.detail["peak_rss_mb"]}
    out.update({
        k: statistics.median(r[k] for r in rounds)
        for k in ("session.start_s", "catalog.build_s", "sources.warm_s")
    })
    call, exe = mean("call_s"), mean("exec_s")
    stream = run.detail.get("assembly", {})
    stages = stream.get("stage_s", {})
    out.update({
        "warmup_s": run.detail["warmup_s"],
        **run.floors(),
        "operators.call_ms": call * 1000,
        "operators.call_share": call / (call + exe),
        "exec.exec_ms": exe * 1000,
        "exec.jobs_per_op": mean("jobs"),
        "exec.stages_per_op": mean("stages"),
        "exec.tasks_per_op": mean("tasks"),
        "exec.exchanges_per_op": mean("exchanges"),
        "exec.shuffle_kb_per_op": mean("shuffle_bytes") / 1024,
        "exec.scan_kb_per_op": mean("scan_bytes") / 1024,
        "streaming.batches": stream.get("batches", 0),
        "streaming.batch_ms": stream.get("batch_ms", 0.0),
        "streaming.add_batch_ms": stream.get("add_batch_ms", 0.0),
        "streaming.planning_ms": stream.get("planning_ms", 0.0),
    })
    for s in STREAM_STAGES:
        out[f"streaming.stage.{s}_s"] = stages.get(s, 0.0)
    for name in SERVE_QUERIES + TAIL_ORDER:
        o = run.ops.get(name)
        med = {k: statistics.median(v) for k, v in o.items()} if o else {}
        out[f"op.{name}.call_ms"] = med.get("call_s", 0.0) * 1000
        out[f"op.{name}.exec_ms"] = med.get("exec_s", 0.0) * 1000
        out[f"op.{name}.jobs"] = med.get("jobs", 0)
    return out


# -- serve ------------------------------------------------------------------


def serve(run: Run) -> dict[str, float]:
    """Closed loop, one client, warm-cached tables, serving profile."""
    sf_dir = str(run.work / "sf")
    gen.write_star(sf_dir, SERVE_SF, run.seed)
    setup = run.setup("perfbench-serve", sf_dir, serving=True)
    spark, queries = run.spark, run.queries
    orders = gen.pass_orders(SERVE_QUERIES, 1000, run.seed)

    # warm-up: the first execution of every class, collected for checks
    outputs = {}
    t0 = time.perf_counter()
    for name in orders[0]:
        def collect(df, name=name):
            outputs[name] = df.toPandas()
        run.call(name, lambda: queries[name](spark, sf_dir), collect,
                 measured=False)
    run.detail["warmup_s"] = time.perf_counter() - t0
    run.check_queries(sf_dir, outputs)
    del outputs
    run.open_twins(sf_dir, SERVE_QUERIES)

    def one_pass(p: int, order: list[str]) -> None:
        run.measured_pass(
            order, lambda name: lambda: queries[name](spark, sf_dir))

    # two passes at least, so every class has two samples even when the
    # shared box runs slow
    passes = run.passes(orders[1:], one_pass, at_least=2)
    return finish(run, setup, passes)


# -- tail -------------------------------------------------------------------


def tail(run: Run) -> dict[str, float]:
    """Batch profile (AQE on, shuffle width = cores, no table cache): one
    batch run of the heavy catalog queries, the flagship daily-sync flow
    and a streaming assembly drain, timed cold, as a scheduled batch job
    runs in a fresh session, so nothing is warmed first. Each query
    writes its result as parquet, the batch sink; the outputs are checked
    from disk after the timed pass."""
    import pandas as pd

    sf_dir = str(run.work / "sf")
    gen.write_star(sf_dir, TAIL_SF, run.seed)
    corpus_dir = str(run.work / "corpus")
    truth = gen.assembly_corpus(corpus_dir, ASSEMBLY_DOCS, ASSEMBLY_FILES,
                                run.seed)
    budget = ASSEMBLY_DOCS * gen.ASSEMBLY_TOKENS // 4 * 6 // 10
    setup = run.setup("perfbench-tail", sf_dir, serving=False)
    spark = run.spark
    run.detail["warmup_s"] = 0.0

    out = run.work / "out"
    results: dict[str, object] = {}

    run.open_twins(sf_dir, TAIL_ORDER)

    def sink(name: str):
        if name in TAIL_QUERIES:
            return lambda df: df.write.parquet(str(out / name))
        return None

    def one_pass(p: int, order: list[str]) -> None:
        run.measured_pass(
            order,
            lambda name: _tail_op(run, name, sf_dir, corpus_dir, budget,
                                  out, results),
            sink,
        )

    passes = run.passes([TAIL_ORDER], one_pass)
    run.check_queries(sf_dir, {
        n: (lambda n=n: pd.read_parquet(out / n))
        for n in TAIL_QUERIES if (out / n).is_dir()
    })
    if "sync_tenant_daily" in results:
        run.check("sync_tenant_daily",
                  _check_sync(run, sf_dir, results["sync_tenant_daily"]))
    if "assembly_stream" in results:
        progress, timings = results["assembly_stream"]
        run.detail["assembly"] = _progress(progress)
        if timings:
            run.detail["assembly"]["stage_s"] = {
                k: sum(t[k] for t in timings) for k in timings[0]
                if k != "batch_id"
            }
        run.check("assembly_stream", _check_assembly(
            spark, out / "assembly", truth, budget))
    return finish(run, setup, passes)


def _tail_op(run: Run, name: str, sf_dir: str, corpus_dir: str, budget: int,
             out: Path, results: dict):
    spark = run.spark

    if name in TAIL_QUERIES:
        def op():
            return run.queries[name](spark, sf_dir)
    elif name == "sync_tenant_daily":
        def op():
            results[name] = flows.sync_tenant_daily(
                spark, sf_dir, str(out / "sync_queue")
            )
    else:
        def op():
            timings = [] if run.trace else None
            q = run_assembly_stream(
                spark, corpus_dir, str(out / "assembly"),
                token_budget=budget,
                max_files_per_trigger=ASSEMBLY_FILES_PER_TRIGGER,
                stage_timings=timings,
            )
            run.stream_groups.append(str(q.runId))
            results[name] = (q.recentProgress, timings)
    return op


def _check_sync(run: Run, sf_dir: str, report: dict) -> list[str]:
    """The daily sync's report against the flagship summary's oracle."""
    con = _duck(sf_dir)
    try:
        summ = con.sql(run.oracles["a1_reconciliation_summary"]).fetchdf()
    finally:
        con.close()
    want = {r.change_type: (int(r.n_entities), int(r.total_events))
            for r in summ.itertuples()}
    got = {k: (v["n_entities"], v["total_events"])
           for k, v in report["summary"].items()}
    n = {k: v[0] for k, v in want.items()}
    total = sum(n.values())
    n_crm = total - n.get("deactivated", 0)
    n_store = total - n.get("new", 0)
    rate = sum(n.get(k, 0) for k in ("new", "deactivated", "update"))
    rate = round(rate / total, 6)
    div = round(abs(n_crm - n_store) / max(n_crm, n_store), 6)
    quality = report["quality"]
    bad = []
    if got != want:
        bad.append(f"summary {got} != {want}")
    if (quality["change_rate"], quality["count_divergence"]) != (rate, div):
        bad.append(f"quality {quality} != ({rate}, {div})")
    if report["final_status"] != "completed":
        bad.append(f"status {report['final_status']}")
    if not quality["quality_ok"] and report["jobs_queued"] != 0:
        bad.append("jobs queued past a failed quality gate")
    return bad


def _progress(progress) -> dict:
    """Micro-batch counts and durations from StreamingQuery.recentProgress."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in batches]

    def mean(key: str) -> float:
        return statistics.fmean(d.get(key, 0) for d in dur) if dur else 0.0

    return {"batches": len(batches), "batch_ms": mean("triggerExecution"),
            "add_batch_ms": mean("addBatch"),
            "planning_ms": mean("queryPlanning")}


def _check_assembly(spark, work: Path, truth: dict, budget: int) -> list[str]:
    """The funnel the generator planted: exact copies leave at the hash
    index, near copies at the signature index, the budget admits the
    per-source water level of what survives."""
    import pyspark.sql.functions as F

    bad = []
    kinds = truth["kind"]
    keys = spark.read.parquet(str(work / "hash_index")).count()
    distinct = len({truth["text"][d] for d in kinds})
    if keys != distinct:
        bad.append(f"hash index {keys} keys != {distinct} distinct texts")
    survivors = {
        r.doc_id for r in spark.read.parquet(str(work / "sig_index"))
        .select("doc_id").distinct().collect()
    }
    unique = {d for d, k in kinds.items() if k == "unique"}
    near = {d for d, k in kinds.items() if k == "near"}
    if not unique <= survivors:
        bad.append(f"{len(unique - survivors)} unique docs dropped")
    if survivors - unique - near:
        bad.append(f"{len(survivors - unique - near)} exact copies survived")
    if len(survivors & near) > NEAR_MISS_TOLERANCE * len(near):
        bad.append(f"{len(survivors & near)}/{len(near)} near copies survived")
    corpus = spark.read.parquet(str(work / "corpus"))
    admitted = {r.doc_id for r in corpus.select("doc_id").collect()}
    want = gen.expected_admitted(truth, survivors, budget,
                                 ASSEMBLY_FILES_PER_TRIGGER)
    if admitted != want:
        bad.append(f"admitted {len(admitted)} docs, expected {len(want)}")
    for r in corpus.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect():
        if r.t > budget:
            bad.append(f"source {r.source} spent {r.t} > budget {budget}")
    return bad


WORKLOADS = {"serve": serve, "tail": tail}


def clean(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)


def dump_detail(run: Run) -> str:
    return json.dumps({"trace_detail": run.detail}, default=float)
