"""Checks of the benchmark itself; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402
from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("pct,want", [(1, 1), (50, 5), (90, 9), (95, 10),
                                      (100, 10)])
def test_nearest_rank(pct, want):
    assert workloads.nearest_rank(list(range(10, 0, -1)), pct) == want


def test_nearest_rank_single_and_empty():
    assert workloads.nearest_rank([3.5], 95) == 3.5
    with pytest.raises(ValueError):
        workloads.nearest_rank([], 50)


def test_metric_names_are_well_formed():
    for name in workloads.E2E_METRICS + workloads.LAYER_METRICS:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def test_emitted_names_equal_benchmark_json():
    assert workloads.E2E_METRICS == [m["name"] for m in SPEC["end_to_end"]]
    assert workloads.LAYER_METRICS == [m["name"] for m in SPEC["per_layer"]]
    assert sorted(workloads.WORKLOADS) == sorted(
        w["name"] for w in SPEC["workloads"])


def test_workload_queries_resolve_with_oracles():
    queries, oracles = build_catalog()
    for name in workloads.SERVE_QUERIES + workloads.TAIL_QUERIES:
        assert name in queries, f"{name} is not in build_catalog()"
        assert name in oracles, f"{name} has no oracle"
    # the daily sync is checked against the flagship summary's oracle
    assert "a1_reconciliation_summary" in oracles


def test_generators_are_seeded(tmp_path):
    names = workloads.SERVE_QUERIES
    assert gen.pass_orders(names, 3, 7) == gen.pass_orders(names, 3, 7)
    assert gen.pass_orders(names, 3, 7) != gen.pass_orders(names, 3, 8)
    a = gen.assembly_corpus(str(tmp_path / "a"), 200, 4, 7)
    b = gen.assembly_corpus(str(tmp_path / "b"), 200, 4, 7)
    assert a["text"] == b["text"] and a["kind"] == b["kind"]
    t1, t2 = gen.star_tables(0.001, 7), gen.star_tables(0.001, 7)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_planted_corpus_funnel(tmp_path):
    truth = gen.assembly_corpus(str(tmp_path), 400, 4, 3)
    kinds = truth["kind"]
    assert truth["n_docs"] == len(kinds) == 400
    assert {"unique", "exact", "near"} <= set(kinds.values())
    # every copy comes from a file at least two files earlier, so with two
    # files per trigger it meets its original in an earlier micro-batch
    by_text = {}
    for d, k in sorted(kinds.items()):
        if k == "unique":
            by_text[truth["text"][d]] = d
    for d, k in kinds.items():
        if k == "exact":
            src = by_text[truth["text"][d]]
            assert truth["file"][src] <= truth["file"][d] - 2


def test_socket_dir_fits_at_any_checkout_path(monkeypatch):
    import shutil

    import run

    for key in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "TMPDIR",
                "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.setenv(key, "")
    monkeypatch.chdir(HERE.parent)
    work = run.WORK_ROOT / "serve-2147483647-4194304"
    try:
        run._environment(work)
        conf = re.search(r"spark\.python\.unix\.domain\.socket\.dir=(\S+)",
                         run.os.environ["PYSPARK_SUBMIT_ARGS"]).group(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the socket dir does not grow with the checkout's path; a socket in it
    # is ".<uuid4>.sock"
    assert not conf.startswith("/")
    assert (HERE.parent / conf).is_relative_to(work)
    assert len(f"{conf}/.{'0' * 36}.sock") < 108
