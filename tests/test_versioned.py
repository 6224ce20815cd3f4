"""The lake-table store (sources/versioned.py): manifest commits, time
travel, retention, compaction, commit races, diffing between versions,
and the rule that no other package module knows the store's layout."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from caseguarddatapipeline_spark.operators.contracts import (
    diff_summary,
    snapshot_diff,
)
from caseguarddatapipeline_spark.sources.versioned import (
    latest_version,
    read_latest,
    read_version,
    vacuum,
    write_version,
)


def _data_files(base):
    """Every parquet file under the store's data dir, data-dir-relative."""
    from caseguarddatapipeline_spark.sources import versioned as V

    data = V._data_dir(base)
    return {
        os.path.relpath(os.path.join(root, f), data)
        for root, _, fs in os.walk(data)
        for f in fs
        if f.endswith(".parquet")
    }


def _df(spark, n, bump=0.0):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 2 + bump).alias("val")
    )


def test_versioned_write_read_and_time_travel(spark, tmp_path):
    base = str(tmp_path / "t")
    assert write_version(_df(spark, 10), base) == 0
    assert write_version(_df(spark, 12), base) == 1
    assert write_version(_df(spark, 12, bump=0.5), base) == 2

    assert latest_version(base) == 2
    assert read_latest(spark, base).count() == 12
    assert read_version(spark, base, 0).count() == 10

    # versions are immutable inputs for reproducible runs: the diff
    # between two versions is exactly the mutation written between them
    s = diff_summary(
        snapshot_diff(
            read_version(spark, base, 1), read_version(spark, base, 2), ["id"]
        )
    )
    assert s == {"added": 0, "removed": 0, "changed": 12, "total_differing": 12}


def test_vacuum_retains_newest_and_pointer(spark, tmp_path):
    base = str(tmp_path / "t")
    for i in range(4):
        write_version(_df(spark, 5 + i), base)
    removed = vacuum(base, keep=2)
    assert removed == [0, 1]
    # exactly versions 2 and 3 remain, and nothing they do not carry
    from caseguarddatapipeline_spark.sources import versioned as V

    assert sorted(V._manifests(base)) == [2, 3]
    assert _data_files(base) == {
        f for v in (2, 3) for f in V._read_manifest(base, v)["files"]
    }
    assert read_latest(spark, base).count() == 8
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, 0)


def test_compact_snapshot_zero_window(spark, tmp_path):
    """Version-pointer compaction: fragmented snapshot collapses into a
    new version with identical rows, the old version stays readable
    (time travel / in-flight readers), an already-compact snapshot is a
    no-op, and vacuum retires the fragmented one afterwards."""
    import os

    from caseguarddatapipeline_spark.sources.versioned import (
        compact_snapshot,
        latest_version,
        read_latest,
        read_version,
        vacuum,
        write_version,
    )

    base = str(tmp_path / "table")
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    v0 = write_version(df.repartition(32), base)  # fragmented: 32 files

    v1 = compact_snapshot(spark, base, target_bytes=64 << 20)
    assert v1 == v0 + 1 and latest_version(base) == v1
    from caseguarddatapipeline_spark.sources import versioned as V

    assert len(V._read_manifest(base, v0)["files"]) == 32
    assert len(V._read_manifest(base, v1)["files"]) == 1
    assert sorted(map(tuple, read_latest(spark, base).collect())) == sorted(
        map(tuple, read_version(spark, base, v0).collect())
    )
    # no-op on an already-compact snapshot: same version id back
    assert compact_snapshot(spark, base, target_bytes=64 << 20) == v1
    # retention reclaims the fragmented version
    assert vacuum(base, keep=1) == [v0]
    assert _data_files(base) == set(V._read_manifest(base, v1)["files"])


def test_compact_snapshot_keeps_partition_spec(spark, tmp_path):
    """Compacting a partitioned version keeps the manifest's partition
    spec: one file per partition at most, the same rows, pruning intact."""
    from caseguarddatapipeline_spark.sources import versioned as V

    base = str(tmp_path / "table")
    df = spark.range(400).selectExpr("id", "CAST(id % 4 AS INT) AS cell")
    v0 = write_version(df.repartition(8), base, partition_by=["cell"])
    assert len(V._read_manifest(base, v0)["files"]) == 32  # 8 tasks x 4 cells
    v1 = V.compact_snapshot(spark, base, target_bytes=64 << 20)
    doc = V._read_manifest(base, v1)
    assert doc["partition_by"] == ["cell"] and len(doc["files"]) == 4
    assert sorted(map(tuple, read_latest(spark, base).collect())) == sorted(
        map(tuple, read_version(spark, base, v0).collect())
    )
    assert V.compact_snapshot(spark, base, target_bytes=64 << 20) == v1
    got = read_latest(spark, base).filter(F.col("cell") == 2)
    assert got.count() == 100
    assert "PartitionFilters: [" in got._jdf.queryExecution().executedPlan().toString()


def test_concurrent_writers_both_land(spark, tmp_path, monkeypatch):
    """Two publishers racing to the same version id: a rival commits
    ``manifest-1.json`` between the loser's listing and its link. The
    link must fail rather than replace the rival's manifest, and the
    loser must list again and land under the next id — both writes
    land, as versions 0, 1 and 2."""
    from caseguarddatapipeline_spark.sources import versioned as V

    base = str(tmp_path / "store")
    assert V.write_version(spark.range(10).toDF("id"), base) == 0
    rival_files = V._write_data(spark.range(3).toDF("id"), base, None)

    real_link = V.os.link
    injected = {"done": False}

    def racing_link(src, dst):
        # first link attempt of the next write: the rival commits v1 first
        if not injected["done"] and dst.endswith("manifest-1.json"):
            injected["done"] = True
            assert V._commit(base, None, rival_files) == 1
        return real_link(src, dst)

    monkeypatch.setattr(V.os, "link", racing_link)
    v2 = V.write_version(spark.range(5).toDF("id"), base)
    assert injected["done"]
    assert v2 == 2  # retried past the rival's v1
    assert sorted(V._manifests(base)) == [0, 1, 2]
    assert V.latest_version(base) == 2
    counts = [V.read_version(spark, base, v).count() for v in (0, 1, 2)]
    assert counts == [10, 3, 5]  # the rival's commit was not replaced
    # no temp manifest left behind by either writer
    assert [f for f in os.listdir(V._manifest_dir(base)) if f.startswith(".")] == []


def test_pointer_is_monotone_against_slow_loser(spark, tmp_path, monkeypatch):
    """Latest never regresses: a slow writer that listed the manifests
    before two newer versions committed cannot publish under its stale
    id, and the latest version only ever moves forward."""
    from caseguarddatapipeline_spark.sources import versioned as V

    base = str(tmp_path / "store")
    V.write_version(spark.range(3).toDF("id"), base)  # v0
    files = V._write_data(spark.range(9).toDF("id"), base, None)  # slow loser
    real_manifests = V._manifests
    stale = dict(real_manifests(base))  # its listing: only v0
    V.write_version(spark.range(7).toDF("id"), base)  # v1
    V.write_version(spark.range(8).toDF("id"), base)  # v2
    assert V.latest_version(base) == 2

    calls = []

    def stale_then_real(b):
        calls.append(b)
        return stale if len(calls) == 1 else real_manifests(b)

    monkeypatch.setattr(V, "_manifests", stale_then_real)
    v = V._commit(base, None, files)
    monkeypatch.undo()
    assert v == 3  # EEXIST on manifest-1, listed again, landed past v2
    assert V.latest_version(base) == 3
    assert [V.read_version(spark, base, n).count() for n in range(4)] == [3, 7, 8, 9]


def test_thread_commits_all_land(spark, tmp_path):
    """Writers racing in one process (threads share a pid) each commit
    under their own temp manifest: with more threads than cores and a
    short switch interval, every commit lands under a distinct version
    and reads back its own rows — a lost commit breaks the count."""
    import sys
    import threading

    from caseguarddatapipeline_spark.sources import versioned as V

    n = 2 * (os.cpu_count() or 4)
    base = str(tmp_path / "store")
    writes = [V._write_data(spark.range(i + 1).toDF("id"), base, None) for i in range(n)]
    got, errs = {}, []

    def commit(i):
        try:
            got[i] = V._commit(base, None, writes[i])
        except Exception as e:  # pragma: no cover - the assertion target
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    assert sorted(got.values()) == list(range(n))
    for i, v in got.items():
        assert V.read_version(spark, base, v).count() == i + 1


def test_empty_store_has_no_version(tmp_path):
    from caseguarddatapipeline_spark.sources import versioned as V

    base = str(tmp_path / "none")
    assert not V.has_version(base)
    with pytest.raises(FileNotFoundError):
        V.latest_version(base)
    assert V.vacuum(base) == []


def test_vacuum_removes_cold_temp_manifests(spark, tmp_path):
    """A crash between the temp manifest write and its link leaves a
    temp file that no reader sees; vacuum removes it once cold and keeps
    a fresh one (a commit in flight)."""
    import time

    from caseguarddatapipeline_spark.sources import versioned as V

    base = str(tmp_path / "store")
    V.write_version(spark.range(3).toDF("id"), base)
    mdir = V._manifest_dir(base)
    cold, fresh = (os.path.join(mdir, f".pending-{n}") for n in ("cold", "fresh"))
    for p in (cold, fresh):
        with open(p, "w") as fh:
            fh.write("{}")
    old = time.time() - 7200
    os.utime(cold, (old, old))
    assert V.latest_version(base) == 0
    V.vacuum(base, keep=1, orphan_age_s=3600)
    assert not os.path.exists(cold) and os.path.exists(fresh)


def test_only_the_store_module_names_its_layout():
    """One module knows the store's on-disk layout: any other package
    file that names it (the pointer file, the manifest dir or the
    manifest file names) bypasses the store API and breaks the day the
    layout changes. Callers ask ``has_version``/``latest_version``."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "caseguarddatapipeline_spark"
    tokens = ("_LATEST", "manifests", "manifest-")
    hits = [
        f"{p.relative_to(pkg)}:{n}: {tok}"
        for p in sorted(pkg.rglob("*.py"))
        if p.relative_to(pkg).as_posix() != "sources/versioned.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        for tok in tokens
        if tok in line
    ]
    assert hits == [], hits


def test_writer_column_is_reserved(spark, tmp_path):
    """Writer dirs are ``writer=w<hex>`` partitions of data/, so a frame
    carrying its own ``writer`` column would read back with the dir name
    in its place: the store refuses it before writing anything."""
    df = spark.range(3).withColumn("writer", F.lit("alice"))
    with pytest.raises(ValueError, match="reserved"):
        write_version(df, str(tmp_path / "t"))
    assert not os.path.exists(tmp_path / "t")
