"""Lake-table contract suite for the one store (sources/versioned.py):
write/read/time-travel/merge/vacuum semantics, partition pruning through
the manifest's explicit file list, and the manifest commit's crash and
in-flight-writer safety.

The contract tests run under both of the store's commit paths: every
write a full snapshot (``write_version``), or every overwrite a partial
commit (``replace_partitions``) that declares every partition touched.
The two must read back the same table."""

from __future__ import annotations

import os

import pytest

from caseguarddatapipeline_spark.sources import versioned as V


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "tbl")


def _replace_all(df, base, partition_by=None):
    """Overwrite through ``replace_partitions``: touched = every partition
    the latest version holds plus every partition ``df`` writes, so
    nothing may be carried forward. The first write, or one that changes
    the partition spec, has no version to replace into and is a full
    snapshot."""
    cols = list(partition_by or [])
    if not V.has_version(base):
        return V.write_version(df, base, partition_by)
    prev = V._read_manifest(base, V.latest_version(base))
    if prev["partition_by"] != cols:
        return V.write_version(df, base, partition_by)
    touched = {V._partition_key(f) for f in prev["files"]}
    touched |= {
        tuple(f"{c}={r[c]}" for c in cols) for r in df.select(*cols).distinct().collect()
    }
    return V.replace_partitions(df, base, cols, touched=touched)


@pytest.fixture(params=["versioned", "manifest"])
def write(request):
    """The commit path a test's writes go through: ``versioned`` = full
    snapshots, ``manifest`` = partial commits over every partition."""
    return V.write_version if request.param == "versioned" else _replace_all


def _df(spark, rows):
    return spark.createDataFrame(rows, "entity_id long, val string")


def _merge(spark, base, write, updates, key):
    """MERGE-upsert onto the latest version, published as the next one —
    the read-modify-write a transactional format does as MERGE INTO."""
    from caseguarddatapipeline_spark.operators.incremental import merge_upsert

    return write(merge_upsert(V.read_latest(spark, base), updates, key), base)


def test_write_read_roundtrip_and_versions(spark, base, write):
    v1 = write(_df(spark, [(1, "a"), (2, "b")]), base)
    v2 = write(_df(spark, [(1, "a2"), (3, "c")]), base)
    assert v2 > v1
    assert V.latest_version(base) == v2
    latest = {r.entity_id: r.val for r in V.read_latest(spark, base).collect()}
    assert latest == {1: "a2", 3: "c"}
    # time travel pins the old snapshot
    old = {r.entity_id: r.val for r in V.read_version(spark, base, v1).collect()}
    assert old == {1: "a", 2: "b"}


def test_merge_upserts_and_is_idempotent(spark, base, write):
    write(_df(spark, [(1, "a"), (2, "b")]), base)
    updates = _df(spark, [(2, "b2"), (4, "d")])
    v_m = _merge(spark, base, write, updates, "entity_id")
    merged = {r.entity_id: r.val for r in V.read_latest(spark, base).collect()}
    assert merged == {1: "a", 2: "b2", 4: "d"}
    # T9: re-applying the same updates changes nothing but the version
    v_m2 = _merge(spark, base, write, updates, "entity_id")
    assert v_m2 > v_m
    again = {r.entity_id: r.val for r in V.read_latest(spark, base).collect()}
    assert again == merged


def test_vacuum_keeps_current(spark, base, write):
    for i in range(4):
        write(_df(spark, [(i, f"v{i}")]), base)
    current = V.latest_version(base)
    V.vacuum(base, keep=2)
    # the latest version always survives retention
    latest = {r.entity_id: r.val for r in V.read_latest(spark, base).collect()}
    assert latest == {3: "v3"}
    assert V.latest_version(base) == current


def test_partitioned_write_prunes(spark, base, write):
    import pyspark.sql.functions as F

    def cells(n, tag):
        return spark.createDataFrame(
            [(i, i % 4, f"{tag}{i}") for i in range(n)],
            "entity_id long, cell int, val string",
        )

    # an older version with more rows per cell: an overwrite that carried
    # any of its files forward would show ids 18 and 22 in cell 2
    write(cells(24, "old"), base, partition_by=["cell"])
    write(cells(16, "r"), base, partition_by=["cell"])
    got = V.read_latest(spark, base).filter(F.col("cell") == 2)
    assert sorted(r.entity_id for r in got.collect()) == [2, 6, 10, 14]
    # the filter must reach the scan as a partition filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def _writer_dirs(base):
    return set(os.listdir(V._data_dir(base)))


def test_manifest_reader_ignores_uncommitted_data(spark, base):
    """A data dir without a manifest (crashed write) must be invisible to
    readers; vacuum sweeps it only once COLD (age threshold) — a fresh
    uncommitted dir is indistinguishable from an in-flight writer, so
    nothing but age justifies deletion."""
    v0 = V.write_version(_df(spark, [(1, "a")]), base)
    committed = _writer_dirs(base)
    # simulate a crash: a write's data lands, its manifest never commits
    V._write_data(_df(spark, [(9, "ghost")]), base, None)
    (ghost,) = _writer_dirs(base) - committed
    assert V.latest_version(base) == v0
    assert {r.entity_id for r in V.read_latest(spark, base).collect()} == {1}
    v1 = V.write_version(_df(spark, [(2, "b")]), base)
    assert v1 == v0 + 1
    # default vacuum: the orphan is FRESH -> presumed in-flight, kept
    V.vacuum(base, keep=1)
    assert ghost in _writer_dirs(base)
    # once cold (age threshold elapsed) the crash debris is swept
    V.vacuum(base, keep=1, orphan_age_s=0.0)
    assert ghost not in _writer_dirs(base)
    assert {r.entity_id for r in V.read_latest(spark, base).collect()} == {2}


def test_manifest_vacuum_never_sweeps_inflight_writer(spark, base):
    """Writer A has written its data and not yet committed while other
    writers commit v1 and v2; vacuum(keep=2) drops v0 but must NOT delete
    A's in-flight dir. A's commit then lands as the next version. And if
    a pathological vacuum DID sweep a writer's files, its commit must
    fail loudly instead of committing a version that references deleted
    files."""
    import shutil

    V.write_version(_df(spark, [(0, "v0")]), base)  # v0
    # writer A: data written, manifest NOT yet committed (exactly the
    # state between write_version's data write and its commit)
    a_files = V._write_data(_df(spark, [(1, "inflight")]), base, None)
    a_dir = os.path.join(V._data_dir(base), a_files[0].split("/")[0])
    # faster writers commit v1 and v2; retention runs with defaults
    assert V.write_version(_df(spark, [(2, "v2")]), base) == 1
    assert V.write_version(_df(spark, [(3, "v3")]), base) == 2
    dropped = V.vacuum(base, keep=2)
    assert dropped == [0]
    assert os.path.isdir(a_dir), "in-flight writer's dir was swept"
    # A's commit now succeeds and the version reads back intact
    assert V._commit(base, None, a_files) == 3
    assert {r.val for r in V.read_version(spark, base, 3).collect()} == {"inflight"}
    # corruption backstop: a commit whose files vanished must raise and
    # leave no manifest behind
    b_files = V._write_data(_df(spark, [(9, "doomed")]), base, None)
    shutil.rmtree(os.path.join(V._data_dir(base), b_files[0].split("/")[0]))
    with pytest.raises(RuntimeError, match="vanished before commit"):
        V._commit(base, None, b_files)
    assert sorted(V._manifests(base)) == [1, 2, 3]


def test_vecindex_flow_over_tableformat(spark, base, write):
    """The vecindex maintenance verbs (build partitioned postings →
    idempotent upsert-merge → TTL prune → probe with partition pruning)
    driven through the store's function API, under either commit path."""
    import pyspark.sql.functions as F

    posts = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(32)],
        "vec_id long, cell int, payload long",
    )
    write(posts, base, partition_by=["cell"])
    # upsert a batch (same key overwrites, new key inserts) — T9 verb
    updates = spark.createDataFrame(
        [(3, 3 % 4, 999), (100, 0, 1000)],
        "vec_id long, cell int, payload long",
    )
    _merge(spark, base, write, updates, "vec_id")
    _merge(spark, base, write, updates, "vec_id")  # idempotent re-apply
    # TTL prune: drop the high ids, publish as a new version
    kept = V.read_latest(spark, base).filter(F.col("vec_id") < 50)
    write(kept, base, partition_by=["cell"])
    probe = V.read_latest(spark, base).filter(F.col("cell") == 3)
    got = {(r.vec_id, r.payload) for r in probe.collect()}
    assert got == {(i, i * 10) for i in range(32) if i % 4 == 3 and i != 3} | {
        (3, 999)
    }
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
