"""sources/versioned.replace_partitions: Iceberg-shaped
overwrite-by-partition — a new commit rewrites only the touched
partitions' files and CARRIES FORWARD the untouched partitions' files by
reference. This is what turns the vector-index upsert from an O(corpus)
snapshot rewrite into O(touched cells) (see
operators/vecindex.ivf_postings_upsert), and it forces the vacuum to be
reference-aware: a file written by version N may be live in version
N+3's manifest."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from caseguarddatapipeline_spark.sources import versioned as V


def _cells(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, cell int, val string")


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "tbl")


def _files(base, v):
    return V._read_manifest(base, v)["files"]


def test_replace_partitions_rewrites_only_touched_cells(spark, base):
    v0 = V.write_version(
        _cells(spark, [(i, i % 4, f"base{i}") for i in range(16)]),
        base,
        partition_by=["cell"],
    )
    base_files = set(_files(base, v0))
    # upsert touches cells 1 and 3 only
    v1 = V.replace_partitions(
        _cells(spark, [(101, 1, "new101"), (103, 3, "new103")]),
        base,
        partition_by=["cell"],
    )
    assert v1 == v0 + 1
    files1 = set(_files(base, v1))
    carried = files1 & base_files
    fresh = files1 - base_files
    # untouched cells 0 and 2: files REUSED from v0 (same paths)
    assert carried == {
        f for f in base_files if "/cell=0/" in f or "/cell=2/" in f
    }
    # touched cells: only files of the new version's one writer dir
    assert fresh and len({f.split("/")[0] for f in fresh}) == 1
    assert not {f.split("/")[0] for f in fresh} & {
        f.split("/")[0] for f in base_files
    }
    assert all("/cell=1/" in f or "/cell=3/" in f for f in fresh)

    # logical content: cells 0/2 unchanged, cells 1/3 fully replaced
    latest = V.read_latest(spark, base)
    got = {(r.vec_id, r.cell, r.val) for r in latest.collect()}
    expect = {
        (i, i % 4, f"base{i}") for i in range(16) if i % 4 in (0, 2)
    } | {(101, 1, "new101"), (103, 3, "new103")}
    assert got == expect
    # time travel still pins the full original snapshot
    old = {(r.vec_id, r.cell) for r in V.read_version(spark, base, v0).collect()}
    assert old == {(i, i % 4) for i in range(16)}
    # partition pruning survives the cross-version file list
    pruned = latest.filter(F.col("cell") == 2)
    assert {r.vec_id for r in pruned.collect()} == {2, 6, 10, 14}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_replace_partitions_guards(spark, base):
    with pytest.raises(FileNotFoundError):
        V.replace_partitions(
            _cells(spark, [(1, 1, "x")]), base, partition_by=["cell"]
        )
    V.write_version(
        _cells(spark, [(i, i % 2, "b") for i in range(4)]),
        base,
        partition_by=["cell"],
    )
    with pytest.raises(ValueError, match="partition"):
        V.replace_partitions(
            _cells(spark, [(9, 1, "x")]), base, partition_by=["vec_id"]
        )
    # a frame that writes a partition outside the declared touched set
    with pytest.raises(ValueError, match="outside the declared touched"):
        V.replace_partitions(
            _cells(spark, [(9, 1, "x")]),
            base,
            partition_by=["cell"],
            touched={("cell=0",)},
        )
    assert sorted(V._manifests(base)) == [0]


def test_vacuum_never_deletes_files_carried_by_survivors(spark, base):
    """The round-11 interplay: after N partial commits, an OLD version's
    data dir holds files still referenced by the LATEST manifest —
    vacuum of the old manifests must keep exactly the carried files and
    the surviving snapshots must read back intact."""
    V.write_version(
        _cells(spark, [(i, i % 4, f"base{i}") for i in range(16)]),
        base,
        partition_by=["cell"],
    )
    v0_dir = _files(base, 0)[0].split("/")[0]
    # three partial commits, each touching one cell — cell 0's v0 files
    # are still live in the newest manifest
    for n, cell in enumerate((1, 2, 3)):
        V.replace_partitions(
            _cells(spark, [(100 + n, cell, f"n{n}")]),
            base,
            partition_by=["cell"],
        )
    before = {
        (r.vec_id, r.cell, r.val) for r in V.read_latest(spark, base).collect()
    }
    dropped = V.vacuum(base, keep=2)  # drops v0 and v1 manifests
    assert dropped == [0, 1]
    # v0's dir must survive IN PART: cell=0 files are carried by v3 (and
    # cell=2/3 by v2..), while nothing may break the surviving reads
    after = {
        (r.vec_id, r.cell, r.val) for r in V.read_latest(spark, base).collect()
    }
    assert after == before
    # both surviving versions fully readable; v2 = base cells 0 and 3,
    # v1's cell-1 replacement, v2's own cell-2 replacement
    v2 = {(r.vec_id, r.cell, r.val) for r in V.read_version(spark, base, 2).collect()}
    assert v2 == (
        {(i, i % 4, f"base{i}") for i in range(16) if i % 4 in (0, 3)}
        | {(100, 1, "n0"), (101, 2, "n1")}
    )
    # files referenced by survivors all exist on disk
    for v in (2, 3):
        for f in _files(base, v):
            assert os.path.exists(os.path.join(V._data_dir(base), f)), f
    # and v0's UNREFERENCED files (cell=1 originals, replaced in v1 and
    # again never carried) are gone
    m3 = set(_files(base, 3)) | set(_files(base, 2))
    v0dir = os.path.join(V._data_dir(base), v0_dir)
    assert os.path.isdir(v0dir)  # cell=0 is still carried
    leftovers = {
        os.path.relpath(os.path.join(root, f), V._data_dir(base))
        for root, _, fs in os.walk(v0dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert leftovers <= m3, "vacuum kept v0 files no survivor references"
