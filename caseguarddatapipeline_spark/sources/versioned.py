"""The engine's one lake-table store: write-once data directories plus
numbered manifests — time travel, safe concurrent reads and writes,
O(touched partitions) commits and retention, without a table-format
dependency.

Layout:  base_dir/data/writer=w<uuid>/...  one writer-unique dir per write
         base_dir/manifests/manifest-N.json   {version, partition_by, files}

- COMMIT is one manifest: the leaf parquet files a version reads, listed
  explicitly (data-dir-relative), so a half-written or abandoned data dir
  is invisible by construction. The manifest is written in full to a
  uniquely named temp file and hard-linked to ``manifest-N.json``;
  ``link`` fails with EEXIST instead of replacing, so two writers that
  pick the same N both land — the loser lists again and takes the next N.
- LATEST is the highest committed manifest, so it only moves forward;
  there is no pointer to guard.
- TIME TRAVEL: ``read_version`` pins any retained version (the input a
  reproducible run records is a (base_dir, version) pair). Diffing two
  versions is ``operators.contracts.snapshot_diff(read_version(a),
  read_version(b))``.
- PARTIAL COMMITS: ``replace_partitions`` writes new files for the
  replaced partitions only and carries every other partition's files
  forward by reference (Delta ``replaceWhere`` / Iceberg overwrite-by-
  partition) — what keeps the postings upsert at O(touched cells).
- RETENTION: ``vacuum`` drops all but the newest ``keep`` manifests, then
  the files no surviving manifest carries; data nobody committed is swept
  only once cold, because it may belong to an in-flight writer.

Delta Lake maps verb for verb (MIGRATION.md): ``write_version`` is an
append/overwrite commit, ``read_version`` is ``versionAsOf``,
``replace_partitions`` is ``replaceWhere``, ``vacuum`` is VACUUM RETAIN.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_COMMIT_TRIES = 64  # bound: pathological publisher storms error out
# Writer dirs are named ``writer=w<hex>``: one basePath over data/ then
# discovers every writer dir as a partition value, so a version reads as
# ONE scan however many writers its files come from.
_WRITER = "writer"


def _manifest_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "manifests")


def _data_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "data")


def _manifests(base_dir: str) -> dict[int, str]:
    mdir = _manifest_dir(base_dir)
    if not os.path.isdir(mdir):
        return {}
    return {
        int(m.group(1)): os.path.join(mdir, f)
        for f in os.listdir(mdir)
        if (m := re.fullmatch(r"manifest-(\d+)\.json", f))
    }


def _read_manifest(base_dir: str, version: int) -> dict:
    path = _manifests(base_dir).get(version)
    if path is None:
        raise FileNotFoundError(f"version {version} not retained in {base_dir}")
    with open(path) as fh:
        return json.load(fh)


def _partition_key(relpath: str) -> tuple[str, ...]:
    """The k=v directory segments of a data-dir-relative file path — the
    partition identity shared across versions (the writer dir and the
    file name are write-local)."""
    return tuple(p for p in relpath.split("/")[1:-1] if "=" in p)


def has_version(base_dir: str) -> bool:
    """True once the store holds at least one committed version."""
    return bool(_manifests(base_dir))


def latest_version(base_dir: str) -> int:
    ms = _manifests(base_dir)
    if not ms:
        raise FileNotFoundError(f"no committed version in {base_dir}")
    return max(ms)


def _write_data(
    df: DataFrame, base_dir: str, partition_by: list[str] | None
) -> list[str]:
    """Write ``df`` into a fresh writer-unique data dir (no dot or
    underscore prefix: Spark hides such paths) and return its leaf
    parquet files, data-dir-relative. Nothing is visible until a manifest
    lists them."""
    if _WRITER in df.columns:
        raise ValueError(f"column {_WRITER!r} is reserved by the store layout")
    wdir = os.path.join(_data_dir(base_dir), f"{_WRITER}=w{uuid.uuid4().hex}")
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(wdir)
    if not os.path.exists(os.path.join(wdir, "_SUCCESS")):
        raise IOError(f"snapshot write did not commit: {wdir}")
    return sorted(
        os.path.relpath(os.path.join(root, f), _data_dir(base_dir))
        for root, _, fs in os.walk(wdir)
        for f in fs
        if f.endswith(".parquet")
    )


def _commit(base_dir: str, partition_by: list[str] | None, files: list[str]) -> int:
    """Publish ``files`` as the next version and return its id. Every
    listed file must still exist: a vacuum that swept this writer's data
    (a writer stalled past ``orphan_age_s``) fails the commit loudly
    instead of committing a version that points at deleted files."""
    missing = [
        f for f in files if not os.path.exists(os.path.join(_data_dir(base_dir), f))
    ]
    if missing:
        raise RuntimeError(
            f"refusing to commit: {len(missing)} referenced data file(s) "
            f"vanished before commit (first: {missing[0]}) — a concurrent "
            "vacuum likely swept the in-flight write; re-run the write"
        )
    mdir = _manifest_dir(base_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".pending-{uuid.uuid4().hex}")
    try:
        for _ in range(_COMMIT_TRIES):
            ms = _manifests(base_dir)
            n = max(ms) + 1 if ms else 0
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "version": n,
                        "partition_by": list(partition_by or []),
                        "files": files,
                    },
                    fh,
                )
            try:
                os.link(tmp, os.path.join(mdir, f"manifest-{n}.json"))
                return n
            except FileExistsError:
                continue  # another writer committed N first: list again
        raise IOError(f"could not claim a version slot in {base_dir}")
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_version(
    df: DataFrame, base_dir: str, partition_by: list[str] | None = None
) -> int:
    """Write ``df`` as the next version (a full snapshot) and return its
    id. ``partition_by`` lays the files out as hive-style partition dirs
    (``cell=3/``), so readers that filter on the partition column get
    static partition PRUNING at the scan — the store face of "the probe
    join becomes partition pruning"."""
    return _commit(base_dir, partition_by, _write_data(df, base_dir, partition_by))


def replace_partitions(
    df: DataFrame,
    base_dir: str,
    partition_by: list[str],
    touched: set[tuple[str, ...]] | None = None,
) -> int:
    """Commit a version whose manifest lists NEW files for exactly the
    replaced partitions and carries the latest version's files forward
    for every other partition — no untouched byte is rewritten. Requires
    a committed table with the same partition spec.

    ``touched`` is the set of replaced partition identities as
    ``("col=value", ...)`` tuples. Default: the partitions ``df`` wrote —
    WRONG whenever a replaced partition ends up EMPTY (an empty frame
    writes no files, so the old files would be carried forward instead
    of dropped). Callers that can empty a partition pass it explicitly."""
    prev = _read_manifest(base_dir, latest_version(base_dir))
    if prev["partition_by"] != list(partition_by):
        raise ValueError(
            f"partition spec mismatch: table is partitioned by "
            f"{prev['partition_by']}, replace asked {list(partition_by)}"
        )
    fresh = _write_data(df, base_dir, partition_by)
    written = {_partition_key(f) for f in fresh}
    if touched is None:
        touched = written
    elif not written <= touched:
        raise ValueError(
            f"df wrote partitions outside the declared touched set: "
            f"{sorted(written - touched)}"
        )
    carried = [f for f in prev["files"] if _partition_key(f) not in touched]
    return _commit(base_dir, partition_by, sorted(carried + fresh))


def read_version(spark: SparkSession, base_dir: str, version: int) -> DataFrame:
    """One scan over the files ``version`` lists, with the k=v partition
    columns recovered (so partition filters still prune) and the writer
    column dropped."""
    files = _read_manifest(base_dir, version)["files"]
    if not files:
        raise FileNotFoundError(f"version {version} in {base_dir} lists no files")
    data = _data_dir(base_dir)
    return (
        spark.read.option("basePath", data)
        .parquet(*(os.path.join(data, f) for f in files))
        .drop(_WRITER)
    )


def read_latest(spark: SparkSession, base_dir: str) -> DataFrame:
    return read_version(spark, base_dir, latest_version(base_dir))


def compact_snapshot(
    spark: SparkSession, base_dir: str, target_bytes: int = 128 << 20
) -> int:
    """Small-file compaction as a new version — the ZERO-ABSENCE-WINDOW
    path the directory-swap compaction (operators/layout.
    compact_partitions) documents as the table-format upgrade: the latest
    version is rewritten into ~``target_bytes`` files (one per partition
    at most, for a partitioned table) under the same partition spec, and
    the manifest commit publishes it — readers hold wholly-old or
    wholly-new, a crash leaves only an uncommitted data dir, and the old
    files live until ``vacuum`` retires them (2× storage until
    retention, where the directory swap reclaims space immediately).
    Returns the new version id; a no-op (returns the current id) when
    the version is already compact."""
    v = latest_version(base_dir)
    doc = _read_manifest(base_dir, v)
    files = [os.path.join(_data_dir(base_dir), f) for f in doc["files"]]
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / target_bytes))
    n_parts = len({_partition_key(f) for f in doc["files"]})
    if len(files) <= max(n_target, n_parts):
        return v
    cols = doc["partition_by"]
    df = read_version(spark, base_dir, v).repartition(n_target, *cols)
    return write_version(df, base_dir, partition_by=cols)


def _newest_mtime(path: str) -> float:
    """Most recent mtime anywhere under ``path`` — an in-flight write
    keeps touching files, so this stays fresh until the writer finishes
    or dies. A path that vanished mid-walk reads as maximally fresh, so
    the sweep skips it instead of aborting."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return float("inf")
    for root, dirs, fs in os.walk(path):
        for name in dirs + fs:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:
                continue
    return newest


def vacuum(base_dir: str, keep: int = 2, orphan_age_s: float = 86400.0) -> list[int]:
    """Drop all but the newest ``keep`` manifests (the latest always
    survives), then every file no surviving manifest carries. Returns
    the dropped version ids.

    A data dir that NO manifest lists is either crash debris or a slow
    writer still in flight — which is indistinguishable by listing — so
    it is only swept once cold (newest mtime older than ``orphan_age_s``,
    default 24 h, far above any write duration); the commit-time
    existence check backstops a writer stalled past that. Temp manifests
    left by a crash between write and link go by the same age rule.

    Retention contract (same as Delta VACUUM): a lazily-built DataFrame
    pinned to an old version keeps referencing its files — choose
    ``keep`` longer than any job still reading an old version."""
    ms = _manifests(base_dir)
    if not ms:
        return []
    keep, order = max(1, keep), sorted(ms)
    survivors, dropped = order[-keep:], order[:-keep]
    referenced = {f for v in survivors for f in _read_manifest(base_dir, v)["files"]}
    retired = {f for v in dropped for f in _read_manifest(base_dir, v)["files"]}
    for v in dropped:  # manifests first: readers lose the reference
        os.remove(ms[v])
    now = time.time()
    mdir = _manifest_dir(base_dir)
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        if name.startswith(".pending-") and now - _newest_mtime(path) > orphan_age_s:
            os.remove(path)
    data = _data_dir(base_dir)
    live_dirs = {f.split("/", 1)[0] for f in referenced}
    retired_dirs = {f.split("/", 1)[0] for f in retired}
    for d in os.listdir(data) if os.path.isdir(data) else []:
        path = os.path.join(data, d)
        if d in retired_dirs:
            # committed once: drop whatever no survivor still carries
            for root, _, fs in os.walk(path, topdown=False):
                for name in fs:
                    if os.path.relpath(os.path.join(root, name), data) not in referenced:
                        os.remove(os.path.join(root, name))
                if not os.listdir(root):
                    os.rmdir(root)
        elif d not in live_dirs and now - _newest_mtime(path) > orphan_age_s:
            shutil.rmtree(path, ignore_errors=True)
    return dropped
