"""Fingerprint-keyed on-disk store locations for derived artifacts.

The ANN quantizer snapshot, the PQ codebook snapshot, and the binaryFile
fixture all cache something derived from a source parquet table and must
invalidate when that source is REGENERATED at the same path. The shared
rule: key the store directory by (absolute path, mtime_ns, size) of the
source file plus an explicit layout version, so

- a refreshed dataset at the same path gets a fresh store (the old one
  is simply orphaned in the tempdir), and
- a layout revision (new snapshot schema, new fixture payload format)
  invalidates by bumping the caller's version constant — never by
  remembering to clear caches.

In production these are fixed lake paths per corpus; the local-mode
stand-in is a PER-USER, mode-0700 root (``CASEGUARD_STORE_ROOT`` env
override wins, else ``$TMP/caseguard-stores-<uid>``). A bare
``tempfile.gettempdir()`` home was world-writable with predictable names,
so on a shared host another user could pre-create and poison a store dir
and the read-through loaders would serve the planted snapshot as the
index; the root is now created 0700 and its ownership verified before any
existing content is trusted. One helper so the invalidation rule can
never diverge between the three stores (it previously existed as three
copies).
"""

from __future__ import annotations

import hashlib
import os
import stat as _stat
import tempfile


def store_root() -> str:
    """Trusted local root for derived-artifact stores.

    ``CASEGUARD_STORE_ROOT`` points at an operator-chosen path (e.g. the
    lake) and is trusted as configured; the default is a per-uid 0700
    directory under the tempdir. Either way the root must be OWNED by the
    current user and not group/other-writable before anything inside it
    is served — a pre-created root with foreign ownership raises rather
    than silently serving planted artifacts."""
    override = os.environ.get("CASEGUARD_STORE_ROOT")
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = override or os.path.join(
        tempfile.gettempdir(), f"caseguard-stores-{uid}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    # lstat, NOT stat: stat follows symlinks and makedirs(exist_ok=True)
    # accepts an existing symlink, so an attacker on a shared host could
    # pre-create $TMP/caseguard-stores-<uid> as a symlink to a
    # victim-owned directory — the ownership check would pass against the
    # TARGET and reads/writes (and the chmod below) would be redirected to
    # an attacker-chosen path. The DEFAULT root (predictable name in a
    # world-writable tempdir) must therefore be a real directory; an
    # explicit CASEGUARD_STORE_ROOT is operator-chosen and may legitimately
    # be a symlink (e.g. /data → a mount), so only its resolved target is
    # checked below.
    st = os.lstat(root) if not override else os.stat(root)
    if not override and (
        _stat.S_ISLNK(st.st_mode) or not _stat.S_ISDIR(st.st_mode)
    ):
        raise PermissionError(
            f"store root {root} is a symlink or non-directory: refusing to "
            "follow a pre-created link to a path another user chose (set "
            "CASEGUARD_STORE_ROOT to a real directory you own)"
        )
    if hasattr(os, "getuid") and st.st_uid != uid:
        raise PermissionError(
            f"store root {root} is owned by uid {st.st_uid}, not {uid}: "
            "refusing to serve artifacts from a directory another user "
            "controls (set CASEGUARD_STORE_ROOT to a path you own)"
        )
    if st.st_mode & (_stat.S_IWGRP | _stat.S_IWOTH):
        os.chmod(root, st.st_mode & ~(_stat.S_IWGRP | _stat.S_IWOTH))
    return root


def fingerprint_store_dir(
    sf_dir: str, src_name: str, store_name: str, layout_version: int
) -> str:
    """Store directory for an artifact derived from ``sf_dir/src_name``:
    ``store_root()/<store_name>/<sha1(path|mtime|size|v<layout_version>)[:12]>``.
    Falls back to the path alone when the source cannot be stat'ed
    (non-local sf_dir)."""
    src = os.path.join(sf_dir, src_name)
    try:
        st = os.stat(src)
        fingerprint = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        fingerprint = os.path.abspath(sf_dir)
    tag = hashlib.sha1(f"{fingerprint}|v{layout_version}".encode()).hexdigest()[:12]
    return os.path.join(store_root(), store_name, tag)


# Memo over PERSISTED store versions, keyed by (session, store dir, latest
# committed version id): the committed files stay the source of truth — a
# republish commits a higher version and misses the memo, so no in-process
# state survives a republish — but repeated plan builds in a parity sweep
# stop re-reading + re-collecting the identical version per query. Shared by
# every store reader (IVF quantizer, PQ codebooks) so the invalidation
# rule cannot diverge between them.
_SNAPSHOT_MEMO: dict[tuple[str, str, int], object] = {}


def memo_snapshot(spark, base: str, loader):
    from .tables import _session_key
    from .versioned import latest_version

    v = latest_version(base)
    key = (_session_key(spark), base, v)
    if key not in _SNAPSHOT_MEMO:
        _SNAPSHOT_MEMO[key] = loader(v)
    return _SNAPSHOT_MEMO[key]
