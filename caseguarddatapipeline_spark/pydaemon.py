"""The engine's Python worker daemon: pyspark's, minus Spark's archives.

Spark starts one daemon per executor with ``python -m <module>`` and
forks from it the workers that run Python tasks. The daemon's ``sys.path``
begins with three archives Spark prepends: ``pyspark.zip`` and the py4j
source zip under ``$SPARK_HOME/python/lib/``, and the ``spark-core`` jar.
Every task calls ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` in ``sys.path_importer_cache`` re-reads its archive's
whole central directory there: 16 importers over 1,328 + 5,359 entries,
100-140 ms per task on a 4-core box, against a UDF that ran in under
1 ms.

When the interpreter has its own pyspark and py4j of the same versions
as the archives, this module drops the archives from ``sys.path`` before
anything imports pyspark, then runs ``pyspark.daemon.manager()``. Forked
workers import pyspark from its package directory and the per-task
invalidation touches no zip. On any mismatch ``sys.path`` stays exactly
as Spark built it. This module and the package ``__init__`` import no
pyspark at module level: the daemon imports both first.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_SPARK_JAR = re.compile(r"spark-core_.+\.jar")


def _version(source: str) -> str | None:
    match = _VERSION.search(source)
    return match.group(1) if match else None


def _installed_version(package: str, path: list[str]) -> str | None:
    """Version of ``package`` as ``path`` would import it, read from its
    ``version.py`` without importing it; None when it is not a plain
    package directory on ``path``."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's archives, when the rest of
    ``path`` provides pyspark and py4j of the same versions; otherwise []."""
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib")) if spark_home else None
    zips = {
        os.path.basename(p): p for p in path
        if p.endswith(".zip") and os.path.realpath(os.path.dirname(p)) == lib
    }
    py4j = next(filter(None, map(_PY4J_ZIP.fullmatch, zips)), None)
    if "pyspark.zip" not in zips or py4j is None:
        return []
    try:
        with zipfile.ZipFile(zips["pyspark.zip"]) as zf:
            archived = _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    archives = [
        p for p in path
        if p in zips.values() or _SPARK_JAR.fullmatch(os.path.basename(p))
    ]
    rest = [p for p in path if p not in archives]
    if (
        archived is None
        or _installed_version("pyspark", rest) != archived
        or _installed_version("py4j", rest) != py4j.group(1)
    ):
        return []
    return archives


def _drop(archives: list[str]) -> None:
    """Remove ``archives`` from ``sys.path`` and their importers from
    ``sys.path_importer_cache``: the daemon's own imports so far (the
    package, ``re``, ``zipfile``) may have probed them."""
    sys.path[:] = [p for p in sys.path if p not in archives]
    for archive in archives:
        sys.path_importer_cache.pop(archive, None)


if __name__ == "__main__":
    _drop(spark_archives(sys.path, os.environ.get("SPARK_HOME")))
    from pyspark import daemon

    daemon.manager()
