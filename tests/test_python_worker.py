"""Python workers import pyspark from its package, not from Spark's archives.

Every Python task calls ``importlib.invalidate_caches()``, and each
``zipimporter`` over pyspark.zip, the py4j zip or the spark-core jar
re-reads its archive's central directory there (100-140 ms a task). The
engine's daemon (``caseguarddatapipeline_spark.pydaemon``) drops those
archives from the workers' ``sys.path`` when the interpreter's pyspark
and py4j match them.
"""

from __future__ import annotations

import logging
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path
from types import SimpleNamespace

from caseguarddatapipeline_spark import session
from caseguarddatapipeline_spark.pydaemon import spark_archives

REPO = Path(__file__).resolve().parent.parent


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def test_worker_imports_pyspark_without_spark_archives(spark):
    # defined here so cloudpickle ships it by value to the worker
    def _worker_imports(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        archives = sorted(
            {
                f.archive
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            }
        )
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"pyspark_file": pyspark.__file__, "archives": archives}]
            )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_worker_imports, "pyspark_file string, archives array<string>")
        .collect()
    )
    assert ".zip" not in row.pyspark_file, row.pyspark_file
    assert not [a for a in row.archives if _is_spark_archive(a)], row.archives


def test_python_stage_runs_with_driver_outside_the_repo(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from caseguarddatapipeline_spark.session import get_spark

        spark = get_spark("cwd-outside-repo", master="local[1]", shuffle_partitions=1)
        out = spark.range(3, numPartitions=1).mapInPandas(
            lambda dfs: (df * 2 for df in dfs), "id long"
        ).collect()
        print("ids", sorted(r.id for r in out))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ids [0, 2, 4]" in proc.stdout, proc.stdout


def _write_zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _layout(tmp_path: Path, pyspark: str | None, py4j: str) -> tuple[list[str], str]:
    """A fake Spark home with 4.1.2/0.10.9.9 archives and a site directory
    holding the given installed versions (no pyspark when ``None``)."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    archives = [
        _write_zip(lib / "pyspark.zip", {"pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _write_zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/version.py": "__version__ = '0.10.9.9'\n"}),
        _write_zip(home / "jars" / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    site = tmp_path / "site"
    installed = {"py4j": f"__version__ = '{py4j}'\n"}
    if pyspark is not None:
        installed["pyspark"] = f"__version__: str = '{pyspark}'\n"
    for package, version in installed.items():
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("")
        (site / package / "version.py").write_text(version)
    return [str(tmp_path / "cwd"), *archives, str(site)], str(home)


def test_spark_archives_are_dropped_only_for_matching_installs(tmp_path):
    path, home = _layout(tmp_path / "match", "4.1.2", "0.10.9.9")
    assert spark_archives(path, home) == path[1:4]
    assert spark_archives(path, None) == []

    path, home = _layout(tmp_path / "pyspark", "4.1.1", "0.10.9.9")
    assert spark_archives(path, home) == []

    path, home = _layout(tmp_path / "py4j", "4.1.2", "0.10.9.8")
    assert spark_archives(path, home) == []

    path, home = _layout(tmp_path / "archive-only", None, "0.10.9.9")
    assert spark_archives(path, home) == []


def _session_with_daemon(module: str | None, app_id: str):
    confs = {
        "spark.sql.codegen.cache.maxEntries": str(session.CODEGEN_CACHE_ENTRIES),
        "spark.python.daemon.module": module,
    }
    conf = SimpleNamespace(
        set=lambda k, v: None,
        get=lambda k, default=None: confs.get(k) or default,
    )
    return SimpleNamespace(
        conf=conf, sparkContext=SimpleNamespace(applicationId=app_id)
    )


def test_stock_python_daemon_on_a_foreign_session_warns_once(caplog):
    foreign = _session_with_daemon(None, "app-stock-python-daemon")
    ours = _session_with_daemon(session.PYTHON_DAEMON_MODULE, "app-engine-daemon")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        for s in (foreign, foreign, ours):
            session.apply_runtime_confs(s)
    warned = [m for m in caplog.messages if "app-stock-python-daemon" in m]
    assert len(warned) == 1, caplog.messages
    assert "spark.python.daemon.module" in warned[0]
    assert not [m for m in caplog.messages if "app-engine-daemon" in m]
