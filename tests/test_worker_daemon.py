"""The engine's Python worker daemon and the session settings at the
Python boundary (``session.get_spark``, ``worker_daemon``)."""

import os
import subprocess
import sys
import zipfile

import pytest

from gfw_raster_analysis_lambda_spark import worker_daemon
from gfw_raster_analysis_lambda_spark.session import WORKER_DAEMON

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_spark_archive(path: str) -> bool:
    """Whether ``path`` is, or lies inside, a Spark zip or jar."""
    return any(
        worker_daemon._zip_package(part) or worker_daemon._is_spark_jar(part)
        for part in path.split(os.sep)
    )


def test_session_turns_dataframe_debugging_off(spark):
    """With DataFrame debugging on, every wrapped ``F.*``/``Column`` call
    also reads a conf, sets and clears the JVM call-site origin and walks
    the Python stack."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_worker_imports_pyspark_outside_archives(spark):
    """A task on the engine's session imports pyspark and py4j from
    outside Spark's archives, and its path and importer cache hold no
    entry inside ``pyspark.zip``, ``py4j-*.zip`` or the Spark jar (so the
    per-task ``importlib.invalidate_caches()`` re-reads no archive)."""
    import pyspark

    if _in_spark_archive(pyspark.__file__):
        pytest.skip("no pyspark outside Spark's archives to import")
    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON

    def probe(_):
        import sys

        import py4j
        import pyspark

        yield (pyspark.__file__, py4j.__file__, list(sys.path), list(sys.path_importer_cache))

    files_pyspark, files_py4j, path, cache = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    )
    assert not _in_spark_archive(files_pyspark), files_pyspark
    assert not _in_spark_archive(files_py4j), files_py4j
    assert not [p for p in path if _in_spark_archive(p)], path
    assert not [p for p in cache if _in_spark_archive(p)], cache


def _write_zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _write_package(root, name: str, version: str) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


@pytest.mark.parametrize("outside", [("4.1.2", "0.10.9.9"), ("4.0.0", "0.10.9.9"), None])
def test_worker_path_filter(tmp_path, outside):
    """The jar always goes; the zips go only when the same pyspark and
    py4j versions are importable outside them; the checkout, the cwd, the
    Spark files dir and an engine ``--py-files`` zip always stay."""
    pyspark_zip = _write_zip(tmp_path / "pyspark.zip", {"pyspark/version.py": "__version__: str = '4.1.2'\n"})
    py4j_zip = _write_zip(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/version.py": "__version__ = '0.10.9.9'\n"})
    engine_zip = _write_zip(tmp_path / "gfw_raster_analysis_lambda_spark.zip", {"x.py": ""})
    jar = _write_zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/x.class": ""})
    site = tmp_path / "site"
    site.mkdir()
    if outside is not None:
        _write_package(site, "pyspark", outside[0])
        _write_package(site, "py4j", outside[1])
    cwd, files = str(tmp_path / "cwd"), str(tmp_path / "userFiles")
    path = [cwd, files, pyspark_zip, py4j_zip, jar, REPO, engine_zip, str(site)]

    kept = worker_daemon.worker_path(path)
    if outside == ("4.1.2", "0.10.9.9"):
        assert kept == [cwd, files, REPO, engine_zip, str(site)]
    else:  # a version mismatch or no pyspark outside: only the jar goes
        assert kept == [cwd, files, pyspark_zip, py4j_zip, REPO, engine_zip, str(site)]


def test_daemon_module_imports_no_pyspark():
    """The daemon filters the path before pyspark is imported, so
    importing it (and the package it lives in) must not import pyspark."""
    code = (
        f"import sys; import {WORKER_DAEMON}; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
