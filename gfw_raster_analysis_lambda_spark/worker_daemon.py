"""Python worker daemon for the engine's local sessions.

Spark starts its Python workers from ``pyspark.daemon`` with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
``spark-core`` jar first on ``sys.path``. Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on CPython 3.11 that makes each cached zip importer re-read its
archive's whole directory: 0.2-0.6 s per task on a 4-core VM, whatever
the task does.

``session.get_spark`` runs this module as ``spark.python.daemon.module``.
Before anything imports pyspark it removes from ``sys.path`` and
``sys.path_importer_cache``:

- the Spark jar entries, always: a jar holds no Python module;
- the pyspark and py4j zips, but only when the same pyspark and py4j
  versions can be imported from outside them (a pip-installed pyspark
  next to the Spark distribution). Otherwise the workers keep importing
  from the zips.

Every other entry stays: the checkout, the cwd and ``--py-files``. It then
runs ``pyspark.daemon.manager()``, whose forked workers inherit the
filtered path.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(rb"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_jar(entry: str) -> bool:
    base = os.path.basename(entry.rstrip(os.sep))
    return base.startswith("spark-") and base.endswith(".jar")


def _zip_package(entry: str) -> str | None:
    """The package a Spark-supplied zip holds: ``pyspark`` or ``py4j``."""
    base = os.path.basename(entry.rstrip(os.sep))
    if base == "pyspark.zip":
        return "pyspark"
    if base.startswith("py4j-") and base.endswith(".zip"):
        return "py4j"
    return None


def _parse_version(source: bytes) -> str | None:
    m = _VERSION.search(source)
    return m.group(1).decode() if m else None


def _version_in_zip(path: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(path) as zf:
            return _parse_version(zf.read(f"{package}/version.py"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _version_outside(package: str, entries: list) -> str | None:
    spec = PathFinder.find_spec(package, entries)
    for d in (spec.submodule_search_locations or []) if spec else []:
        try:
            with open(os.path.join(d, "version.py"), "rb") as f:
                return _parse_version(f.read())
        except OSError:
            continue
    return None


def worker_path(path: list) -> list:
    """``path`` without the entries this module drops (module docstring)."""
    zips = {p: pkg for p in path if (pkg := _zip_package(p))}
    drop = {p for p in path if _is_spark_jar(p)}
    rest = [p for p in path if p not in drop and p not in zips]
    if zips and all(
        (v := _version_in_zip(z, pkg)) is not None and v == _version_outside(pkg, rest)
        for z, pkg in zips.items()
    ):
        drop.update(zips)
    return [p for p in path if p not in drop]


def _filter_sys_path() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d.rstrip(os.sep) + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _filter_sys_path()
    from pyspark import daemon

    daemon.manager()
