"""Spark's Python daemon, started with pyspark imported from its installed
directory rather than from Spark's ``pyspark.zip``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and
the spark-core jar first on every Python worker's path. A worker then
imports pyspark from the zip and keeps one ``zipimporter`` per package
directory it imported from (16 on a mapInPandas worker). Every task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``)
and, on Python 3.11, each zipimporter re-reads its whole archive directory
on that call: a median 55-61 ms of CPU per task of a reused worker on a
4-vCPU host, against 0.05-0.06 ms with no zipimporter (SCALING.md "Python
worker per-task floor").

``get_spark`` starts the daemon as ``python -m sptag_spark.pyspark_daemon``
(``spark.python.daemon.module``). When the same pyspark and py4j are
installed as directories, the daemon drops Spark's archives from
``sys.path`` and their importers from ``sys.path_importer_cache``, then runs
``pyspark.daemon`` as Spark would; its forked workers inherit that path.
Otherwise the path stays exactly as Spark built it. Nothing here may import
pyspark before that choice, which is why ``sptag_spark.get_spark`` is lazy.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

#: the packages Spark ships to its workers as archives
SHIPPED = ("pyspark", "py4j")


def _versions_in_archive(entry: str) -> dict[str, bytes]:
    """``{package: version.py bytes}`` for each shipped package that the
    archive ``entry`` provides; empty when ``entry`` is no such archive."""
    if not os.path.isfile(entry) or not zipfile.is_zipfile(entry):
        return {}
    with zipfile.ZipFile(entry) as z:
        names = set(z.namelist())
        return {
            pkg: z.read(f"{pkg}/version.py") if f"{pkg}/version.py" in names else b""
            for pkg in SHIPPED
            if f"{pkg}/__init__.py" in names
        }


def _version_in_directory(pkg: str, path: list[str]) -> bytes | None:
    """``version.py`` bytes of the ``pkg`` that ``path`` imports, or None
    when it does not import ``pkg`` from a directory."""
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def spark_archives(path: list[str]) -> list[str]:
    """The entries of a worker's ``path`` to drop: the archives that provide
    pyspark or py4j, and the ``.jar`` entries, which carry no Python.

    They are dropped only when, without them, pyspark and py4j both import
    from a directory, each with the same ``version.py`` as its archive.
    Otherwise the answer is ``[]`` and the path stays as Spark built it;
    other archives (a user's ``--py-files``) are never dropped."""
    shipped: dict[str, bytes] = {}
    drop = []
    for entry in path:
        if entry.endswith(".jar"):
            drop.append(entry)
        elif versions := _versions_in_archive(entry):
            drop.append(entry)
            for pkg, version in versions.items():
                shipped.setdefault(pkg, version)
    if not shipped:
        return []
    rest = [e for e in path if e not in drop]
    for pkg in SHIPPED:
        version = _version_in_directory(pkg, rest)
        # a package no archive provides has no version to match
        if version is None or version != shipped.get(pkg, version):
            return []
    return drop


def main() -> None:
    drop = spark_archives(sys.path)
    sys.path[:] = [e for e in sys.path if e not in drop]
    # ``python -m`` already looked for this module through those entries,
    # so their importers are cached and would still be invalidated per task
    for entry in drop:
        sys.path_importer_cache.pop(entry, None)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
