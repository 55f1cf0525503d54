"""The worker daemon entry: workers import pyspark and py4j from their
installed directories, with no zipimporter for importlib.invalidate_caches()
to re-read on every task, and any doubt leaves Spark's path untouched."""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

from sptag_spark.pyspark_daemon import spark_archives


def test_worker_tasks_import_pyspark_from_directories(spark):
    def where(_):
        import zipimport

        import py4j
        import pyspark

        yield (
            os.path.isfile(pyspark.__file__),
            os.path.isfile(py4j.__file__),
            sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            ),
        )

    # two rounds of tasks, so the second round runs in reused workers
    rdd = spark.sparkContext.parallelize(range(4), 4)
    for _ in range(2):
        assert set(rdd.mapPartitions(where).collect()) == {(True, True, 0)}


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


PYSPARK = {"pyspark/__init__.py": "", "pyspark/version.py": '__version__ = "4.1.2"\n'}
PY4J = {"py4j/__init__.py": "", "py4j/version.py": '__version__ = "0.10.9.9"\n'}


@pytest.fixture
def worker_path(tmp_path, monkeypatch):
    """A fabricated worker path laid out as Spark builds it: the pyspark and
    py4j archives and the spark-core jar first, then a user's --py-files
    archive, then site-packages. Returns the path and its parts."""
    # the lookups below must not leave importers for these files behind
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    parts = {
        "pyspark_zip": _zip(tmp_path / "pyspark.zip", PYSPARK),
        "py4j_zip": _zip(tmp_path / "py4j-0.10.9.9-src.zip", PY4J),
        "jar": _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
        "user_zip": _zip(tmp_path / "deps.zip", {"userlib/__init__.py": ""}),
        "site": _tree(tmp_path / "site-packages", {**PYSPARK, **PY4J}),
    }
    path = [str(tmp_path / "cwd"), *parts.values()]
    return path, parts


def test_spark_archives_are_dropped_when_directories_match(worker_path):
    path, p = worker_path
    assert spark_archives(path) == [p["pyspark_zip"], p["py4j_zip"], p["jar"]]


def test_mismatched_version_keeps_sparks_path(worker_path):
    path, p = worker_path
    older = {**PYSPARK, "pyspark/version.py": '__version__ = "4.0.0"\n'}
    _zip(p["pyspark_zip"], older)
    assert spark_archives(path) == []


def test_no_directory_pyspark_keeps_sparks_path(worker_path, tmp_path):
    path, p = worker_path
    only_py4j = _tree(tmp_path / "other-site", PY4J)
    assert spark_archives([e if e != p["site"] else only_py4j for e in path]) == []


def test_user_archive_is_kept(worker_path):
    path, p = worker_path
    assert p["user_zip"] not in spark_archives(path)
    assert spark_archives([p["user_zip"], p["site"]]) == []
