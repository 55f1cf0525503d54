"""The tests exercise the checkout they live in: the driver and Spark's
Python workers both import this tree's ``sptag_spark``, so a suite run
inside a second checkout (an exported parent tree, say) tests that tree."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_and_workers_import_this_checkout(spark):
    import sptag_spark

    def where(_):
        import sptag_spark

        yield os.path.abspath(sptag_spark.__file__)

    worker = spark.sparkContext.parallelize([0], 1).mapPartitions(where)
    for path in (os.path.abspath(sptag_spark.__file__), *worker.collect()):
        assert path.startswith(ROOT + os.sep), path


def test_workers_get_this_checkout_on_pythonpath(spark):
    """get_spark hands the workers the checkout on PYTHONPATH, so they
    import it whatever directory the driver was started from."""

    def pythonpath(_):
        yield os.environ.get("PYTHONPATH", "")

    (path,) = spark.sparkContext.parallelize([0], 1).mapPartitions(
        pythonpath
    ).collect()
    assert ROOT in path.split(os.pathsep), path
