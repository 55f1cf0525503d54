"""sptag_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of microsoft/SPTAG (ANN vector search), plus the
large-scale training-data pipeline operators (dedup, similarity search, text
analysis) such an engine needs at 100 TB.

Design stance (see SURVEY.md): SPTAG's execution machinery (BKT/KDT tree
traversal, RNG graph walks, SIMD kernels, SSD posting files) is an
*approximation device* for top-k-by-distance. In Spark we express the same
semantics declaratively — distance expressions + window ranking for the exact
path, and a SPANN-shaped heads/postings layout (broadcast centroid join +
partition-pruned posting scan) for the billion-scale approximate path.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy, so that starting the worker daemon (sptag_spark.pyspark_daemon)
    # imports no pyspark before it has chosen the worker's path
    if name == "get_spark":
        from sptag_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
