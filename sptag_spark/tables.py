"""Canonical table loaders.

The reference's data model (SURVEY.md §1) is a VectorSet (N×D matrix) plus a
per-vector metadata blob (`AnnService/inc/Core/VectorSet.h:12-81`,
`MetadataSet.h:12-44`). Our canonical index table is one DataFrame:

    (id BIGINT, vector ARRAY<FLOAT>, meta STRING)

derived from the driver-provided `embeddings` parquet. Tombstones live in a
side table (`Labelset.h:14-120` → soft-delete table, see operators/mutate.py).

Queries are themselves a DataFrame `(query_id BIGINT, vector ARRAY<FLOAT>)` —
SPTAG's BatchSearch (`Wrappers/inc/CoreInterface.h:49`) is a join-shaped
operator in Spark.

At 100 TB, `vectors` is the big fact table: store Parquet/zstd, partitioned
(for the ANN path, by head_id — see index/postings.py); the query batch is
small and always broadcast.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Every 25th vector doubles as a query: deterministic, derivable from the data
# alone (queries() callables only receive (spark, sf_dir)).
QUERY_MODULUS = 25
DEFAULT_K = 10


# Lazy-reader catalog: Spark 4 runs a schema-inference job (driver listing +
# a 1-task footer read) for EVERY spark.read.parquet call. The canonical
# testdata tables are immutable for a session's lifetime, so the unexecuted
# reader DataFrame is memoized per (context, sf_dir, table) — the behavior a
# real deployment gets from registering tables in a catalog once. Nothing
# computed is cached: every consumer of the returned frame still scans the
# parquet on execution; only the repeated per-call schema-inference job goes.
_RAW_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The raw parquet reader for a canonical table (no column mapping;
    events `ts` arrives in its on-file encoding). Cached per session."""
    if name == "events":
        # must be set before the read so TIMESTAMP(NANOS) files bind as long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (id(spark.sparkContext), sf_dir, name)
    df = _RAW_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _RAW_CACHE[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_table(spark, sf_dir)
    return raw_table(spark, sf_dir, name)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to session-tz TIMESTAMP regardless of
    how the parquet writer encoded it. Driver testdata has shipped both
    TIMESTAMP(NANOS) (read as long under the legacy flag) and timestamp[us]
    (read as TIMESTAMP_NTZ); accept either so a testdata regen can't break
    every events query. Session timezone is pinned to UTC (session.py), so the
    NTZ→LTZ cast preserves the wall-clock instant DuckDB's epoch() sees."""
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet `ts` arrives in writer-dependent encodings; see
    normalize_event_ts. The legacy nanos flag is harmless when the column is
    already a real timestamp."""
    return normalize_event_ts(raw_table(spark, sf_dir, "events"))


def vectors_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (id, vector, meta) from the embeddings parquet.

    meta mirrors the reference's newline-delimited string metadata convention
    (`MetadataSet.h:43`; tests use stringified ints `Test/src/AlgoTest.cpp:180`).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vector"),
        F.col("label").cast("string").alias("meta"),
    )


def queries_table(
    spark: SparkSession, sf_dir: str, modulus: int = QUERY_MODULUS
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % modulus == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )


def local_frame(
    spark: SparkSession, schema: StructType | str, data
) -> DataFrame:
    """Driver-side rows as a frame: an Arrow table cast to ``schema``,
    which Spark plans as a LocalRelation. Collecting it, or a projection
    of it, is folded on the driver and runs no job, where a frame built
    from a Python list is an RDD scan whose every read runs Python-worker
    tasks. An empty input is a LocalRelation too.

    ``data``: a mapping of column name → values, or a list of row tuples
    in schema order. An array column may be given as a 2-D matrix, which
    is cast to the element type with numpy and handed to Arrow without
    per-element boxing; any other column goes through ``pyarrow.array``
    with the field's Arrow type (None → null)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    if not isinstance(data, Mapping):
        data = dict(zip(names, zip(*data))) if data else {n: [] for n in names}
    cols = []
    for f in schema.fields:
        t, v = to_arrow_type(f.dataType), data[f.name]
        if isinstance(v, np.ndarray) and v.ndim == 2:
            M = np.ascontiguousarray(v, dtype=t.value_type.to_pandas_dtype())
            n, d = M.shape
            offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d)
            cols.append(pa.ListArray.from_arrays(offsets, pa.array(M.ravel())))
        else:
            cols.append(pa.array(v, type=t))
    return spark.createDataFrame(pa.Table.from_arrays(cols, names), schema)


# Shared SQL fragments for the DuckDB oracle (same derivation, ANSI SQL).
ORACLE_VECTORS = (
    "SELECT vec_id AS id, embedding AS vector, CAST(label AS VARCHAR) AS meta "
    "FROM embeddings"
)
ORACLE_QUERIES = (
    f"SELECT vec_id AS query_id, embedding AS vector FROM embeddings "
    f"WHERE vec_id % {QUERY_MODULUS} = 0"
)
