"""Index persistence — SaveIndex/LoadIndex as Parquet + JSON config.

Reference: `src/Core/VectorIndex.cpp:618-731` writes a config INI plus blobs
(vectors.bin, tree.bin, graph.bin, deletes.bin, metadata.bin,
metadataIndex.bin — `BKT/ParameterDefinitionList.h:7-10`). Our layout:

    index_dir/
      config.json            (metric, dim, knobs — the INI)
      vectors/               (id, vector, meta)      — vectors+metadata blobs
      tombstones/            (id)                    — deletes.bin
      heads/                 (head_id, vector)       — the in-memory tree
      postings/head_id=*/    (id, vector, dist)      — the SSD posting files

Heads are routed by scoring the whole head table (index/ann.py
route_queries), so no head-tree blob (tree.bin) is written; load_index
reads only the directories above and ignores any other member.

Dump/LoadFromDump (`CoreInterface.h:67-69`) — byte-level snapshots — map to
copying the directory; Parquet is already the portable serialization.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from sptag_spark.index.postings import write_postings

if TYPE_CHECKING:
    from sptag_spark.index.pq import PQCodebooks


@dataclass
class SptagIndex:
    vectors: DataFrame
    tombstones: DataFrame | None = None
    heads: DataFrame | None = None
    postings: DataFrame | None = None
    quantizer: "PQCodebooks | None" = None
    codes: DataFrame | None = None
    config: dict = field(default_factory=dict)


def save_quantizer(books: "PQCodebooks", path: str) -> None:
    """SaveQuantizer (`Common/PQQuantizer.h` Save/LoadQuantizer; SSDServing
    `QuantizerFilePath`): codebooks (M, 256, sub) + optional OPQ rotation as
    .npy blobs beside a small JSON header. Driver-side — the quantizer is
    kilobytes, the per-vector codes live in Parquet like everything else."""
    import numpy as np

    os.makedirs(path, exist_ok=True)
    np.save(os.path.join(path, "codebooks.npy"), books.codebooks)
    meta = {"m": int(books.m), "has_rotation": books.rotation is not None}
    if books.rotation is not None:
        np.save(os.path.join(path, "rotation.npy"), books.rotation)
    with open(os.path.join(path, "quantizer.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def load_quantizer(path: str) -> "PQCodebooks":
    import numpy as np

    from sptag_spark.index.pq import PQCodebooks

    with open(os.path.join(path, "quantizer.json")) as f:
        meta = json.load(f)
    rotation = (
        np.load(os.path.join(path, "rotation.npy"))
        if meta["has_rotation"]
        else None
    )
    return PQCodebooks(
        codebooks=np.load(os.path.join(path, "codebooks.npy")),
        rotation=rotation,
    )


def save_index(index: SptagIndex, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(index.config, f, indent=2, sort_keys=True)
    index.vectors.write.mode("overwrite").option("compression", "zstd").parquet(
        os.path.join(path, "vectors")
    )
    if index.tombstones is not None:
        index.tombstones.write.mode("overwrite").parquet(
            os.path.join(path, "tombstones")
        )
    if index.heads is not None:
        index.heads.write.mode("overwrite").parquet(os.path.join(path, "heads"))
    if index.postings is not None:
        write_postings(index.postings, os.path.join(path, "postings"))
    if index.quantizer is not None:
        save_quantizer(index.quantizer, os.path.join(path, "quantizer"))
    if index.codes is not None:
        index.codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))


def load_index(spark: SparkSession, path: str) -> SptagIndex:
    with open(os.path.join(path, "config.json")) as f:
        config = json.load(f)
    def _opt(name: str) -> DataFrame | None:
        p = os.path.join(path, name)
        return spark.read.parquet(p) if os.path.isdir(p) else None

    qdir = os.path.join(path, "quantizer")
    return SptagIndex(
        vectors=spark.read.parquet(os.path.join(path, "vectors")),
        tombstones=_opt("tombstones"),
        heads=_opt("heads"),
        postings=_opt("postings"),
        quantizer=load_quantizer(qdir) if os.path.isdir(qdir) else None,
        codes=_opt("codes"),
        config=config,
    )


def dump_index(index: SptagIndex) -> bytes:
    """Dump (`Wrappers/inc/CoreInterface.h:67-69`): the whole index as ONE
    wire-shippable bytes blob — an uncompressed tar of the SaveIndex
    directory layout (parquet members are already zstd-compressed). The
    reference returns a ByteArray snapshot; this is the same contract with
    the directory layout as the inner format."""
    import io
    import tarfile
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        save_index(index, td)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            tar.add(td, arcname=".")
        return buf.getvalue()


def load_index_from_dump(
    spark: SparkSession, blob: bytes, path: str
) -> SptagIndex:
    """LoadFromDump (`CoreInterface.h:68`): unpack a dump_index blob into
    ``path`` (the index's new on-disk home — Spark reads parquet from a
    directory, so unlike the reference's in-RAM ByteArray load the blob
    must land on storage) and load it."""
    import io
    import shutil
    import tarfile

    # VALIDATE the blob before touching anything at ``path`` (r10 review):
    # clearing first meant a truncated/corrupt blob destroyed a previously
    # good index before tarfile ever raised. getmembers() walks the whole
    # archive, so a bad blob fails HERE with the old index intact.
    tar = tarfile.open(fileobj=io.BytesIO(blob))
    tar.getmembers()
    # now clear KNOWN index artifacts (ADVICE r9): extracting over a
    # previous index at this path would leave stale members the new dump
    # doesn't carry (old codes/, replica_store/, refine/)
    # attached to the freshly loaded index
    for member in (
        "config.json", "vectors", "tombstones", "heads", "postings",
        "quantizer", "codes", "replica_store", "refine",
    ):
        p = os.path.join(path, member)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(path, exist_ok=True)
    with tar:
        try:
            tar.extractall(path, filter="data")
        except TypeError:  # pre-3.11.4: no filter= (trusted local blob)
            tar.extractall(path)
    return load_index(spark, path)
