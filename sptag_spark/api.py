"""User-facing index API — the CoreInterface/AnnIndex surface, Spark-backed.

Reference: `Wrappers/inc/CoreInterface.h` (the SWIG-exported `AnnIndex`:
Build/BuildWithMetaData/Search/SearchWithMetaData/BatchSearch/Add/Delete/
DeleteByMetaData/Save/Load/Merge) and `inc/Core/VectorIndex.h`. A user of the
reference drives everything through this class; this module provides the
same verbs over the canonical DataFrames so switching engines is a facade
swap, not a rewrite.

State model mirrors the reference exactly (SURVEY.md §1.1): an append-only
vector+meta table (ids positional), a tombstone set (deletes are soft), and
an optional meta→id "latest wins" mapping (`BuildWithMetaMapping` — adding a
vector whose metadata key already exists tombstones the previous holder,
`src/Core/VectorIndex.cpp:246,478-487`). Searches run against the live view
(base ∪ adds, minus tombstones).

Everything heavy stays a Spark plan: search is the map-side top-k kernel,
deletes are broadcast anti-joins, save/load is the parquet index store.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.index.heads import DEFAULT_HEAD_RATIO
from sptag_spark.operators.knn import attach_meta, knn_arrays
from sptag_spark.operators.mutate import (
    apply_tombstones,
    delete_by_meta,
    delete_by_vector,
)

_SCHEMA = "id long, vector array<float>, meta string"


class SparkAnnIndex:
    """The AnnIndex verbs over Spark DataFrames. Not thread-safe — the
    reference serializes mutations under m_dataAddLock too."""

    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        metric: str = "l2",
        meta_mapping: bool = False,
    ):
        self.spark = spark
        self.dim = int(dim)
        self.metric = metric
        self.meta_mapping = meta_mapping
        self._vectors = spark.createDataFrame([], _SCHEMA)
        self._tombstones = spark.createDataFrame([], "id long")
        self._next_id = 0
        self._version = 0  # bumped on every mutation; staleness check for ANN
        self._ann: tuple | None = None

    # -- construction -------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        vectors,
        metas=None,
        metric: str = "l2",
        meta_mapping: bool = False,
    ) -> "SparkAnnIndex":
        """Build/BuildWithMetaData/BuildWithMetaMapping."""
        V = np.asarray(vectors, dtype=np.float32)
        idx = cls(spark, V.shape[1], metric, meta_mapping)
        idx.add(V, metas)
        return idx

    def _frame(self, vectors, metas) -> DataFrame:
        V = np.asarray(vectors, dtype=np.float32)
        if V.ndim != 2 or V.shape[1] != self.dim:
            raise ValueError(
                f"DimensionSizeMismatch: expected (n, {self.dim})"
            )
        n = len(V)
        metas = [None] * n if metas is None else [str(m) for m in metas]
        rows = [
            (self._next_id + i, [float(x) for x in V[i]], metas[i])
            for i in range(n)
        ]
        return self.spark.createDataFrame(rows, _SCHEMA)

    # -- mutation -----------------------------------------------------------

    def add(self, vectors, metas=None) -> None:
        """AddIndex / AddWithMetaData: positional ids after the current max.
        With meta_mapping on, an added key evicts its previous holder."""
        batch = self._frame(vectors, metas)
        if self.meta_mapping:
            keys = batch.select("meta").where(F.col("meta").isNotNull()).distinct()
            evicted = delete_by_meta(self.live(), keys)
            self._tombstones = self._tombstones.unionByName(evicted)
        self._vectors = self._vectors.unionByName(batch)
        self._next_id += batch.count()
        self._version += 1

    def delete(self, ids) -> None:
        """DeleteIndex by id."""
        t = self.spark.createDataFrame([(int(i),) for i in ids], "id long")
        self._tombstones = self._tombstones.unionByName(t)
        self._version += 1

    def delete_by_vector(self, vectors) -> None:
        """DeleteIndex by vector value (exact match, dist < 1e-6)."""
        V = np.asarray(vectors, dtype=np.float32)
        targets = self.spark.createDataFrame(
            [([float(x) for x in v],) for v in V], "vector array<float>"
        )
        hits = delete_by_vector(self.live(), targets)
        self._tombstones = self._tombstones.unionByName(hits)
        self._version += 1

    def delete_by_meta(self, keys) -> None:
        """DeleteByMetaData: resolve through latest-wins mapping."""
        k = self.spark.createDataFrame([(str(x),) for x in keys], "meta string")
        self._tombstones = self._tombstones.unionByName(
            delete_by_meta(self.live(), k)
        )
        self._version += 1

    # -- query --------------------------------------------------------------

    def live(self) -> DataFrame:
        return apply_tombstones(self._vectors, self._tombstones)

    def build_ann(
        self, ratio: float = DEFAULT_HEAD_RATIO, nprobe: int = 10
    ) -> None:
        """Build the SPANN serving structure over the current live view —
        the reference's BuildIndex step that turns brute force into
        sub-linear serve. Mutations invalidate it lazily (the version
        counter below); the next ann search rebuilds, like the reference's
        rebuild-after-adds discipline."""
        from sptag_spark.index.heads import select_heads
        from sptag_spark.index.postings import build_postings

        self._release_ann()  # a rebuild must not leak the stale structure
        live = self.live().persist()
        heads = select_heads(live, ratio=ratio, metric=self.metric).persist()
        postings = build_postings(live, heads, self.metric).persist()
        heads.count()  # materialize both caches while live is still cached
        postings.count()
        # live is build-time scratch: nothing reads it after the build, so
        # keeping it pinned would hold a full extra copy of the vector
        # table in executor storage for the index lifetime
        live.unpersist()
        self._ann = (self._version, heads, postings, nprobe)

    def _release_ann(self) -> None:
        if self._ann is not None:
            from sptag_spark.resources import release

            for df in self._ann[1:3]:
                release(df)
            self._ann = None

    def close(self) -> None:
        """Release every persisted artifact this index pinned (the
        reference's index owns its memory and frees it on close,
        `inc/Core/VectorIndex.h` lifecycle; here 'memory' is executor
        storage). The index object remains usable — the next ann search
        simply rebuilds."""
        self._release_ann()

    def batch_search(
        self, queries, k: int = 10, with_meta: bool = True, ann: bool = False
    ) -> DataFrame:
        """BatchSearch/SearchWithMetaData: (query_id, rank, id, dist[, meta]).

        ann=False is exact brute force (the semantic oracle); ann=True serves
        through the SPANN head/posting plan — the same verb choosing a
        sub-linear physical strategy, SURVEY §7's `ORDER BY dist LIMIT k`
        rewrite expressed at the API layer. A stale structure (mutations
        since build_ann) is rebuilt first, so results always reflect the
        live view."""
        Q = np.asarray(queries, dtype=np.float64)
        if Q.ndim == 1:
            Q = Q[None, :]
        if ann:
            if self._ann is None or self._ann[0] != self._version:
                self.build_ann()
            _, heads, postings, nprobe = self._ann
            from sptag_spark.index.ann import ann_search

            qdf = self.spark.createDataFrame(
                [(i, [float(x) for x in Q[i]]) for i in range(len(Q))],
                "query_id long, vector array<float>",
            )
            res = ann_search(
                qdf, heads, postings, k=k, nprobe=nprobe, metric=self.metric
            )
        else:
            res = knn_arrays(
                self.live(), np.arange(len(Q), dtype=np.int64), Q, k, self.metric
            )
        return attach_meta(res, self._vectors) if with_meta else res

    def local_replica(self):
        """Hand off the current ANN structure to the serving tier: a
        DiskSpannReplica (serving_local.py) over this index's heads and
        postings — the reference's deployment step of loading built
        artifacts into a serving node. The replica packs the postings
        into its own private store (heads and ids in RAM, vectors mapped
        from the store file), removed when the replica is collected.
        Builds/refreshes the ANN structure first if mutations made it
        stale, so the replica always snapshots the live view (and, being
        a copy, stays a consistent snapshot while the index mutates on)."""
        from sptag_spark.serving_local import DiskSpannReplica

        if self._ann is None or self._ann[0] != self._version:
            self.build_ann()
        _, heads, postings, _ = self._ann
        return DiskSpannReplica(heads, postings)

    def search(self, query, k: int = 10, with_meta: bool = True) -> list:
        """Search: one query, materialized as [(id, dist[, meta])...]."""
        rows = self.batch_search(query, k, with_meta).orderBy("rank").collect()
        if with_meta:
            return [(r["id"], r["dist"], r["meta"]) for r in rows]
        return [(r["id"], r["dist"]) for r in rows]

    def get_meta_mapping(self) -> DataFrame:
        from sptag_spark.operators.mutate import meta_mapping

        return meta_mapping(self.live())

    # -- persistence / merge ------------------------------------------------

    def _stored(self):
        from sptag_spark.io.index_store import SptagIndex

        return SptagIndex(
            config={
                "dim": self.dim,
                "metric": self.metric,
                "meta_mapping": self.meta_mapping,
                "next_id": self._next_id,
            },
            vectors=self._vectors,
            tombstones=self._tombstones,
        )

    def save(self, path: str) -> None:
        """SaveIndex → parquet directories + config (io/index_store.py)."""
        from sptag_spark.io.index_store import save_index

        save_index(self._stored(), path)

    def dump(self) -> bytes:
        """Dump (`CoreInterface.h:67`): the index as one bytes blob — a
        tar of the save() layout, shippable over any byte transport."""
        from sptag_spark.io.index_store import dump_index

        return dump_index(self._stored())

    @classmethod
    def load_from_dump(
        cls, spark: SparkSession, blob: bytes, path: str
    ) -> "SparkAnnIndex":
        """LoadFromDump (`CoreInterface.h:68`): unpack a dump() blob into
        ``path`` and load — search results are identical to the source
        index's."""
        from sptag_spark.io.index_store import load_index_from_dump

        load_index_from_dump(spark, blob, path)
        return cls.load(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SparkAnnIndex":
        from sptag_spark.io.index_store import load_index

        stored = load_index(spark, path)
        idx = cls(
            spark,
            int(stored.config["dim"]),
            stored.config.get("metric", "l2"),
            bool(stored.config.get("meta_mapping", False)),
        )
        idx._vectors = stored.vectors
        if stored.tombstones is not None:
            idx._tombstones = stored.tombstones
        idx._next_id = int(stored.config["next_id"])
        return idx

    def merge(self, other: "SparkAnnIndex") -> "SparkAnnIndex":
        """MergeIndex: re-insert the other's live vectors after ours."""
        from sptag_spark.operators.mutate import merge_index

        out = SparkAnnIndex(self.spark, self.dim, self.metric, self.meta_mapping)
        out._vectors = merge_index(
            self._vectors, self._tombstones, other._vectors, other._tombstones
        )
        out._next_id = out._vectors.agg(
            F.coalesce(F.max("id") + 1, F.lit(0))
        ).first()[0]
        return out
