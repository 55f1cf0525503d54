"""Process-local SPANN serving replicas — ms-latency serving of Spark-built artifacts.

The reference's deployment shape (SURVEY §2.11, `Server/ServiceContext.cpp`)
is: indexes are BUILT offline, then every serving node loads the artifacts
into RAM/SSD and answers queries from memory at ms latency; the aggregator
shards queries across such replicas. In this engine, Spark IS the offline
build tier (heads, partitioned postings — `index/`), and Spark batch plans
are the high-throughput serve tier; but a per-query job costs ~1s of fixed
scheduling at any scale, so the reference's ms-scale SINGLE-QUERY operating
point needs the reference's own serving shape: load the Spark-built
artifacts into a process-local replica and answer with NumPy.

This module is that replica. It consumes exactly what the Spark side
persists (`io/index_store.py` save_index layout, or live heads/postings
DataFrames, which it packs into a store first) and mirrors
`index/ann.py`'s routing + scoring semantics — including the
`limitDist > 0.1` ratio-cut guard and (dist, id) tie order — so
`tests/test_serving_local.py` can pin replica results row-identical to
the distributed `ann_search` plan.

Scale contract: ONE replica class, DiskSpannReplica, holds heads and
posting ids in RAM and maps the posting vectors from a packed store file,
as a SPANN serving node keeps postings on local SSD; the store is a named
directory or one the replica packs privately and removes with itself (PQ
replicas hold M-byte codes instead).
Sharding above that is the aggregator's job (`index/ann.py`
route_queries is that same operator, distributed).
"""

from __future__ import annotations

import functools
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from sptag_spark.errors import StoreFormatError
from sptag_spark.index.ann import (
    MAX_DIST_RATIO,
    SEARCH_INTERNAL_RESULT_NUM,
    _route_one,
    head_matrix,
)
from sptag_spark.operators.knn import (
    _block_distances,
    _exact_pair_dists,
    _exact_rowpair_dists,
)


def _route_batch(
    head_ids: np.ndarray,
    H: np.ndarray,
    queries: list[tuple[int, np.ndarray]],
    nprobe: int,
    metric: str,
    max_dist_ratio: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray, np.ndarray]:
    """Batched head routing — per query, bitwise the search_one selection
    (_route_one): BLAS preselect of nprobe+16 heads behind a tie-safe
    threshold (keep everything <= the kth value, so boundary ties never
    drop), exact row-paired rescore of just those pairs, then the
    (dist, head_id) order and limitDist guard on exact values.
    → (qids, Q, nq, pair_q, pair_h): query ids, the float64 query matrix,
    per-query norms for cosine rescore (the pair kernel computes
    np.linalg.norm(q) per query — same code path, so same ulps; None for
    other metrics), and the query index / head slot of every
    (query, probed head) pair."""
    qids = np.array([int(qid) for qid, _ in queries], dtype=np.int64)
    Q = np.array([np.asarray(v, dtype=np.float64) for _, v in queries])
    nq = (
        np.array([np.linalg.norm(q) for q in Q])
        if metric == "cosine"
        else None
    )
    B = len(Q)
    nH = len(head_ids)
    npb = min(nprobe, nH)
    kkh = min(npb + 16, nH)
    chunk = max(1, int(16_000_000 // max(nH, 1)))
    pq_parts: list[np.ndarray] = []
    ph_parts: list[np.ndarray] = []
    for c0 in range(0, B, chunk):
        Qc = Q[c0 : c0 + chunk]
        DH = _block_distances(H, Qc, metric)  # (nH, m)
        t = np.partition(DH, kkh - 1, axis=0)[kkh - 1]  # (m,)
        qi, hi_ = np.nonzero((DH <= t[None, :]).T)
        pq_parts.append(qi + c0)
        ph_parts.append(hi_)
    pair_q = np.concatenate(pq_parts)
    pair_h = np.concatenate(ph_parts)
    hd = _exact_rowpair_dists(
        H[pair_h],
        Q[pair_q],
        metric,
        nq_rows=(nq[pair_q] if nq is not None else None),
    )
    o = np.lexsort((head_ids[pair_h], hd, pair_q))
    pair_q, pair_h, hd = pair_q[o], pair_h[o], hd[o]
    pos = _run_positions(pair_q)
    keep = pos < npb
    pair_q, pair_h, hd, pos = (
        pair_q[keep],
        pair_h[keep],
        hd[keep],
        pos[keep],
    )
    if max_dist_ratio < float("inf"):
        # pos==0 is each query's min head distance (runs are
        # (dist, id)-sorted); scatter it to the run then cut
        starts = np.nonzero(pos == 0)[0]
        run_id = np.cumsum(pos == 0) - 1
        cut = hd[starts][run_id] * max_dist_ratio
        keep = ~(cut > 0.1) | (hd <= cut)  # limitDist guard
        pair_q, pair_h = pair_q[keep], pair_h[keep]
    return qids, Q, nq, pair_q, pair_h


def route_to_shards(
    centers: np.ndarray | None,
    scatter_topk: int | None,
    q: np.ndarray,
    metric: str,
    n: int,
) -> list[int]:
    """Center-routed scatter selection, shared by the in-process and
    network aggregators: indices of the scatter_topk nearest of ``n``
    shards by query-to-center distance ((dist, index) determinism in
    place of the reference's unstable std::sort ties), or all of them
    when routing is off. scatter_topk <= 0 means BROADCAST — the
    reference's TopK default -1 (`AggregatorContext.cpp:36`), not a
    negative slice."""
    if (
        centers is None
        or scatter_topk is None
        or scatter_topk <= 0
        or scatter_topk >= n
    ):
        return list(range(n))
    # empty shards carry +inf sentinel centers; score only finite rows so
    # the ip/cosine kernels never compute through inf·0 = NaN (the old
    # post-hoc np.where guard was correct but raised RuntimeWarnings).
    # The never-route-to-empty invariant holds by construction: masked
    # rows keep +inf and sort last (r10/r12 advice).
    finite = np.isfinite(centers).all(axis=1)
    d = np.full(n, np.inf)
    if finite.any():
        d[finite] = _exact_pair_dists(
            centers[finite], np.asarray(q, np.float64), metric
        )
    d = np.where(np.isfinite(d), d, np.inf)
    order = np.lexsort((np.arange(n), d))
    return [int(i) for i in order[:scatter_topk]]


def _id_filter_mask(
    ids: np.ndarray,
    deleted_ids: np.ndarray | None,
    allowed_ids: np.ndarray | None,
) -> np.ndarray | None:
    """Serve-time candidate filter: keep ids not in ``deleted_ids``
    (tombstones) and, when given, in ``allowed_ids`` (a metadata
    predicate's surviving ids). → boolean mask, or None when no filter
    applies (callers skip the indexing pass)."""
    keep = None
    if deleted_ids is not None and len(deleted_ids):
        keep = np.isin(ids, np.asarray(deleted_ids), invert=True)
    if allowed_ids is not None:
        k2 = np.isin(ids, np.asarray(allowed_ids))
        keep = k2 if keep is None else (keep & k2)
    return keep


def _run_positions(sorted_keys: np.ndarray) -> np.ndarray:
    """Position of each element within its run of equal keys (keys must
    be pre-sorted) — the segment-arithmetic replacement for a per-group
    ``arange`` loop in the batched rank/preselect stages."""
    new = np.empty(len(sorted_keys), dtype=bool)
    new[0] = True
    new[1:] = sorted_keys[1:] != sorted_keys[:-1]
    starts = np.nonzero(new)[0]
    run_id = np.cumsum(new) - 1
    return np.arange(len(sorted_keys), dtype=np.int64) - starts[run_id]


def _dedup_keep_min(
    cq: np.ndarray,
    key2: np.ndarray,
    val: np.ndarray,
    *carry: np.ndarray,
) -> tuple:
    """One row per (cq, key2) pair, keeping the MINIMUM ``val`` (carried
    arrays take the group's first row in sorted order — callers only pass
    carries whose value is identical across a group's rows, e.g. replica
    rows of one vector id). Packs the pair into one int64 for a single
    argsort pass when key2 fits 32 bits; arbitrary keys take the 3-key
    lexsort. Shared by the full-vector and PQ batch dedups.
    → (cq_u, key2_u, val_u, *carry_u)."""
    if (
        len(key2)
        and key2.min() >= 0
        and key2.max() < (1 << 32)
        and cq.max() < (1 << 31)
    ):
        key = (cq << np.int64(32)) | key2
        o = np.argsort(key, kind="stable")
        key_s = key[o]
        new = np.empty(len(key_s), dtype=bool)
        new[0] = True
        new[1:] = key_s[1:] != key_s[:-1]
        starts = np.nonzero(new)[0]
        return (
            key_s[starts] >> np.int64(32),
            key_s[starts] & np.int64(0xFFFFFFFF),
            np.minimum.reduceat(val[o], starts),
            *(c[o][starts] for c in carry),
        )
    o = np.lexsort((val, key2, cq))
    cq_s, k_s, v_s = cq[o], key2[o], val[o]
    new = np.empty(len(cq_s), dtype=bool)
    new[0] = True
    new[1:] = (cq_s[1:] != cq_s[:-1]) | (k_s[1:] != k_s[:-1])
    return (
        cq_s[new],
        k_s[new],
        v_s[new],
        *(c[o][new] for c in carry),
    )


def _batch_in_chunks(rep, queries, *args, **kwargs) -> list:
    """``rep.batch_search`` over _BATCH_QUERY_CHUNK-query chunks: above
    ~512 queries the global sort/dedup arrays outgrow cache and per-query
    cost climbs back up (SCALING.md r10 batch table; a THREADED chunk
    fan-out measured ≤13% at 4 workers, negative at 8, so the loop stays
    serial). The per-chunk IO tables are stitched back to batch order."""
    out: list[tuple[int, int, int, float]] = []
    ios: list[dict] = []
    for i in range(0, len(queries), _BATCH_QUERY_CHUNK):
        out.extend(
            rep.batch_search(
                queries[i : i + _BATCH_QUERY_CHUNK], *args, **kwargs
            )
        )
        ios.append(rep.last_batch_io)
    rep.last_batch_io = {
        key: np.concatenate([io[key] for io in ios]) for key in ios[0]
    }
    return out


class _SlabReplica:
    """The one SPANN search loop over the packed-store layout: head ids
    and float64 centroids ``H`` in RAM, and per head one slab extent
    (``slab_off``, ``slab_len``) into the posting rows, whose ids are
    ``_row_ids(rows)``. Route → gather the probed slabs → dedup by id →
    filter → score → rank by (dist, id), with an exact rescore when the
    scorer's values are not final.

    Its scorer is the full-vector one: ``post_V`` rows (the store's value
    type, a memmap) promoted to float64 before any arithmetic, so every
    value type scores bit-identically (l2 would promote inside V - q, but
    cosine's norm would accumulate in the store's type). The PQ replica swaps in the ADC
    scorer and the refine-store row source and keeps the rest."""

    #: per-call IO counters in the reference harness's "Ex IOs / Ex
    #: Elements" shape (SSDIndex.h:288-345): posting lists read and rows
    #: gathered by the last search_one; 0 before the first search
    last_io_postings = 0
    last_io_rows = 0
    #: per-query (postings_read, rows_scanned) of the last batch_search
    last_batch_io: dict | None = None
    #: ids a live index deleted but has not compacted out of the store yet
    #: (``tombstones.npy``); merged into every search's deleted set
    store_deleted_ids: np.ndarray | None = None

    def _set_layout(self, head_ids, H, slab_off, slab_len) -> None:
        """Install the layout, MEMBERLESS heads dropped (r12): an empty
        slab wastes nprobe budget, and a query whose NEAREST head is empty
        lets the limitDist guard prune every other head and answer EMPTY
        (measured, r12 dim-100 probe — 11 of 64 queries). nprobe then
        counts real postings only, as in the reference."""
        keep = slab_len > 0
        self.head_ids, self.H = head_ids[keep], H[keep]
        self.slab_off, self.slab_len = slab_off[keep], slab_len[keep]
        # live-rows cumulative: posting lengths via np.diff, total via [-1]
        self.indptr = np.concatenate(([0], np.cumsum(self.slab_len)))

    def _row_ids(self, rows: np.ndarray) -> np.ndarray:
        return self.post_ids[rows]

    def _deleted(self, deleted_ids: np.ndarray | None) -> np.ndarray | None:
        """A caller's deleted set with the store's tombstones merged in —
        idempotent under the batch chunk recursion."""
        if self.store_deleted_ids is None:
            return deleted_ids
        if deleted_ids is None or len(deleted_ids) == 0:
            return self.store_deleted_ids
        return np.union1d(
            np.asarray(deleted_ids, dtype=np.int64), self.store_deleted_ids
        )

    def _score_ctx(self, Q: np.ndarray):
        """Per-batch scorer state (the PQ replica's LUT tensor)."""
        return Q

    def _block_scores(self, rows, qsub, ctx, metric) -> np.ndarray:
        """(|rows|, |qsub|) scores of slab rows against queries ``qsub``."""
        return _block_distances(
            np.asarray(self.post_V[rows], dtype=np.float64), ctx[qsub], metric
        )

    def _scores_one(self, rows, q, metric) -> np.ndarray:
        return _exact_pair_dists(
            np.asarray(self.post_V[rows], dtype=np.float64), q, metric
        )

    def _rescore_depth(self, k: int, batch: bool) -> int | None:
        """Candidates per query that get an exact rescore, or None when
        the scorer's values are final. search_one scores full vectors
        exactly; a batch's BLAS block values carry GEMM noise, so the
        top k+16 of them are rescored row by row — the final (dist, id)
        rank can differ from search_one's only if that noise reorders
        more than 16 true neighbours."""
        return k + 16 if batch else None

    def _exact_rows(self, rows, ids) -> np.ndarray:
        """float64 vectors of candidate rows for the exact rescore."""
        return np.asarray(self.post_V[rows], dtype=np.float64)

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """→ (ids, dists), rank order. Same routing + scoring semantics as
        the distributed plan (index/ann.py).

        ``deleted_ids`` / ``allowed_ids``: serve-time candidate filters —
        the reference's serving node drops tombstoned ids during search
        (`SPANNIndex.cpp` checks m_deletedID per candidate; metadata
        filters reach the same spot via the filter UDF, §2.2) rather than
        rebuilding. Filtering happens BEFORE scoring, after dedup, so the
        top-k back-fills from the surviving candidates exactly like the
        reference's heap that never admits a deleted id."""
        q = np.asarray(q, dtype=np.float64)
        # an empty shard routes nowhere and answers empty, not a crash
        sel, _ = _route_one(
            self.head_ids, self.H, q, nprobe, metric, max_dist_ratio
        )
        cand = np.concatenate(
            [
                np.arange(
                    self.slab_off[s], self.slab_off[s] + self.slab_len[s]
                )
                for s in sel
            ]
        ) if len(sel) else np.empty(0, dtype=np.int64)
        # per-query IO witness: for a store these ARE the memmap reads
        self.last_io_postings = int(len(sel))
        self.last_io_rows = int(cand.size)
        # replica dedup on vector id (same as the distributed min-agg)
        ids, first = np.unique(self._row_ids(cand), return_index=True)
        cand = cand[first]
        keep = _id_filter_mask(ids, self._deleted(deleted_ids), allowed_ids)
        if keep is not None:
            cand, ids = cand[keep], ids[keep]
        if cand.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        d = self._scores_one(cand, q, metric)
        depth = self._rescore_depth(k, batch=False)
        top = np.lexsort((ids, d))[: k if depth is None else depth]
        if depth is not None:
            cand, ids = cand[top], ids[top]
            d = _exact_pair_dists(self._exact_rows(cand, ids), q, metric)
            top = np.lexsort((ids, d))[:k]
        return ids[top], d[top]

    def batch_search(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """→ rows of (query_id, rank, id, dist) — the QueryResult contract,
        row-identical to a search_one loop but VECTORIZED head-major: the
        batch's (query, probed-head) pairs are inverted so each posting
        slab is gathered from the store ONCE per batch (one page-read per
        slab instead of one per query probing it) and scored against all
        its queries in one block — the reference's batch-throughput shape
        (`SearchIndex` over a query batch amortizes posting reads the same
        way). Block values that are not final (full-vector BLAS) are
        replaced by the exact per-pair recompute on a (k+16)-margin
        preselect, the same BLAS-select / exact-rescore contract as the
        distributed kernel (`operators/knn.py _topk_frame`), so reported
        values stay bit-identical to search_one and the SQL oracle.

        Candidate memory is O(batch · nprobe · posting_limit) scalar rows
        (vectors never accumulate — only the probed slab is resident);
        the planner's REPLICA_DISPATCH_MAX_QUERIES cap bounds it at serve
        scale."""
        if not queries or len(self.head_ids) == 0:
            return []
        if len(queries) > _BATCH_QUERY_CHUNK:
            return _batch_in_chunks(
                self, queries, k, nprobe, metric, max_dist_ratio,
                deleted_ids=deleted_ids, allowed_ids=allowed_ids,
            )
        # Stage 1 — routing (bitwise the search_one selection, incl. the
        # (dist, head_id) tie order and limitDist guard on exact values)
        qids, Q, nq, pair_q, pair_h = _route_batch(
            self.head_ids, self.H, queries, nprobe, metric, max_dist_ratio
        )
        B = len(Q)
        # per-query LOGICAL IO table (reference shape, SSDIndex.h:288-345),
        # bitwise search_one's counters; the head-major pass below
        # amortizes the PHYSICAL slab reads across queries sharing a head
        self.last_batch_io = {
            "postings_read": np.bincount(pair_q, minlength=B),
            "rows_scanned": np.bincount(
                pair_q, weights=self.slab_len[pair_h], minlength=B
            ).astype(np.int64),
        }
        if pair_h.size == 0:
            return []
        deleted_ids = self._deleted(deleted_ids)
        ctx = self._score_ctx(Q)
        depth = self._rescore_depth(k, batch=True)
        kk = k if depth is None else depth

        # Stage 2 — head-major scoring: one slab gather + one score block
        # per distinct probed head, shared by every query probing it. A
        # per-head tie-safe local top-kk (keep everything <= the kth
        # value, so boundary ties never drop) caps what flows downstream:
        # the global top-kk is a subset of every slab's local top-kk.
        ho = np.argsort(pair_h, kind="stable")
        ph, pq = pair_h[ho], pair_q[ho]
        bnd = np.nonzero(ph[1:] != ph[:-1])[0] + 1
        starts = np.concatenate(([0], bnd))
        ends = np.concatenate((bnd, [len(ph)]))
        cand_q: list[np.ndarray] = []
        cand_rows: list[np.ndarray] = []
        cand_d: list[np.ndarray] = []
        for s0, e0 in zip(starts, ends):
            s = int(ph[s0])
            lo = int(self.slab_off[s])
            hi = lo + int(self.slab_len[s])
            rows = np.arange(lo, hi, dtype=np.int64)
            qsub = pq[s0:e0]
            # the unfiltered slab is read through a slice: a view, where
            # an index array would copy it once more before the upcast
            sl = slice(lo, hi)
            # serve-time filter BEFORE the per-slab cap: the cap ranks by
            # unfiltered distance, so a selective filter applied later
            # would silently evict surviving candidates that search_one
            # back-fills (pinned by test_batch_filter_survives_slab_cap)
            fmask = _id_filter_mask(self._row_ids(sl), deleted_ids, allowed_ids)
            if fmask is not None:
                rows = sl = rows[fmask]
                if rows.size == 0:
                    continue
            D = self._block_scores(sl, qsub, ctx, metric)
            if len(rows) > kk:
                t = np.partition(D, kk - 1, axis=0)[kk - 1]  # (|qsub|,)
                r, c = np.nonzero((D <= t[None, :]).T)
                cand_q.append(qsub[r])
                cand_rows.append(rows[c])
                cand_d.append(D[c, r])
            else:
                cand_q.append(np.repeat(qsub, len(rows)))
                cand_rows.append(np.tile(rows, len(qsub)))
                cand_d.append(D.T.ravel())
        if not cand_q:
            return []
        cq = np.concatenate(cand_q)
        cr = np.concatenate(cand_rows)
        cd = np.concatenate(cand_d)

        # Stage 3 — global dedup + rank, all segment arithmetic: one row
        # per (query, id) (replicas of an id share one vector, so any
        # representative row scores identically), (dist, id) order, then
        # the exact rescore of each query's top ``depth`` when the block
        # values are not final.
        cq_u, ids_u, cd_u, cr_u = _dedup_keep_min(
            cq, self._row_ids(cr), cd, cr
        )
        o2 = np.lexsort((ids_u, cd_u, cq_u))
        cq_u, ids_u, cd_u, cr_u = cq_u[o2], ids_u[o2], cd_u[o2], cr_u[o2]
        pos = _run_positions(cq_u)
        if depth is not None:
            m = pos < depth
            cq_u, ids_u, cr_u = cq_u[m], ids_u[m], cr_u[m]
            cd_u = _exact_rowpair_dists(
                self._exact_rows(cr_u, ids_u),
                Q[cq_u],
                metric,
                nq_rows=(nq[cq_u] if nq is not None else None),
            )
            o3 = np.lexsort((ids_u, cd_u, cq_u))
            cq_u, ids_u, cd_u = cq_u[o3], ids_u[o3], cd_u[o3]
            pos = _run_positions(cq_u)
        fin = pos < k
        return [
            (int(qids[p]), int(r), int(i), float(dd))
            for p, r, i, dd in zip(
                cq_u[fin], pos[fin] + 1, ids_u[fin], cd_u[fin]
            )
        ]


_BATCH_QUERY_CHUNK = 512  # batch_search sub-batch size (measured knee, r10)

#: native VALUE-TYPE packed stores (VERDICT r11 #1): the reference keeps
#: vectors in their declared type end-to-end — Dataset<T> rows are
#: D×sizeof(T) bytes (`AnnService/inc/Core/VectorSet.h:35`,
#: `Dataset.h:78-94`), so SPACEV1B's int8 corpus costs 1 byte/component on
#: SSD and per posting read. A float32-only store is 4× that I/O. The
#: score kernels promote every gathered slab to float64 before any
#: arithmetic, so an int8/uint8/int16 store is RESULT-IDENTICAL whenever
#: the cast is lossless — which the builders verify per Arrow batch.
_STORE_DTYPES = {
    "float32": np.float32,
    "int8": np.int8,
    "uint8": np.uint8,
    "int16": np.int16,
}
_STORE_EXT = {"float32": "f32", "int8": "i8", "uint8": "u8", "int16": "i16"}


def _pack_values(V32: np.ndarray, value_type: str) -> np.ndarray:
    """Cast a float32 vector block to the store's value type, REFUSING a
    lossy cast: an int8 store of a genuinely-float corpus would silently
    change every distance, so the builder fails loudly instead (the
    reference can't hit this — its Dataset<T> never converts)."""
    if value_type == "float32":
        return V32
    dt = _STORE_DTYPES[value_type]
    Vt = V32.astype(dt)
    if not np.array_equal(Vt.astype(np.float32), V32):
        raise ValueError(
            f"value_type={value_type!r} packed store would be LOSSY: vector "
            f"components are not exactly representable as {value_type} — "
            "build with value_type='float32' (or ingest the corpus in its "
            "native integer type)"
        )
    return Vt


def _vector_row_crc():
    """Per-row crc32 of the vector column's JSON form — the summand of
    `_vector_crc`, exposed so a per-group aggregate (SpannLiveIndex's
    delta summary) sums exactly the same integers."""
    from pyspark.sql import functions as F

    return F.crc32(F.to_json(F.col("vector")))


def _vector_crc(df: DataFrame):
    """Order-independent CONTENT checksum of the vector column: integer
    sum of per-row crc32 over the JSON form. Ids alone are blind to a
    re-embedded corpus (same ids, new values) — the exact case where
    serving a stale store silently answers with the previous embedding's
    distances (r10 review)."""
    from pyspark.sql import functions as F

    return F.sum(_vector_row_crc())


def postings_fingerprint(postings: DataFrame) -> dict:
    """Identity of the posting set a packed store was built from — row
    count + (head_id, id) checksum + vector content checksum, one agg
    job. Recorded in the store's meta.json so a rebuilt index at the same
    path never serves a stale store (the same staleness class ADVICE r9
    flagged for the refine store), including an in-place re-embedding
    that preserves ids."""
    from pyspark.sql import functions as F

    r = postings.agg(
        F.count("*").alias("n"),
        (F.sum("id") + F.sum("head_id")).alias("s"),
        _vector_crc(postings).alias("v"),
    ).first()
    return {
        "post_rows": int(r["n"]),
        "post_id_sum": int(r["s"] or 0),
        "post_vec_crc": int(r["v"] or 0),
    }


def packed_store_matches(
    store_dir: str, fingerprint: dict, value_type: str = "float32"
) -> bool:
    """True when an existing packed store at ``store_dir`` was built from
    the posting set with this fingerprint AND in this value type
    (missing/legacy meta → False / float32). A value-type switch rebuilds:
    the files are a different width per component."""
    import json
    import os

    meta_p = os.path.join(store_dir, "meta.json")
    if not os.path.exists(meta_p):
        return False
    with open(meta_p) as f:
        meta = json.load(f)
    return meta.get("value_type", "float32") == value_type and all(
        meta.get(k) == fingerprint[k]
        for k in ("post_rows", "post_id_sum", "post_vec_crc")
    )


#: packed-store layout version, written to meta.json by the builder and
#: every patch; a meta without the field predates versioning and reads as 1
STORE_FORMAT = 1


#: refine-store layout version, versioned the same way
REFINE_STORE_FORMAT = 1


def _check_store_format(
    meta: dict, store_dir: str, kind: str = "packed",
    expected: int = STORE_FORMAT,
) -> None:
    """Refuse a store whose layout this reader does not know."""
    fmt = meta.get("format", 1)
    if fmt != expected:
        raise StoreFormatError(
            f"{kind} store at {store_dir} has format {fmt!r}; this reader "
            f"understands format {expected} only"
        )


def _store_patch_torn(store_dir: str) -> bool:
    """True when a patch died between the sidecar and meta replaces —
    patch_sidecars.npz carries an epoch meta.json doesn't. Constructors
    given Spark artifacts treat a torn store like a fingerprint mismatch
    (rebuild); from_store raises instead (r12 ADVICE)."""
    import json
    import os

    sc_p = os.path.join(store_dir, "patch_sidecars.npz")
    if not os.path.exists(sc_p):
        return False
    try:
        with open(os.path.join(store_dir, "meta.json")) as f:
            meta = json.load(f)
        with np.load(sc_p) as z:
            return int(z["patch_epoch"][0]) != int(meta.get("patch_epoch", -1))
    except (OSError, KeyError, ValueError):
        return True


def store_posting_lengths(store_dir: str) -> dict[int, int] | None:
    """Per-head row counts of the packed store at ``store_dir`` — its
    extent lengths once patched, else its indptr — leaving out heads of
    no rows: the posting lengths of the postings the store was built or
    last patched from. None for a torn patch (`_store_patch_torn`),
    whose extents may be newer than its meta."""
    import os

    if _store_patch_torn(store_dir):
        return None
    sc_p = os.path.join(store_dir, "patch_sidecars.npz")
    if os.path.exists(sc_p):
        with np.load(sc_p) as z:
            hid, n = z["head_ids"], z["extents"][1]
    else:
        hid = np.load(os.path.join(store_dir, "head_ids.npy"))
        n = np.diff(np.load(os.path.join(store_dir, "indptr.npy")))
    keep = n > 0
    return dict(zip(hid[keep].tolist(), n[keep].tolist()))


#: one result row per non-empty fragment writer (`_write_fragments`)
_FRAGMENT_SCHEMA = (
    "pid int, rows long, dim int, max_batch_rows long, id_sum long, "
    "vec_crc long"
)


def _write_fragments(frame: DataFrame, frag_dir: str, value_type: str) -> list:
    """The executor half of both store builders. Each partition of
    ``frame`` — ``id``, ``vector`` and ``crc`` (`_vector_row_crc`) rows,
    plus ``head_id`` for a packed store, already in store order within
    the partition — is written by its own task as one fragment under
    ``frag_dir``: the packed vectors, ``ids.npy`` and, with ``head_id``,
    ``heads.npy`` (its ascending head ids over their row counts). A
    writer holds one Arrow batch of vectors at a time and refuses a lossy
    cast executor-side (`_pack_values`). It also sums its rows'
    fingerprint terms as exact Python ints — rows, Σid (+ Σhead_id) and
    Σcrc — so a build reads its store's fingerprint off the writers
    instead of re-scanning the source. → the writers' result rows in
    partition order (empty partitions write and return nothing)."""
    import os

    ext = _STORE_EXT[value_type]

    def write(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = os.path.join(frag_dir, f"part_{pid:05d}")
        f = None
        ids: list[np.ndarray] = []
        hcounts: dict[int, int] = {}
        rows = dim = max_batch = id_sum = vec_crc = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if f is None:
                f = open(f"{base}.{ext}", "wb")
            V = np.array(pdf["vector"].tolist(), dtype=np.float32)
            dim = int(V.shape[1])
            max_batch = max(max_batch, len(V))
            _pack_values(V, value_type).tofile(f)
            ib = pdf["id"].to_numpy(np.int64)
            ids.append(ib)
            id_sum += int(ib.sum())
            vec_crc += int(pdf["crc"].to_numpy(np.int64).sum())
            if "head_id" in pdf:
                hb = pdf["head_id"].to_numpy(np.int64)
                id_sum += int(hb.sum())
                hid, cnt = np.unique(hb, return_counts=True)
                for h, c in zip(hid.tolist(), cnt.tolist()):
                    hcounts[h] = hcounts.get(h, 0) + c
            rows += len(V)
        if f is None:
            return
        f.close()
        np.save(f"{base}.ids.npy", np.concatenate(ids))
        if hcounts:
            hk = np.array(sorted(hcounts), dtype=np.int64)
            np.save(
                f"{base}.heads.npy",
                np.stack([hk, np.array([hcounts[h] for h in hk], np.int64)]),
            )
        yield pd.DataFrame(
            {"pid": [pid], "rows": [rows], "dim": [dim],
             "max_batch_rows": [max_batch], "id_sum": [id_sum],
             "vec_crc": [vec_crc]}
        )

    return sorted(
        frame.mapInPandas(write, _FRAGMENT_SCHEMA).collect(),
        key=lambda r: r["pid"],
    )


def _concat_fragments(
    frag_dir: str, frags: list, ext: str, out_path: str, segments,
    row_bytes: int,
) -> np.ndarray:
    """The driver half of both store builders: write ``out_path`` from
    fragment row ranges ``segments`` — (index into ``frags``, first row,
    rows), in store order — with file-to-file copies of at most 4 MiB,
    so no vector is ever driver-resident. A builder whose segments visit
    each fragment front to back reads every fragment file sequentially.
    → the matching ids (8 bytes a row)."""
    import os

    bases = [os.path.join(frag_dir, f"part_{r['pid']:05d}") for r in frags]
    frag_ids = [np.load(b + ".ids.npy") for b in bases]
    files = [open(f"{b}.{ext}", "rb") for b in bases]
    id_parts: list[np.ndarray] = []
    try:
        with open(out_path, "wb") as out:
            for i, first, n in segments:
                fin = files[i]
                fin.seek(first * row_bytes)
                left = n * row_bytes
                while left:
                    buf = fin.read(min(left, 1 << 22))
                    if not buf:
                        raise EOFError(f"fragment {bases[i]} is short")
                    out.write(buf)
                    left -= len(buf)
                id_parts.append(frag_ids[i][first : first + n])
    finally:
        for fin in files:
            fin.close()
    return np.concatenate(id_parts) if id_parts else np.empty(0, np.int64)


def _fragment_fingerprint(frags: list) -> tuple[int, int, int]:
    """(rows, id sum, vector crc sum) over every fragment writer."""
    return tuple(
        sum(int(r[k]) for r in frags) for k in ("rows", "id_sum", "vec_crc")
    )


def _prepare_fragments(
    store_dir: str, source: DataFrame, n_fragments: int | None,
    value_type: str,
) -> tuple[str, int]:
    """Validate ``value_type``, create ``store_dir`` and an empty
    ``_fragments`` dir under it, which every executor must reach (local
    mode: the same filesystem). → (fragment dir, fragment count —
    spark.sql.shuffle.partitions unless given)."""
    import os
    import shutil

    if value_type not in _STORE_DTYPES:
        raise ValueError(
            f"value_type must be one of {sorted(_STORE_DTYPES)}: {value_type!r}"
        )
    os.makedirs(store_dir, exist_ok=True)
    frag_dir = os.path.join(store_dir, "_fragments")
    shutil.rmtree(frag_dir, ignore_errors=True)
    os.makedirs(frag_dir)
    if n_fragments is None:
        n_fragments = int(
            source.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    return frag_dir, n_fragments


def build_packed_store_parallel(
    heads: DataFrame,
    postings: DataFrame,
    store_dir: str,
    n_fragments: int | None = None,
    value_type: str = "float32",
) -> dict:
    """Write the DiskSpannReplica packed store from Spark artifacts — the
    posting-file write stage of the reference's SSD build
    (`ExtraFullGraphSearcher.h:587-1000` writes posting files a batch at a
    time per selection worker; here each Spark partition is that worker).

    One Spark job (two with AQE on): postings are hash-partitioned by
    ``head_id`` — so every fragment holds WHOLE heads — and sorted by
    (head_id, id) within each partition; each partition writes its own
    fragment plus id/head-count sidecars (`_write_fragments`: bounded
    memory, one Arrow batch of vectors at a time), and its writer sums
    the fragment's fingerprint terms, which the driver adds up into
    meta's ``post_rows / post_id_sum / post_vec_crc`` — no separate
    `postings_fingerprint` scan. The driver then writes the store by
    visiting the heads in ascending ``head_id`` and copying each head's
    slab from its fragment; a fragment's heads ascend too, so each
    fragment file is read front to back. The files are those of a global
    (head_id, id) sort. No posting vector is ever driver-resident: peak
    driver memory is heads (the RAM contract) + 8 bytes/row of ids, which
    is what lets this build a store for a shard LARGER than driver RAM.
    The sort and the serialization scale with executors instead of the
    ~31k rows/s ceiling of a driver iterator (SCALING.md r10), and skew
    is bounded by one posting, which SPANN caps in length. A failed
    build (say, a refused lossy cast) removes its fragments.

    ``value_type``: store vectors as int8/uint8/int16/float32 — the
    reference's Dataset<T> width (`VectorSet.h:35`). Non-float32 requires
    a LOSSLESS cast, checked EXECUTOR-side per Arrow batch inside the
    fragment writer, and is then result-identical: the score kernels
    promote gathered slabs to float64 regardless.

    → build stats (recorded in meta.json): fragment count plus
    ``max_batch_rows``, the largest vector block any single writer held —
    the memory witness."""
    import json
    import os
    import shutil

    frag_dir, n_fragments = _prepare_fragments(
        store_dir, postings, n_fragments, value_type
    )
    ext = _STORE_EXT[value_type]
    try:
        raw_ids, H_raw = head_matrix(heads)  # small side, by contract
        order = np.argsort(raw_ids)
        head_ids = raw_ids[order]
        H = H_raw[order]
        np.save(os.path.join(store_dir, "head_ids.npy"), head_ids)
        np.save(os.path.join(store_dir, "H.npy"), H)
        frags = _write_fragments(
            postings.select(
                "head_id", "id", "vector", _vector_row_crc().alias("crc")
            )
            .repartition(n_fragments, "head_id")
            .sortWithinPartitions("head_id", "id"),
            frag_dir,
            value_type,
        )
        # H is (0,)-shaped for an EMPTY shard (n_shards > head count makes
        # some range empty) — the store must still build and load (r10
        # review)
        dim = max(
            (r["dim"] for r in frags),
            default=int(H.shape[1]) if H.ndim == 2 else 0,
        )
        # per fragment: its heads, their rows and first row in the file
        hk, hc, fi, first = [], [], [], []
        for i, r in enumerate(frags):
            h, c = np.load(
                os.path.join(frag_dir, f"part_{r['pid']:05d}.heads.npy")
            )
            hk.append(h)
            hc.append(c)
            fi.append(np.full(len(h), i, dtype=np.int64))
            first.append(np.cumsum(c) - c)
        hk, hc, fi, first = (
            np.concatenate(a) if a else np.empty(0, np.int64)
            for a in (hk, hc, fi, first)
        )
        o = np.lexsort((fi, hk))  # ascending head_id
        post_ids = _concat_fragments(
            frag_dir, frags, ext,
            os.path.join(store_dir, f"post_vectors.{ext}"),
            zip(fi[o].tolist(), first[o].tolist(), hc[o].tolist()),
            dim * np.dtype(_STORE_DTYPES[value_type]).itemsize,
        )
    finally:
        shutil.rmtree(frag_dir, ignore_errors=True)
    counts = np.zeros(len(head_ids) + 1, dtype=np.int64)
    np.add.at(counts, np.searchsorted(head_ids, hk) + 1, hc)
    np.save(os.path.join(store_dir, "post_ids.npy"), post_ids)
    np.save(os.path.join(store_dir, "indptr.npy"), np.cumsum(counts))
    stats = {
        "mode": "parallel",
        "fragments": len(frags),
        "max_batch_rows": max((r["max_batch_rows"] for r in frags), default=0),
    }
    rows, id_sum, vec_crc = _fragment_fingerprint(frags)
    with open(os.path.join(store_dir, "meta.json"), "w") as f:
        json.dump(
            {"format": STORE_FORMAT, "rows": rows, "dim": dim,
             "value_type": value_type, "build": stats,
             "post_rows": rows, "post_id_sum": id_sum,
             "post_vec_crc": vec_crc},
            f,
        )
    return stats


def patch_packed_store(
    store_dir: str,
    heads: DataFrame,
    postings: DataFrame,
    touched_heads,
    fingerprint: dict | None = None,
    appended: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> dict:
    """Incremental store patch after LIRE maintenance (VERDICT r11 #2) —
    SPFresh's whole point is that maintenance I/O is LOCAL (SOSP'23 §4;
    the reference edits posting files in place,
    `SPANN/ExtraFullGraphSearcher.h`), so a split/merge must not trigger a
    full packed-store rebuild. The store becomes log-structured: the new
    slabs of ``touched_heads`` (plus any heads new to ``heads``) are
    APPENDED to the vector file, ordered by (head_id, id); the extent
    table then points those heads at their new segments while every
    untouched head keeps its original extent, so untouched slab bytes are
    bit-identical (pinned by test). Retired heads simply lose their
    extent; their old file rows become dead space, tracked in meta as
    ``dead_rows`` with ``needs_compaction`` raised once dead exceeds live
    (a full rebuild then re-packs contiguously).

    A new slab comes from one of two sources:

    - ``appended=(head_ids, ids, float32 vectors)``: rows added to heads
      whose slabs are otherwise unchanged since the store was written
      (SPFresh's posting append). A rewritten head that has a slab in
      the store and rows here is its stored slab (copied in the store's
      dtype) plus these rows, packed by `_pack_values` so an integer
      store still refuses a lossy cast. No Spark job.
    - every other rewritten head (new to the index, or edited by
      maintenance or compaction) is re-read from the postings table: a
      partition-pruned ``head_id IN (...)`` scan, the same kind of scan
      `SpannLiveIndex._edit` collects its scope with, ordered locally
      rather than by a Spark sort.

    Both give the bytes a full (head_id, id)-sorted re-read would. Local
    memory: the rewritten slabs only plus the O(#heads) sidecars already
    under the RAM-tier contract. The head ids and matrix come from
    `index.ann.head_matrix`, the per-frame cache add_batch's driver-side
    assignment already filled, so a patch after an append-only batch runs
    no Spark job. The fingerprint in meta is updated to the NEW postings identity
    (``fingerprint`` when the caller tracks it, else one Spark agg), so
    DiskSpannReplica's staleness gate accepts the patched store.

    Crash safety (r12 ADVICE): the patched sidecar set (head_ids, H,
    extents, post_ids) is ONE file — ``patch_sidecars.npz`` written to a
    temp name and ``os.replace``d, so the extent table can never be seen
    half-updated — stamped with a ``patch_epoch`` that meta.json (also
    tmp+replace, written LAST) must match. The crash windows are all
    benign: dying after the vector append leaves old sidecars pointing at
    old extents (appended bytes are dead space); dying between the npz
    and meta replaces leaves an epoch mismatch that the loader refuses
    with a clear error (from_store) or rebuilds past (artifacts supplied,
    via the fingerprint gate), instead of serving out-of-range extents.
    A store of an unknown ``format`` raises StoreFormatError untouched.

    → stats: ``vector_bytes_appended`` is the I/O witness — compare with
    ``store_vector_bytes`` to see the locality win."""
    import json
    import os

    meta_p = os.path.join(store_dir, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    _check_store_format(meta, store_dir)
    vt = meta.get("value_type", "float32")
    ext_name = _STORE_EXT[vt]
    vec_path = os.path.join(store_dir, f"post_vectors.{ext_name}")
    sc_p = os.path.join(store_dir, "patch_sidecars.npz")
    if os.path.exists(sc_p):
        with np.load(sc_p) as z:
            if int(z["patch_epoch"][0]) != int(meta.get("patch_epoch", -1)):
                raise RuntimeError(
                    f"packed store at {store_dir} has a torn patch "
                    "(sidecar epoch != meta epoch); rebuild it from the "
                    "Spark artifacts before patching further"
                )
            old_head_ids = z["head_ids"]
            old_off, old_len = z["extents"]
            old_post_ids = z["post_ids"]
    else:
        old_head_ids = np.load(os.path.join(store_dir, "head_ids.npy"))
        ip = np.load(os.path.join(store_dir, "indptr.npy"))
        old_off, old_len = ip[:-1], np.diff(ip)
        old_post_ids = np.load(os.path.join(store_dir, "post_ids.npy"))
    file_rows = int(meta["rows"])

    raw, H_raw = head_matrix(heads)
    order = np.argsort(raw)
    new_head_ids = raw[order]
    H = H_raw[order]

    touched = {int(t) for t in touched_heads}
    old_set = set(old_head_ids.tolist())
    # rewrite = touched heads still alive + heads new to the index; a
    # touched head absent from `heads` retired — its extent just drops
    rewrite = sorted(
        h for h in new_head_ids.tolist() if h in touched or h not in old_set
    )
    # a head with a slab in the old store and rows in `appended` is its
    # slab plus those rows; every other rewritten head is read back
    hvs: list[np.ndarray] = []
    id_parts: list[np.ndarray] = []
    v_parts: list[np.ndarray] = []
    dim = int(meta["dim"])

    def add_rows(h, ids, V32):
        nonlocal dim
        if file_rows and V32.shape[1] != dim:
            raise ValueError(f"patch dim {V32.shape[1]} != store dim {dim}")
        dim = int(V32.shape[1])
        hvs.append(h)
        id_parts.append(ids)
        v_parts.append(_pack_values(V32, vt))

    old_slot = {int(h): i for i, h in enumerate(old_head_ids.tolist())}
    local = np.empty(0, dtype=np.int64)
    if appended is not None:
        a_h, a_ids, a_V = appended
        local = np.intersect1d(
            np.intersect1d(np.asarray(rewrite, np.int64), old_head_ids), a_h
        )
        slots = np.array([old_slot[h] for h in local.tolist()], np.int64)
        slab_off, slab_len = old_off[slots], old_len[slots]
        if slab_len.sum():
            M = np.memmap(vec_path, dtype=_STORE_DTYPES[vt], mode="r",
                          shape=(file_rows, dim))
            rows = np.concatenate(
                [np.arange(o, o + n) for o, n in zip(slab_off, slab_len)]
            )
            hvs.append(np.repeat(local, slab_len))
            id_parts.append(old_post_ids[rows])
            v_parts.append(np.asarray(M[rows]))
            del M
        m = np.isin(a_h, local)
        if m.any():
            add_rows(a_h[m], a_ids[m], a_V[m])
    local_set = set(local.tolist())
    remote = [h for h in rewrite if h not in local_set]
    if remote:
        from pyspark.sql import functions as F

        pdf = (
            postings.filter(F.col("head_id").isin(remote))
            .select("head_id", "id", "vector")
            .toPandas()
        )
        if len(pdf):
            add_rows(
                pdf["head_id"].to_numpy(np.int64),
                pdf["id"].to_numpy(np.int64),
                np.array(pdf["vector"].tolist(), dtype=np.float32),
            )
    app_ids = np.empty(0, dtype=np.int64)
    app_counts: dict[int, tuple[int, int]] = {}  # head -> (off, len)
    if hvs:
        hvals = np.concatenate(hvs)
        app_ids = np.concatenate(id_parts)
        # (head_id, id) order, stable, so a slab's stored rows stay ahead
        # of appended rows with the same id: the order a Spark orderBy
        # over the postings union gives, without its sample and sort jobs
        order = np.lexsort((app_ids, hvals))
        hvals, app_ids = hvals[order], app_ids[order]
        with open(vec_path, "ab") as f:
            np.concatenate(v_parts)[order].tofile(f)
        uh, starts = np.unique(hvals, return_index=True)
        lens = np.diff(np.append(starts, len(hvals)))
        for h, st, n in zip(uh.tolist(), starts.tolist(), lens.tolist()):
            app_counts[int(h)] = (file_rows + st, int(n))

    off = np.zeros(len(new_head_ids), dtype=np.int64)
    ln = np.zeros(len(new_head_ids), dtype=np.int64)
    for i, h in enumerate(new_head_ids.tolist()):
        if h in app_counts:
            off[i], ln[i] = app_counts[h]
        elif h in old_set and h not in touched:
            s = old_slot[h]
            off[i], ln[i] = int(old_off[s]), int(old_len[s])
        # else: touched-but-no-rows or new-but-empty head → (0, 0)

    new_file_rows = file_rows + len(app_ids)
    live_rows = int(ln.sum())
    post_ids = np.concatenate([old_post_ids, app_ids])
    epoch = int(meta.get("patch_epoch", 0)) + 1
    tmp_sc = sc_p + ".tmp.npz"
    with open(tmp_sc, "wb") as f:
        np.savez(
            f,
            head_ids=new_head_ids,
            H=H,
            extents=np.stack([off, ln]),
            post_ids=post_ids,
            patch_epoch=np.array([epoch], dtype=np.int64),
        )
    os.replace(tmp_sc, sc_p)
    stats = {
        "heads_rewritten": len(rewrite),
        "rows_appended": int(len(app_ids)),
        "vector_bytes_appended": int(
            len(app_ids) * dim * np.dtype(_STORE_DTYPES[vt]).itemsize
        ),
        "store_vector_bytes": int(os.path.getsize(vec_path)),
        "dead_rows": int(new_file_rows - live_rows),
        "live_rows": live_rows,
        "needs_compaction": (new_file_rows - live_rows) > live_rows,
    }
    meta.update(
        {
            "format": STORE_FORMAT,
            "rows": new_file_rows,
            "dim": dim,
            "patches": int(meta.get("patches", 0)) + 1,
            "patch_epoch": epoch,
            "last_patch": stats,
            # callers that track the posting identity incrementally (one
            # small agg per delta — SPFreshIndex) pass it in; otherwise
            # one full-frame agg. Per-batch full-corpus scans were the
            # r12 ADVICE locality leak.
            **(
                fingerprint
                if fingerprint is not None
                else postings_fingerprint(postings)
            ),
        }
    )
    tmp_m = meta_p + ".tmp"
    with open(tmp_m, "w") as f:
        json.dump(meta, f)
    os.replace(tmp_m, meta_p)
    return stats


class DiskSpannReplica(_SlabReplica):
    """SPANN's actual serving-node architecture (NeurIPS'21 §3;
    `SPANN/ExtraFullGraphSearcher.h` — head centroids in RAM, posting
    VECTORS in page-aligned files on local SSD, read per query): the
    posting matrix lives in the packed store's vector file opened as
    np.memmap, so a query touches only its routed heads' slabs
    (contiguous rows → sequential page reads, the posting-file seek). RAM
    holds heads + the slab extents and ids — the footprint that lets one
    node serve a corpus whose vectors don't fit memory.

    The file holds float32 OR native int8/uint8/int16 components
    (``value_type``, VERDICT r11 #1; the reference's Dataset<T> width,
    `VectorSet.h:35`), promoted to float64 before any arithmetic, so an
    integer store is 4× (int8/uint8) or 2× (int16) less SSD and
    posting-read I/O at identical results.

    ``store_dir=None`` packs the frames into a private directory that is
    removed with the replica (``self.store_dir`` records it): the one
    way to serve frames that nobody else opens as a store."""

    def __init__(
        self,
        heads,
        postings,
        store_dir: str | None = None,
        value_type: str = "float32",
    ) -> None:
        import os

        if store_dir is None:
            from sptag_spark.resources import private_dir

            store_dir = private_dir(self, "sptag_replica_")
        meta_p = os.path.join(store_dir, "meta.json")
        # identity gate (same staleness class as the refine store, ADVICE
        # r9): when Spark artifacts ARE supplied, an existing store is
        # trusted only if its recorded fingerprint matches the postings it
        # claims to pack — a rebuilt index at the same path rebuilds the
        # store instead of serving the old index's vectors — AND it was
        # packed in the requested value type. from_store (no artifacts)
        # trusts the files; it has nothing to check against.
        if os.path.exists(meta_p) and postings is not None:
            if not packed_store_matches(
                store_dir, postings_fingerprint(postings), value_type
            ) or _store_patch_torn(store_dir):
                import shutil

                shutil.rmtree(store_dir)
        if not os.path.exists(meta_p):
            if heads is None or postings is None:
                raise FileNotFoundError(
                    f"no packed replica store at {store_dir} and no Spark "
                    "artifacts supplied to build one"
                )
            # build once from the Spark artifacts (the posting-file write
            # stage), OUT-OF-CORE so the driver never holds the shard's
            # vectors; then serve every later construction from it
            build_packed_store_parallel(
                heads, postings, store_dir, value_type=value_type
            )
        self._open(store_dir)

    def _open(self, store_dir: str) -> None:
        """Load the store's RAM side and map its vector file."""
        import json
        import os

        with open(os.path.join(store_dir, "meta.json")) as f:
            meta = json.load(f)
        _check_store_format(meta, store_dir)
        self.store_dir = store_dir
        vt = meta.get("value_type", "float32")  # legacy stores are f32
        self.value_type = vt
        sc_p = os.path.join(store_dir, "patch_sidecars.npz")
        if os.path.exists(sc_p):
            # PATCHED store (patch_packed_store): slabs are log-structured
            # — untouched slabs keep their original file extent, rewritten
            # ones live in appended segments, so they are not contiguous.
            # The sidecar set is one atomically-replaced file whose epoch
            # must match meta.json's; a mismatch means a patch died
            # between the two replaces — refuse rather than serve extents
            # that can point past meta's recorded rows (r12 ADVICE).
            with np.load(sc_p) as z:
                if int(z["patch_epoch"][0]) != int(
                    meta.get("patch_epoch", -1)
                ):
                    raise RuntimeError(
                        f"packed store at {store_dir} has a torn patch "
                        "(sidecar epoch != meta epoch); rebuild from the "
                        "Spark artifacts (supply heads+postings) to "
                        "recover"
                    )
                off, ln = z["extents"]
                self._set_layout(z["head_ids"], z["H"], off, ln)
                self.post_ids = z["post_ids"]
        else:
            ip = np.load(os.path.join(store_dir, "indptr.npy"))
            self._set_layout(
                np.load(os.path.join(store_dir, "head_ids.npy")),
                np.load(os.path.join(store_dir, "H.npy")),
                ip[:-1],
                np.diff(ip),
            )
            self.post_ids = np.load(os.path.join(store_dir, "post_ids.npy"))
        # store-side tombstones (r12 ADVICE): a live SPFreshIndex defers
        # physical removal to compact(), so between a delete and the next
        # compaction the slabs still hold the rows. sync_store exports the
        # live tombstone set alongside the store; every search filters it.
        ts_p = os.path.join(store_dir, "tombstones.npy")
        ts = np.load(ts_p) if os.path.exists(ts_p) else None
        self.store_deleted_ids = ts if ts is not None and len(ts) else None
        # the SSD side: never resident; rows fault in per probed slab.
        # A zero-row store (empty shard) cannot mmap an empty file — use
        # an empty in-RAM array with the same dtype/shape contract.
        dt = _STORE_DTYPES[vt]
        if meta["rows"] == 0:
            self.post_V = np.empty((0, max(meta["dim"], 1)), dtype=dt)
        else:
            self.post_V = np.memmap(
                os.path.join(store_dir, f"post_vectors.{_STORE_EXT[vt]}"),
                dtype=dt,
                mode="r",
                shape=(meta["rows"], meta["dim"]),
            )

    @classmethod
    def from_store(cls, store_dir: str) -> "DiskSpannReplica":
        """Open an existing store with NO Spark session — the cold-start
        path of a serving node that only has the files (value type comes
        from the store's own meta.json). A store of an unknown ``format``
        raises StoreFormatError."""
        return DiskSpannReplica(None, None, store_dir)

    @classmethod
    def from_path(
        cls, spark: SparkSession, path: str, value_type: str = "float32"
    ) -> "DiskSpannReplica":
        """From a save_index() directory; the packed store materializes
        beside the index on first use (`<path>/replica_store`)."""
        import os

        store = os.path.join(path, "replica_store")
        if os.path.exists(os.path.join(store, "meta.json")):
            return DiskSpannReplica.from_store(store)
        heads = spark.read.parquet(os.path.join(path, "heads"))
        postings = spark.read.parquet(os.path.join(path, "postings"))
        return DiskSpannReplica(heads, postings, store, value_type=value_type)

    def memory_bytes(self) -> int:
        """Resident footprint — the posting matrix is on disk."""
        return int(
            self.head_ids.nbytes
            + self.H.nbytes
            + self.post_ids.nbytes
            + self.slab_off.nbytes
            + self.slab_len.nbytes
        )


def refine_fingerprint(vectors) -> dict:
    """Identity of the vector set a refine store was packed from — row
    count + id checksum + vector CONTENT checksum (a re-embedded corpus
    with unchanged ids must not reuse the old store), one agg job.
    Recorded in refine meta.json and re-checked before serving so a
    rebuilt index at the same path never exact-reranks against a stale
    store (ADVICE r9; content term r10)."""
    from pyspark.sql import functions as F

    r = vectors.agg(
        F.count("*").alias("n"),
        F.sum("id").alias("s"),
        _vector_crc(vectors).alias("v"),
    ).first()
    return {
        "rows": int(r["n"]),
        "id_sum": int(r["s"] or 0),
        "vec_crc": int(r["v"] or 0),
    }


def refine_store_matches(
    store_dir: str, fingerprint: dict, value_type: str = "float32"
) -> bool:
    """True when an existing refine store at ``store_dir`` was built from
    the vector set with this fingerprint AND in this value type
    (missing/legacy meta → False / float32, so callers rebuild rather
    than trust an unverifiable store). A meta ``format`` other than
    REFINE_STORE_FORMAT raises StoreFormatError (no field reads as 1)."""
    import json
    import os

    meta_p = os.path.join(store_dir, "meta.json")
    if not os.path.exists(meta_p):
        return False
    with open(meta_p) as f:
        meta = json.load(f)
    _check_store_format(meta, store_dir, "refine", REFINE_STORE_FORMAT)
    return meta.get("value_type", "float32") == value_type and all(
        meta.get(k) == fingerprint[k] for k in ("rows", "id_sum", "vec_crc")
    )


def open_refine_store(store_dir: str):
    """→ (ids int64 ndarray, memmap matrix in id order — dtype from the
    store's own meta: float32, or a native integer width whose gathered
    rows the rerank kernel promotes to float64 identically). A store of
    an unknown ``format`` raises StoreFormatError."""
    import json
    import os

    with open(os.path.join(store_dir, "meta.json")) as f:
        meta = json.load(f)
    _check_store_format(meta, store_dir, "refine", REFINE_STORE_FORMAT)
    vt = meta.get("value_type", "float32")
    ids = np.load(os.path.join(store_dir, "ids.npy"))
    M = np.memmap(
        os.path.join(store_dir, f"vectors.{_STORE_EXT[vt]}"),
        dtype=_STORE_DTYPES[vt],
        mode="r",
        shape=(meta["rows"], meta["dim"]),
    )
    return ids, M


def build_refine_store_parallel(
    vectors,
    store_dir: str,
    n_fragments: int | None = None,
    value_type: str = "float32",
) -> dict:
    """Pack (id, vector) into an id-sorted vector matrix + ids.npy — the
    exact-rerank side table a compressed replica reads from disk (the
    reference's SSD posting vectors, keyed by id instead of by head).

    Same fragment writers as build_packed_store_parallel, but the file is
    id-ordered, so Spark range-partitions by id (a sample job, then the
    write job) and the driver concatenates the fragments in partition
    order — a per-id gather would be per-row I/O. No vector is ever
    driver-resident, so the store a node needs precisely because its
    vectors exceed RAM can be built under that condition. meta.json
    records the layout ``format`` (REFINE_STORE_FORMAT) and the source
    fingerprint (rows + id and content checksums, summed by the writers)
    for the staleness gate. A failed build removes its fragments.
    ``value_type``: as build_packed_store_parallel — an int8 corpus
    reranks from 1-byte components (4× less rerank read I/O),
    lossless-cast-checked executor-side per Arrow batch.
    → build stats."""
    import json
    import os
    import shutil

    frag_dir, n_fragments = _prepare_fragments(
        store_dir, vectors, n_fragments, value_type
    )
    r_ext = _STORE_EXT[value_type]
    try:
        frags = _write_fragments(
            vectors.select("id", "vector", _vector_row_crc().alias("crc"))
            .repartitionByRange(n_fragments, "id")
            .sortWithinPartitions("id"),
            frag_dir,
            value_type,
        )
        dim = max((r["dim"] for r in frags), default=0)
        ids = _concat_fragments(
            frag_dir, frags, r_ext,
            os.path.join(store_dir, f"vectors.{r_ext}"),
            [(i, 0, r["rows"]) for i, r in enumerate(frags)],
            dim * np.dtype(_STORE_DTYPES[value_type]).itemsize,
        )
    finally:
        shutil.rmtree(frag_dir, ignore_errors=True)
    np.save(os.path.join(store_dir, "ids.npy"), ids)
    stats = {
        "mode": "parallel",
        "fragments": len(frags),
        "max_batch_rows": max((r["max_batch_rows"] for r in frags), default=0),
    }
    rows, id_sum, vec_crc = _fragment_fingerprint(frags)
    with open(os.path.join(store_dir, "meta.json"), "w") as f:
        json.dump(
            {"format": REFINE_STORE_FORMAT, "rows": rows, "dim": dim,
             "value_type": value_type, "build": stats,
             "id_sum": id_sum, "vec_crc": vec_crc},
            f,
        )
    return stats


class ShardLatencyTracker:
    """Per-shard serve-latency window + deadline-miss attribution — the
    OBSERVED-LATENCY rebalance trigger (r12 VERDICT #4).

    Row counts (`shard_posting_rows`) say which shard is BIG; under a
    skewed (Zipf) query mix the serving bottleneck is which shard is
    SLOW-AND-HOT — the one whose latency tail the aggregator actually
    observes blowing its deadline budget (the reference operator reads the
    same signal from `AggregatorService.cpp:280-323` timeout logs). Both
    aggregator tiers record every single-query per-shard call here
    (ScatterGatherAggregator); ``hot_shard()`` is the split recommendation
    the probe drives ``split_shard`` with.

    Bounded state: a fixed window of recent latencies per shard (rolling
    percentiles) + two counters; thread-safe under the GIL for the
    deadline path's concurrent recorders (deque.append is atomic)."""

    def __init__(self, n_shards: int, window: int = 512) -> None:
        import collections

        self._window = window
        self.lat = [
            collections.deque(maxlen=window) for _ in range(n_shards)
        ]
        self.miss = [0] * n_shards
        self.calls = [0] * n_shards

    def record(
        self, j: int, ms: float, budget_ms: float | None = None
    ) -> None:
        self.lat[j].append(float(ms))
        self.calls[j] += 1
        if budget_ms is not None and ms > budget_ms:
            self.miss[j] += 1

    def stats(self) -> list[dict]:
        out = []
        for j in range(len(self.lat)):
            s = sorted(self.lat[j])
            if s:
                at = lambda f: s[min(len(s) - 1, int(f * len(s)))]  # noqa: E731
                out.append(
                    {
                        "n": self.calls[j],
                        "p50_ms": round(at(0.50), 3),
                        "p99_ms": round(at(0.99), 3),
                        "deadline_misses": self.miss[j],
                        "miss_rate": round(
                            self.miss[j] / max(1, self.calls[j]), 4
                        ),
                    }
                )
            else:
                out.append(
                    {
                        "n": self.calls[j],
                        "p50_ms": None,
                        "p99_ms": None,
                        "deadline_misses": self.miss[j],
                        "miss_rate": 0.0,
                    }
                )
        return out

    def hot_shard(
        self,
        factor: float = 2.0,
        min_samples: int = 32,
        min_misses: int = 3,
    ) -> int | None:
        """Split recommendation from OBSERVED serving behavior. Two
        signals, in priority order:

        1. **Deadline-miss attribution** (any shard has recorded misses):
           the shard whose miss RATE is ≥ ``factor`` × the median of the
           other sampled shards (or the only misser, with ≥
           ``min_misses`` of evidence). This is the SLO-breach signal —
           what the reference's aggregator timeout log
           (`AggregatorService.cpp:280-323`) shows the operator — and it
           separates a hot shard even when client-side concurrency noise
           blurs raw tails across shards (measured: the Zipf probe's
           per-shard p99s overlap under queueing while misses
           concentrate 2-7× on the overloaded shard).
        2. **Rolling p99** (budget-less traffic): the shard whose p99 is
           ≥ ``factor`` × the median p99 of the other sampled shards.

        → shard index, or None when no shard stands out (or fewer than
        two shards have ``min_samples`` observations — a trigger must
        never fire off noise)."""
        st = self.stats()
        sampled = [
            (j, s)
            for j, s in enumerate(st)
            if s["n"] >= min_samples and s["p99_ms"] is not None
        ]
        if len(sampled) < 2:
            return None
        if any(s["deadline_misses"] for _, s in sampled):
            j_hot, s_hot = max(
                sampled, key=lambda t: (t[1]["miss_rate"], -t[0])
            )
            # evidence floor FIRST: a single stray miss must never name a
            # shard (measured at small scale: one miss per shard and the
            # ratio test fired on whichever had fewest samples)
            if s_hot["deadline_misses"] < min_misses:
                return None
            others = sorted(
                s["miss_rate"] for j, s in sampled if j != j_hot
            )
            med = others[len(others) // 2]
            if med == 0 or s_hot["miss_rate"] >= factor * med:
                return j_hot
            return None
        j_hot, s_hot = max(sampled, key=lambda t: (t[1]["p99_ms"], -t[0]))
        others = sorted(s["p99_ms"] for j, s in sampled if j != j_hot)
        med = others[len(others) // 2]
        if med > 0 and s_hot["p99_ms"] >= factor * med:
            return j_hot
        return None

    def split_at(self, j: int) -> None:
        """Splice shard j's slot into two fresh slots, mirroring
        split_shard's replica splice — the halves start with clean
        windows (their latency profile is new)."""
        import collections

        self.lat[j : j + 1] = [
            collections.deque(maxlen=self._window),
            collections.deque(maxlen=self._window),
        ]
        self.miss[j : j + 1] = [0, 0]
        self.calls[j : j + 1] = [0, 0]


class ScatterGatherAggregator:
    """Route → scatter → gather over shard replicas: the reference
    Aggregator's one job (`AggregatorService.cpp:209-441`) — send a query
    to its nearest shards, merge their top-k, and answer partial when a
    shard misses its deadline. Shared by both tiers: the in-process
    ShardedSpannAggregator and the network server.RemoteReplicaAggregator.

    A subclass sets ``replicas`` (anything with search_one/batch_search),
    ``centers``, ``scatter_topk`` and ``tracker``. What differs between
    the tiers is selected by class: ``_scatter`` (serial loop here, a
    pool over sockets), the routing metric, and ``close``.

    The tracker records single-query shard calls only (with the budget on
    the deadline path): batch latencies would corrupt the single-query
    percentiles ``hot_shard()`` reads."""

    def _route(self, q: np.ndarray, metric: str) -> list[int]:
        return route_to_shards(
            self.centers, self.scatter_topk, q, metric, len(self.replicas)
        )

    def _scatter(self, calls: list) -> list:
        """Run the per-shard calls → results in call order. SERIAL,
        deliberately (measured r10, SCALING.md): a thread-pool scatter
        over in-process shards was built and REJECTED — per-shard
        searches are µs-scale, so executor round-trips made p50 6.2 →
        38.7 ms at 16 shards. The deadline paths stay threaded — there
        the budget semantics, not throughput, require concurrency."""
        return [call() for call in calls]

    def _timed_search_one(self, j: int, budget_ms, q, *args):
        """Shard j's search_one with the latency witness (two
        perf_counter calls against a µs-scale search — noise), recorded
        by whichever thread ran the call when it finishes, so a deadline
        straggler still charges its shard after the merge moved on."""
        t0 = time.perf_counter()
        out = self.replicas[j].search_one(q, *args)
        self.tracker.record(j, (time.perf_counter() - t0) * 1000, budget_ms)
        return out

    def _query_calls(self, budget_ms, q, k, nprobe, metric, *rest) -> list:
        """One timed search_one call per routed shard."""
        return [
            functools.partial(
                self._timed_search_one, j, budget_ms, q, k, nprobe, metric,
                *rest,
            )
            for j in self._route(q, metric)
        ]

    def _batch_calls(self, queries, k, nprobe, metric, *rest) -> list:
        """One batch_search call per routed shard over the sub-batch of
        queries that selected it (broadcast = every shard gets the whole
        batch). Queries are keyed by batch POSITION, so duplicate
        query_ids stay independent, like a search_one loop."""
        per_shard: list[list] = [[] for _ in self.replicas]
        for i, (_, v) in enumerate(queries):
            for j in self._route(v, metric):
                per_shard[j].append((i, v))
        return [
            functools.partial(
                self.replicas[j].batch_search, sub, k, nprobe, metric, *rest
            )
            for j, sub in enumerate(per_shard)
            if sub
        ]

    @staticmethod
    def _with_deadline(calls: list, budget_ms: float) -> tuple[list, bool]:
        """Run the calls concurrently under ONE budget → (results of the
        calls that finished in time, partial). A call that misses the
        budget is dropped; a call that CRASHES is dropped the same way —
        the reference folds timeout and error children into one partial
        merge (`AggregatorService.cpp:280-323`), so healthy shards still
        answer instead of the query failing at the server boundary.

        Each call gets its OWN executor, torn down without waiting: a
        shared fixed-size pool would let one stuck shard's straggler
        occupy a worker and eat LATER queries' budgets (queue wait counts
        against cf.wait), turning one slow shard into false partials for
        every later query. Queued-but-unstarted tasks are cancelled;
        finished-late threads die into an executor nothing references.
        Over sockets the fresh threads have no cached connection, so each
        deadline call pays one TCP connect per shard inside the budget."""
        import concurrent.futures as cf

        ex = cf.ThreadPoolExecutor(
            max_workers=max(len(calls), 1), thread_name_prefix="shard-deadline"
        )
        try:
            futs = [ex.submit(call) for call in calls]
            done, _ = cf.wait(futs, timeout=budget_ms / 1000.0)
        finally:
            ex.shutdown(wait=False, cancel_futures=True)
        ok = [
            f.result() for f in futs if f in done and f.exception() is None
        ]
        return ok, len(ok) < len(futs)

    def search_one(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        res = self._scatter(
            self._query_calls(
                None, q, k, nprobe, metric, max_dist_ratio, deleted_ids,
                allowed_ids,
            )
        )
        return self._merge([r[0] for r in res], [r[1] for r in res], k)

    def batch_search(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> list[tuple[int, int, int, float]]:
        """→ rows of (query_id, rank, id, dist) — each routed shard
        answers its sub-batch through its own batch path (in-process: the
        vectorized slab-once pass; remote: the pipelined socket batch),
        and the gather is _merge batched with segment arithmetic."""
        if not queries:
            return []
        parts = self._scatter(
            self._batch_calls(
                queries, k, nprobe, metric, max_dist_ratio, deleted_ids,
                allowed_ids,
            )
        )
        qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
        return self._merge_batch(parts, qids, k)

    def search_with_deadline(
        self,
        q: np.ndarray,
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        budget_ms: float = 50.0,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray, bool]:
        """Per-query time budget with PARTIAL results — the reference
        aggregator's shard-timeout semantics (`AggregatorService.cpp:
        280-323`: when a child index misses the deadline, the merged
        answer carries whatever shards DID answer, flagged partial). →
        (ids, dists, partial); partial=True when ≥1 shard missed the
        budget or crashed (see _with_deadline).

        This lives in the driver-side serving tier precisely because
        Spark STAGES are all-or-nothing (the documented divergence,
        README) — here each shard is an independent replica, so a
        deadline is honest."""
        res, partial = self._with_deadline(
            self._query_calls(
                budget_ms, q, k, nprobe, metric, max_dist_ratio,
                deleted_ids, allowed_ids,
            ),
            budget_ms,
        )
        ids, d = self._merge([r[0] for r in res], [r[1] for r in res], k)
        return ids, d, partial

    def batch_search_with_deadline(
        self,
        queries: list[tuple[int, np.ndarray]],
        k: int = 10,
        nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
        metric: str = "l2",
        max_dist_ratio: float = MAX_DIST_RATIO,
        budget_ms: float = 50.0,
        deleted_ids: np.ndarray | None = None,
        allowed_ids: np.ndarray | None = None,
    ) -> tuple[list[tuple[int, int, int, float]], bool]:
        """→ (rows, partial): ONE budget for the whole batch scatter.
        Each routed shard answers its sub-batch concurrently (batch work
        per shard is ms-scale, unlike the µs per-query case where
        threading was measured and rejected); a shard missing the budget
        or crashing is dropped from the merge and the whole answer is
        flagged partial."""
        if not queries:
            return [], False
        parts, partial = self._with_deadline(
            self._batch_calls(
                queries, k, nprobe, metric, max_dist_ratio, deleted_ids,
                allowed_ids,
            ),
            budget_ms,
        )
        qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
        return self._merge_batch(parts, qids, k), partial

    @staticmethod
    def _merge_batch(parts, qids: np.ndarray, k: int):
        """Gather for a scattered batch: ``parts`` is one row-list per
        shard, each keyed by batch POSITION. Cross-shard dedup (a vector
        replicated into heads of different shards answers once; replicas
        of an id share one vector, so the exact kernel scored it
        identically in every shard), then the (dist, id) re-rank per
        query — _merge, without the per-query loop."""
        pi_parts: list[np.ndarray] = []
        id_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        for rows in parts:
            if not rows:
                continue
            pi_parts.append(np.array([r[0] for r in rows], dtype=np.int64))
            id_parts.append(np.array([r[2] for r in rows], dtype=np.int64))
            d_parts.append(np.array([r[3] for r in rows]))
        if not pi_parts:
            return []
        pi = np.concatenate(pi_parts)
        ids = np.concatenate(id_parts)
        d = np.concatenate(d_parts)
        o = np.lexsort((d, ids, pi))
        pi, ids, d = pi[o], ids[o], d[o]
        keep = np.ones(len(pi), dtype=bool)
        keep[1:] = (pi[1:] != pi[:-1]) | (ids[1:] != ids[:-1])
        pi, ids, d = pi[keep], ids[keep], d[keep]
        o2 = np.lexsort((ids, d, pi))
        pi, ids, d = pi[o2], ids[o2], d[o2]
        pos = _run_positions(pi)
        fin = pos < k
        return [
            (int(qids[p]), int(r), int(i), float(dd))
            for p, r, i, dd in zip(
                pi[fin], pos[fin] + 1, ids[fin], d[fin]
            )
        ]

    @staticmethod
    def _merge(
        ids_all: list, d_all: list, k: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Gather = global re-rank with (dist, id) ties; dedup ids (a vector
        replicated into heads of different shards answers once)."""
        if not ids_all:
            return np.empty(0, dtype=np.int64), np.empty(0)
        ids = np.concatenate(ids_all)
        d = np.concatenate(d_all)
        if ids.size == 0:
            return ids, d
        _, first = np.unique(ids, return_index=True)
        ids, d = ids[first], d[first]
        top = np.lexsort((ids, d))[: min(k, len(ids))]
        return ids[top], d[top]

    def close(self) -> None:
        """Release scatter resources. In-process shards hold none: the
        scatter is a plain loop and each deadline call tears its own
        executor down."""


def _shard_centers(replicas, dim: int) -> np.ndarray:
    """One center per shard (mean of its head centroids); an EMPTY
    shard's center is +inf so routing never selects it."""
    return np.array(
        [
            rep.H.mean(axis=0) if len(rep.H) else np.full(dim, np.inf)
            for rep in replicas
        ]
    )


class ShardedSpannAggregator(ScatterGatherAggregator):
    """Scatter-gather over head-sharded replicas — the Aggregator tier
    (`AggregatorService.cpp:216-258`) for serving nodes whose RAM cannot
    hold the whole index.

    Sharding is BY HEAD: each shard owns a contiguous slice of the head
    space plus exactly the posting rows of those heads (what
    `BalancedDataPartition` produces for the reference's multi-machine
    deployment). A query is scattered to every shard, each answers from its
    local heads at the same nprobe, and the gather is a global merge-rank —
    strictly better than the reference's concat-without-rerank (NOTES.md
    divergence), and identical to the single-replica answer when nprobe
    spans the same heads.

    Note the semantic difference from one big replica: probing nprobe heads
    PER SHARD examines more postings than nprobe heads globally (the
    reference's aggregator has the same property — each child index answers
    with its own MaxCheck budget), so recall is ≥ the single-replica
    answer; tests pin top-1 identity and recall-no-worse.
    """

    @classmethod
    def for_budget(
        cls, heads: DataFrame, postings: DataFrame, node_budget_bytes: int
    ) -> "ShardedSpannAggregator":
        """Default shard-sizing rule (VERDICT r9 #7, measured at sf0.1 —
        SCALING.md r10): **shard to fit the node budget, never more.**
        shards = ceil(replica_bytes / budget). More shards than RAM
        requires buys nothing — at equal total work (nprobe split across
        shards) recall is flat (0.947-0.976 across 1-16 shards) while
        same-nprobe sharding just spends linearly more postings for its
        recall lift; and each extra shard adds scatter+merge overhead
        (p50 0.86 → 6.2 ms over 1 → 16 local shards). ≥4 shards is where
        deadline partials get cheap (one lost shard of ≥4 keeps
        recall ≥ 0.99 of answers vs 0.90 at 2) — the availability knob,
        not a default. Reference: `BalancedDataPartition`
        (src/BalancedDataPartition/main.cpp:151-241) splits by exactly
        this per-node-capacity rule."""
        import math

        from sptag_spark.plans.planner import replica_footprint_bytes

        est = replica_footprint_bytes(heads, postings)
        return cls(
            heads,
            postings,
            n_shards=max(1, math.ceil(est / max(1, node_budget_bytes))),
        )

    def __init__(
        self,
        heads: DataFrame,
        postings: DataFrame,
        n_shards: int = 2,
        store_dir: str | None = None,
        scatter_topk: int | None = None,
        split: str = "range",
        value_type: str = "float32",
    ) -> None:
        """Every shard is a DiskSpannReplica — the multi-node out-of-core
        deployment (every serving node holds its shard's heads in RAM and
        posting vectors on SSD), so the aggregated corpus can exceed
        n_shards × RAM. ``store_dir``: pack shard i under
        ``store_dir/shard_<i>``; without it each shard packs a private
        store that is removed with its replica.

        ``scatter_topk``: center-routed scatter — send each query to only
        the N shards whose CENTER (mean of the shard's head centroids) is
        nearest, instead of broadcasting to all. The reference
        aggregator's `[Service] TopK` + `Centers` mode
        (`AggregatorService.cpp:215-258` ranks servers by query-to-center
        distance and scatters to the TopK): at hundreds of serving nodes,
        broadcast is the RPC bottleneck and per-node centers bound the
        fan-out. None (default) broadcasts — exhaustive over shards.

        ``split``: how heads are assigned to shards. "range" (default)
        slices the head-id space — arbitrary spatial assignment, the
        conservative choice when routing is off. "kmeans" clusters the
        head CENTROIDS (deterministic Lloyd's on the driver — heads are
        the small RAM side by this tier's contract) so each shard is
        spatially coherent and its center actually summarizes it — what
        the reference's BalancedDataPartition produces and the layout
        center routing is designed for (measured: range split needs
        topk=n/2 for ≥0.99 recall, kmeans split reaches it at topk=1-2,
        SCALING.md r10)."""
        import os

        import pyspark.sql.functions as F

        if split == "kmeans":
            hp = heads.select("head_id", "vector").toPandas()
            hid = hp["head_id"].to_numpy(np.int64)
            H = np.array(hp["vector"].tolist(), dtype=np.float64)
            # deterministic Lloyd's: spread init over the id-sorted heads,
            # fixed 10 passes (assignment, not quality, is the product)
            o = np.argsort(hid)
            hid, H = hid[o], H[o]
            C = H[np.linspace(0, len(H) - 1, min(n_shards, len(H))).astype(int)]
            for _ in range(10):
                a = np.argmin(_block_distances(C, H, "l2"), axis=0)
                for j in range(len(C)):
                    m = a == j
                    if m.any():
                        C[j] = H[m].mean(axis=0)
            groups = [
                hid[a == j] if j < len(C) else np.empty(0, np.int64)
                for j in range(n_shards)
            ]
            selections = [
                F.col("head_id").isin([int(x) for x in g]) if len(g)
                else F.lit(False)
                for g in groups
            ]
        else:
            hp = heads.select("head_id").toPandas()
            hids = np.sort(hp["head_id"].to_numpy(np.int64))
            bounds = [
                hids[(len(hids) * i) // n_shards] for i in range(1, n_shards)
            ] + [np.iinfo(np.int64).max]
            selections = []
            lo = np.iinfo(np.int64).min
            for hi in bounds:
                selections.append(
                    (F.col("head_id") >= int(lo)) & (F.col("head_id") < int(hi))
                )
                lo = hi
        self.replicas = [
            DiskSpannReplica(
                heads.filter(sel),
                postings.filter(sel),
                os.path.join(store_dir, f"shard_{i}")
                if store_dir is not None
                else None,
                value_type=value_type,
            )
            for i, sel in enumerate(selections)
        ]
        self.scatter_topk = scatter_topk
        # one center per shard — what BalancedDataPartition writes as the
        # per-node centers file the reference aggregator routes with. An
        # EMPTY shard's center is +inf so routing never selects it (it
        # has nothing to answer; n_shards can exceed the head count).
        dim = next(
            (int(r.H.shape[1]) for r in self.replicas if len(r.H)), 1
        )
        self.centers = _shard_centers(self.replicas, dim)
        #: observed-latency rebalance signal (ShardLatencyTracker)
        self.tracker = ShardLatencyTracker(len(self.replicas))

    def shard_posting_rows(self) -> list[int]:
        """Posting rows per shard — the overflow signal for rebalancing
        (the reference's BalancedDataPartition sizes shards ONCE; growth
        past a node's budget is an operational gap this tier closes)."""
        return [int(r.indptr[-1]) for r in self.replicas]

    def split_shard(
        self,
        j: int,
        heads: DataFrame,
        postings: DataFrame,
        store_dir: str | None = None,
        value_type: str = "float32",
    ) -> dict:
        """Shard-growth rebalance (VERDICT r11 ask #5): split ONLY shard
        ``j`` — whose postings outgrew its node budget after concentrated
        adds — into two spatially-coherent halves, touching nothing else.

        The reference has no live piece here: `BalancedDataPartition`
        (src/BalancedDataPartition/main.cpp) sizes shards once, offline,
        and `AggregatorService` assumes static membership — growth past a
        node's capacity means a full re-partition. This method is the
        LIRE idea one tier up: 2-means over the overflowing shard's HEAD
        centroids (deterministic, driver-side — heads are the small side
        by this tier's contract), two new replicas built from
        partition-pruned `head_id IN (...)` scans of that shard's heads
        only, and an updated center table. Every other shard's replica —
        and, in the disk deployment, its packed store bytes — is
        untouched (pinned by probe: byte-identical stores).

        → report: rows moved, the two new shard sizes, store dirs."""
        import os

        from sptag_spark.streaming.spfresh import two_means

        import pyspark.sql.functions as F

        old = self.replicas[j]
        if len(old.head_ids) < 2:
            raise ValueError(f"shard {j} has {len(old.head_ids)} heads")
        labels, _ = two_means(old.H)
        sides = [old.head_ids[labels == 0], old.head_ids[labels == 1]]
        # halves are named after the split shard's own store, never by
        # position: a later split at the same position must not reuse
        # (and rebuild over) a live shard's directory
        stem = os.path.basename(os.path.normpath(old.store_dir))
        new_dirs = [
            os.path.join(store_dir, f"{stem}_s{s}")
            if store_dir is not None
            else None
            for s in (0, 1)
        ]
        new_reps = []
        for hid, d in zip(sides, new_dirs):
            sel = F.col("head_id").isin([int(x) for x in hid])
            new_reps.append(
                DiskSpannReplica(
                    heads.filter(sel), postings.filter(sel), d,
                    value_type=value_type,
                )
            )
        before_rows = int(old.indptr[-1])
        self.replicas = (
            self.replicas[:j] + new_reps + self.replicas[j + 1 :]
        )
        self.tracker.split_at(j)
        new_centers = _shard_centers(new_reps, self.centers.shape[1])
        self.centers = np.vstack(
            [self.centers[:j], new_centers, self.centers[j + 1 :]]
        )
        return {
            "split_shard": j,
            "rows_before": before_rows,
            "rows_after": [int(r.indptr[-1]) for r in new_reps],
            "heads": [len(h) for h in sides],
            "store_dirs": [r.store_dir for r in new_reps],
            "n_shards": len(self.replicas),
        }


class LocalPqSpannReplica(_SlabReplica):
    """PQ-compressed serving replica: SPANN routing + ADC scoring, no full
    vectors in RAM.

    The reference's billion-scale node keeps full postings on SSD; the
    RAM-resident twin at that scale needs compression — M bytes per vector
    (PQ codes, `PQQuantizer.h`) instead of 4·D, a ~32× density win that
    puts ~2B 64-d vectors in 16 GB. Routing stays full-precision (heads are
    ~0.1·N and tiny); member scoring is the ADC LUT gather
    (`index/pq.py adc_search` semantics, same rotation handling), so
    returned distances are `adc_dist` — approximate, monotone enough for
    the PQ recall regime (gate mirrors test_pq_adc_recall). The search
    loop is _SlabReplica's; a posting row here is an index into the
    id-sorted code table (``post_rows``)."""

    dispatch_label = "pq_replica"  # planner last_dispatch tag

    def __init__(
        self,
        heads: DataFrame,
        postings: DataFrame,
        codes: DataFrame,
        books,
        refine_store=None,
        refine_factor: int = 4,
    ) -> None:
        # refine_store: (ids, float32 memmap) from open_refine_store — ADC
        # picks k·refine_factor candidates, their TRUE vectors are read
        # from disk and exact-reranked (the ivf_pq_search refine stage at
        # the serve tier; RAM stays codes-only, the reference's
        # SSD-rerank shape). None → raw ADC distances.
        self.refine = refine_store
        self.refine_factor = int(refine_factor)
        self.books = books
        cp = codes.select("id", "codes").toPandas()
        self.code_ids = cp["id"].to_numpy(np.int64)
        corder = np.argsort(self.code_ids)
        self.code_ids = self.code_ids[corder]
        # uint8 — PQ codes index 256-entry codebooks; storing them wider
        # would silently forfeit the M-bytes-per-vector density this
        # replica exists for
        self.codes = np.array(cp["codes"].tolist(), dtype=np.uint8)[corder]

        pp = postings.select("head_id", "id").toPandas()  # NO vectors
        raw, H = head_matrix(heads)
        order = np.argsort(raw)
        head_ids = raw[order]
        slot = np.searchsorted(head_ids, pp["head_id"].to_numpy(np.int64))
        porder = np.argsort(slot, kind="stable")
        self.post_rows = np.searchsorted(
            self.code_ids, pp["id"].to_numpy(np.int64)[porder]
        )
        ln = np.bincount(slot, minlength=len(head_ids))
        self._set_layout(head_ids, H[order], np.cumsum(ln) - ln, ln)

    def _row_ids(self, rows: np.ndarray) -> np.ndarray:
        return self.code_ids[self.post_rows[rows]]

    def _score_ctx(self, Q: np.ndarray) -> np.ndarray:
        """(B, m·256) ADC lookup tables — per query i, subspace j:
        (codebook[j] - rotated_q[j·sub:(j+1)·sub])² summed over the
        subspace."""
        cb, R = self.books.codebooks, self.books.rotation
        m, n_codes, sub = cb.shape
        # rotate per query (vecmat), NOT one GEMM: dgemm and dgemv differ
        # in the last ulp, and a batch must score bitwise as search_one
        QR = np.array([q @ R for q in Q]) if R is not None else Q
        lut = np.empty((len(Q), m, n_codes))
        for j in range(m):
            diff = cb[j][None, :, :] - QR[:, None, j * sub : (j + 1) * sub]
            sq = diff * diff
            # reduce in 2D, not 3D: numpy's last-axis pairwise reduction
            # blocks DIFFERENTLY for 3-D arrays at some shapes (measured:
            # one-ulp drift vs the per-query 2-D sum)
            lut[:, j, :] = sq.reshape(-1, sub).sum(axis=1).reshape(
                len(Q), n_codes
            )
        return lut.reshape(len(Q), m * n_codes)

    def _block_scores(self, rows, qsub, lut, metric) -> np.ndarray:
        """ADC gather-sums, deterministic (not BLAS): the same value for a
        row wherever and in whichever batch it is scored."""
        m, n_codes, _ = self.books.codebooks.shape
        idx = (
            np.arange(m, dtype=np.int64)[None, :] * n_codes
            + self.codes[self.post_rows[rows]]
        )  # (n, m) flat LUT columns
        G = lut[qsub][:, idx]  # (|qsub|, n, m)
        # 2-D reduction for bitwise parity across batch shapes (see LUT)
        return G.reshape(-1, m).sum(axis=1).reshape(len(qsub), len(idx)).T

    def _scores_one(self, rows, q, metric) -> np.ndarray:
        return self._block_scores(
            rows, np.zeros(1, dtype=np.int64), self._score_ctx(q[None, :]),
            metric,
        )[:, 0]

    def _rescore_depth(self, k: int, batch: bool) -> int | None:
        return None if self.refine is None else max(k, k * self.refine_factor)

    def _exact_rows(self, rows, ids) -> np.ndarray:
        """Candidates' TRUE vectors from the id-sorted refine store: the
        memmap gather reads only those rows (the SSD rerank I/O). Each hit
        is validated first — an id missing from the store (a stale refine
        store after an index rebuild) would otherwise silently rerank
        against a WRONG row's vector (ADVICE r9)."""
        rf_ids, rf_V = self.refine
        pos = np.minimum(np.searchsorted(rf_ids, ids), max(len(rf_ids) - 1, 0))
        if len(rf_ids) == 0 or not np.array_equal(rf_ids[pos], ids):
            raise ValueError(
                "refine store does not cover the index's ids — it was "
                "built from a different vector set (stale store after "
                "a rebuild?); rebuild it with build_refine_store_parallel"
            )
        return np.asarray(rf_V[pos], dtype=np.float64)  # exact upcast

    def memory_bytes(self) -> int:
        """RAM actually held by the replica's arrays: heads, one int64
        per posting row and the slab extents, as DiskSpannReplica holds,
        plus M code bytes and one int64 id per vector."""
        return int(
            self.H.nbytes
            + self.head_ids.nbytes
            + self.codes.nbytes
            + self.code_ids.nbytes
            + self.post_rows.nbytes
            + self.slab_off.nbytes
            + self.slab_len.nbytes
        )
