"""Exact batch k-NN — the core operator.

Reference semantics: SPTAG's Search/BatchSearch/SearchWithMetaData
(`Wrappers/inc/CoreInterface.h:45-49`) return, per query, the k nearest
vectors ascending by (distance, vector-id) — the tie-break on smaller VID is
the heap comparator at `Common/QueryResultSet.h:17-26`. The BKT/KDT tree +
RNG graph traversal (`src/Core/BKT/BKTIndex.cpp:279-350`) is an approximation
device for that top-k; this exact operator returns the true answer (a strict
superset of reference behavior — SPTAG may return fewer/worse under its
MaxCheck budget, `BKTIndex.cpp:326-331`).

Two implementations, identical results:

1. ``knn`` (default, the 100 TB path): the query batch (always small — it's a
   batch of incoming requests) is collected and shipped to executors inside a
   ``mapInPandas`` kernel. Each input partition of the big ``vectors`` table
   computes a distance block with NumPy (BLAS matmul — the moral equivalent of
   the reference's SIMD kernels, `DistanceUtils.cpp`) and emits only its local
   top-k per query. The shuffle that follows carries ≤ partitions × |Q| × k
   candidate rows — NOT the |V| × |Q| cross product — and a final window rank
   merges partials. This mirrors Spark's partial/final aggregation, and is
   exactly the reference's distributed story (each shard returns its top-k,
   aggregator merges — `src/Aggregator/AggregatorService.cpp:363-441` — except
   we do the final re-rank, which the reference leaves to the client).

2. ``knn_brute_expr`` (declarative reference): crossJoin + distance column
   expression + window rank. Fully Catalyst-visible, used as the semantic
   oracle in tests; the |V| × |Q| shuffle makes it the fallback, not the
   default.

Output schema: (query_id BIGINT, rank BIGINT (1-based), id BIGINT,
dist DOUBLE[, meta]) — the QueryResult/BasicResult shape
(`inc/Core/SearchResult.h:65-78`) as a DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.functions.distance import METRICS, dist_expr

_CAND_SCHEMA = "query_id long, id long, dist double"


def _as_matrix(series: pd.Series) -> np.ndarray:
    """Vector column → (n, d) float64 matrix, with the reference's ingest
    diagnostics instead of an opaque BLAS shape error: NULL vectors and
    ragged dimensions raise DimensionSizeMismatch-style messages
    (`src/Core/BKT/BKTIndex.cpp:924`) naming the defect."""
    vals = series.to_numpy()
    try:
        # Arrow hands list<float> cells over as numpy float32 arrays —
        # np.stack keeps the data numeric end-to-end. The tolist() fallback
        # below boxes every component into a Python float first (measured as
        # a large share of big build kernels' wall time).
        m = np.stack(vals).astype(np.float64)
    except (ValueError, TypeError):
        m = None
    if m is not None and m.ndim == 2:
        return m
    vals = series.tolist()
    try:
        m = np.array(vals, dtype=np.float64)
    except ValueError:
        m = None
    if m is not None and m.ndim == 2:
        return m
    if any(v is None for v in vals):
        raise ValueError(
            "DimensionSizeMismatch: vector column contains NULL entries — "
            "filter or repair them before search (reference rejects them "
            "at AddIndex time)"
        )
    dims = {len(v) for v in vals}
    raise ValueError(
        f"DimensionSizeMismatch: vector column mixes dimensions {sorted(dims)}"
    )


def _block_distances(V: np.ndarray, Q: np.ndarray, metric: str) -> np.ndarray:
    """(n, q) distance block in float64. Direct (V-Q)^2 sums for L2 (better
    conditioned than the ||v||^2 - 2vq + ||q||^2 expansion near ties)."""
    if V.shape[1] != Q.shape[1]:
        raise ValueError(
            f"DimensionSizeMismatch: vectors have dim {V.shape[1]} but "
            f"queries have dim {Q.shape[1]}"
        )
    if metric == "l2":
        # ||v||^2 - 2 v.q + ||q||^2 via BLAS: O(n*q*d) flops with only an
        # (n, q) result buffer (no n*q*d temp). Clamped at 0 so a vector's
        # distance to itself is exactly 0.0 (not -1e-16), matching the exact
        # arithmetic of the declarative path and the oracle.
        D = -2.0 * (V @ Q.T)
        D += (V * V).sum(axis=1)[:, None]
        D += (Q * Q).sum(axis=1)[None, :]
        np.maximum(D, 0.0, out=D)
        return D + 0.0
    if metric == "cosine":
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
        # Cosine distance is mathematically >= 0; tiny-negative dots from
        # rounding (self-match with dot/(|v||q|) marginally > 1) would round
        # to -0.0, whose sign bit differs from the oracle's +0.0. Clamp and
        # add 0.0 to drop the sign bit, matching the L2 path above.
        D = 1.0 - Vn @ Qn.T
        np.maximum(D, 0.0, out=D)
        return D + 0.0
    if metric == "ip":
        return -(V @ Q.T)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def _exact_pair_dists(V: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """Direct per-pair distances — the same arithmetic shape as the column
    expressions and the SQL oracle, so reported values agree bit-for-bit at
    the fixtures' scale (e.g. self-distance is exactly 0.0).

    Deliberately SHAPE-STABLE: every row's value is a row-local elementwise
    product + pairwise sum, never a BLAS matvec, because dgemv results for
    a given row vary in the last ulp with the MATRIX's shape (measured:
    ``V[sel] @ q`` vs ``V @ q`` differ by 1 ulp on some rows). Engine paths
    score the same (vector, query) pair through candidate matrices of
    different shapes — distributed Arrow batches, replica candidate sets,
    batch-path margin subsets — and their strict row-identity pins
    (`serve_disk_replica`, test_serving_local) require the value to depend
    on the PAIR alone.

    The l2 square is taken in place: one (n, dim) temporary per call, not
    two, so a head table of several MB does not page-fault a fresh
    allocation on every query (SCALING.md "One full-vector replica")."""
    if metric == "l2":
        d = V - q[None, :]
        d *= d
        return d.sum(axis=1)
    if metric == "cosine":
        nv = np.linalg.norm(V, axis=1)
        nq = np.linalg.norm(q)
        out = np.ones(len(V))
        ok = (nv != 0) & (nq != 0)
        out[ok] = 1.0 - (V[ok] * q).sum(axis=1) / (nv[ok] * nq)
        # clamp >= 0 and drop the -0.0 sign bit (see _block_distances)
        np.maximum(out, 0.0, out=out)
        return out + 0.0
    return -(V * q).sum(axis=1)


def _exact_rowpair_dists(
    V: np.ndarray,
    Qm: np.ndarray,
    metric: str,
    nq_rows: np.ndarray | None = None,
) -> np.ndarray:
    """Row-paired exact distances — element i is bitwise
    ``_exact_pair_dists(V[i:i+1], Qm[i], metric)[0]``. For cosine, pass
    ``nq_rows`` (per-row query norms computed with 1-D np.linalg.norm, the
    pair kernel's convention) to avoid a per-row norm loop."""
    if metric == "l2":
        d = V - Qm
        d *= d  # in place, as _exact_pair_dists
        return d.sum(axis=1)
    dots = (V * Qm).sum(axis=1)
    if metric == "cosine":
        nv = np.linalg.norm(V, axis=1)
        if nq_rows is None:
            nq_rows = np.array([np.linalg.norm(q) for q in Qm])
        out = np.ones(len(V))
        ok = (nv != 0) & (nq_rows != 0)
        out[ok] = 1.0 - dots[ok] / (nv[ok] * nq_rows[ok])
        np.maximum(out, 0.0, out=out)
        return out + 0.0
    return -dots


def _topk_frame(
    V: np.ndarray,
    ids: np.ndarray,
    query_ids: np.ndarray,
    Q: np.ndarray,
    k: int,
    metric: str,
) -> pd.DataFrame:
    """One partition-block × one query-chunk: per query, the k smallest by
    (dist, id) — reference tie-break (QueryResultSet.h:17-26). BLAS block
    selects candidates; exact per-pair recompute on the k winners fixes the
    ~1e-15 noise the dot-product expansion introduces."""
    D = _block_distances(V, Q, metric)
    kk = min(k, len(ids))
    out_q, out_i, out_d = [], [], []
    for j in range(Q.shape[0]):
        col = D[:, j]
        cand = np.argpartition(col, kk - 1)[:kk] if kk < len(ids) else np.arange(len(ids))
        exact = _exact_pair_dists(V[cand], Q[j], metric)
        order = np.lexsort((ids[cand], exact))[:kk]
        out_q.append(np.full(kk, query_ids[j], dtype=np.int64))
        out_i.append(ids[cand[order]])
        out_d.append(exact[order])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "id": np.concatenate(out_i),
            "dist": np.concatenate(out_d),
        }
    )


def topk_kernel(qref, k: int, metric: str, chunk_size: int):
    """Returns a mapInPandas function emitting per-batch top-k candidates.
    ``qref`` is the (query_ids, Q) pair itself (serve-sized batches ride
    the task closure) or a Spark Broadcast of it (mega batches: one
    torrent copy per executor, not per task). Either way the kernel walks
    the queries in chunk_size slices, so the plan stays ONE scan
    regardless of |Q|, where a union-of-chunks grew ⌈|Q|/chunk⌉ subtrees
    (and re-scanned the vector table once per chunk). Per-slice peak
    memory is the n_block × chunk distance buffer; the |V|·|Q|
    arithmetic is inherent to the exact batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark.broadcast import Broadcast

        query_ids, Q = qref.value if isinstance(qref, Broadcast) else qref
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _as_matrix(pdf["vector"])
            ids = pdf["id"].to_numpy(dtype=np.int64)
            for s in range(0, len(query_ids), chunk_size):
                yield _topk_frame(
                    V, ids, query_ids[s : s + chunk_size],
                    Q[s : s + chunk_size], k, metric,
                )

    return kernel


# Above this many queries, one kernel closure would ship a |Q|×d matrix in
# every task; chunking bounds closure size (and per-task top-k memory) while
# returning identical results — chunks partition the query set, and per-query
# results are independent.
KNN_QUERY_CHUNK = 8192


def knn_arrays(
    vectors: DataFrame,
    query_ids: np.ndarray,
    Q: np.ndarray,
    k: int = 10,
    metric: str = "l2",
    chunk_size: int = KNN_QUERY_CHUNK,
) -> DataFrame:
    """knn() for a query batch already in driver memory (numpy) — index-build
    internals (centroid snap, replica assignment) call this to skip the
    createDataFrame→collect Py4J round-trip, which costs more than the whole
    Lloyd training at head scale.

    Batches larger than chunk_size ship the query matrix as a Spark
    Broadcast instead of a task closure, and the kernel walks it in
    chunk_size slices (topk_kernel): ONE vector-table scan and a
    constant-size plan at ANY |Q| — the block-nested-loop shape a 100 TB
    driver batch (offline truth/recall jobs run millions of queries) needs.
    The total |V|·|Q| arithmetic is inherent; what's bounded is per-task
    closure size, per-slice memory, and plan size (plan-pinned by
    tests/test_plans.py test_mega_batch_knn_plan_is_union_free)."""
    if len(query_ids) == 0:
        spark = vectors.sparkSession
        return spark.createDataFrame([], "query_id long, rank long, id long, dist double")
    # final merge-rank partitioning derived from |Q| (r13, guide §2.2): the
    # candidate stream is ≤ n_partitions·|Q|·k scalar rows, so the rank
    # window's shuffle is sized by the query batch (⌈|Q|/128⌉ partitions —
    # grows with offline mega batches, stops paying session-wide partition
    # counts for serve-sized ones). The explicit hash-repartition satisfies
    # the window's clustering requirement — no second exchange.
    n_rank_parts = max(1, -(-len(query_ids) // 128))
    qref = (query_ids, Q)
    if len(query_ids) > chunk_size:
        # the broadcast must outlive this function (the returned plan is
        # lazy) — no destroy; Spark GCs it with the context
        qref = vectors.sparkSession.sparkContext.broadcast(
            (
                np.asarray(query_ids, dtype=np.int64),
                np.asarray(Q, dtype=np.float64),
            )
        )
    cand = vectors.select("id", "vector").mapInPandas(
        topk_kernel(qref, k, metric, chunk_size), schema=_CAND_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("id"))
    return (
        cand.repartition(n_rank_parts, "query_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "id", "dist")
    )


def knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
    chunk_size: int = KNN_QUERY_CHUNK,
    q_rows: list | None = None,
) -> DataFrame:
    """Exact batch k-NN: map-side local top-k, then global merge rank.

    vectors: (id, vector [, ...extra cols ignored])
    queries: (query_id, vector) — collected to the driver and shipped in the
        kernel closure (SPTAG holds the query in memory per thread the same
        way); batches above chunk_size ride a Spark Broadcast and the kernel
        walks them in chunk slices — one scan, plan size constant in |Q|
        (see knn_arrays).
    """
    qrows = (
        q_rows
        if q_rows is not None
        else queries.select("query_id", "vector").collect()
    )
    query_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["vector"]) for r in qrows], dtype=np.float64)
    return knn_arrays(vectors, query_ids, Q, k, metric, chunk_size)


def knn_brute_expr(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Declarative exact k-NN: broadcast crossJoin + dist expr + window rank.

    Semantically identical to ``knn``; shuffles the full |V|×|Q| pair set, so
    use only as oracle/reference or for tiny inputs.
    """
    q = queries.select(
        F.col("query_id"), F.col("vector").alias("qvector")
    )
    pairs = vectors.select("id", "vector").crossJoin(F.broadcast(q))
    pairs = pairs.withColumn(
        "dist", dist_expr(F.col("qvector"), F.col("vector"), metric)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "id", "dist")
    )


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    chunk_size: int = KNN_QUERY_CHUNK,
) -> DataFrame:
    """Exact radius query: every (query, vector) pair with dist ≤ radius.

    The fixed-radius companion to top-k — the dedup/curation side of a
    pipeline asks "everything within ε", not "the k nearest" (the same
    contract as embedding_near_dup_pairs' threshold, operators/dedup.py, but
    query-against-corpus instead of corpus-against-itself). The reference's
    engine exposes only top-k (QueryResultSet.h is a fixed-k heap); this is
    a pipeline extension with the same distance semantics.

    Plan shape: map-ONLY — each partition of `vectors` emits its in-range
    rows against the broadcast query batch; no shuffle at any scale (the
    result is not ranked; callers that need ranks sort the small output).
    The BLAS block prefilters with a slack margin, then the exact per-pair
    arithmetic (the oracle's arithmetic) decides inclusion and reports the
    distance, so the radius cut never flips on dot-product-expansion noise.

    Output: (query_id, id, dist), unordered.
    """
    qrows = queries.select("query_id", "vector").collect()
    if not qrows:
        return vectors.sparkSession.createDataFrame([], _CAND_SCHEMA)
    query_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["vector"]) for r in qrows], dtype=np.float64)
    slack = radius + 1e-6 + abs(radius) * 1e-9
    # above chunk_size queries the matrix rides a Broadcast and the kernel
    # walks it in slices — same single-scan, constant-plan-size discipline
    # as knn_arrays' mega path (no union-of-chunks, no per-chunk rescan)
    mega = len(qrows) > chunk_size
    qref = (
        vectors.sparkSession.sparkContext.broadcast((query_ids, Q))
        if mega
        else (query_ids, Q)
    )

    def _frames(
        V: np.ndarray, ids: np.ndarray, qids: np.ndarray, Qc: np.ndarray
    ) -> pd.DataFrame | None:
        D = _block_distances(V, Qc, metric)
        out_q, out_i, out_d = [], [], []
        for j in range(Qc.shape[0]):
            cand = np.nonzero(D[:, j] <= slack)[0]
            if len(cand) == 0:
                continue
            exact = _exact_pair_dists(V[cand], Qc[j], metric)
            keep = exact <= radius
            if not keep.any():
                continue
            out_q.append(np.full(int(keep.sum()), qids[j], np.int64))
            out_i.append(ids[cand[keep]])
            out_d.append(exact[keep])
        if not out_q:
            return None
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "id": np.concatenate(out_i),
                "dist": np.concatenate(out_d),
            }
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark.broadcast import Broadcast

        qids_all, Q_all = qref.value if isinstance(qref, Broadcast) else qref
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _as_matrix(pdf["vector"])
            ids = pdf["id"].to_numpy(dtype=np.int64)
            for s in range(0, len(qids_all), chunk_size):
                out = _frames(
                    V, ids, qids_all[s : s + chunk_size],
                    Q_all[s : s + chunk_size],
                )
                if out is not None:
                    yield out

    return vectors.select("id", "vector").mapInPandas(kernel, schema=_CAND_SCHEMA)


def attach_meta(results: DataFrame, vectors: DataFrame) -> DataFrame:
    """SearchWithMetaData (`BKTIndex.cpp:611-618`): join metadata back on id.

    Results are ≤ |Q|×k rows — tiny relative to vectors — but vectors is the
    big side, so this is a plain equi-join that Catalyst/AQE will broadcast
    from the results side when appropriate.
    """
    meta = vectors.select("id", "meta")
    return results.join(meta, "id", "left").select(
        "query_id", "rank", "id", "dist", "meta"
    )
