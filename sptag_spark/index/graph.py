"""Relative-neighborhood-graph build — BKT/KDT's graph layer, Spark-first.

Reference (`NeighborhoodGraph.h:363-402`, SURVEY.md §3.4): the in-memory
indexes pair their space-partition tree with an RNG over all vectors. The
build initializes a kNN graph from TPTNumber=32 random trinary-projection
trees — all-pairs distances within ≤2000-row leaves
(`NeighborhoodGraph.h:301-360`) — then refines with the RNG prune rule
(`RelativeNeighborhoodGraph.h:18-35`): scanning candidates ascending by
distance, accept j iff for every accepted i,
rng_factor·d(i, j) ≥ d(node, j).

Spark translation: a TPT leaf is a co-partitioned block. We reuse the head
assignment (balanced clusters + replicas) as the blocking structure — each
vector lands in `replicas` blocks, all-pairs top-L runs INSIDE each block
(applyInPandas per block, BLAS), and a per-node merge + RNG prune produces
the final ≤L adjacency. Replication across blocks plays the role of the 32
independent TPT partitions: boundary neighbors are found because near
vectors co-occur in at least one block with high probability.

Scale shape: no all-pairs shuffle ever happens — the only wide ops are the
block co-partition (shuffle by block id), the per-node candidate merge
(shuffle by src), and one equi-join to attach candidate vectors for the
prune. The reference's own graph build is likewise the dominant index cost.

The graph is needed for *traversal parity* experiments, not result parity
(the exact engine answers top-k without it) — see SURVEY.md §1.1.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.index.heads import select_heads
from sptag_spark.index.postings import assign_replicas
from sptag_spark.operators.knn import _block_distances, _exact_pair_dists

NEIGHBORHOOD_SIZE = 32  # L (BKT/ParameterDefinitionList.h:23)
RNG_FACTOR = 1.0


def _block_topL(L: int, metric: str = "l2"):
    """All-pairs local top-L inside one block: (src, dst, dist)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": np.int64, "dst": np.int64, "dist": np.float64}
            )
        V = np.array(pdf["vector"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        D = _block_distances(V, V, metric)
        np.fill_diagonal(D, np.inf)
        kk = min(L, n - 1)
        out_src, out_dst, out_dist = [], [], []
        for r in range(n):
            cand = np.argpartition(D[r], kk - 1)[:kk]
            order = np.lexsort((ids[cand], D[r][cand]))
            cand = cand[order]
            out_src.append(np.full(kk, ids[r], dtype=np.int64))
            out_dst.append(ids[cand])
            # exact recompute for reported distances
            out_dist.append(_exact_pair_dists(V[cand], V[r], metric))
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "dist": np.concatenate(out_dist),
            }
        )

    return fn


def _rng_prune_partition(L: int, rng_factor: float, metric: str = "l2"):
    """mapInPandas kernel over src-repartitioned, (src, dist, dst)-sorted
    candidate rows: prunes EVERY src group in the batch with NumPy slicing.
    (A groupBy(src).applyInPandas formulation schedules one pandas call per
    node — per-group overhead dwarfs the prune at millions of nodes.)"""

    def pair_dist(a: np.ndarray, b: np.ndarray) -> float:
        # metric-aware candidate-candidate distance for the RNG rule,
        # matching NeighborhoodGraph's metric-parameterized build
        if metric == "l2":
            d = a - b
            return float((d * d).sum())
        if metric == "cosine":
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            if na == 0.0 or nb == 0.0:
                return 1.0
            return max(0.0, 1.0 - float(a @ b) / (na * nb))
        return -float(a @ b)

    def prune_block(srcs, dsts, dists, C):
        out_idx: list[int] = []
        start, n = 0, len(srcs)
        while start < n:
            end = start
            while end < n and srcs[end] == srcs[start]:
                end += 1
            accepted: list[int] = []
            for j in range(start, end):
                ok = True
                for i in accepted:
                    if rng_factor * pair_dist(C[i], C[j]) < dists[j]:
                        ok = False
                        break
                if ok:
                    accepted.append(j)
                    if len(accepted) >= L:
                        break
            out_idx.extend(accepted)
            start = end
        return pd.DataFrame(
            {"src": srcs[out_idx], "dst": dsts[out_idx], "dist": dists[out_idx]}
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow may split one src group across consecutive batches of the
        # same partition: hold back the trailing group until src changes.
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
            srcs = pdf["src"].to_numpy(dtype=np.int64)
            cut = int(np.searchsorted(srcs, srcs[-1], side="left"))
            tail = pdf.iloc[cut:].reset_index(drop=True)
            head = pdf.iloc[:cut]
            if len(head):
                yield prune_block(
                    head["src"].to_numpy(dtype=np.int64),
                    head["dst"].to_numpy(dtype=np.int64),
                    head["dist"].to_numpy(),
                    np.array(head["dst_vector"].tolist(), dtype=np.float64),
                )
        if tail is not None and len(tail):
            yield prune_block(
                tail["src"].to_numpy(dtype=np.int64),
                tail["dst"].to_numpy(dtype=np.int64),
                tail["dist"].to_numpy(),
                np.array(tail["dst_vector"].tolist(), dtype=np.float64),
            )

    return fn


def build_rng_graph(
    vectors: DataFrame,
    L: int = NEIGHBORHOOD_SIZE,
    block_ratio: float = 0.05,
    replicas: int = 4,
    rng_factor: float = RNG_FACTOR,
    heads: DataFrame | None = None,
    metric: str = "l2",
) -> DataFrame:
    """Edge DataFrame (src, dst, dist) with ≤L RNG-pruned neighbors per node.

    heads (optional) lets callers reuse an existing centroid layer; otherwise
    a block-granularity head set is selected at `block_ratio`. `metric`
    parameterizes both the candidate search and the prune rule, like the
    reference's NeighborhoodGraph taking the index's DistCalcMethod.
    """
    if heads is None:
        heads = select_heads(vectors, ratio=block_ratio)
    blocks = assign_replicas(
        vectors, heads, replica_count=replicas, candidate_num=max(replicas * 4, 8)
    )
    local = (
        blocks.select("head_id", "id", "vector")
        .groupBy("head_id")
        .applyInPandas(
            _block_topL(L, metric), schema="src long, dst long, dist double"
        )
    )
    # merge replicas' views of each node, keep a bounded candidate list
    # (CEF-like: 2L before the prune), then attach candidate vectors
    merged = local.dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.col("dist"), F.col("dst"))
    cand = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2 * L)
        .drop("_rn")
    )
    cand = cand.join(
        vectors.select(
            F.col("id").alias("dst"), F.col("vector").alias("dst_vector")
        ),
        "dst",
    )
    # co-locate each node's candidates and order them for the sequential
    # prune; one kernel pass handles every group in its partition
    return (
        cand.repartition("src")
        .sortWithinPartitions("src", "dist", "dst")
        .mapInPandas(
            _rng_prune_partition(L, rng_factor, metric),
            schema="src long, dst long, dist double",
        )
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """Degree histogram: (degree, n_nodes) — the graph-quality summary the
    reference prints during builds."""
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def graph_search_broadcast(
    vectors: DataFrame,
    edges: DataFrame,
    queries: DataFrame,
    k: int = 10,
    seeds: DataFrame | None = None,
    heads: DataFrame | None = None,
    n_seeds: int = 8,
    max_hops: int = 6,
    beam: int = 16,
    metric: str = "l2",
) -> DataFrame:
    """Best-first traversal with the INDEX broadcast and the QUERIES
    distributed — the faithful Spark rendering of how the reference actually
    serves an in-memory BKT/KDT index: every serving node holds the whole
    graph + vectors in RAM and walks it locally per query
    (`BKTIndex.cpp:279-350`; sharding happens a level up, in the
    aggregator). One mapInPandas stage, zero shuffles, NumPy/BLAS walk.

    The sequential NGQueue becomes synchronous beam expansion: per hop, the
    `beam` best nodes of the last hop's new nodes (by (dist, id)) expand
    their adjacency lists, and unvisited neighbours are scored with the
    exact pair kernel. MaxCheck ≈ n_seeds + hops × beam × L. Seeds come
    from `seeds` (query_id, id) or from the n_seeds nearest of `heads`
    (default: a 5% `select_heads` sample) — SearchTrees seeding the queue.

    Memory contract: vectors + CSR adjacency must fit in one executor — the
    same contract the reference imposes on its serving nodes; above it,
    SPANN's posting scan (index/ann.py) is the scale path.
    """
    spark = vectors.sparkSession
    # The prepared index state (sorted vector matrix + CSR adjacency +
    # seed structures, already shipped as a broadcast) is a warm in-memory
    # replica of an immutable graph index — rebuilding and re-broadcasting
    # it per serve call is the dominant per-call cost for a memoized
    # index. Cache it on the EDGES frame keyed by the identity of every
    # input frame that shaped it (strong refs held in the entry so a key
    # id cannot be recycled while the entry lives); callers that pass the
    # same frame objects (the memoized query paths) reuse the broadcast,
    # fresh frames rebuild exactly as before.
    cache_key = (id(vectors), id(edges), id(seeds), id(heads), metric)
    cache = getattr(edges, "_sptag_bc_cache", None)
    if cache is None:
        cache = {}
        try:
            edges._sptag_bc_cache = cache
        except AttributeError:  # non-DataFrame stub in tests
            pass
    entry = cache.get(cache_key)
    if entry is not None:
        bc = entry[0]
    else:
        vp = vectors.select("id", "vector").toPandas()
        ids = vp["id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        V = np.array(vp["vector"].tolist(), dtype=np.float64)[order]
        ep = edges.select("src", "dst").toPandas()
        src = np.searchsorted(ids, ep["src"].to_numpy(np.int64))
        dst = np.searchsorted(ids, ep["dst"].to_numpy(np.int64))
        eorder = np.argsort(src, kind="stable")
        src, adj = src[eorder], dst[eorder]
        indptr = np.searchsorted(src, np.arange(len(ids) + 1))

        seed_map = head_ids = H = None
        if seeds is not None:
            sp = seeds.select("query_id", "id").toPandas()
            seed_map = {
                int(qid): grp["id"].to_numpy(np.int64)
                for qid, grp in sp.groupby("query_id")
            }
        else:
            hsrc = heads if heads is not None else select_heads(
                vectors, ratio=0.05, metric=metric
            )
            hp = hsrc.select("head_id", "vector").toPandas()
            head_ids = hp["head_id"].to_numpy(np.int64)
            H = np.array(hp["vector"].tolist(), dtype=np.float64)

        bc = spark.sparkContext.broadcast(
            (ids, V, indptr, adj, seed_map, head_ids, H)
        )
        cache[cache_key] = (bc, vectors, edges, seeds, heads)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, V, indptr, adj, seed_map, head_ids, H = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            oq, orank, oid, od = [], [], [], []
            for qid, qvec in zip(pdf["query_id"], pdf["vector"]):
                q = np.asarray(qvec, dtype=np.float64)
                if seed_map is not None:
                    sid = seed_map.get(int(qid))
                    if sid is None or len(sid) == 0:
                        continue
                    sidx = np.searchsorted(ids, sid)
                else:
                    hd = _exact_pair_dists(H, q, metric)
                    sel = np.lexsort((head_ids, hd))[:n_seeds]
                    sidx = np.searchsorted(ids, head_ids[sel])
                vis_idx = np.unique(sidx)
                vis_dist = _exact_pair_dists(V[vis_idx], q, metric)
                front_idx, front_dist = vis_idx, vis_dist
                for _ in range(max_hops):
                    o = np.lexsort((ids[front_idx], front_dist))[:beam]
                    bidx = front_idx[o]
                    if bidx.size == 0:
                        break
                    nb = np.unique(
                        np.concatenate(
                            [adj[indptr[i] : indptr[i + 1]] for i in bidx]
                        )
                    )
                    nb = nb[~np.isin(nb, vis_idx)]
                    if nb.size == 0:
                        break
                    nd = _exact_pair_dists(V[nb], q, metric)
                    front_idx, front_dist = nb, nd
                    vis_idx = np.concatenate([vis_idx, nb])
                    vis_dist = np.concatenate([vis_dist, nd])
                top = np.lexsort((ids[vis_idx], vis_dist))[: min(k, vis_idx.size)]
                oq.extend([int(qid)] * len(top))
                orank.extend(range(1, len(top) + 1))
                oid.extend(ids[vis_idx[top]].tolist())
                od.extend(vis_dist[top].tolist())
            yield pd.DataFrame(
                {
                    "query_id": np.array(oq, dtype=np.int64),
                    "rank": np.array(orank, dtype=np.int64),
                    "id": np.array(oid, dtype=np.int64),
                    "dist": np.array(od, dtype=np.float64),
                }
            )

    return queries.select("query_id", "vector").mapInPandas(
        walk, schema="query_id long, rank long, id long, dist double"
    )
