"""SPANN-style approximate search: head routing → posting scan → re-rank.

Reference pipeline (`src/Core/SPANN/SPANNIndex.cpp:192-258` + SURVEY.md §3.2):
1. search the in-memory head index with internal k = SearchInternalResultNum;
2. drop heads with dist > closest_head_dist · MaxDistRatio
   (`SPANNIndex.cpp:230-234`) and invalid postings;
3. read the selected posting lists from SSD, scan records, push into the
   k-heap with replica dedup (`m_deduper`, `SPANNIndex.cpp:214,529`);
4. merge with head results and sort.

Spark translation — ONE logical plan:
- head routing = knn(heads, queries, nprobe): the same map-side top-k kernel
  (heads table is small; this is sub-second);
- posting selection = a semi-join on head_id. When postings are stored
  partitionBy(head_id), Catalyst's dynamic partition pruning turns this into
  reading only the routed directories — the SSD seek, for free;
- scan+heap = batched NumPy scoring kernel + fused one-shuffle dedup/rank
  (topk_per_query; exact over the candidate set — strictly better than the
  reference's concat-without-rerank aggregator,
  `AggregatorService.cpp:363-441`), replica dedup included.

Recall is governed by nprobe (SearchInternalResultNum) and the build's
replica/posting-limit knobs, exactly like SPANN.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.operators.knn import _exact_pair_dists, knn

SEARCH_INTERNAL_RESULT_NUM = 8  # heads probed per query (64 in SIFT1B cfg)
MAX_DIST_RATIO = 8.0  # SPANN MaxDistRatio default


# Above this many heads, routing falls back to the distributed knn kernel:
# the in-memory path holds an h×D float64 matrix on the driver (4096 × 64
# dims ≈ 2 MB — trivially fine; a billion-vector deployment's millions of
# heads are not).
ROUTE_INMEM_MAX_HEADS = 4096

# Static IN-filter pruning is applied only when the routed set is small
# enough that the literal list both prunes meaningfully and stays a bounded
# plan expression; a mega-batch routes to ~every head, where the IN-list
# approaches |heads|, prunes nothing, and grows the plan with |Q| (ADVICE
# r6). Above the cap the routes JOIN alone restricts the scan (dynamic
# pruning when broadcast).
ROUTE_STATIC_ISIN_MAX = 1024


def cached_count(df: DataFrame) -> int:
    """count() for persisted/memoized index artifacts, computed once per
    DataFrame OBJECT and remembered on it. Serve paths consult the head
    count every call (nprobe scaling, in-memory-routing dispatch); an index
    table is immutable once built, so re-running even a cheap count job per
    query is pure scheduler overhead."""
    n = getattr(df, "_sptag_cached_count", None)
    if n is None:
        n = df.count()
        df._sptag_cached_count = n
    return n


def head_matrix(heads: DataFrame):
    """Driver-side (head_ids, H) for a head/centroid table, collected once
    per DataFrame OBJECT and remembered on it (immutable index artifact —
    the cached_count discipline). Callers that serve per-query batches
    consult this every call; the collect job runs once per index."""
    cached = getattr(heads, "_sptag_head_matrix", None)
    if cached is None:
        hrows = heads.select("head_id", "vector").collect()
        head_ids = np.array([r["head_id"] for r in hrows], dtype=np.int64)
        H = np.array([list(r["vector"]) for r in hrows], dtype=np.float64)
        cached = (head_ids, H)
        heads._sptag_head_matrix = cached
    return cached


def head_matrix_bc(heads: DataFrame):
    """Spark Broadcast of head_matrix(heads), created once per DataFrame
    object — per-call re-broadcast of an immutable centroid matrix is pure
    overhead (ship + torrent announce per run)."""
    bc = getattr(heads, "_sptag_head_matrix_bc", None)
    if bc is None:
        bc = heads.sparkSession.sparkContext.broadcast(head_matrix(heads))
        heads._sptag_head_matrix_bc = bc
    return bc


def route_queries(
    queries: DataFrame,
    heads: DataFrame,
    nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
    metric: str = "l2",
    max_dist_ratio: float = MAX_DIST_RATIO,
    q_rows: list | None = None,
) -> DataFrame:
    """(query_id, head_id, head_dist): the posting lists each query must
    read, after the distance-ratio cut. This is also the aggregator's
    center-routing (`AggregatorService.cpp:216-258`) — same operator.
    `q_rows`: the already-collected query rows, when the caller has them
    (ann_search does) — saves the in-memory path a duplicate collect job.

    The reference searches its head index in RAM (`SPANNIndex.cpp:192-216`
    — the whole point of heads is that they fit in memory); the Spark
    translation of that fact: when the head table is small (≤
    ROUTE_INMEM_MAX_HEADS), routing is a driver-side NumPy pass over the
    collected centroid matrix — identical values and tie-break to the
    distributed kernel (same _exact_pair_dists arithmetic, same (dist, id)
    lexsort), but zero Spark stages for what is scalar work on two small
    tables. Larger head sets use the distributed kernel unchanged."""
    if cached_count(heads) <= ROUTE_INMEM_MAX_HEADS:
        return _route_inmem(
            queries, heads, nprobe, metric, max_dist_ratio, q_rows
        )
    head_vectors = heads.select(F.col("head_id").alias("id"), "vector")
    sel = knn(head_vectors, queries, k=nprobe, metric=metric)
    return _ratio_cut(sel, max_dist_ratio)


def _ratio_cut(sel: DataFrame, max_dist_ratio: float) -> DataFrame:
    """The guarded SPANN distance-ratio cut over (query_id, id, dist)
    selections → (query_id, head_id, head_dist)."""
    if not (max_dist_ratio < float("inf")):
        # ratio disabled (IVF passes inf): skip the filter entirely — besides
        # being a no-op, min_dist=0 (query equals a centroid) would make
        # cut = 0*inf = NaN and silently drop every head for that query.
        return sel.select(
            "query_id",
            F.col("id").alias("head_id"),
            F.col("dist").alias("head_dist"),
        )
    w = Window.partitionBy("query_id")
    # The reference guards the ratio cut with `limitDist > 0.1`
    # (SPANNIndex.cpp:217-230): without it, ip's negative distances make
    # min_dist*ratio < min_dist and the cut drops EVERY head, and an exact
    # head match (min_dist == 0, common when queries are base vectors)
    # collapses routing to that single head, silently shrinking nprobe to 1.
    cut = F.col("min_dist") * F.lit(max_dist_ratio)
    return (
        sel.withColumn("min_dist", F.min("dist").over(w))
        .filter((cut <= F.lit(0.1)) | (F.col("dist") <= cut))
        .select(
            "query_id",
            F.col("id").alias("head_id"),
            F.col("dist").alias("head_dist"),
        )
    )


def _route_one(
    head_ids: np.ndarray,
    H: np.ndarray,
    q: np.ndarray,
    nprobe: int,
    metric: str,
    max_dist_ratio: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-query head routing → (slots, dists) of the heads to probe:
    the nprobe nearest in (dist, head_id) order, then the limitDist ratio
    cut (SPANNIndex.cpp:217-230), which applies only when the cut exceeds
    0.1 so negative ip distances never prune every head. An empty head
    table routes nowhere (its H has no vector width to score against)."""
    if len(head_ids) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    hd = _exact_pair_dists(H, q, metric)
    sel = np.lexsort((head_ids, hd))[:nprobe]
    d = hd[sel]
    if max_dist_ratio < float("inf") and len(sel):
        cut = d.min() * max_dist_ratio
        if cut > 0.1:
            keep = d <= cut
            sel, d = sel[keep], d[keep]
    return sel, d


def _route_inmem(
    queries: DataFrame,
    heads: DataFrame,
    nprobe: int,
    metric: str,
    max_dist_ratio: float,
    q_rows: list | None = None,
) -> DataFrame:
    """Driver-side head routing: _route_one per query, the same values and
    (dist, id) tie-break as the distributed path."""
    import pandas as pd

    # immutable index artifact: collected once per DataFrame object
    head_ids, H = head_matrix(heads)
    if q_rows is None:
        q_rows = queries.select("query_id", "vector").collect()
    # accumulate per-query winners as ARRAYS, ship as ONE Arrow batch: a
    # mega-batch's |Q|·nprobe route set as a Python tuple list paid a boxed
    # Py4J conversion per element (ADVICE r6); pandas→createDataFrame rides
    # the Arrow path (session.py enables it) and moves columns, not objects.
    qid_chunks: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    hid_chunks: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    hd_chunks: list[np.ndarray] = [np.empty(0)]
    for r in q_rows:
        q = np.asarray(r["vector"], dtype=np.float64)
        sel, d = _route_one(head_ids, H, q, nprobe, metric, max_dist_ratio)
        qid_chunks.append(np.full(len(sel), int(r["query_id"]), np.int64))
        hid_chunks.append(head_ids[sel])
        hd_chunks.append(d)
    schema = "query_id long, head_id long, head_dist double"
    spark = queries.sparkSession
    pdf = pd.DataFrame(
        {
            "query_id": np.concatenate(qid_chunks),
            "head_id": np.concatenate(hid_chunks),
            "head_dist": np.concatenate(hd_chunks),
        }
    )
    df = spark.createDataFrame(pdf if len(pdf) else [], schema=schema)
    # knowing the routed set driver-side upgrades the posting scan from
    # DYNAMIC partition pruning (runtime subquery) to STATIC pruning: a
    # plain IN-filter on the partition column prunes head_id= directories
    # at planning time. Consumers read this to apply it (ann_search) and
    # gate it by size — an IN-list approaching |heads| prunes nothing and
    # only bloats the plan expression.
    df._sptag_routed_heads = [int(h) for h in np.unique(pdf["head_id"])]
    return df


# Queries per top-k shuffle partition: each query's candidate set is bounded
# by nprobe·posting_limit rows of three scalars (~100 KB), so 128 query
# groups per partition keeps tasks in the tens-of-MB range the shuffle guide
# targets while the partition COUNT grows linearly with the batch (1M-query
# offline batches get ~8k partitions; a 200-query serve batch gets 2 instead
# of paying the session-wide default for a 2000-row shuffle).
TOPK_QUERIES_PER_PARTITION = 128


def topk_per_query(
    scored: DataFrame,
    k: int,
    dist_col: str = "dist",
    with_rank: bool = True,
    n_queries: int | None = None,
) -> DataFrame:
    """One-shuffle dedup + top-k over scored candidates.

    Input (query_id, id, <dist_col>) may hold replica duplicates of
    (query_id, id); output keeps each id's MINIMUM distance, then the k
    smallest by (dist, id) per query with rank 1..k — the engine-wide
    tie-break contract (`QueryResultSet.h:17-26`).

    This replaces the groupBy-min + window-rank tail: that shape pays two
    Exchanges (hash(query_id,id), then hash(query_id)) plus a full
    partition sort; here ONE hash shuffle on query_id lands each query's
    candidate rows (three scalars each — vectors never reach this stage) in
    a single group and an in-kernel np.lexsort does dedup and ranking
    together. Candidates per query are bounded by nprobe·posting_limit —
    a few thousand rows — so the group always fits in memory regardless of
    corpus size; one fewer shuffle barrier at any scale.

    ``n_queries`` (r13, guide §2.2 "fewer, larger reduce partitions"): when
    the caller knows the batch size, the shuffle partition count is derived
    from it (⌈n_queries / TOPK_QUERIES_PER_PARTITION⌉) instead of the
    session-wide default — rows here are |Q|-bounded scalars, so sizing by
    |Q| scales the partition count with the data in both directions (a
    serve-sized batch stops paying 32 near-empty Python tasks; a mega batch
    gets more partitions than the session constant). The explicit
    hash-repartition on query_id satisfies the groupBy's distribution
    requirement, so no second exchange appears."""
    import pandas as pd

    out_cols = (
        ["query_id", "rank", "id", dist_col]
        if with_rank
        else ["query_id", "id", dist_col]
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(np.int64)
        d = pdf[dist_col].to_numpy(np.float64)
        # keep min dist per id: sort by (id, dist), take each id's first row
        order = np.lexsort((d, ids))
        ids_s, d_s = ids[order], d[order]
        keep = np.ones(len(ids_s), dtype=bool)
        keep[1:] = ids_s[1:] != ids_s[:-1]
        ids_u, d_u = ids_s[keep], d_s[keep]
        # top-k by (dist, id)
        top = np.lexsort((ids_u, d_u))[:k]
        cols = {
            "query_id": np.full(len(top), pdf["query_id"].iloc[0], np.int64),
            "id": ids_u[top],
            dist_col: d_u[top],
        }
        if with_rank:
            cols["rank"] = np.arange(1, len(top) + 1, dtype=np.int64)
        return pd.DataFrame(cols)[out_cols]

    schema = ", ".join(
        {
            "query_id": "query_id long",
            "rank": "rank long",
            "id": "id long",
            dist_col: f"{dist_col} double",
        }[c]
        for c in out_cols
    )
    src = scored
    if n_queries is not None and n_queries > 0:
        n_parts = -(-n_queries // TOPK_QUERIES_PER_PARTITION)
        src = scored.repartition(n_parts, "query_id")
    return src.groupBy("query_id").applyInPandas(kern, schema=schema)


def ann_search(
    queries: DataFrame,
    heads: DataFrame,
    postings: DataFrame,
    k: int = 10,
    nprobe: int = SEARCH_INTERNAL_RESULT_NUM,
    metric: str = "l2",
    max_dist_ratio: float = MAX_DIST_RATIO,
    chunk_size: int | None = None,
    q_rows: list | None = None,
) -> DataFrame:
    """Approximate top-k: (query_id, rank, id, dist). Same output contract as
    the exact knn() — recall vs it is the quality metric (F6: ≥0.9@10).
    ``q_rows``: the already-collected (query_id, vector) rows when the
    caller holds them (driver queries memoize the immutable query batch per
    session) — skips this call's collect job.

    The scoring kernel ships serve-sized query batches in its closure;
    above chunk_size queries the (query_id, vector) matrix rides a Spark
    Broadcast instead (one copy per executor) and the kernel looks queries
    up by id — identical per-query output, ONE plan whose node count is
    constant in |Q| (the former union-of-chunks grew ⌈|Q|/chunk⌉ subtrees;
    plan-pinned by tests/test_plans.py). The routes join likewise switches
    from broadcast to shuffle join above chunk_size — a mega-batch's
    |Q|·nprobe route set outgrows a broadcast, and posting reads stay
    nprobe-pruned either way."""
    from sptag_spark.operators.knn import KNN_QUERY_CHUNK

    if chunk_size is None:
        chunk_size = KNN_QUERY_CHUNK
    q_all = (
        q_rows
        if q_rows is not None
        else queries.select("query_id", "vector").collect()
    )
    mega = len(q_all) > chunk_size
    routes = route_queries(
        queries, heads, nprobe, metric, max_dist_ratio, q_rows=q_all
    )
    # Selected postings: the equi-join on head_id is partition-pruned when
    # postings live in a head_id-partitioned table. Serve-sized routes →
    # broadcast; mega-batch routes → ordinary shuffle join (AQE re-plans).
    # In-memory routing knows the routed set outright → static IN-filter on
    # the partition column (planning-time directory pruning; the dynamic
    # pruning subquery remains for the distributed-routing fallback).
    routed = getattr(routes, "_sptag_routed_heads", None)
    src = postings
    if (
        routed is not None
        and len(routed) <= ROUTE_STATIC_ISIN_MAX
        and len(routed) < cached_count(heads)
    ):
        # skipped when the routed set covers every head: a full-coverage
        # IN-list prunes nothing and just bloats each plan (r14)
        src = src.filter(F.col("head_id").isin(routed))
    route_sel = routes.select("query_id", "head_id")
    if not mega:
        route_sel = F.broadcast(route_sel)
    cand = src.join(route_sel, "head_id").select("query_id", "id", "vector")
    # Replica dedup happens AFTER scoring, inside topk_per_query's min-dedup:
    # a pre-score dropDuplicates would shuffle candidate rows WITH their
    # D-float vector payloads, while post-score rows are three scalars.
    # Scoring a replica twice costs one extra BLAS row; shuffling vectors
    # at 100 TB costs the job.
    # Score with the same batched NumPy arithmetic as the exact kernel (the
    # query batch rides in the closure; per-pair exact recompute keeps
    # values identical to knn()/the oracle).
    from collections.abc import Iterator

    import pandas as pd

    # query lookup table, sorted by query_id for in-kernel searchsorted.
    # Serve-sized batches ship it in the closure (as before); mega batches
    # ship ONE Broadcast so tasks carry a handle, not the matrix.
    q_ids = np.array([int(r["query_id"]) for r in q_all], dtype=np.int64)
    Q_mat = np.array([list(r["vector"]) for r in q_all], dtype=np.float64)
    if len(q_ids):
        qorder = np.argsort(q_ids)
        q_ids, Q_mat = q_ids[qorder], Q_mat[qorder]
    qref = (
        queries.sparkSession.sparkContext.broadcast((q_ids, Q_mat))
        if mega
        else (q_ids, Q_mat)
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark.broadcast import Broadcast

        from sptag_spark.functions.npgroup import group_slices

        qids_s, Qm = qref.value if isinstance(qref, Broadcast) else qref
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vector"].tolist(), dtype=np.float64)
            qids = pdf["query_id"].to_numpy(dtype=np.int64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            out_q, out_i, out_d = [], [], []
            for idx in group_slices(qids):
                qid = qids[idx[0]]
                q_vec = Qm[np.searchsorted(qids_s, qid)]
                d = _exact_pair_dists(V[idx], q_vec, metric)
                # map-side dedup + local top-k (the partial of the
                # partial/final top-k): exact rescoring makes every replica
                # of an id score identically, so dropping in-batch replicas
                # then keeping this batch's k best by (dist, id) can never
                # evict a global winner — the merge sees a superset of the
                # true top-k. The shuffle then carries ≤ |Q|·k rows per
                # batch instead of every candidate (posting_limit/k ≈ an
                # order of magnitude at the default knobs).
                bi = ids[idx]
                order = np.lexsort((d, bi))
                keep = np.ones(len(bi), dtype=bool)
                keep[1:] = bi[order][1:] != bi[order][:-1]
                uniq = order[keep]
                top = uniq[np.lexsort((bi[uniq], d[uniq]))[:k]]
                out_q.append(np.full(len(top), qid, dtype=np.int64))
                out_i.append(bi[top])
                out_d.append(d[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "id": np.concatenate(out_i),
                    "dist": np.concatenate(out_d),
                }
            )

    scored = cand.mapInPandas(score, schema="query_id long, id long, dist double")
    # exact recompute ⇒ every replica of (query_id, id) scores identically;
    # the min-dedup inside topk_per_query is pure dedup, never a value change
    return topk_per_query(scored, k, n_queries=len(q_all))


def search_tree(
    queries: DataFrame,
    heads: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """SearchTree (`BKTIndex.cpp:713-736`): top-k among the tree/centroid
    layer only, no graph/posting phase — the reference exposes it as a cheap
    low-recall mode. Here the tree's leaf centroids are the heads table, so
    this is the head-routing kernel returned directly as results."""
    head_vectors = heads.select(F.col("head_id").alias("id"), "vector")
    return knn(head_vectors, queries, k=k, metric=metric)
