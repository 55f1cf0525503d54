"""Driver queries: the ANN scale path (SPANN heads/postings, IVF, PQ/ADC,
balanced k-means).

KMeans-derived structures are not SQL-expressible, so the raw search results
cannot be oracle-checked directly. Instead every query here is
SELF-VERIFYING: the Spark side genuinely measures its quality contract —
recall vs the exact in-Spark k-NN (the reference's own acceptance metric,
`SSDServing/SSDIndex.h:284-285`), per-query self-hit (queries are base
vectors, so the true rank-1 is the query itself at distance 0), structural
invariants (replica counts in [1, ReplicaCount], posting cut ≤ limit, sizes
sum to N) — and emits the OUTCOME as columns whose expected values the
DuckDB oracle derives from the base tables alone. A broken index flips a
boolean or changes a count and the driver's hash comparison goes red; the
raw-result behavior stays covered by tests/test_ann.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.index.ann import ann_search, cached_count
from sptag_spark.index.balanced import balanced_kmeans, cluster_sizes
from sptag_spark.index.heads import DEFAULT_HEAD_RATIO, select_heads
from sptag_spark.index.ivf import ivf_build, ivf_search
from sptag_spark.index.postings import (
    POSTING_LIMIT,
    REPLICA_COUNT,
    build_postings,
)
from sptag_spark.index.pq import adc_search, pq_encode, train_pq
from sptag_spark.operators.knn import knn
from sptag_spark.registry import register
from sptag_spark.tables import (
    DEFAULT_K,
    QUERY_MODULUS,
    local_frame,
    queries_table,
    vectors_table,
)

#: the (query_id, rank, id, dist) rows a serving replica's batch_search
#: returns, as the serve queries frame them
_REPLICA_ROWS = "query_id long, rank int, id long, dist double"

ORACLE_PER_QUERY = (
    f"SELECT vec_id AS query_id FROM embeddings WHERE vec_id % {QUERY_MODULUS} = 0"
)
ORACLE_N = "SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings"


# Index structures are OFFLINE artifacts: SPANN builds heads/postings once
# (SSDServing BuildHead/BuildSSDIndex stages) and serves every query from
# them; a 100 TB deployment reads them back as partitioned Parquet
# (index/persistence.py). The memo below is the in-session equivalent —
# build once per (session, sf_dir), persist, and let every query time the
# SERVE path, which is what the reference's QPS numbers measure.
_INDEX_CACHE: dict[tuple, tuple] = {}


def _memo(spark: SparkSession, sf_dir: str, kind: str, build):
    key = (id(spark.sparkContext), sf_dir, kind)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build()
    return _INDEX_CACHE[key]


def _store_replica(spark: SparkSession, sf_dir: str):
    """The memoized out-of-core replica over spann_index's artifacts:
    heads in RAM, posting vectors in a float32 packed store (a private
    one, removed with the replica)."""
    from sptag_spark.serving_local import DiskSpannReplica

    def build():
        return (DiskSpannReplica(*spann_index(spark, sf_dir)),)

    return _memo(spark, sf_dir, "disk_replica", build)[0]


def spann_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    def build():
        from sptag_spark.partitioning import persist_sized

        vectors = vectors_table(spark, sf_dir)
        heads = select_heads(vectors, ratio=DEFAULT_HEAD_RATIO).persist()
        # right-sized cache layout (r14, see partitioning.right_size_cached):
        # every serve scan reads filled Arrow batches; when the width
        # changes, the re-layout also clusters by head_id so a routed
        # head's posting rows colocate (an already-right width is kept
        # as laid out, unclustered)
        postings, _ = persist_sized(
            build_postings(vectors, heads), key_col="head_id"
        )
        return heads, postings

    return _memo(spark, sf_dir, "spann", build)


def ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    def build():
        vectors = vectors_table(spark, sf_dir)
        # balanced lists: +0.12 recall at the same nprobe, and no hot-list
        # straggler at scale (see index/ivf.py). replicas=2 multi-assignment:
        # boundary vectors are findable from both adjacent lists — measured
        # 0.85 → 0.945 @ sf0.01 and 0.86 → 0.89 @ sf0.1 while probing 25%
        # of lists instead of 40% (2× storage, the standard IVF trade).
        centroids, lists = ivf_build(
            vectors, n_lists_ratio=0.05, balanced=True, replicas=2
        )
        centroids = centroids.persist()
        # serve-layout right-sizing at build (r14, guide §2.2/§6): the
        # cached lists move to ~KERNEL_ROWS_PER_TASK rows per partition,
        # so each serve scan task carries enough rows to amortize its
        # Arrow/scheduling floor; only when the width changes does the
        # re-layout cluster by head_id (a routed head's rows colocate).
        # Warehouse-scale and already-right layouts are left as laid out
        from sptag_spark.partitioning import persist_sized

        lists, _ = persist_sized(lists, key_col="head_id")
        # lists is now materialized in its own cache; the build-time
        # intermediates it carried (balanced-assign join, hier coarse
        # assignment) have no live consumer — drop them from storage
        from sptag_spark.resources import release

        release(lists, include_self=False)
        return centroids, lists

    return _memo(spark, sf_dir, "ivf", build)


def ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Residual-PQ codes over the (memoized) multi-assigned IVF layout —
    the IVFADC composition (index/ivf.py). m=16 → 16× compression; the
    serve path reads codes only."""
    from sptag_spark.index.ivf import ivf_pq_encode, ivf_pq_train

    def build():
        from sptag_spark.partitioning import persist_sized

        centroids, lists = ivf_index(spark, sf_dir)
        books = ivf_pq_train(lists, centroids, m=16)
        # right-sized cache layout, head_id-clustered when the width
        # changes (see ivf_index):
        # probed 1.90 → 1.34 s on ivf_pq_search at sf0.1/32 cores (32
        # near-empty serve tasks → 16 filled ones, per-(query, head) LUTs
        # built once)
        coded, _ = persist_sized(
            ivf_pq_encode(lists, centroids, books), key_col="head_id"
        )
        return books, coded

    return _memo(spark, sf_dir, "ivfpq", build)


def pq_index(spark: SparkSession, sf_dir: str) -> tuple:
    def build():
        from sptag_spark.partitioning import persist_sized

        vectors = vectors_table(spark, sf_dir)
        books = train_pq(vectors, m=8)
        codes, _ = persist_sized(pq_encode(vectors, books))
        return books, codes

    return _memo(spark, sf_dir, "pq", build)


def opq_index(spark: SparkSession, sf_dir: str) -> tuple:
    def build():
        from sptag_spark.partitioning import persist_sized

        vectors = vectors_table(spark, sf_dir)
        books = train_pq(vectors, m=8, opq_rotation=True)
        codes, _ = persist_sized(pq_encode(vectors, books))
        return books, codes

    return _memo(spark, sf_dir, "opq", build)


def query_batch(spark: SparkSession, sf_dir: str) -> list:
    """The collected (query_id, vector) rows of the standing query batch —
    an immutable INPUT artifact (same class as the memoized index frames and
    head_matrix: derived from the parquet inputs once per session, never a
    computed result). Serve operators accept these rows via ``q_rows`` so a
    steady-state run skips the per-run collect job; the first call per
    (session, sf_dir) still collects from the parquet-backed table."""

    def build():
        return (
            queries_table(spark, sf_dir)
            .select("query_id", "vector")
            .collect(),
        )

    (rows,) = _memo(spark, sf_dir, "query_rows", build)
    return rows


def truth_hit_arrays(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """``truth_topk`` pre-grouped to one (t_query_id, t_ids, t_dists) row
    per query (operators/recall.truth_arrays), persisted+memoized like the
    truth table itself: every self-verifying search joins against this
    frame, so the grouping runs once per session instead of once per
    verify run (r13 — the arrays form also makes result_hits a map-side
    broadcast join with no post-join dedup aggregation)."""
    from sptag_spark.operators.recall import truth_arrays

    def build():
        ta = truth_arrays(truth_topk(spark, sf_dir, k)).persist()
        ta.count()
        ta._sptag_truth_arrays = True
        return (ta,)

    (ta,) = _memo(spark, sf_dir, f"truth_arrays{k}", build)
    ta._sptag_truth_arrays = True
    return ta


def filtered_truth_hit_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrays form of ``filtered_truth`` (same discipline as
    truth_hit_arrays)."""
    from sptag_spark.operators.recall import truth_arrays

    def build():
        ta = truth_arrays(filtered_truth(spark, sf_dir)).persist()
        ta.count()
        ta._sptag_truth_arrays = True
        return (ta,)

    (ta,) = _memo(spark, sf_dir, "truth_filtered_arrays", build)
    ta._sptag_truth_arrays = True
    return ta


def truth_topk(spark: SparkSession, sf_dir: str, k: int = DEFAULT_K) -> DataFrame:
    """Exact k-NN ground truth, memoized — the in-Spark oracle every
    approximate search is graded against (TruthSet.h's role)."""

    def build():
        vectors = vectors_table(spark, sf_dir)
        queries = queries_table(spark, sf_dir)
        t = knn(vectors, queries, k=k).persist()
        t.count()
        return (t,)

    return _memo(spark, sf_dir, f"truth{k}", build)[0]


def self_verified_search(
    res: DataFrame,
    truth: DataFrame,
    k: int,
    recall_gate: float,
    with_self_hit: bool = True,
    n_queries: int | None = None,
) -> DataFrame:
    """Per query: (query_id, n_results, [self_hit,] recall_ok).

    n_results and self_hit are exact per-query invariants; recall_ok is the
    corpus-average recall@k vs the exact truth, measured for real and
    compared against the gate — the contract the oracle can also state.

    Everything derives from ONE result_hits pass (every result row exactly
    once, with its truth-hit flag): consuming `res` in two separate
    aggregation branches would execute the whole search plan twice per run
    — measured as ~half the wall time of the ann_* driver queries."""
    from sptag_spark.operators.recall import result_hits

    hits = result_hits(res, truth)
    if n_queries is not None and n_queries > 0:
        # per-query verify aggregation sized by |Q| (r13, guide §2.2): hits
        # is ≤ |Q|·k scalar rows, so hash-repartition by query_id at
        # ⌈|Q|/128⌉ — the groupBy below reuses this clustering (no second
        # exchange) and its stage stops paying the session-wide partition
        # count for a |Q|-bounded frame; the count still grows with offline
        # mega batches.
        hits = hits.repartition(max(1, -(-n_queries // 128)), "query_id")
    aggs = [
        F.count("*").alias("n_results"),
        (F.sum(F.col("hit").cast("double")) / F.lit(float(k))).alias("_recall"),
    ]
    if with_self_hit:
        aggs.append(
            F.max(
                (F.col("rank") == 1) & (F.col("id") == F.col("query_id"))
            ).alias("self_hit")
        )
    per_q = hits.groupBy("query_id").agg(*aggs)
    # corpus-average gate: per_q is lazily checkpointed so the search plan
    # executes exactly once, then the |Q|-row frame feeds both the scalar
    # average (broadcast back via crossJoin) and the output rows. A naive
    # two-branch formulation without the checkpoint re-executes the whole
    # search per branch (measured ~half the wall of the ann_* queries); an
    # unpartitioned window avoids that but funnels through WindowExec and
    # floods run logs with its move-all-data warning.
    per_q = per_q.localCheckpoint(eager=False)
    gate = per_q.agg(
        (F.avg("_recall") >= F.lit(recall_gate)).alias("recall_ok")
    )
    cols = ["query_id", "n_results"] + (["self_hit"] if with_self_hit else [])
    return per_q.crossJoin(F.broadcast(gate)).select(*cols, "recall_ok")


def _ann_spann(spark: SparkSession, sf_dir: str) -> DataFrame:
    heads, postings = spann_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    q_rows = query_batch(spark, sf_dir)
    # probe a ~constant FRACTION of heads, floored at 10: a fixed nprobe
    # silently loses recall as the head count grows with SF (measured at
    # nprobe=10: 0.93 with 60 heads, 0.81 with 240). The reference scales
    # the same knob with index size (SearchInternalResultNum=64 in the
    # SIFT1B config). 8.5% → 10 @ sf0.01, 21 @ sf0.1 — both ≥0.93, holding
    # the paper's ~0.9 recall@10 operating point at every test SF.
    nprobe = max(10, -(-cached_count(heads) * 85 // 1000))
    res = ann_search(
        queries, heads, postings, k=DEFAULT_K, nprobe=nprobe, q_rows=q_rows
    )
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.9,
        n_queries=len(q_rows),
    )


register(
    "ann_spann_search",
    _ann_spann,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


# the filter value with survivors at every SF (labels are small ints;
# meta='2' keeps ~1/10 of the corpus — the hard case: posting density
# drops 10x under the predicate, so routing must still find survivors)
FILTER_META = "2"


def filtered_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN over the predicate's survivors — the filter-then-rank
    twin (`SearchIndexWithFilter` semantics, `inc/Core/VectorIndex.h:55`:
    the true top-k among vectors passing the metadata predicate,
    `Test/src/FilterTest.cpp:27-58`). Memoized like truth_topk."""

    def build():
        vectors = vectors_table(spark, sf_dir)
        queries = queries_table(spark, sf_dir)
        t = knn(
            vectors.filter(F.col("meta") == FILTER_META),
            queries,
            k=DEFAULT_K,
        ).persist()
        t.count()
        return (t,)

    return _memo(spark, sf_dir, f"truth_filtered{DEFAULT_K}", build)[0]


def _filtered_verdict(
    spark: SparkSession,
    sf_dir: str,
    res: DataFrame,
    vectors: DataFrame,
    pred: Column,
) -> DataFrame:
    """The filtered searches' self-verifying contract columns: per query,
    n_results (k survivors found), filter_ok (EVERY returned id satisfies
    ``pred`` — exact, joined back to the corpus) and recall_ok (corpus-
    average recall@k vs the filter-then-exact-rank truth ≥ 0.9). One pass
    over ``res`` feeds all three (the self_verified_search discipline: no
    second execution of the search plan per aggregation branch)."""
    from sptag_spark.operators.recall import result_hits

    hits = result_hits(res, filtered_truth_hit_arrays(spark, sf_dir))
    labeled = hits.join(vectors.select("id", pred.alias("match")), "id")
    per_q = labeled.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.min("match").alias("filter_ok"),
        (F.sum(F.col("hit").cast("double")) / F.lit(float(DEFAULT_K))).alias(
            "_recall"
        ),
    )
    per_q = per_q.localCheckpoint(eager=False)
    gate = per_q.agg((F.avg("_recall") >= F.lit(0.9)).alias("recall_ok"))
    return per_q.crossJoin(F.broadcast(gate)).select(
        "query_id", "n_results", "filter_ok", "recall_ok"
    )


def _ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search on the ANN path (VERDICT r8 #1): the planner
    prunes posting rows with the metadata predicate BELOW the scoring
    kernel (plans/planner.py SPANN branch — postings ⋈ survivors before
    ann_search), the reference's `SearchIndexWithFilter` checkFilter-in-
    traversal (`BKTIndex.cpp:301,315`). Self-verifying: per query,
    n_results (k survivors found), filter_ok (EVERY returned id satisfies
    the predicate — exact, joined back to the corpus), and the corpus-
    average recall@k vs the filter-then-exact-rank truth."""
    from sptag_spark.plans import TopKByDistance, plan_topk

    heads, postings = spann_index(spark, sf_dir)
    vectors = vectors_table(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    pred = F.col("meta") == FILTER_META
    spec = TopKByDistance(
        vectors, queries, k=DEFAULT_K, recall_target=0.9, filter=pred
    )
    plan = plan_topk(spec, spann_index=(heads, postings))
    # the predicate drops ~9/10 of each posting, so probe wider than the
    # unfiltered query: 15% of heads (floored at 16) measured 0.965 @
    # sf0.01 / 0.995 @ sf0.001 vs the filtered exact truth
    plan.nprobe = max(16, -(-cached_count(heads) * 15 // 100))
    res = plan.execute()
    return _filtered_verdict(spark, sf_dir, res, vectors, pred)


register(
    "ann_filtered_search",
    _ann_filtered,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS filter_ok, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _serve_filtered_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-time filtered search at the SERVING tier (§2.2 inside §2.11):
    the replica drops non-matching ids DURING search — the reference
    node's per-candidate deleted-set/filter check (`SPANNIndex.cpp`
    m_deletedID in traversal) — with ``allowed_ids`` = the predicate's
    surviving ids, the node-local filter state a serving node carries.
    Runs on the OUT-OF-CORE DiskSpannReplica (same memoized store as
    serve_disk_replica) through the vectorized batch path. Contract
    columns mirror ann_filtered_search: n_results (k survivors found),
    filter_ok (every returned id matches the predicate — exact, joined
    back to the corpus), recall_ok (corpus-average recall@k vs the
    filter-then-exact-rank truth ≥ 0.9)."""
    import numpy as np

    heads, _ = spann_index(spark, sf_dir)
    vectors = vectors_table(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    pred = F.col("meta") == FILTER_META
    # the predicate's survivors — bounded by the filter's selectivity; a
    # serving node holds exactly this (its filter bitmap / deleted set)
    allowed = np.array(
        sorted(r["id"] for r in vectors.filter(pred).select("id").collect()),
        dtype=np.int64,
    )

    rep = _store_replica(spark, sf_dir)
    # predicate drops ~9/10 of each posting — probe wide, as
    # ann_filtered_search does (measured there: 0.965 @ sf0.01)
    nprobe = max(16, -(-cached_count(heads) * 15 // 100))
    qrows = [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in query_batch(spark, sf_dir)
    ]
    rows = rep.batch_search(
        qrows, k=DEFAULT_K, nprobe=nprobe, allowed_ids=allowed
    )
    res = local_frame(spark, _REPLICA_ROWS, rows)
    return _filtered_verdict(spark, sf_dir, res, vectors, pred)


register(
    "serve_filtered_replica",
    _serve_filtered_replica,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS filter_ok, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    centroids, lists = ivf_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    # the probe must scale with list count: measured recall at a fixed
    # nprobe=12 fell 0.85 → 0.57 when the list count went 25 → 100 at
    # sf0.1. With replicas=2 multi-assignment, 25% of lists floored at 12
    # → 0.945 @ sf0.01, 0.89 @ sf0.1 — a real margin over the 0.75 gate
    # (single-assignment at 40% measured 0.85/0.86).
    q_rows = query_batch(spark, sf_dir)
    nprobe = max(12, -(-cached_count(centroids) // 4))
    res = ivf_search(
        queries, centroids, lists, k=DEFAULT_K, nprobe=nprobe, q_rows=q_rows
    )
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.75,
        n_queries=len(q_rows),
    )


register(
    "ann_ivf_search",
    _ann_ivf,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact refine: route → residual-ADC code scan → exact
    re-rank of the top 4k. The 100 TB serving layout: postings hold 16-byte
    codes, full vectors are touched only for ~4k ids per query. Measured
    recall@10: 0.945 @ sf0.01, 0.87 @ sf0.1 (gate 0.8); the exact refine
    also restores the self-hit guarantee plain PQ loses."""
    from sptag_spark.index.ivf import ivf_pq_search

    centroids, _ = ivf_index(spark, sf_dir)
    books, coded = ivfpq_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    q_rows = query_batch(spark, sf_dir)
    nprobe = max(12, -(-cached_count(centroids) // 4))
    res = ivf_pq_search(
        queries, centroids, coded, books, k=DEFAULT_K, nprobe=nprobe,
        rerank=4 * DEFAULT_K, vectors=vectors_table(spark, sf_dir),
        q_rows=q_rows,
    ).withColumnRenamed("adc_dist", "dist")
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.8,
        n_queries=len(q_rows),
    )


register(
    "ivf_pq_search",
    _ivf_pq,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def sq_index(spark: SparkSession, sf_dir: str) -> tuple:
    def build():
        from sptag_spark.index.sq import sq_encode, train_sq
        from sptag_spark.partitioning import persist_sized

        vectors = vectors_table(spark, sf_dir)
        params = train_sq(vectors)
        # the sf0.1 parquet arrives as ONE split — the whole SQ scan
        # kernel ran serially per serve; the right-sized cache width (no
        # key_col, so no clustering) probed 1.45 → 1.26 s on sq8_search
        # (see partitioning.right_size_cached)
        codes, _ = persist_sized(sq_encode(vectors, params))
        return params, codes

    return _memo(spark, sf_dir, "sq8", build)


def _sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 int8-storage scan with exact refine: 4x less scan I/O than the
    float table at near-lossless recall (the quantization grid is per-dim
    min/max over the corpus). rerank=2k restores the self-hit guarantee the
    rounding grid could cost, so the gate matches the exact path's."""
    from sptag_spark.index.sq import sq_search

    params, codes = sq_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    q_rows = query_batch(spark, sf_dir)
    res = sq_search(
        codes, queries, params, k=DEFAULT_K,
        rerank=2 * DEFAULT_K, vectors=vectors_table(spark, sf_dir),
        q_rows=q_rows,
    )
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.95,
        n_queries=len(q_rows),
    )


register(
    "sq8_search",
    _sq8,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    books, codes = pq_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    # PQ at 32× compression is lossy: no self-hit guarantee (the quantized
    # self-distance can lose rank 1). Gate 0.4: measured 0.54 @ sf0.01 and
    # 0.47 @ sf0.1 — recall at fixed M drifts down as the corpus grows
    # (more near-ties per quantization cell); ~100× over chance at both.
    q_rows = query_batch(spark, sf_dir)
    res = adc_search(
        codes, queries, books, k=DEFAULT_K, q_rows=q_rows
    ).withColumnRenamed("adc_dist", "dist")
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.4,
        with_self_hit=False, n_queries=len(q_rows),
    )


register(
    "pq_adc_search",
    _pq_adc,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _sdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDC mode — the reference's EnableADC=false path (`PQQuantizer.h:
    112-138`): the query is quantized too and distance is a table lookup of
    code-to-code sub-distances, so serve never touches a float vector on
    either side. Coarser than ADC by construction (both sides lossy): the
    measured gate is 0.25 recall@10 (vs ADC's 0.5 on the same m=8 codes;
    random top-10 of the corpus would score ~10/N ≈ 0.005, so the gate is
    ~50× over chance). No self-hit claim — double quantization loses it."""
    books, codes = pq_index(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    from sptag_spark.index.pq import sdc_search

    q_rows = query_batch(spark, sf_dir)
    res = sdc_search(
        codes, queries, books, k=DEFAULT_K, q_rows=q_rows
    ).withColumnRenamed("sdc_dist", "dist")
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.25,
        with_self_hit=False, n_queries=len(q_rows),
    )


register(
    "sdc_search",
    _sdc,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results, TRUE AS recall_ok
FROM ({ORACLE_PER_QUERY})
""",
)


def _pq_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReconstructVector parity (`Common/IQuantizer.h` ReconstructVector /
    `OPQQuantizer.h` ReconstructVector): decode the OPQ codes back to float
    vectors (inverse rotation applied) and measure the relative
    reconstruction error Σ‖v−v̂‖²/Σ‖v‖² over the whole corpus, as one
    scan+join plan. Invariants: every vector decodes (count = N), the
    decoded dimension matches, and the m=8×256 codebook captures ≥65% of
    the corpus energy (measured 0.09 @ sf0.01, 0.22 @ sf0.1 relative
    error; gate 0.35)."""
    from sptag_spark.functions.distance import dist_expr
    from sptag_spark.index.pq import pq_decode

    books, codes = opq_index(spark, sf_dir)
    recon = pq_decode(codes, books).withColumnRenamed("vector", "rvec")
    v = vectors_table(spark, sf_dir).select("id", "vector")
    j = v.join(recon, "id")
    return j.select(
        dist_expr(F.col("vector"), F.col("rvec"), "l2").alias("err"),
        F.aggregate(
            F.col("vector"), F.lit(0.0), lambda s, x: s + x.cast("double") * x
        ).alias("nrm"),
        (F.size("rvec") == F.size("vector")).alias("dim_ok"),
    ).agg(
        F.count("*").alias("n_vectors"),
        F.min("dim_ok").alias("dims_match"),
        ((F.sum("err") / F.sum("nrm")) <= F.lit(0.35)).alias("recon_err_ok"),
    )


register(
    "pq_reconstruct",
    _pq_reconstruct,
    f"""
SELECT n_vectors, TRUE AS dims_match, TRUE AS recon_err_ok
FROM ({ORACLE_N})
""",
)


def _serve_disk_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier parity as a driver-graded query (VERDICT r9 #3): the
    out-of-core DiskSpannReplica — head centroids in RAM, posting vectors
    in a float32 memmap faulted in per probed slab, the reference's SSD
    node shape (`ExtraFullGraphSearcher.h:226-376`) — answers every query
    BIT-IDENTICALLY (ids AND distances) to the distributed ann_search plan
    over the same artifacts. The packed store is built out-of-core
    (serving_local.build_packed_store_parallel: executors sort and write
    whole-head fragments, the driver copies each head's slab into place —
    never the shard's vector matrix). Per query:
    n_results and rows_identical, where rows_identical requires every
    (rank → id, dist) pair to match the Spark plan exactly."""
    import numpy as np

    heads, postings = spann_index(spark, sf_dir)
    nprobe = max(10, -(-cached_count(heads) * 85 // 1000))  # same as ann_spann
    queries = queries_table(spark, sf_dir)
    q_rows = query_batch(spark, sf_dir)
    spark_res = ann_search(
        queries, heads, postings, k=DEFAULT_K, nprobe=nprobe, q_rows=q_rows
    )

    rep = _store_replica(spark, sf_dir)
    qrows = [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in q_rows
    ]
    rep_df = local_frame(
        spark, _REPLICA_ROWS, rep.batch_search(qrows, k=DEFAULT_K, nprobe=nprobe)
    )
    # full outer: a rank present on only ONE side must surface as a
    # mismatch (no broadcast — Spark cannot broadcast a full-outer side;
    # the shuffle is k·|Q| rows, trivial at any scale). Both sides are
    # |Q|-sized on query_id (the ⌈|Q|/128⌉ discipline, r14): partitioning
    # on a subset of the join keys satisfies the join's clustering AND the
    # groupBy below, so the k·|Q|-row verify runs in ⌈|Q|/128⌉ tasks
    # instead of 3 session-wide near-empty stages.
    _w = max(1, -(-len(q_rows) // 128))
    j = (
        spark_res.repartition(_w, "query_id")
        .alias("s")
        .join(
            rep_df.repartition(_w, "query_id").alias("r"),
            ["query_id", "rank"],
            "full",
        )
    )
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.min(
            F.coalesce(
                (F.col("s.id") == F.col("r.id"))
                & (F.col("s.dist") == F.col("r.dist")),
                F.lit(False),
            )
        ).alias("rows_identical"),
    )


register(
    "serve_disk_replica",
    _serve_disk_replica,
    f"""
SELECT query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS rows_identical
FROM ({ORACLE_PER_QUERY})
""",
)


def posting_invariants(heads: DataFrame, postings: DataFrame) -> DataFrame:
    """One row: n_vectors and the three posting-structure invariants.
    Each invariant is TRUE on empty postings (it holds vacuously; a bare
    min/max over zero rows would be NULL)."""
    per_vec = postings.groupBy("id").agg(F.count("*").alias("n_replicas"))
    vec_inv = per_vec.agg(
        F.count("*").alias("n_vectors"),
        F.coalesce(
            (F.min("n_replicas") >= 1)
            & (F.max("n_replicas") <= REPLICA_COUNT),
            F.lit(True),
        ).alias("replicas_in_range"),
    )
    # ONE per-head pass carries both remaining invariants (r14, guide
    # §2.4): posting sizes and head validity used to be separate scans —
    # a groupBy(head_id) plus a full-width left-anti join against heads.
    # The anti-join's question ("does any posting row name a non-head?")
    # is decided by the DISTINCT head_ids, which the size grouping already
    # produces — so join heads into the ~|heads|-row grouped table
    # (broadcast, map-side) and fold both checks into its aggregate.
    per_head = postings.groupBy("head_id").agg(F.count("*").alias("sz"))
    size_head_inv = per_head.join(
        F.broadcast(
            heads.select("head_id").withColumn("_is_head", F.lit(True))
        ),
        "head_id",
        "left",
    ).agg(
        F.coalesce(F.max("sz") <= POSTING_LIMIT, F.lit(True)).alias(
            "size_capped"
        ),
        F.coalesce(
            F.min(F.coalesce("_is_head", F.lit(False))), F.lit(True)
        ).alias("heads_valid"),
    )
    return vec_inv.crossJoin(F.broadcast(size_head_inv))


def _posting_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-structure invariants (F6): every vector in 1..ReplicaCount
    postings, every posting cut to the limit, every head_id a real head."""
    return posting_invariants(*spann_index(spark, sf_dir))


register(
    "posting_histogram",
    _posting_histogram,
    f"""
SELECT n_vectors, TRUE AS replicas_in_range, TRUE AS size_capped,
       TRUE AS heads_valid
FROM ({ORACLE_N})
""",
)


def _balanced_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-kmeans contract: sizes sum to N over exactly k non-empty
    clusters, and no cluster exceeds 3× its fair share (the balance property
    plain kmeans does not have — test_balanced_kmeans_balances)."""
    k = 16
    # the clustering is an OFFLINE build artifact like every other index
    # structure — memoized so repeated serve-side verification doesn't
    # re-run the 4-pass Lloyd loop (bench policy: builds are one-time)
    def build():
        vectors = vectors_table(spark, sf_dir)
        a = balanced_kmeans(vectors, k=k, n_iter=4).persist()
        a.count()
        return (a,)

    (assigned,) = _memo(spark, sf_dir, f"balanced{k}", build)
    sizes = cluster_sizes(assigned)
    return sizes.agg(
        F.sum("n").cast("long").alias("n_vectors"),
        (F.count("*") == k).alias("k_clusters"),
        (F.max("n") * k <= 3 * F.sum("n")).alias("balance_ok"),
    )


register(
    "balanced_kmeans_sizes",
    _balanced_clusters,
    f"""
SELECT n_vectors, TRUE AS k_clusters, TRUE AS balance_ok
FROM ({ORACLE_N})
""",
)


def _rng_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RNG graph invariants: every vector has 1..L pruned neighbors, no
    self-loops (RelativeNeighborhoodGraph.h's structural contract)."""
    from sptag_spark.index.graph import build_rng_graph

    L = 8

    def build():
        heads, _ = spann_index(spark, sf_dir)
        vectors = vectors_table(spark, sf_dir)
        edges = build_rng_graph(vectors, L=L, heads=heads, replicas=4).persist()
        edges.count()
        # (edges, vectors) — shared memo key with _graph_search_topk
        return (edges, vectors)

    edges, _ = _memo(spark, sf_dir, "rng_graph", build)
    deg = edges.groupBy("src").agg(
        F.count("*").alias("degree"),
        F.max((F.col("src") == F.col("dst")).cast("int")).alias("self_loop"),
    )
    return deg.agg(
        F.count("*").alias("n_vectors"),
        ((F.min("degree") >= 1) & (F.max("degree") <= L)).alias("degree_in_range"),
        (F.max("self_loop") == 0).alias("no_self_loops"),
    )


register(
    "rng_graph_degrees",
    _rng_graph_degrees,
    f"""
SELECT n_vectors, TRUE AS degree_in_range, TRUE AS no_self_loops
FROM ({ORACLE_N})
""",
)


def _kdt_leaf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDT routing invariants: every vector reaches a real leaf and the tree
    actually splits (≥2 leaves on any non-trivial input)."""
    from sptag_spark.index.kdt import build_kdt, kdt_assign, kdt_leaf_sizes

    def build():
        vectors = vectors_table(spark, sf_dir)
        tree = build_kdt(vectors, leaf_size=64)
        assigned = kdt_assign(vectors, tree).persist()
        assigned.count()
        return (assigned,)

    (assigned,) = _memo(spark, sf_dir, "kdt", build)
    sizes = kdt_leaf_sizes(assigned)
    return sizes.agg(
        F.sum("n").cast("long").alias("n_vectors"),
        (F.min("leaf") >= 0).alias("leaves_valid"),
        (F.count("*") >= 2).alias("tree_splits"),
    )


register(
    "kdt_leaf_sizes",
    _kdt_leaf_histogram,
    f"""
SELECT n_vectors, TRUE AS leaves_valid, TRUE AS tree_splits
FROM ({ORACLE_N})
""",
)


def _bkt_tree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BKT hierarchy invariants (§1.1 cluster_path encoding): every vector
    walks a root-anchored path of bounded depth to a valid leaf."""
    from sptag_spark.index.bkt import bkt_assign, bkt_stats, build_bkt

    def build():
        vectors = vectors_table(spark, sf_dir)
        tree = build_bkt(vectors, kmeans_k=8, leaf_size=8)
        assigned = bkt_assign(vectors, tree).persist()
        assigned.count()
        return tree, assigned

    tree, assigned = _memo(spark, sf_dir, "bkt", build)
    return bkt_stats(tree, assigned)


register(
    "bkt_tree_stats",
    _bkt_tree_stats,
    f"""
SELECT n_vectors, TRUE AS paths_anchored, TRUE AS depth_bounded,
       TRUE AS leaves_valid
FROM ({ORACLE_N})
""",
)


def _graph_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first traversal over the RNG graph (BKTIndex.cpp:279-350 parity):
    the graph layer must be SEARCHABLE, not just well-shaped — per-query
    self-hit and corpus recall vs exact truth, measured for real. A sparser
    query set (every 100th vector) keeps the hop-synchronous walk's
    fixed per-hop job cost proportionate in the bench."""
    from sptag_spark.index.graph import build_rng_graph

    def build():
        heads, _ = spann_index(spark, sf_dir)
        vectors = vectors_table(spark, sf_dir)
        edges = build_rng_graph(vectors, L=8, heads=heads, replicas=4).persist()
        edges.count()
        # the vectors frame is part of the memo so every run hands
        # graph_search_broadcast the SAME frame objects — its prepared-
        # broadcast cache keys on frame identity
        return (edges, vectors)

    edges, vectors = _memo(spark, sf_dir, "rng_graph", build)
    queries = queries_table(spark, sf_dir, modulus=100)
    heads, _ = spann_index(spark, sf_dir)
    # The walk budget must SCALE with the graph: fixed hops=4/beam=16
    # measured 0.96 at sf0.01 but 0.685 at sf0.1 (graph diameter and the
    # number of near-ties both grow with N). hops ~ ⌈log2(N)/2⌉ and
    # beam ~ 4·⌈log2(N)⌉ (the MaxCheck analog) restore 0.96 / 0.93 with
    # every query self-hitting at both SFs; hops are in-kernel NumPy
    # iterations in broadcast mode, not Spark stages, so the larger budget
    # costs no extra scheduling. N derives from the memoized head count
    # (DEFAULT_HEAD_RATIO) — no count job on the big table.
    # Broadcast mode: the index rides to each executor once and queries
    # distribute — the reference's own in-memory serving shape (one stage
    # vs ~5 shuffles/hop; tests pin the two modes row-identical). Seeds
    # come from the memoized SPANN heads (SearchTrees seeding the queue).
    import math

    from sptag_spark.index.ann import cached_count
    from sptag_spark.index.graph import graph_search_broadcast

    n_est = max(2, round(cached_count(heads) / DEFAULT_HEAD_RATIO))
    hops = max(4, math.ceil(math.log2(n_est) / 2))
    beam = max(16, 4 * math.ceil(math.log2(n_est)))
    res = graph_search_broadcast(
        vectors, edges, queries, k=DEFAULT_K, heads=heads,
        max_hops=hops, beam=beam,
    )
    # the FULL truth arrays frame verifies a sub-batch identically: the
    # verify join is a left join on res's query_id, so truth rows for
    # un-queried ids are simply never matched (the former pre-join
    # restriction was an extra join for nothing) — and the memoized arrays
    # frame costs nothing per run (r13).
    return self_verified_search(
        res, truth_hit_arrays(spark, sf_dir), DEFAULT_K, recall_gate=0.85
    )


register(
    "graph_search_topk",
    _graph_search_topk,
    f"""
SELECT vec_id AS query_id, CAST({DEFAULT_K} AS BIGINT) AS n_results,
       TRUE AS self_hit, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 100 = 0
""",
)


# -- native int8 store serve (r12: value-type stores as a driver-graded
# row). The float embeddings are deterministically quantized to an int8
# grid (clip(round(25x), -127, 127) — every component exactly
# representable), a SPANN index is built over the QUANTIZED corpus, and
# the out-of-core replica serves from a post_vectors.i8 store — 1
# byte/component, the reference's SPACEV width (`VectorSet.h:35`). At
# exhaustive nprobe the answer is exact k-NN over the quantized corpus
# (coverage is total: cut_postings keeps every vector's primary replica),
# so the DuckDB oracle is an independent brute-force twin over the same
# quantization — full (rank, id, dist) value gating, no self-verification.

_INT8_Q_SCALE = 25


def _serve_int8_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from sptag_spark.serving_local import DiskSpannReplica

    def build():
        v8 = vectors_table(spark, sf_dir).select(
            "id",
            F.transform(
                F.col("vector"),
                lambda x: F.greatest(
                    F.lit(-127.0),
                    F.least(F.lit(127.0), F.round(x * _INT8_Q_SCALE, 0)),
                ).cast("float"),
            ).alias("vector"),
        )
        heads = select_heads(v8, ratio=DEFAULT_HEAD_RATIO).persist()
        postings = build_postings(v8, heads).persist()
        postings.count()
        return (DiskSpannReplica(heads, postings, value_type="int8"),)

    rep = _memo(spark, sf_dir, "int8_store", build)[0]
    # memoized standing query batch (r14, VERDICT r13 #1): the per-run
    # queries_table(...).collect() was the last serve operator still paying
    # a collect job per run — every other serve path reads query_batch
    qrows = [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in query_batch(spark, sf_dir)
    ]
    rows = rep.batch_search(
        qrows, k=DEFAULT_K, nprobe=len(rep.head_ids)
    )
    return local_frame(spark, _REPLICA_ROWS, rows).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "id",
        F.round("dist", 4).alias("dist"),
        # the width witness: the serving store really is 1 byte/component
        F.lit(rep.post_V.dtype == np.int8).alias("int8_store"),
    )


register(
    "serve_int8_store",
    _serve_int8_store,
    f"""
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> greatest(-127.0,
           least(127.0, round(CAST(x AS DOUBLE) * {_INT8_Q_SCALE}, 0)))) AS vector
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS vector FROM embeddings
      WHERE vec_id % {QUERY_MODULUS} = 0),
pairs AS (
  SELECT q.query_id, v.id,
         list_sum(list_transform(list_zip(q.vector, v.vector),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2)) AS d
  FROM q CROSS JOIN v
),
ranked AS (
  SELECT query_id, id, d,
         row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
  FROM pairs
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, id, round(d, 4) AS dist,
       TRUE AS int8_store
FROM ranked WHERE rank <= {DEFAULT_K}
""",
)
