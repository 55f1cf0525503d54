"""ANN path tests: F6 invariants + recall acceptance (≥0.9@10 per FIXTURES.md)
mirroring the reference's recall assertions (SSDIndex.h:284-285)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.index.ann import ann_search, route_queries
from sptag_spark.index.balanced import balanced_kmeans, cluster_sizes
from sptag_spark.index.heads import select_heads
from sptag_spark.index.ivf import ivf_build, ivf_search
from sptag_spark.index.postings import (
    REPLICA_COUNT,
    build_postings,
    posting_stats,
    replica_stats,
)
from sptag_spark.index.pq import adc_search, pq_encode, train_pq
from sptag_spark.operators.knn import knn
from sptag_spark.operators.recall import recall_per_query, recall_summary
from sptag_spark.tables import queries_table, vectors_table


@pytest.fixture(scope="module")
def ann_fixture(spark, sf_dir):
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir).cache()
    heads = select_heads(vectors, ratio=0.12).cache()
    postings = build_postings(vectors, heads).cache()
    return vectors, queries, heads, postings


def test_head_fraction(ann_fixture):
    vectors, _, heads, _ = ann_fixture
    n, h = vectors.count(), heads.count()
    assert 0.05 * n <= h <= 0.2 * n  # ≈ Ratio, slack for centroid snapping


def test_posting_invariants(ann_fixture):
    vectors, _, heads, postings = ann_fixture
    # F6: every vector appears in ≥1 and ≤ ReplicaCount postings
    rs = {r["n_replicas"]: r["n_vectors"] for r in replica_stats(postings).collect()}
    assert sum(rs.values()) == vectors.count()
    assert max(rs) <= REPLICA_COUNT
    assert min(rs) >= 1
    # posting members reference valid heads
    head_ids = {r["head_id"] for r in heads.collect()}
    assert {r["head_id"] for r in posting_stats(postings).collect()} <= head_ids


def test_routing_respects_ratio(ann_fixture):
    _, queries, heads, _ = ann_fixture
    routes = route_queries(queries, heads, nprobe=4, max_dist_ratio=1.0)
    # ratio=1.0 → only heads at exactly the min distance survive
    per_q = routes.groupBy("query_id").count().collect()
    assert all(r["count"] >= 1 for r in per_q)


def test_spann_recall(ann_fixture):
    vectors, queries, heads, postings = ann_fixture
    truth = knn(vectors, queries, k=10)
    approx = ann_search(queries, heads, postings, k=10, nprobe=8)
    summary = recall_summary(recall_per_query(approx, truth, 10)).first()
    assert summary["avg_recall"] >= 0.9, summary
    assert summary["n_queries"] == queries.count()


def test_ivf_recall(spark, sf_dir):
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    centroids, lists = ivf_build(vectors, n_lists_ratio=0.05)
    # IVF stores each vector exactly once
    assert lists.count() == vectors.count()
    truth = knn(vectors, queries, k=10)
    # Single-assignment IVF on unstructured gaussian data scatters true
    # neighbors across lists — recall/storage trade-off vs SPANN's ≤8×
    # replication (which the test above holds to ≥0.9). Probe half the lists.
    approx = ivf_search(queries, centroids.cache(), lists, k=10, nprobe=12)
    summary = recall_summary(recall_per_query(approx, truth, 10)).first()
    assert summary["avg_recall"] >= 0.7, summary
    assert summary["mrr"] == 1.0  # self-hit always lands at rank 1


def test_pq_adc_recall(spark, sf_dir):
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    books = train_pq(vectors, m=8)
    codes = pq_encode(vectors, books)
    assert codes.first()["codes"].__len__() == 8
    truth = knn(vectors, queries, k=10)
    approx = adc_search(codes, queries, books, k=10).withColumnRenamed(
        "adc_dist", "dist"
    )
    summary = recall_summary(recall_per_query(approx, truth, 10)).first()
    # PQ at 32x compression: recall@10 is lossy; self-hit + coarse ranking
    assert summary["avg_recall"] >= 0.5, summary
    # OPQ rotation should not degrade things materially
    books_r = train_pq(vectors, m=8, opq_rotation=True)
    codes_r = pq_encode(vectors, books_r)
    approx_r = adc_search(codes_r, queries, books_r, k=10).withColumnRenamed(
        "adc_dist", "dist"
    )
    summary_r = recall_summary(recall_per_query(approx_r, truth, 10)).first()
    assert summary_r["avg_recall"] >= 0.5, summary_r


def test_ivf_multi_assignment_lifts_recall(spark, sf_dir):
    """replicas=2 multi-assignment: every vector stored in exactly its two
    nearest lists (rng_factor=inf → pure top-r cut, no RNG prune), and recall
    at the same probe budget must not drop vs single assignment (measured
    +0.10 at sf0.01, nprobe=12)."""
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    truth = knn(vectors, queries, k=10)

    def run(replicas):
        cents, lists = ivf_build(
            vectors, n_lists_ratio=0.05, balanced=True, replicas=replicas
        )
        assert lists.count() == replicas * vectors.count()
        res = ivf_search(queries, cents.cache(), lists.cache(), k=10, nprobe=12)
        return recall_summary(recall_per_query(res, truth, 10)).first()["avg_recall"]

    assert run(2) >= run(1) - 1e-9


def test_balanced_ivf_beats_plain_ivf(spark, sf_dir):
    """Size-penalized lists must not lose recall vs nearest-head lists at
    the same probe budget (measured +0.12 at sf0.01) and every vector is
    stored exactly once either way."""
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    truth = knn(vectors, queries, k=10)

    def run(balanced):
        cents, lists = ivf_build(vectors, n_lists_ratio=0.05, balanced=balanced)
        assert lists.count() == vectors.count()
        res = ivf_search(queries, cents.cache(), lists.cache(), k=10, nprobe=12)
        return recall_summary(recall_per_query(res, truth, 10)).first()["avg_recall"]

    assert run(True) >= run(False) - 1e-9


def test_ivf_pq_rerank_recall(spark, sf_dir):
    """IVFADC + exact refine: the code scan shortlist re-ranked with exact
    distances must reach routing-limited recall (≥0.85 at sf0.01 — float
    IVF at the same nprobe measures 0.945) and restore the self-hit plain
    PQ loses. Without rerank the same search is quantization-limited."""
    from sptag_spark.index.ivf import ivf_pq_encode, ivf_pq_search, ivf_pq_train

    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    truth = knn(vectors, queries, k=10)
    cents, lists = ivf_build(vectors, n_lists_ratio=0.05, balanced=True, replicas=2)
    cents, lists = cents.cache(), lists.cache()
    books = ivf_pq_train(lists, cents, m=16)
    coded = ivf_pq_encode(lists, cents, books).cache()
    nprobe = max(12, cents.count() // 4)
    res = ivf_pq_search(
        queries, cents, coded, books, k=10, nprobe=nprobe, rerank=40,
        vectors=vectors,
    ).withColumnRenamed("adc_dist", "dist")
    summary = recall_summary(recall_per_query(res, truth, 10)).first()
    assert summary["avg_recall"] >= 0.85, summary
    # exact refine ⇒ every query's own vector comes back at rank 1, dist 0
    self_hits = res.filter(
        (F.col("rank") == 1) & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    ).count()
    assert self_hits == queries.count()
    # no-rerank variant is quantization-limited but still a valid ordering
    res0 = ivf_pq_search(queries, cents, coded, books, k=10, nprobe=nprobe)
    assert res0.groupBy("query_id").count().agg(F.min("count")).first()[0] == 10


def test_ivf_pq_adc_kernel_bitwise_reference(spark, sf_dir):
    """The vectorized ADC scan (r14: batch LUT build + fancy-index gather +
    sort-based segmented top cut, no per-group Python loop) must be
    BIT-IDENTICAL to the per-(query, list) reference: per pair, LUT entry
    (m, code) = Σ_sub (x_sub − cb[m, code])², dist = Σ_m LUT[m, code_m],
    dedup to min dist per (query, id), top keep_n by (dist, id)."""
    from sptag_spark.index.ivf import (
        ivf_pq_encode,
        ivf_pq_search,
        ivf_pq_train,
        _centroid_matrix,
    )

    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    cents, lists = ivf_build(vectors, n_lists_ratio=0.05, balanced=True, replicas=2)
    cents, lists = cents.cache(), lists.cache()
    books = ivf_pq_train(lists, cents, m=16)
    coded = ivf_pq_encode(lists, cents, books).cache()
    nprobe = max(12, cents.count() // 4)
    k = 10
    got = {
        (r["query_id"], r["rank"]): (r["id"], r["dist"])
        for r in ivf_pq_search(
            queries, cents, coded, books, k=k, nprobe=nprobe
        ).withColumnRenamed("adc_dist", "dist").collect()
    }

    # reference: driver-side per-(query, list) loop over the same artifacts
    from sptag_spark.index.ann import route_queries

    cb, R = books.codebooks, books.rotation
    m, _, sub = cb.shape
    head_ids, C = _centroid_matrix(cents)
    pos = {int(h): i for i, h in enumerate(head_ids)}
    qmap = {
        int(r["query_id"]): np.asarray(r["vector"], dtype=np.float64)
        for r in queries.collect()
    }
    routes = route_queries(
        queries, cents, nprobe, metric="l2", max_dist_ratio=float("inf")
    ).collect()
    routed = {}
    for r in routes:
        routed.setdefault(int(r["query_id"]), set()).add(int(r["head_id"]))
    code_rows = coded.collect()
    best: dict[tuple[int, int], float] = {}
    cols = np.arange(m)[None, :]
    for row in code_rows:
        hid = int(row["head_id"])
        for qid, heads in routed.items():
            if hid not in heads:
                continue
            x = qmap[qid] - C[pos[hid]]
            if R is not None:
                x = x @ R
            lut = ((x[: m * sub].reshape(m, 1, sub) - cb) ** 2).sum(-1)
            d = float(
                lut[cols, np.asarray(row["codes"], dtype=np.int64)[None, :]].sum()
            )
            key = (qid, int(row["id"]))
            if key not in best or d < best[key]:
                best[key] = d
    expect = {}
    byq: dict[int, list] = {}
    for (qid, vid), d in best.items():
        byq.setdefault(qid, []).append((d, vid))
    for qid, cand in byq.items():
        for rank, (d, vid) in enumerate(sorted(cand)[:k], start=1):
            expect[(qid, rank)] = (vid, d)
    assert got == expect


def test_opq_beats_pq_on_anisotropic_data(spark):
    """Full OPQ acceptance: on correlated data whose energy straddles the
    axis-aligned subspace split, the alternating rotation must cut
    quantization error vs plain PQ (the property OPQ exists for) and not
    lose recall."""
    from sptag_spark.index.pq import _encode_inmem, _reconstruct_inmem

    rng = np.random.default_rng(11)
    n, dim, latent = 3000, 16, 4
    # low-rank latent spread across all dims by a random rotation = strongly
    # anisotropic, correlated coordinates (worst case for axis-aligned PQ)
    A = rng.normal(size=(latent, dim))
    X = rng.normal(size=(n, latent)) @ A + 0.05 * rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id long, vector array<float>"
    )
    X32 = X.astype(np.float32).astype(np.float64)

    def recon_mse(books):
        Z = X32 @ books.rotation if books.rotation is not None else X32
        Y = _reconstruct_inmem(_encode_inmem(Z, books.codebooks), books.codebooks)
        return float(((Z - Y) ** 2).sum(1).mean())

    pq = train_pq(df, m=4, nbits=4)
    opq = train_pq(df, m=4, nbits=4, opq_rotation=True)
    mse_pq, mse_opq = recon_mse(pq), recon_mse(opq)
    assert mse_opq < 0.8 * mse_pq, (mse_opq, mse_pq)
    # recall check on the same fixture: OPQ not worse than PQ
    queries = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(0, n, 100)],
        "query_id long, vector array<float>",
    )
    truth = knn(df, queries, k=10)

    def avg_recall(books):
        codes = pq_encode(df, books)
        res = adc_search(codes, queries, books, k=10).withColumnRenamed(
            "adc_dist", "dist"
        )
        return recall_summary(recall_per_query(res, truth, 10)).first()[
            "avg_recall"
        ]

    assert avg_recall(opq) >= avg_recall(pq) - 1e-9


def test_ivf_query_on_centroid_returns_k(spark, sf_dir):
    """Latent NaN edge: with max_dist_ratio=inf a query whose nearest
    centroid distance is exactly 0 computed cut = 0*inf = NaN and dropped
    every head. A query that IS a centroid vector must still get k rows."""
    vectors = vectors_table(spark, sf_dir).cache()
    centroids, lists = ivf_build(vectors, n_lists_ratio=0.05)
    centroids = centroids.cache()
    q = centroids.limit(1).select(
        F.lit(0).cast("long").alias("query_id"), "vector"
    )
    out = ivf_search(q, centroids, lists, k=5, nprobe=4).collect()
    assert len(out) == 5, out
    assert out[0]["dist"] == 0.0  # the centroid's own nearest record


def test_balanced_kmeans_balances(spark, sf_dir):
    vectors = vectors_table(spark, sf_dir)
    k = 8
    assigned = balanced_kmeans(vectors, k=k, n_iter=4)
    sizes = [r["n"] for r in cluster_sizes(assigned).collect()]
    n = vectors.count()
    assert sum(sizes) == n
    # balance: no cluster more than 3x fair share (unbalanced kmeans on
    # gaussian mixtures routinely exceeds this)
    assert max(sizes) <= 3 * n / k, sizes


def test_balanced_kmeans_hier_matches_contract(spark, sf_dir):
    """Above flat_max_k the build goes hierarchical (balance within coarse
    cells — BKTree-style recursive splits); force the path with a low
    threshold and hold it to the SAME contract as the flat loop: exactly k
    non-empty clusters partitioning all rows, none above 3x fair share."""
    vectors = vectors_table(spark, sf_dir)
    k = 24
    assigned = balanced_kmeans(vectors, k=k, n_iter=4, flat_max_k=8)
    sizes = [r["n"] for r in cluster_sizes(assigned).collect()]
    n = vectors.count()
    assert sum(sizes) == n
    assert len(sizes) == k
    assert max(sizes) <= 3 * n / k, sizes
    # k > flat_max_k**2: the coarse level is capped at flat_max_k (the
    # hier recursion would drop the vector passthrough the cell stage
    # needs) — wider cells, same contract
    deep = balanced_kmeans(vectors, k=k, n_iter=4, flat_max_k=4)
    dsizes = [r["n"] for r in cluster_sizes(deep).collect()]
    assert sum(dsizes) == n and len(dsizes) == k


def test_spann_cosine_metric(spark, sf_dir):
    """The SPANN path is metric-parameterized end to end (build + route +
    scan all cosine) — reference SPANN accepts any DistCalcMethod."""
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    heads = select_heads(vectors, ratio=0.12, metric="cosine").cache()
    postings = build_postings(vectors, heads, metric="cosine").cache()
    truth = knn(vectors, queries, k=10, metric="cosine")
    approx = ann_search(queries, heads, postings, k=10, nprobe=10, metric="cosine")
    summary = recall_summary(
        recall_per_query(approx, truth, 10, metric="cosine")
    ).first()
    assert summary["avg_recall"] >= 0.85, summary


def test_empty_and_tiny_inputs_are_graceful(spark):
    """Reference-style error-path discipline: empty tables produce empty
    results, never crashes (SearchQuery.h unfilled-slot semantics)."""
    from sptag_spark.operators.dedup import (
        dedup_exact_groups,
        embedding_near_dup_pairs,
    )

    emb0 = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_dup_pairs(emb0, 0.99).count() == 0
    emb1 = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    assert embedding_near_dup_pairs(emb1, 0.99).count() == 0
    docs0 = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_exact_groups(docs0).count() == 0
    v = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vector array<float>")
    q0 = spark.createDataFrame([], "query_id long, vector array<float>")
    assert knn(v, q0, k=3).count() == 0
    v0 = spark.createDataFrame([], "id long, vector array<float>")
    q1 = spark.createDataFrame([(0, [1.0, 2.0])], "query_id long, vector array<float>")
    assert knn(v0, q1, k=3).count() == 0
    # span dedup: empty corpus and all-too-short docs yield empty stats,
    # never a crash in the token-hash slice path
    from sptag_spark.operators.dedup import duplicate_spans

    assert duplicate_spans(docs0, 10).count() == 0
    tiny = spark.createDataFrame(
        [(1, "only three tokens"), (2, "")], "doc_id long, text string"
    )
    assert duplicate_spans(tiny, 10).count() == 0


def test_posting_invariants_true_on_empty_postings(spark):
    """posting_histogram's invariants hold vacuously on zero postings (the
    oracle states TRUE) and still catch a posting that names a non-head."""
    from sptag_spark.queries.ann_queries import posting_invariants

    heads0 = spark.createDataFrame([], "head_id long, vector array<float>")
    post0 = spark.createDataFrame(
        [], "head_id long, id long, vector array<float>"
    )
    r = posting_invariants(heads0, post0).first()
    assert r.asDict() == {
        "n_vectors": 0,
        "replicas_in_range": True,
        "size_capped": True,
        "heads_valid": True,
    }
    heads1 = spark.createDataFrame(
        [(1, [0.0])], "head_id long, vector array<float>"
    )
    post1 = spark.createDataFrame(
        [(1, 5, [0.0]), (2, 6, [1.0])],
        "head_id long, id long, vector array<float>",
    )
    r = posting_invariants(heads1, post1).first()
    assert (r["n_vectors"], r["replicas_in_range"], r["size_capped"]) == (
        2, True, True,
    )
    assert r["heads_valid"] is False


def test_spann_ip_metric(spark, sf_dir):
    """InnerProduct SPANN: distances are negative dot products, which is
    exactly the case the reference's limitDist>0.1 ratio-cut guard exists
    for (SPANNIndex.cpp:217-230) — without it every head would be dropped."""
    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    heads = select_heads(vectors, ratio=0.12, metric="ip").cache()
    postings = build_postings(vectors, heads, metric="ip").cache()
    routes = route_queries(queries, heads, nprobe=8, metric="ip")
    per_q = routes.groupBy("query_id").count().collect()
    assert all(r["count"] >= 1 for r in per_q)  # the guard kept heads
    truth = knn(vectors, queries, k=10, metric="ip")
    approx = ann_search(queries, heads, postings, k=10, nprobe=10, metric="ip")
    summary = recall_summary(
        recall_per_query(approx, truth, 10, metric="ip")
    ).first()
    assert summary["avg_recall"] >= 0.7, summary


def test_pq_decode_and_sdc(spark, sf_dir):
    """ReconstructVector + symmetric (SDC) search: reconstruction error is
    bounded, and SDC recall is in the same regime as ADC (both-sides
    quantization is coarser, never better than ~ADC)."""
    from sptag_spark.index.pq import pq_decode, sdc_search

    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    for opq in (False, True):
        books = train_pq(vectors, m=8, opq_rotation=opq)
        codes = pq_encode(vectors, books).cache()
        recon = pq_decode(codes, books).withColumnRenamed("vector", "rvec")
        joined = recon.join(vectors, "id")
        err = joined.select(
            F.aggregate(
                F.zip_with("rvec", "vector", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("e")
        ).agg(F.avg("e")).first()[0]
        norm = vectors.select(
            F.aggregate(
                F.transform("vector", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("n")
        ).agg(F.avg("n")).first()[0]
        assert err < 0.5 * norm, (opq, err, norm)  # 32x compression, lossy
        truth = knn(vectors, queries, k=10)
        res = sdc_search(codes, queries, books, k=10).withColumnRenamed(
            "sdc_dist", "dist"
        )
        summary = recall_summary(recall_per_query(res, truth, 10)).first()
        assert summary["avg_recall"] >= 0.4, (opq, summary)


def test_sq8_roundtrip_and_search(spark, sf_dir):
    """SQ8 contract: codes in [0,255], reconstruction error bounded by the
    grid (scale/2 per dim), refined search hits the exact-path gate."""
    from sptag_spark.index.sq import sq_decode, sq_encode, sq_search, train_sq

    vectors = vectors_table(spark, sf_dir).cache()
    queries = queries_table(spark, sf_dir)
    params = train_sq(vectors)
    codes = sq_encode(vectors, params).cache()
    rng = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).first()
    assert rng["lo"] >= 0 and rng["hi"] <= 255
    # reconstruction: every component within scale/2 + eps of the original
    recon = sq_decode(codes, params).withColumnRenamed("vector", "rvec")
    max_scale = float(params.scale.max())
    worst = (
        recon.join(vectors, "id")
        .select(
            F.array_max(
                F.zip_with("rvec", "vector", lambda a, b: F.abs(a - b))
            ).alias("err")
        )
        .agg(F.max("err"))
        .first()[0]
    )
    assert worst <= max_scale / 2 + 1e-5, (worst, max_scale)
    truth = knn(vectors, queries, k=10)
    res = sq_search(codes, queries, params, k=10, rerank=20, vectors=vectors)
    summary = recall_summary(recall_per_query(res, truth, 10)).first()
    assert summary["avg_recall"] >= 0.95, summary
    # exact refine restores the self-hit guarantee
    self_hits = res.filter(
        (F.col("rank") == 1) & (F.col("id") == F.col("query_id"))
    ).count()
    assert self_hits == queries.count()


def test_route_inmem_matches_distributed(spark, sf_dir, monkeypatch):
    """Driver-side head routing is value-identical to the distributed knn
    routing it replaces (same arithmetic, same (dist, id) tie-break, same
    guarded ratio cut) — for the default ratio and the inf (IVF) case."""
    import sptag_spark.index.ann as A

    vectors = vectors_table(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    heads = select_heads(vectors, ratio=0.12).cache()
    for ratio in (8.0, float("inf")):
        inmem = A.route_queries(
            queries, heads, nprobe=4, max_dist_ratio=ratio
        )
        assert getattr(inmem, "_sptag_routed_heads", None) is not None
        monkeypatch.setattr(A, "ROUTE_INMEM_MAX_HEADS", 0)
        dist = A.route_queries(
            queries, heads, nprobe=4, max_dist_ratio=ratio
        )
        monkeypatch.setattr(A, "ROUTE_INMEM_MAX_HEADS", 4096)
        a = sorted(map(tuple, inmem.collect()))
        b = sorted(map(tuple, dist.collect()))
        assert a == b, (ratio, a[:3], b[:3])


def test_ann_search_distributed_routing_matches(spark, sf_dir, monkeypatch):
    """The full serve path is row-identical whether routing ran driver-side
    (small head set, static IN pruning) or as the distributed knn kernel
    (the 100 TB path: millions of heads, dynamic partition pruning). The
    in-memory path is an optimization, never a semantic fork."""
    import sptag_spark.index.ann as A

    vectors = vectors_table(spark, sf_dir)
    queries = queries_table(spark, sf_dir)
    heads = select_heads(vectors, ratio=0.12).cache()
    postings = build_postings(vectors, heads).cache()
    base = A.ann_search(queries, heads, postings, k=10, nprobe=6).collect()
    monkeypatch.setattr(A, "ROUTE_INMEM_MAX_HEADS", 0)
    dist = A.ann_search(queries, heads, postings, k=10, nprobe=6).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, dist))


def test_empty_head_table_routes_nowhere(spark):
    """An empty head table gives an empty route set and an empty answer,
    each with its contract schema, as the serving replicas do."""
    heads = spark.createDataFrame([], "head_id long, vector array<float>")
    postings = spark.createDataFrame(
        [], "head_id long, id long, vector array<float>"
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "query_id long, vector array<float>"
    )
    routes = route_queries(qs, heads)
    assert routes.collect() == []
    assert routes.schema.simpleString() == (
        "struct<query_id:bigint,head_id:bigint,head_dist:double>"
    )
    res = ann_search(qs, heads, postings, k=10)
    assert res.collect() == []
    assert res.schema.simpleString() == (
        "struct<query_id:bigint,rank:bigint,id:bigint,dist:double>"
    )


def test_routed_assignment_matches_flat_on_clustered_data(spark):
    """Coarse-routed replica assignment (the O(√k) head-search path that
    replaces the flat O(k) scan above ROUTED_MIN_HEADS) on data with
    cluster structure — the regime it exists for: primary assignments
    agree with the flat scan, every vector stays covered, no padded-slot
    or duplicate-spill artifacts leak into the output."""
    from sptag_spark.index.postings import assign_replicas

    rng = np.random.default_rng(11)
    # 40 well-separated cluster sites; vectors and heads jitter around them
    sites = rng.normal(size=(40, 12)) * 30.0
    V = sites[rng.integers(0, 40, size=1500)] + rng.normal(size=(1500, 12))
    H = sites[np.arange(40).repeat(5)] + rng.normal(size=(200, 12))
    vec = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "id long, vector array<float>",
    )
    heads = spark.createDataFrame(
        [(i, [float(x) for x in H[i]]) for i in range(len(H))],
        "head_id long, vector array<float>",
    )
    flat = assign_replicas(vec, heads, routed=False).collect()
    routed = assign_replicas(vec, heads, routed=True).collect()

    def primary(rows):
        best = {}
        for r in rows:
            key = (r["dist"], r["head_id"])
            if r["id"] not in best or key < best[r["id"]]:
                best[r["id"]] = key
        return best

    pf, pr = primary(flat), primary(routed)
    assert len(pr) == len(V)  # every vector covered
    # same primary HEAD; dist may differ by summation-order ulps (the
    # routed kernel's einsum vs the flat path's gemm — serve paths rescore
    # exactly, so posting dists are ranking-only)
    agree = sum(
        1
        for k in pf
        if pr[k][1] == pf[k][1] and abs(pr[k][0] - pf[k][0]) < 1e-9
    )
    assert agree >= 0.99 * len(pf)
    # no junk head ids from padded slots, no duplicate (id, head) rows
    hid = {r["head_id"] for r in routed}
    assert hid <= set(range(len(H)))
    pairs = [(r["id"], r["head_id"]) for r in routed]
    assert len(pairs) == len(set(pairs))


def test_select_heads_cosine_geometry(spark):
    """select_heads must honor metric='cosine' (ADVICE r6): head choice is
    made in DIRECTION space, so it is (a) invariant to per-row positive
    scaling and (b) covers every direction cluster even when L2 magnitudes
    would swamp it."""
    import numpy as np

    rng = np.random.default_rng(7)
    dirs = np.eye(8)[:3]  # 3 orthogonal direction clusters
    rows, scaled = [], []
    vid = 0
    for c in range(3):
        for _ in range(20):
            v = dirs[c] + rng.normal(0, 0.02, 8)
            # magnitudes span 4 orders — under raw-L2 geometry the
            # clusters form by NORM, not direction
            mag = 10.0 ** rng.uniform(-1, 3)
            rows.append((vid, [float(x) for x in v * mag]))
            scaled.append((vid, [float(x) for x in v * mag * 7.5]))
            vid += 1
    df = spark.createDataFrame(rows, "id long, vector array<float>")
    df2 = spark.createDataFrame(scaled, "id long, vector array<float>")

    heads = select_heads(df, ratio=0.1, metric="cosine").collect()
    # (a) scale invariance: per-row scaling must not change the chosen ids
    heads2 = select_heads(df2, ratio=0.1, metric="cosine").collect()
    assert sorted(r["head_id"] for r in heads) == sorted(
        r["head_id"] for r in heads2
    )
    # (b) direction coverage: every cluster direction has a head within
    # cos > 0.9 of it
    H = np.array([list(r["vector"]) for r in heads], dtype=np.float64)
    Hn = H / np.linalg.norm(H, axis=1, keepdims=True)
    sims = Hn @ dirs.T  # (h, 3)
    assert (sims.max(axis=0) > 0.9).all(), sims.max(axis=0)


def test_select_heads_distributed_full_corpus(spark):
    """Distributed two-level Lloyd (per-partition partial k-means on the
    executors): trains on ALL rows with no sample ceiling, returns ~k
    REAL rows as heads, deterministic across runs, honors cosine
    normalization, and a SPANN search over the resulting index still
    self-hits."""
    import numpy as np

    from sptag_spark.index.heads import select_heads, select_heads_distributed
    from sptag_spark.index.postings import build_postings

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(v) for v in rng.normal(size=6)]) for i in range(4000)
    ]
    vecs = spark.createDataFrame(
        rows, "id long, vector array<float>"
    ).repartition(8)
    heads = select_heads_distributed(vecs, k=400, n=4000)
    hrows = heads.collect()
    got_k = len(hrows)
    assert 200 <= got_k <= 500  # ≈ k: per-partition rounding + dedup
    by_id = dict(rows)
    for r in hrows[:50]:  # heads are REAL corpus rows, exact values
        assert list(np.float32(r["vector"])) == list(
            np.float32(by_id[r["head_id"]])
        )
    again = {r["head_id"] for r in select_heads_distributed(
        vecs, k=400, n=4000
    ).collect()}
    assert {r["head_id"] for r in hrows} == again  # deterministic
    # cosine trains on normalized rows but returns ORIGINAL vectors
    hc = select_heads_distributed(vecs, k=400, n=4000, metric="cosine")
    r0 = hc.limit(5).collect()
    for r in r0:
        assert list(np.float32(r["vector"])) == list(
            np.float32(by_id[r["head_id"]])
        )
    # the auto gate: small corpus keeps the sampled driver fit
    # (bit-stable memoized builds), forcing distributed=True overrides
    h_auto = select_heads(vecs, ratio=0.1)
    h_forced = select_heads(vecs, ratio=0.1, distributed=True)
    assert h_auto.count() > 0 and h_forced.count() > 0
    # end-to-end: index built on distributed heads still self-hits
    from sptag_spark.index.ann import ann_search

    postings = build_postings(vecs, heads)
    q = spark.createDataFrame(
        [(i, by_id[i]) for i in range(20)],
        "query_id long, vector array<float>",
    )
    res = ann_search(q, heads, postings, k=3, nprobe=8)
    hits = res.filter(
        (F.col("rank") == 1)
        & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    )
    assert hits.count() == 20


def test_head_routing_blocked_matches_dense(monkeypatch):
    """Above _DENSE_ROUTING_ENTRIES the head placement (_head_top2)
    switches to the blocked scan (O(k) driver memory instead of the
    O(k·g) dense block — 45 GB at 1M heads, r11 dress rehearsal). Both
    paths train the same group centers and place every head in its 2
    nearest DISTINCT groups, nearest first; their placements agree for
    (nearly) all heads."""
    import sptag_spark.index.postings as P
    from sptag_spark.operators.knn import _block_distances

    rng = np.random.default_rng(3)
    H = rng.normal(size=(3000, 8))
    gc, dense = P._head_top2(H, "l2")
    monkeypatch.setattr(P, "_DENSE_ROUTING_ENTRIES", 1)
    gc_b, blocked = P._head_top2(H, "l2")
    assert np.array_equal(gc, gc_b)
    D = _block_distances(H, gc, "l2")
    nearest2 = np.sort(D, axis=1)[:, :2]
    for top in (dense, blocked):
        assert top.shape == (3000, 2)
        assert (top[:, 0] != top[:, 1]).all()
        np.testing.assert_allclose(
            np.take_along_axis(D, top, 1), nearest2, rtol=1e-9
        )
    same = (np.sort(dense, 1) == np.sort(blocked, 1)).all(axis=1).mean()
    assert same >= 0.95, same


def _bmd_dists(Vb: np.ndarray, Hj: np.ndarray, metric: str) -> np.ndarray:
    """(b, m) distances between row-paired blocks: Vb (b, d) against
    per-row gathered head slabs Hj (b, m, d) — the same formulas as
    _block_distances, as a batched einsum. Reference for _seg_dists and
    the grouped routed kernel."""
    if metric == "l2":
        D = (
            (Hj * Hj).sum(-1)
            - 2.0 * np.einsum("bd,bmd->bm", Vb, Hj)
            + (Vb * Vb).sum(1)[:, None]
        )
        np.maximum(D, 0.0, out=D)
        return D
    if metric == "cosine":
        Vn = Vb / np.maximum(np.linalg.norm(Vb, axis=1, keepdims=True), 1e-300)
        Hn = Hj / np.maximum(np.linalg.norm(Hj, axis=-1, keepdims=True), 1e-300)
        return 1.0 - np.einsum("bd,bmd->bm", Vn, Hn)
    return -np.einsum("bd,bmd->bm", Vb, Hj)


def _rectangular_routed_rows(V, ids, head_ids, H, metric):
    """Sorted (head_id, id, dist) rows of routed assignment computed the
    plain way: every group padded to the largest group (rectangular
    layout), each row's ROUTE_FANOUT nearest groups gathered as (b, m, d)
    slabs and scored with _bmd_dists, the top-c candidates picked over
    all probed slots, then the kernel's shared _prune_block."""
    from sptag_spark.index.postings import (
        CANDIDATE_NUM,
        RNG_FACTOR,
        ROUTE_FANOUT,
        _head_top2,
        _prune_block,
    )
    from sptag_spark.operators.knn import _block_distances

    gc, top2 = _head_top2(H, metric)
    g = len(gc)
    slots = [[] for _ in range(g)]
    for h, groups in enumerate(top2):
        for gi in groups:
            slots[int(gi)].append(h)
    m = max(len(sl) for sl in slots)
    Hg = np.zeros((g, m, H.shape[1]))
    idsg = np.zeros((g, m), dtype=np.int64)
    valid = np.zeros((g, m), dtype=bool)
    for gi, sl in enumerate(slots):
        Hg[gi, : len(sl)] = H[sl]
        idsg[gi, : len(sl)] = head_ids[sl]
        valid[gi, : len(sl)] = True
    Hflat, idflat = Hg.reshape(g * m, -1), idsg.reshape(g * m)
    f = min(ROUTE_FANOUT, g)
    c = min(CANDIDATE_NUM, g * m)
    out = []
    for s in range(0, len(V), 512):
        Vb = V[s : s + 512]
        topf = np.argpartition(_block_distances(Vb, gc, metric), f - 1, 1)
        topf = topf[:, :f]
        Dc = np.concatenate(
            [
                np.where(valid[gj], _bmd_dists(Vb, Hg[gj], metric), np.inf)
                for gj in topf.T
            ],
            axis=1,
        )
        Ic = np.concatenate([gj[:, None] * m + np.arange(m) for gj in topf.T], 1)
        sel = np.argpartition(Dc, c - 1, axis=1)[:, :c]
        h2, d2, acc = _prune_block(
            np.take_along_axis(Ic, sel, 1), np.take_along_axis(Dc, sel, 1),
            idflat, Hflat, None, metric, REPLICA_COUNT, RNG_FACTOR,
            routed=True,
        )
        r, j = np.nonzero(acc)
        out += zip(h2[r, j].tolist(), ids[s + r].tolist(), d2[r, j].tolist())
    return sorted(out)


def test_grouped_routed_kernel_matches_rectangular_reference(spark):
    """The r12 grouped routed kernel (segment einsum over rows sorted by
    nearest group — no (b, m, d) gather) is BIT-identical to the plain
    rectangular per-probe computation: same accepted (head_id, id) rows,
    same dist values, across metrics. Measured 3.05x over the per-probe
    gather at 400k vectors x 50k heads (SCALING.md r12); this pins the
    identity at test scale."""
    from sptag_spark.index.ann import head_matrix
    from sptag_spark.index.postings import assign_replicas

    rng = np.random.default_rng(11)
    sites = rng.normal(size=(40, 12)) * 30.0
    V = sites[rng.integers(0, 40, size=1500)] + rng.normal(size=(1500, 12))
    # heads sampled FROM the corpus rows: exposes the vector==head exact
    # RNG-boundary ties where einsum-vs-gemm ulps flip decisions (the
    # reason the kernel uses the einsum-twin _seg_dists, not a GEMM)
    H = V[rng.choice(len(V), size=200, replace=False)]
    vec = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "id long, vector array<float>",
    )
    heads = spark.createDataFrame(
        [(i, [float(x) for x in H[i]]) for i in range(len(H))],
        "head_id long, vector array<float>",
    )
    head_ids, H64 = head_matrix(heads)
    V64 = V.astype(np.float32).astype(np.float64)  # the stored precision
    ids = np.arange(len(V), dtype=np.int64)
    for metric in ("l2", "cosine", "ip"):
        got = sorted(
            (r["head_id"], r["id"], r["dist"])
            for r in assign_replicas(vec, heads, metric, routed=True).collect()
        )
        want = _rectangular_routed_rows(V64, ids, head_ids, H64, metric)
        assert got == want, metric  # bitwise: dist compared exactly


def test_seg_dists_bitwise_twin_of_bmd():
    """_seg_dists is the arithmetic TWIN of the gathered-slab einsum
    (_bmd_dists above) for a constant group: einsum('bd,md->bm') must
    reduce bitwise like ('bd,bmd->bm') on a broadcast slab for every
    metric — the property the grouped kernel's row identity rests on."""
    from sptag_spark.index.postings import _seg_dists

    rng = np.random.default_rng(3)
    Vb = rng.normal(size=(97, 12))
    Hm = rng.normal(size=(33, 12))
    Hj = np.broadcast_to(Hm, (97, 33, 12)).copy()
    for metric in ("l2", "cosine", "ip"):
        a = _bmd_dists(Vb, Hj, metric)
        b = _seg_dists(Vb, Hm, metric)
        assert np.array_equal(a, b), metric


def test_routed_heads_never_orphaned(spark):
    """Visibility invariant of unconditional top-2 routing (r12): every
    head's own vector must land in its own posting, and no head may end
    up memberless, even when natural clusters OUTNUMBER routing groups —
    the regime where the old capacity-greedy placement displaced whole
    clusters' heads into invisible groups (12% empty heads, recall
    plateau at 0.77 on the dim-100 probe)."""
    from sptag_spark.index.postings import assign_replicas, cut_postings

    rng = np.random.default_rng(5)
    # many tight sites, few heads per site: sites >> groups
    sites = rng.normal(size=(120, 10)) * 200.0
    V = sites[rng.integers(0, 120, size=4000)] + rng.normal(
        size=(4000, 10)
    )
    head_rows = rng.choice(4000, size=480, replace=False)
    vec = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "id long, vector array<float>",
    )
    heads = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in head_rows],
        "head_id long, vector array<float>",
    )
    postings = cut_postings(assign_replicas(vec, heads, routed=True)).cache()
    # every head has members, and contains its own vector at dist 0
    member_heads = {
        int(r["head_id"])
        for r in postings.select("head_id").distinct().collect()
    }
    assert member_heads == {int(i) for i in head_rows}
    # self-distance comes from the expansion formula (HH - 2·dot + VV),
    # which can land an ulp above exact 0.0 — the invariant is presence,
    # not the bit pattern (serve paths rescore exactly)
    self_rows = postings.filter(
        (F.col("head_id") == F.col("id")) & (F.col("dist") < 1e-9)
    ).count()
    assert self_rows == len(head_rows)
    postings.unpersist()


def test_replica_rows_frame_keeps_types(spark, ann_fixture, tmp_path):
    """The serve queries frame a replica's batch_search rows with
    `tables.local_frame`: an Arrow-backed local relation with the
    (query_id long, rank int, id long, dist double) schema. The values
    round-trip exactly as int64/float64 (the oracle compares them),
    collecting the frame runs no job, and no rows still give the
    schema."""
    from sptag_spark.queries.ann_queries import _REPLICA_ROWS
    from sptag_spark.serving_local import DiskSpannReplica
    from sptag_spark.tables import local_frame

    _, queries, heads, postings = ann_fixture
    rep = DiskSpannReplica(heads, postings, str(tmp_path / "store"))
    qrows = [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in queries.collect()
    ]
    rows = rep.batch_search(qrows, k=5, nprobe=8)
    assert rows
    df = local_frame(spark, _REPLICA_ROWS, rows)
    assert df.dtypes == [
        ("query_id", "bigint"), ("rank", "int"), ("id", "bigint"),
        ("dist", "double"),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("replica-rows", "replica-rows")
    try:
        got = [tuple(r) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("replica-rows")
    assert got == [(int(q), int(k), int(i), float(d)) for q, k, i, d in rows]
    assert {type(v) for r in got for v in (r[0], r[2])} == {int}
    assert {type(r[3]) for r in got} == {float}
    assert [str(t) for t in df.toPandas().dtypes] == [
        "int64", "int32", "int64", "float64"
    ]
    empty = local_frame(spark, _REPLICA_ROWS, [])
    assert empty.dtypes == df.dtypes and empty.collect() == []
