"""DiskSpannReplica: row parity with the distributed plan + latency sanity.

The replica is the reference's serving shape (artifacts loaded into RAM,
per-query answers without a cluster job); these tests pin that it is the
SAME index — identical rows to ann_search for every query — and that it
serves a single query well under the fixed cost of a Spark job.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sptag_spark.index.ann import ann_search
from sptag_spark.index.heads import select_heads
from sptag_spark.index.postings import build_postings
from sptag_spark.io.index_store import SptagIndex, load_index, save_index
from sptag_spark.serving_local import DiskSpannReplica
from sptag_spark.tables import queries_table, vectors_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark):
    v = vectors_table(spark, SF)
    heads = select_heads(v, ratio=0.12).persist()
    postings = build_postings(v, heads).persist()
    postings.count()
    return v, heads, postings


def _qlist(spark):
    return [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in queries_table(spark, SF).collect()
    ]


def _loop_rows(rep, queries, **kw):
    """(query_id, rank, id, dist) rows from a per-query search_one loop —
    the semantic definition every vectorized batch_search is pinned to."""
    out = []
    for qid, q in queries:
        ids, d = rep.search_one(q, **kw)
        out.extend(
            (int(qid), r + 1, int(i), float(dd))
            for r, (i, dd) in enumerate(zip(ids, d))
        )
    return out


@contextmanager
def _arrow_batch_rows(spark, n: int):
    """Cap the Arrow batches handed to pandas kernels at n rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _npy_bytes(a: np.ndarray) -> bytes:
    import io

    buf = io.BytesIO()
    np.save(buf, a)
    return buf.getvalue()


def _read(path) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_replica_matches_distributed_plan(spark, built):
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    local = replica.batch_search(qs, k=10, nprobe=6)
    dist_rows = sorted(
        (r["query_id"], r["rank"], r["id"], r["dist"])
        for r in ann_search(
            queries_table(spark, SF), heads, postings, k=10, nprobe=6
        ).collect()
    )
    assert sorted(local) == dist_rows


def test_replica_loads_from_saved_index(spark, built, tmp_path_factory):
    v, heads, postings = built
    path = str(tmp_path_factory.mktemp("idx"))
    save_index(
        SptagIndex(vectors=v, heads=heads, postings=postings, config={}), path
    )
    replica = DiskSpannReplica.from_path(spark, path)
    qs = _qlist(spark)
    for qid, q in qs[:5]:
        ids, d = replica.search_one(q, k=5, nprobe=6)
        assert ids[0] == qid and d[0] == 0.0  # self-hit at rank 1


def test_replica_single_query_latency(spark, built):
    """The point of the replica: single-query latency far below a Spark
    job's fixed ~1s scheduling floor (paper operating point is ms-scale)."""
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    # warm once, then time
    replica.search_one(qs[0][1], k=10, nprobe=6)
    t0 = time.time()
    for _, q in qs:
        replica.search_one(q, k=10, nprobe=6)
    per_query_ms = (time.time() - t0) * 1000 / len(qs)
    assert per_query_ms < 50, per_query_ms


def test_replica_ip_metric_ratio_guard(spark, built):
    """Inner-product distances are negative; the limitDist>0.1 guard must
    keep all probed heads instead of cutting everything (same behavior the
    distributed route_queries has)."""
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    ids, d = replica.search_one(qs[0][1], k=10, nprobe=6, metric="ip")
    assert len(ids) == 10


def test_sharded_aggregator_scatter_gather(spark, built):
    """Head-sharded replicas + global merge-rank: the aggregator tier. With
    per-shard nprobe, the probed head set is a superset of one replica's, so
    the self-hit/top-1 must be identical and every returned distance is
    from the same exact kernel; recall can only improve."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    one = DiskSpannReplica(heads, postings)
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    qs = _qlist(spark)
    for qid, q in qs:
        ids_a, d_a = agg.search_one(q, k=10, nprobe=4)
        ids_o, d_o = one.search_one(q, k=10, nprobe=4)
        assert ids_a[0] == ids_o[0] == qid  # identical top-1 self-hit
        assert len(ids_a) == 10
        # sharded probes a superset of heads → its k-th distance can't be
        # worse than the single replica's
        assert d_a[-1] <= d_o[-1] + 1e-12


def test_sharded_aggregator_exhaustive_equivalence(spark, built):
    """With nprobe covering every head, sharded and single-replica answers
    must be row-identical (both reduce to an exact scan over all postings)."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    n_heads = heads.count()
    one = DiskSpannReplica(heads, postings)
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    for qid, q in _qlist(spark)[:5]:
        ids_a, d_a = agg.search_one(q, k=10, nprobe=n_heads)
        ids_o, d_o = one.search_one(q, k=10, nprobe=n_heads)
        assert list(ids_a) == list(ids_o)
        assert np.allclose(d_a, d_o)


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip"])
def test_replica_parity_all_metrics(spark, built, metric):
    """Replica == distributed plan under every reference metric (same
    kernels, same routing guards, same tie order)."""
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)[:8]
    # distances rounded to 1e-9: BLAS summation order differs between the
    # candidate slices each path scores, so ip can differ by 1 ulp
    local = sorted(
        (q, r, i, round(d, 9))
        for q, r, i, d in replica.batch_search(qs, k=5, nprobe=6, metric=metric)
    )
    qdf = queries_table(spark, SF).filter(
        F.col("query_id").isin([q for q, _ in qs])
    )
    dist_rows = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["dist"], 9))
        for r in ann_search(
            qdf, heads, postings, k=5, nprobe=6, metric=metric
        ).collect()
    )
    assert local == dist_rows


def test_pq_replica_recall_and_memory_shape(spark, built):
    """PQ-compressed replica: no full posting vectors in RAM (M int codes
    per vector), recall in the ADC regime (test_pq_adc_recall's gate)."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.operators.knn import knn
    from sptag_spark.serving_local import LocalPqSpannReplica

    v, heads, postings = built
    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    replica = LocalPqSpannReplica(heads, postings, codes, books)
    assert not hasattr(replica, "post_V")  # codes only — the memory claim
    assert replica.codes.shape[1] == 8

    qs = _qlist(spark)
    truth = {
        (r["query_id"], r["id"])
        for r in knn(v, queries_table(spark, SF), k=10).collect()
    }
    hits = total = 0
    for qid, q in qs:
        ids, _ = replica.search_one(q, k=10, nprobe=8)
        hits += sum((qid, int(i)) in truth for i in ids)
        total += 10
    assert hits / total >= 0.5, hits / total


def test_replica_full_probe_equals_exact(spark, built):
    """nprobe = all heads ⇒ the replica scans every posting, and since
    every vector lands in ≥1 posting, the answer must equal exact
    brute-force kNN — the accuracy knob degrades gracefully to exactness
    (MaxCheck → ∞ semantics)."""
    from sptag_spark.operators.knn import knn

    v, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    n_heads = heads.count()
    qs = _qlist(spark)[:6]
    local = sorted(
        (q, r, i, round(d, 9))
        for q, r, i, d in replica.batch_search(qs, k=10, nprobe=n_heads)
    )
    qdf = queries_table(spark, SF).filter(
        F.col("query_id").isin([q for q, _ in qs])
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["dist"], 9))
        for r in knn(v, qdf, k=10).collect()
    )
    assert local == exact


class _SlowReplica:
    """Delegate that stalls one shard — the reference's slow child index
    (AggregatorService timeout path)."""

    def __init__(self, inner, delay_s):
        self.inner, self.delay_s = inner, delay_s

    def search_one(self, *a, **kw):
        import time

        time.sleep(self.delay_s)
        return self.inner.search_one(*a, **kw)


def test_aggregator_deadline_partial_results(spark, built):
    """search_with_deadline (AggregatorService.cpp:280-323 parity): a shard
    missing the per-query budget is dropped from the merge and the answer
    is flagged partial; a generous budget returns the full merge,
    unflagged, identical to search_one."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    qid, q = _qlist(spark)[0]
    full_ids, full_d = agg.search_one(q, k=10, nprobe=4)

    # generous budget: full answer, not partial
    ids, d, partial = agg.search_with_deadline(
        q, k=10, nprobe=4, budget_ms=30_000
    )
    assert not partial
    assert list(ids) == list(full_ids) and np.allclose(d, full_d)

    # stall one shard past the budget: flagged partial, and the answer is
    # exactly the merge of the two fast shards (deterministic — shard
    # results are per-head-range, so dropping shard 1 drops its ids)
    slow = agg.replicas[1]
    agg.replicas[1] = _SlowReplica(slow, delay_s=1.0)
    try:
        ids_p, d_p, partial = agg.search_with_deadline(
            q, k=10, nprobe=4, budget_ms=150
        )
        assert partial
        fast_ids, fast_d = [], []
        for rep in (agg.replicas[0], agg.replicas[2]):
            i2, d2 = rep.search_one(q, k=10, nprobe=4)
            fast_ids.append(i2)
            fast_d.append(d2)
        exp_ids, exp_d = ShardedSpannAggregator._merge(fast_ids, fast_d, 10)
        assert list(ids_p) == list(exp_ids)
        assert np.allclose(d_p, exp_d)
    finally:
        agg.replicas[1] = slow
        agg.close()


class _CrashReplica:
    """Delegate that raises — the reference's FAILED child index
    (AggregatorService folds error children into the same partial path as
    timeouts)."""

    def __init__(self, inner):
        self.inner = inner

    def search_one(self, *a, **kw):
        raise RuntimeError("shard crashed")


def test_aggregator_crashed_shard_degrades_to_partial(spark, built):
    """A shard that RAISES inside the deadline window must degrade exactly
    like a slow shard: dropped from the merge, answer flagged partial —
    never an exception at the server boundary (ADVICE r6)."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    _, q = _qlist(spark)[0]
    crashed = agg.replicas[1]
    agg.replicas[1] = _CrashReplica(crashed)
    try:
        ids_p, d_p, partial = agg.search_with_deadline(
            q, k=10, nprobe=4, budget_ms=30_000
        )
        assert partial
        fast_ids, fast_d = [], []
        for rep in (agg.replicas[0], agg.replicas[2]):
            i2, d2 = rep.search_one(q, k=10, nprobe=4)
            fast_ids.append(i2)
            fast_d.append(d2)
        exp_ids, exp_d = ShardedSpannAggregator._merge(fast_ids, fast_d, 10)
        assert list(ids_p) == list(exp_ids)
        assert np.allclose(d_p, exp_d)
    finally:
        agg.replicas[1] = crashed
        agg.close()


def test_disk_replica_row_identical_and_out_of_core(spark, built, tmp_path):
    """DiskSpannReplica (heads in RAM, posting vectors in a float32 memmap
    — the reference's SSD node shape, ExtraFullGraphSearcher.h): a named
    store's rows are BIT-identical to a private-store replica's, the
    posting matrix is not resident, and a store reopens with no Spark
    artifacts at all."""
    import numpy as np

    v, heads, postings = built
    ram = DiskSpannReplica(heads, postings)
    disk = DiskSpannReplica(heads, postings, str(tmp_path / "store"))
    assert isinstance(disk.post_V, np.memmap)
    assert disk.post_V.dtype == np.float32
    assert disk.memory_bytes() < ram.post_V.nbytes  # matrix stays on disk
    qs = _qlist(spark)
    for qid, q in qs[:8]:
        ri, rd = ram.search_one(q, k=10, nprobe=6)
        di, dd = disk.search_one(q, k=10, nprobe=6)
        assert ri.tolist() == di.tolist()
        assert rd.tolist() == dd.tolist()  # float32 upcast is exact
    # cold start from files only — no DataFrames, no Spark
    disk2 = DiskSpannReplica.from_store(str(tmp_path / "store"))
    i2, d2 = disk2.search_one(qs[0][1], k=10, nprobe=6)
    assert i2.tolist() == disk.search_one(qs[0][1], k=10, nprobe=6)[0].tolist()
    import pytest as _p

    with _p.raises(FileNotFoundError):
        DiskSpannReplica.from_store(str(tmp_path / "missing"))


def test_pq_replica_refine_recovers_exact_ranking(spark, built, tmp_path):
    """PQ replica + refine store: ADC candidates are exact-reranked from
    the on-disk float32 matrix — returned distances are the TRUE
    distances and recall jumps to the full-vector replica's at the same
    nprobe (the reference's SSD-rerank, RAM stays codes-only)."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        LocalPqSpannReplica,
        build_refine_store_parallel,
        open_refine_store,
    )

    v, heads, postings = built
    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    build_refine_store_parallel(v.select("id", "vector"), str(tmp_path / "rf"))
    store = open_refine_store(str(tmp_path / "rf"))
    refined = LocalPqSpannReplica(
        heads, postings, codes, books, refine_store=store, refine_factor=4
    )
    raw = LocalPqSpannReplica(heads, postings, codes, books)
    full = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    agree = raw_agree = 0
    for qid, q in qs:
        fi, fd = full.search_one(q, k=10, nprobe=8)
        ri, rd = refined.search_one(q, k=10, nprobe=8)
        ai, _ = raw.search_one(q, k=10, nprobe=8)
        # refined distances are exact: every id it shares with the full
        # replica carries the same distance
        shared = set(fi.tolist()) & set(ri.tolist())
        fmap = dict(zip(fi.tolist(), fd.tolist()))
        rmap = dict(zip(ri.tolist(), rd.tolist()))
        assert all(abs(fmap[i] - rmap[i]) < 1e-12 for i in shared)
        agree += len(shared)
        raw_agree += len(set(fi.tolist()) & set(ai.tolist()))
    # exact rerank must recover at least as much of the true ranking as
    # raw ADC order does
    assert agree >= raw_agree
    assert agree / (len(qs) * 10) >= 0.7, agree / (len(qs) * 10)


def test_warm_replica_budget_with_refine_store(spark, built, tmp_path):
    """warm_pq_replica(refine_store=...) warms a REFINED pq replica:
    served distances are exact (match the full replica) on shared ids."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.plans.planner import warm_pq_replica
    from sptag_spark.serving_local import (
        build_refine_store_parallel,
        open_refine_store,
    )

    v, heads, postings = built
    fresh = heads.alias("warmrf")
    fresh._sptag_cached_count = heads.count()
    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    build_refine_store_parallel(v.select("id", "vector"), str(tmp_path / "rf2"))
    rep = warm_pq_replica(
        fresh, postings, codes, books,
        refine_store=open_refine_store(str(tmp_path / "rf2")),
    )
    assert rep.dispatch_label == "pq_replica" and rep.refine is not None
    q = _qlist(spark)[0][1]
    fi, fd = DiskSpannReplica(heads, postings).search_one(q, k=5, nprobe=8)
    ri, rd = rep.search_one(q, k=5, nprobe=8)
    fmap = dict(zip(fi.tolist(), fd.tolist()))
    assert all(
        abs(fmap[i] - d) < 1e-12 for i, d in zip(ri.tolist(), rd.tolist())
        if i in fmap
    )


def test_disk_store_build_streams_never_collects(
    spark, built, tmp_path, monkeypatch
):
    """VERDICT r9 #1: the packed-store BUILD is itself out-of-core — the
    posting shard is never materialized on the driver (toPandas on any
    id-carrying frame is forbidden for the duration) and each fragment
    writer holds one Arrow batch of vectors at a time, hard-bounded by
    maxRecordsPerBatch — while search rows stay bit-identical to a
    private-store replica's."""
    from pyspark.sql import DataFrame

    from sptag_spark.serving_local import (
        DiskSpannReplica,
        build_packed_store_parallel,
    )

    v, heads, postings = built
    ram = DiskSpannReplica(heads, postings)  # before the guard
    n_posts = postings.count()
    orig = DataFrame.toPandas

    def guard(self):
        if "id" in self.columns:
            raise AssertionError("posting shard materialized on the driver")
        return orig(self)

    monkeypatch.setattr(DataFrame, "toPandas", guard)
    store = str(tmp_path / "streamed")
    with _arrow_batch_rows(spark, 16):
        stats = build_packed_store_parallel(heads, postings, store)
    assert 0 < stats["max_batch_rows"] <= 16  # the hard memory witness
    # the bound binds: some fragment held more rows than one batch
    assert n_posts > 16 * stats["fragments"]
    disk = DiskSpannReplica.from_store(store)
    for qid, q in _qlist(spark)[:8]:
        ri, rd = ram.search_one(q, k=10, nprobe=6)
        di, dd = disk.search_one(q, k=10, nprobe=6)
        assert ri.tolist() == di.tolist()
        assert rd.tolist() == dd.tolist()


def test_refine_store_streams_with_fingerprint(
    spark, built, tmp_path, monkeypatch
):
    """The refine store build streams (no driver materialization, one
    Arrow batch of vectors per fragment writer, bounded by
    maxRecordsPerBatch) and records the source fingerprint for the
    staleness gate (ADVICE r9)."""
    from pyspark.sql import DataFrame

    from sptag_spark.serving_local import (
        build_refine_store_parallel,
        open_refine_store,
        refine_fingerprint,
        refine_store_matches,
    )

    v, _, _ = built
    fp = refine_fingerprint(v)
    n_vecs = v.count()

    def banned(self):
        raise AssertionError("vector set materialized on the driver")

    monkeypatch.setattr(DataFrame, "toPandas", banned)
    with _arrow_batch_rows(spark, 16):
        stats = build_refine_store_parallel(
            v.select("id", "vector"), str(tmp_path / "rf")
        )
    monkeypatch.undo()
    assert 0 < stats["max_batch_rows"] <= 16
    assert n_vecs > 16 * stats["fragments"]
    assert refine_store_matches(str(tmp_path / "rf"), fp)
    assert not refine_store_matches(
        str(tmp_path / "rf"), {"rows": fp["rows"] + 1, "id_sum": fp["id_sum"]}
    )
    assert not refine_store_matches(str(tmp_path / "missing"), fp)
    ids, M = open_refine_store(str(tmp_path / "rf"))
    exp = sorted(r["id"] for r in v.select("id").collect())
    assert ids.tolist() == exp
    assert M.shape == (len(exp), len(_qlist(spark)[0][1]))


def test_stale_refine_store_raises_not_wrong_rows(spark, built, tmp_path):
    """A refine store from a DIFFERENT vector set must raise loudly, not
    silently exact-rerank against a wrong row's vector (ADVICE r9)."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        LocalPqSpannReplica,
        build_refine_store_parallel,
        open_refine_store,
    )

    v, heads, postings = built
    # store from a strict subset: routed candidates are guaranteed misses
    build_refine_store_parallel(
        v.filter("id % 7 = 0").select("id", "vector"), str(tmp_path / "stale")
    )
    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    rep = LocalPqSpannReplica(
        heads,
        postings,
        codes,
        books,
        refine_store=open_refine_store(str(tmp_path / "stale")),
    )
    with pytest.raises(ValueError, match="stale|does not cover"):
        rep.search_one(_qlist(spark)[0][1], k=10, nprobe=8)


def test_sharded_aggregator_for_budget_sizing(spark, built):
    """Default shard-sizing rule: shards = ceil(replica_bytes / budget) —
    shard to fit the node, never more; answers match the unsharded
    replica's ids at full coverage."""
    from sptag_spark.plans.planner import replica_footprint_bytes
    from sptag_spark.serving_local import ShardedSpannAggregator

    v, heads, postings = built
    est = replica_footprint_bytes(heads, postings)
    # budget = half the replica -> 2 shards; huge budget -> 1 shard
    agg = ShardedSpannAggregator.for_budget(heads, postings, est // 2 + 1)
    assert len(agg.replicas) == 2
    one = ShardedSpannAggregator.for_budget(heads, postings, est * 10)
    assert len(one.replicas) == 1
    full = DiskSpannReplica(heads, postings)
    q = _qlist(spark)[0][1]
    n_heads = len(full.head_ids)
    fi, _ = full.search_one(q, k=5, nprobe=n_heads)
    ai, _ = agg.search_one(q, k=5, nprobe=n_heads)  # full coverage
    assert fi.tolist() == ai.tolist()


def test_packed_store_build_byte_identical_to_numpy_reference(
    spark, built, tmp_path
):
    """build_packed_store_parallel (executor fragment write + driver
    concat) writes exactly the store numpy builds from the postings sorted
    by (head_id, id) — the fragments hash-partition whole heads by head_id
    and the driver concatenates the heads in ascending head_id — every
    file byte for byte."""
    import os

    from sptag_spark.serving_local import build_packed_store_parallel

    _, heads, postings = built
    store = str(tmp_path / "parallel")
    stats = build_packed_store_parallel(heads, postings, store, n_fragments=8)
    assert stats["fragments"] >= 2  # genuinely parallel, not one writer
    assert not os.path.exists(os.path.join(store, "_fragments"))
    hs = sorted((r["head_id"], r["vector"]) for r in heads.collect())
    ps = sorted(
        (r["head_id"], r["id"], r["vector"])
        for r in postings.select("head_id", "id", "vector").collect()
    )
    head_ids = np.array([h for h, _ in hs], dtype=np.int64)
    post_heads = np.array([h for h, _, _ in ps], dtype=np.int64)
    want = {
        "post_vectors.f32": np.array(
            [vec for _, _, vec in ps], dtype=np.float32
        ).tobytes(),
        "head_ids.npy": _npy_bytes(head_ids),
        "H.npy": _npy_bytes(np.array([vec for _, vec in hs], dtype=np.float64)),
        "post_ids.npy": _npy_bytes(np.array([i for _, i, _ in ps], np.int64)),
        "indptr.npy": _npy_bytes(
            np.concatenate(
                ([0], np.searchsorted(post_heads, head_ids, side="right"))
            )
        ),
    }
    for fn, data in want.items():
        assert _read(os.path.join(store, fn)) == data, fn


def test_packed_store_build_runs_one_job(
    spark, built, tmp_path, jobs_in_group
):
    """A packed build is one Spark job — the fragment writers, with no
    range-sample job and no separate fingerprint scan — which AQE (on in
    the test session) runs as two: the shuffle stage, then the writers.
    The same holds for an SPFresh postings frame, the persisted postings
    unioned with a batch's local relation."""
    from sptag_spark.serving_local import build_packed_store_parallel
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    v, heads, postings = built
    want = 2 if spark.conf.get("spark.sql.adaptive.enabled") == "true" else 1
    assert jobs_in_group(
        "packed-plain",
        lambda: build_packed_store_parallel(
            heads, postings, str(tmp_path / "plain")
        ),
    ) == want
    idx = SpannLiveIndex(
        v.select("id", "vector"), prebuilt=(heads, postings),
        rebuild_threshold=10**9, maintenance="local", split_limit=10**9,
    )
    rows = v.select("id", "vector").limit(5).collect()
    idx.add_batch(spark.createDataFrame(
        pd.DataFrame({"id": [10**6 + r["id"] for r in rows],
                      "vector": [list(r["vector"]) for r in rows]}),
        "id long, vector array<float>",
    ))
    assert jobs_in_group(
        "packed-union",
        lambda: build_packed_store_parallel(
            idx.heads, idx.postings, str(tmp_path / "union")
        ),
    ) == want
    idx.close()


def test_store_meta_fingerprint_equals_aggregate(spark, built, tmp_path):
    """The fingerprint the fragment writers sum is exactly the one the
    aggregates compute: packed meta against `postings_fingerprint` on
    float32 and int8 stores, on empty postings and with more fragments
    than heads (empty fragments write nothing); refine meta against
    `refine_fingerprint` likewise."""
    import json
    import os

    from sptag_spark.serving_local import (
        build_packed_store_parallel,
        build_refine_store_parallel,
        postings_fingerprint,
        refine_fingerprint,
    )

    def meta(d, keys):
        with open(os.path.join(d, "meta.json")) as f:
            m = json.load(f)
        return {k: m[k] for k in keys}

    _, heads, postings = built
    X = np.random.default_rng(3).integers(-128, 128, size=(30, 8))
    p8 = spark.createDataFrame(
        [(i % 3, i, [float(x) for x in X[i]], 0.0) for i in range(30)],
        "head_id long, id long, vector array<float>, dist double",
    )
    h8 = spark.createDataFrame(
        [(h, [0.0] * 8) for h in range(3)], "head_id long, vector array<float>"
    )
    cases = [
        (heads, postings, "float32", None),
        (h8, p8, "int8", None),
        (h8, p8, "float32", 16),
        (h8, p8.limit(0), "float32", None),
    ]
    packed = ("post_rows", "post_id_sum", "post_vec_crc")
    for i, (h, p, vt, nf) in enumerate(cases):
        d = str(tmp_path / f"p{i}")
        stats = build_packed_store_parallel(h, p, d, n_fragments=nf,
                                            value_type=vt)
        assert meta(d, packed) == postings_fingerprint(p), (vt, nf)
        if nf:
            assert stats["fragments"] <= 3
        vecs = p.select("id", "vector")
        d = str(tmp_path / f"r{i}")
        build_refine_store_parallel(vecs, d, n_fragments=nf, value_type=vt)
        assert meta(d, ("rows", "id_sum", "vec_crc")) == (
            refine_fingerprint(vecs)
        ), (vt, nf)
    assert postings_fingerprint(p8.limit(0)) == dict.fromkeys(packed, 0)


def test_warm_replica_budget_prefers_disk_replica(spark, built, tmp_path):
    """With a disk_store_dir, the replica serves from that named store
    — EXACT rows (identical to a private-store replica) for any metric, at a resident set smaller than the PQ replica's — and the
    planner memoizes it as THE replica."""
    from sptag_spark.plans.planner import warm_replica

    v, heads, postings = built
    fresh = heads.alias("warmdisk")
    fresh._sptag_cached_count = heads.count()
    rep = warm_replica(
        fresh,
        postings,
        disk_store_dir=str(tmp_path / "dstore"),
    )
    assert rep.store_dir == str(tmp_path / "dstore")
    assert getattr(fresh, "_sptag_replica", None) is rep  # planner-visible
    full = DiskSpannReplica(heads, postings)
    for qid, q in _qlist(spark)[:6]:
        fi, fd = full.search_one(q, k=10, nprobe=6, metric="cosine")
        ri, rd = rep.search_one(q, k=10, nprobe=6, metric="cosine")
        assert fi.tolist() == ri.tolist()
        assert fd.tolist() == rd.tolist()
    assert rep.memory_bytes() < full.post_V.nbytes


def test_warm_replica_serves_named_store_without_budget(
    spark, built, tmp_path
):
    """With no memory budget, a disk_store_dir still names the store the
    replica serves from: there is one full-vector rung, and only its
    store's location varies."""
    import os

    from sptag_spark.plans.planner import warm_replica

    _, heads, postings = built
    fresh = heads.alias("warmnamed")
    d = str(tmp_path / "named")
    rep = warm_replica(fresh, postings, disk_store_dir=d)
    assert rep.store_dir == d
    assert os.path.dirname(rep.post_V.filename) == d
    assert getattr(fresh, "_sptag_replica", None) is rep


def test_warm_replica_int8_index_packs_native_private_store(spark, built):
    """An int8-valued index warmed with value_type="int8" and no budget
    serves from a private post_vectors.i8 store, with the rows of a
    float32 store over the same frames."""
    import os

    from sptag_spark.plans.planner import warm_replica

    _, heads, postings = built

    def int8_valued(df):
        return df.withColumn(
            "vector",
            F.transform(
                "vector",
                lambda x: F.greatest(
                    F.lit(-127.0), F.least(F.lit(127.0), F.round(x * 25, 0))
                ).cast("float"),
            ),
        )

    h8, p8 = int8_valued(heads), int8_valued(postings)
    rep = warm_replica(h8, p8, value_type="int8")
    assert rep.post_V.dtype == np.int8
    assert os.path.exists(os.path.join(rep.store_dir, "post_vectors.i8"))
    f32 = DiskSpannReplica(h8, p8)
    for _, q in _qlist(spark)[:4]:
        qi = np.clip(np.round(q * 25), -127, 127)
        gi, gd = rep.search_one(qi, k=5, nprobe=6)
        wi, wd = f32.search_one(qi, k=5, nprobe=6)
        assert gi.tolist() == wi.tolist() and gd.tolist() == wd.tolist()


def test_stale_replica_store_rebuilt_on_fingerprint_mismatch(
    spark, built, tmp_path
):
    """A packed store left by a PREVIOUS build at the same path is
    rebuilt, not served: the store's postings fingerprint gates reuse
    (same staleness class as the refine store, ADVICE r9)."""
    from pyspark.sql import functions as F

    from sptag_spark.serving_local import DiskSpannReplica

    v, heads, postings = built
    store = str(tmp_path / "store")
    DiskSpannReplica(heads, postings, store)
    # "rebuild" the index: postings change (drop ~half the rows)
    postings2 = postings.filter(F.col("id") % 2 == 0).persist()
    postings2.count()
    rep2 = DiskSpannReplica(heads, postings2, store)
    # the store was rebuilt from postings2 — odd ids are gone
    qs = _qlist(spark)
    ids, _ = rep2.search_one(qs[1][1], k=10, nprobe=8)
    assert len(ids) and all(i % 2 == 0 for i in ids.tolist())
    # an untouched store with a MATCHING fingerprint is reused (no wipe)
    import os

    mtime = os.path.getmtime(os.path.join(store, "post_vectors.f32"))
    DiskSpannReplica(heads, postings2, store)
    assert os.path.getmtime(os.path.join(store, "post_vectors.f32")) == mtime
    postings2.unpersist()


def test_sharded_aggregator_disk_shards(spark, built, tmp_path):
    """store_dir shards: every shard is a DiskSpannReplica (the multi-node
    out-of-core deployment) — answers identical to the RAM-sharded
    aggregator, resident memory bounded by heads + ids per shard."""
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        ShardedSpannAggregator,
    )

    v, heads, postings = built
    ram = ShardedSpannAggregator(heads, postings, n_shards=3)
    disk = ShardedSpannAggregator(
        heads, postings, n_shards=3, store_dir=str(tmp_path / "shards")
    )
    try:
        assert all(isinstance(r, DiskSpannReplica) for r in disk.replicas)
        for qid, q in _qlist(spark)[:6]:
            ri, rd = ram.search_one(q, k=10, nprobe=4)
            di, dd = disk.search_one(q, k=10, nprobe=4)
            assert ri.tolist() == di.tolist()
            assert rd.tolist() == dd.tolist()
    finally:
        ram.close()
        disk.close()


def test_refine_store_build_byte_identical_to_numpy_reference(
    spark, built, tmp_path
):
    """build_refine_store_parallel writes exactly the refine store numpy
    builds from the vectors sorted by id (range partitioning across
    several fragments), and meta.json carries the source fingerprint."""
    import json
    import os

    from sptag_spark.serving_local import (
        build_refine_store_parallel,
        refine_fingerprint,
        refine_store_matches,
    )

    v, _, _ = built
    store = str(tmp_path / "parallel")
    stats = build_refine_store_parallel(
        v.select("id", "vector"), store, n_fragments=8
    )
    assert stats["fragments"] >= 2
    assert not os.path.exists(os.path.join(store, "_fragments"))
    rows = sorted((r["id"], r["vector"]) for r in v.select("id", "vector").collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    assert _read(os.path.join(store, "vectors.f32")) == np.array(
        [vec for _, vec in rows], dtype=np.float32
    ).tobytes()
    assert _read(os.path.join(store, "ids.npy")) == _npy_bytes(ids)
    with open(os.path.join(store, "meta.json")) as f:
        meta = json.load(f)
    assert (meta["rows"], meta["id_sum"]) == (len(ids), int(ids.sum()))
    assert refine_store_matches(store, refine_fingerprint(v))


def test_fingerprint_detects_reembedded_corpus(spark, built, tmp_path):
    """r10 review: ids alone are blind to a re-embedded corpus (same ids,
    new vector values) — the content CRC in the fingerprint catches it
    and the stores rebuild."""
    from pyspark.sql import functions as F

    from sptag_spark.serving_local import (
        packed_store_matches,
        postings_fingerprint,
        refine_fingerprint,
        refine_store_matches,
        build_refine_store_parallel,
        DiskSpannReplica,
    )

    v, heads, postings = built
    # "re-embedding": same ids/head structure, scaled vector values
    postings2 = postings.withColumn(
        "vector", F.transform("vector", lambda x: x * F.lit(2.0))
    )
    assert packed_store_matches.__name__  # silence linters
    fp1 = postings_fingerprint(postings)
    fp2 = postings_fingerprint(postings2)
    assert fp1["post_rows"] == fp2["post_rows"]
    assert fp1["post_id_sum"] == fp2["post_id_sum"]
    assert fp1["post_vec_crc"] != fp2["post_vec_crc"]
    store = str(tmp_path / "store")
    DiskSpannReplica(heads, postings, store)
    assert packed_store_matches(store, fp1) and not packed_store_matches(
        store, fp2
    )
    # refine store: same property
    v2 = v.withColumn("vector", F.transform("vector", lambda x: x * F.lit(2.0)))
    build_refine_store_parallel(v.select("id", "vector"), str(tmp_path / "rf"))
    assert refine_store_matches(str(tmp_path / "rf"), refine_fingerprint(v))
    assert not refine_store_matches(
        str(tmp_path / "rf"), refine_fingerprint(v2)
    )


def test_disk_sharded_aggregator_handles_empty_shard(spark, built, tmp_path):
    """r10 review: n_shards above the head count leaves some shards
    empty — the disk-sharded aggregator must build and answer anyway
    (the RAM-sharded twin already did)."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    v, heads, postings = built
    n_heads = heads.count()
    agg = ShardedSpannAggregator(
        heads, postings, n_shards=n_heads + 3,
        store_dir=str(tmp_path / "many"),
    )
    try:
        qid, q = _qlist(spark)[0]
        ids, d = agg.search_one(q, k=5, nprobe=2)
        assert ids[0] == qid and d[0] == 0.0
    finally:
        agg.close()


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip"])
def test_batch_search_vectorized_identical_to_serial(spark, built, metric):
    """The vectorized batch path (head-major slab sharing, tie-safe BLAS
    preselect, exact row-paired rescore) is row-identical — ids AND exact
    float dists — to the per-query search_one loop, under every metric,
    from nprobe=1 through exhaustive."""
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    for nprobe in (1, 6, 10**9):
        assert replica.batch_search(
            qs, k=10, nprobe=nprobe, metric=metric
        ) == _loop_rows(replica, qs, k=10, nprobe=nprobe, metric=metric)


def test_batch_search_ratio_cut_identical_to_serial(spark, built):
    """The vectorized limitDist guard (per-run min scatter + cut mask)
    reproduces search_one's ratio pruning exactly when it actually fires
    (tight ratio on l2 distances > 0.1)."""
    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    for ratio in (1.2, 1.5, 4.0):
        assert replica.batch_search(
            qs, k=10, nprobe=6, max_dist_ratio=ratio
        ) == _loop_rows(replica, qs, k=10, nprobe=6, max_dist_ratio=ratio)


def test_batch_search_chunking_preserves_identity(spark, built, monkeypatch):
    """Batches above _BATCH_QUERY_CHUNK are processed in sub-batches (the
    measured cache knee) — chunk boundaries must not change a single row
    or the output's query order."""
    import sptag_spark.serving_local as sl

    _, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    want = _loop_rows(replica, qs, k=10, nprobe=6)
    monkeypatch.setattr(sl, "_BATCH_QUERY_CHUNK", 7)
    assert replica.batch_search(qs, k=10, nprobe=6) == want
    assert replica.batch_search([], k=10) == []


def test_aggregator_batch_search_matches_loop(spark, built):
    """ShardedSpannAggregator.batch_search == a search_one loop over the
    same aggregator: identical ids, ranks, and exact distances (the merge
    is the same dedup + (dist, id) re-rank, batched)."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    qs = _qlist(spark)
    for metric in ("l2", "cosine"):
        got = agg.batch_search(qs, k=10, nprobe=4, metric=metric)
        assert got == _loop_rows(agg, qs, k=10, nprobe=4, metric=metric)
    assert agg.batch_search([], k=10) == []


def test_pq_replica_batch_identical_to_serial(spark, built, tmp_path):
    """LocalPqSpannReplica's vectorized batch path (shared routing, one
    batch LUT tensor, head-major code-slab gathers) is row-identical to
    the search_one loop — raw ADC and exact-refined regimes, with and
    without OPQ rotation (rotation is applied per query: dgemm ulps)."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        LocalPqSpannReplica,
        build_refine_store_parallel,
        open_refine_store,
    )

    v, heads, postings = built
    qs = _qlist(spark)
    for opq in (False, True):
        books = train_pq(v, m=8, opq_rotation=opq)
        codes = pq_encode(v, books)
        rep = LocalPqSpannReplica(heads, postings, codes, books)
        for nprobe in (2, 8):
            assert rep.batch_search(
                qs, k=10, nprobe=nprobe
            ) == _loop_rows(rep, qs, k=10, nprobe=nprobe)
    store = str(tmp_path / "refine")
    build_refine_store_parallel(v, store)
    rep = LocalPqSpannReplica(
        heads, postings, codes, books, refine_store=open_refine_store(store)
    )
    assert rep.batch_search(qs, k=10, nprobe=8) == _loop_rows(
        rep, qs, k=10, nprobe=8
    )
    assert rep.batch_search([], k=10) == []


def test_replica_serve_time_filters(spark, built):
    """Serve-time tombstone/predicate filters (the reference node checks
    its deleted set per candidate during search, §2.2 at the serving
    tier): excluded ids never appear, the top-k back-fills from
    survivors, and with nprobe = all heads the filtered answer equals
    exact filtered kNN computed independently."""
    v, heads, postings = built
    replica = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    n_heads = heads.count()
    rows = v.select("id", "vector").collect()
    all_ids = np.array(sorted(r["id"] for r in rows), dtype=np.int64)
    V = np.array(
        [r["vector"] for r in sorted(rows, key=lambda r: r["id"])],
        dtype=np.float64,
    )
    qid, q = qs[0]
    # tombstone the self-hit: it must vanish and k results remain
    dele = np.array([qid], dtype=np.int64)
    ids, d = replica.search_one(q, k=10, nprobe=6, deleted_ids=dele)
    assert qid not in ids and len(ids) == 10 and d[0] > 0.0
    # allowed-set: only members are returned
    allowed = all_ids[all_ids % 3 == 0]
    ids, d = replica.search_one(q, k=10, nprobe=6, allowed_ids=allowed)
    assert set(ids) <= set(allowed.tolist())
    # exhaustive probe == exact filtered kNN (independent numpy oracle)
    from sptag_spark.operators.knn import _exact_pair_dists

    mask = np.isin(all_ids, allowed)
    dd = _exact_pair_dists(V[mask], q, "l2")
    order = np.lexsort((all_ids[mask], dd))[:10]
    want_ids = all_ids[mask][order]
    ids, d = replica.search_one(
        q, k=10, nprobe=n_heads, allowed_ids=allowed
    )
    assert list(ids) == list(want_ids)
    # batch path (vectorized) == search_one loop under the same filters
    got = replica.batch_search(
        qs, k=10, nprobe=6, deleted_ids=dele, allowed_ids=allowed
    )
    want = _loop_rows(
        replica, qs, k=10, nprobe=6, deleted_ids=dele, allowed_ids=allowed
    )
    assert got == want
    # everything filtered away answers empty, not a crash
    assert replica.batch_search(
        qs[:2], k=10, nprobe=6, allowed_ids=np.array([], dtype=np.int64)
    ) == []


def test_pq_and_aggregator_serve_time_filters(spark, built):
    """The PQ replica and the sharded aggregator honor the same
    serve-time filters; batch paths stay identical to their loops."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        LocalPqSpannReplica,
        ShardedSpannAggregator,
    )

    v, heads, postings = built
    qs = _qlist(spark)
    qid, q = qs[0]
    dele = np.array([qid], dtype=np.int64)

    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    pq_rep = LocalPqSpannReplica(heads, postings, codes, books)
    ids, _ = pq_rep.search_one(q, k=10, nprobe=8, deleted_ids=dele)
    assert qid not in ids and len(ids) == 10
    assert pq_rep.batch_search(
        qs, k=10, nprobe=8, deleted_ids=dele
    ) == _loop_rows(pq_rep, qs, k=10, nprobe=8, deleted_ids=dele)

    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    ids, _ = agg.search_one(q, k=10, nprobe=4, deleted_ids=dele)
    assert qid not in ids and len(ids) == 10
    got = agg.batch_search(qs, k=10, nprobe=4, deleted_ids=dele)
    assert got == _loop_rows(agg, qs, k=10, nprobe=4, deleted_ids=dele)
    ids, d, partial = agg.search_with_deadline(
        q, k=10, nprobe=4, budget_ms=5000.0, deleted_ids=dele
    )
    assert qid not in ids and not partial


def test_center_routed_scatter(spark):
    """Center-routed scatter (AggregatorService.cpp:215-258 — [Service]
    TopK + Centers): each query goes to only the scatter_topk shards with
    the nearest center. On well-separated shard data, topk=1 routing
    still finds the self-hit; topk = n_shards equals broadcast exactly;
    routing applies to search_one, batch_search, and the deadline path."""
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import ShardedSpannAggregator

    # two well-separated clusters whose head-id ranges coincide with the
    # shard split (ids 0..39 near 0, ids 1000..1039 near 100)
    rows = [(i, [float(i % 40) / 40.0] * 6) for i in range(40)]
    rows += [(1000 + i, [100.0 + float(i % 40) / 40.0] * 6) for i in range(40)]
    vecs = spark.createDataFrame(rows, "id long, vector array<float>")
    heads = select_heads(vecs, ratio=0.2)
    postings = build_postings(vecs, heads)
    routed = ShardedSpannAggregator(heads, postings, n_shards=2, scatter_topk=1)
    bcast = ShardedSpannAggregator(heads, postings, n_shards=2)
    assert routed.centers.shape[0] == 2
    q_far = np.array([100.2] * 6)
    ids, d = routed.search_one(q_far, k=3, nprobe=4)
    assert all(int(i) >= 1000 for i in ids)  # answered by the far shard
    # topk >= n_shards falls back to broadcast — identical rows
    all_r = ShardedSpannAggregator(
        heads, postings, n_shards=2, scatter_topk=2
    )
    qs = [(0, np.array([0.3] * 6)), (1, q_far)]
    assert all_r.batch_search(qs, k=3, nprobe=4) == bcast.batch_search(
        qs, k=3, nprobe=4
    )
    # batch routing == a search_one loop on the routed aggregator
    got = routed.batch_search(qs, k=3, nprobe=4)
    assert got == _loop_rows(routed, qs, k=3, nprobe=4)
    ids, d, partial = routed.search_with_deadline(
        q_far, k=3, nprobe=4, budget_ms=5000.0
    )
    assert all(int(i) >= 1000 for i in ids) and not partial


def test_batch_filter_survives_slab_cap(spark):
    """r10 review: the per-slab top-(k+16) BLAS cap must rank FILTERED
    candidates — a selective allowed set whose survivors all rank beyond
    the slab's unfiltered top-26 used to be silently dropped by the batch
    path while search_one back-filled them."""
    heads = spark.createDataFrame(
        [(0, [0.0] * 4)], "head_id long, vector array<float>"
    )
    postings = spark.createDataFrame(
        [(0, i, [float(i)] * 4) for i in range(100)],
        "head_id long, id long, vector array<float>",
    )
    rep = DiskSpannReplica(heads, postings)
    q = np.zeros(4)
    # survivors are exactly the ids the unfiltered top-26 excludes
    allowed = np.arange(50, 100, dtype=np.int64)
    got = rep.batch_search([(7, q)], k=10, nprobe=1, allowed_ids=allowed)
    assert got == _loop_rows(rep, [(7, q)], k=10, nprobe=1, allowed_ids=allowed)
    assert [r[2] for r in got] == list(range(50, 60))
    # tombstones likewise filter before the cap
    dele = np.arange(0, 60, dtype=np.int64)
    got = rep.batch_search([(7, q)], k=10, nprobe=1, deleted_ids=dele)
    assert [r[2] for r in got] == list(range(60, 70))


def test_scatter_topk_nonpositive_broadcasts(spark, built):
    """r10 review: scatter_topk <= 0 (the Aggregator.ini TopK default -1)
    means BROADCAST, not a negative slice that silently drops the
    farthest shard."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    qs = _qlist(spark)[:4]
    bcast = ShardedSpannAggregator(heads, postings, n_shards=3)
    for tk in (-1, 0, None):
        agg = ShardedSpannAggregator(
            heads, postings, n_shards=3, scatter_topk=tk
        )
        assert agg.batch_search(qs, k=5, nprobe=4) == bcast.batch_search(
            qs, k=5, nprobe=4
        )


def test_kmeans_split_routes_at_topk1_on_clustered_data(spark):
    """split="kmeans" makes shards spatially coherent, so center routing
    reaches the reference's design point on clustered data: topk=1
    equals the broadcast answer, while the arbitrary range split (ids
    shuffled against clusters) loses recall at the same fan-out."""
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import ShardedSpannAggregator

    rng = np.random.default_rng(3)
    cents = rng.normal(scale=10.0, size=(4, 8))
    X = np.concatenate(
        [c + rng.normal(scale=0.5, size=(50, 8)) for c in cents]
    ).astype("float32")
    perm = rng.permutation(len(X))  # ids uncorrelated with clusters
    X = X[perm]
    vecs = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.15)
    postings = build_postings(vecs, heads)
    qs = [(int(i), X[i].astype(np.float64)) for i in range(0, 200, 25)]
    bcast = ShardedSpannAggregator(heads, postings, n_shards=4)
    want = bcast.batch_search(qs, k=5, nprobe=6)
    km = ShardedSpannAggregator(
        heads, postings, n_shards=4, scatter_topk=1, split="kmeans"
    )
    got = km.batch_search(qs, k=5, nprobe=6)
    # per-query result SETS match the broadcast answer at 1/4 fan-out
    def sets(rows):
        by = {}
        for qid, _, i, _ in rows:
            by.setdefault(qid, set()).add(i)
        return by

    assert sets(got) == sets(want)
    # every shard holds one spatial cluster => self-hit always routed home
    for qid, q in qs:
        ids, d = km.search_one(q, k=1, nprobe=6)
        assert int(ids[0]) == qid and d[0] == 0.0


def test_batch_deadline_partials(spark, built):
    """batch_search_with_deadline: a generous budget returns exactly
    batch_search's rows unflagged; a stalled shard is dropped from the
    merge and the answer flagged partial — the per-query deadline
    semantics, batched under one budget."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=3)
    qs = _qlist(spark)[:6]
    rows, partial = agg.batch_search_with_deadline(
        qs, k=5, nprobe=4, budget_ms=10_000.0
    )
    assert not partial
    assert rows == agg.batch_search(qs, k=5, nprobe=4)
    assert agg.batch_search_with_deadline([], k=5) == ([], False)

    class _Slow:
        def __init__(self, inner):
            self.inner = inner

        def batch_search(self, *a, **kw):
            import time as _t

            _t.sleep(5.0)
            return self.inner.batch_search(*a, **kw)

        def search_one(self, *a, **kw):
            return self.inner.search_one(*a, **kw)

    agg.replicas[1] = _Slow(agg.replicas[1])
    rows, partial = agg.batch_search_with_deadline(
        qs, k=5, nprobe=4, budget_ms=300.0
    )
    assert partial
    # surviving shards' merge is still rank-consistent per query
    by_q = {}
    for qid, rank, i, d in rows:
        by_q.setdefault(qid, []).append(rank)
    assert all(r == list(range(1, len(r) + 1)) for r in by_q.values())


def test_int8_value_type_store_row_identical_and_4x_smaller(spark, tmp_path):
    """Native value-type packed store (VERDICT r11 #1 — the reference's
    Dataset<T> stores D×sizeof(T) bytes, VectorSet.h:35; SPACEV1B is
    int8): an int8 corpus packs at 1 byte/component — exactly 4× less SSD
    and posting-read I/O — and every search path answers BIT-identically
    to the float32 store, because the score kernels promote gathered
    slabs to float64 either way. A value-type switch at the same path
    rebuilds via the fingerprint gate; a lossy cast is refused loudly."""
    import os

    from sptag_spark.serving_local import (
        DiskSpannReplica,
        build_packed_store_parallel,
    )

    rng = np.random.default_rng(5)
    X = rng.integers(-128, 128, size=(400, 16)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.1).persist()
    postings = build_postings(vecs, heads).persist()
    postings.count()
    f32 = DiskSpannReplica(heads, postings, str(tmp_path / "f32"))
    i8 = DiskSpannReplica(
        heads, postings, str(tmp_path / "i8"), value_type="int8"
    )
    assert i8.post_V.dtype == np.int8 and isinstance(i8.post_V, np.memmap)
    b_f32 = os.path.getsize(tmp_path / "f32" / "post_vectors.f32")
    b_i8 = os.path.getsize(tmp_path / "i8" / "post_vectors.i8")
    assert b_f32 == 4 * b_i8
    # the int8 file holds exactly the float32 file's components
    assert np.array_equal(
        np.fromfile(tmp_path / "i8" / "post_vectors.i8", dtype=np.int8),
        np.fromfile(tmp_path / "f32" / "post_vectors.f32", dtype=np.float32),
    )
    qs = [
        (j, X[j].astype(np.float64) + 0.25) for j in range(12)
    ]  # off-lattice queries: distances exercise real float arithmetic
    for metric in ("l2", "cosine", "ip"):
        assert f32.batch_search(qs, k=5, nprobe=4, metric=metric) == (
            i8.batch_search(qs, k=5, nprobe=4, metric=metric)
        )
    ri, rd = f32.search_one(qs[0][1], k=5, nprobe=4)
    di, dd = i8.search_one(qs[0][1], k=5, nprobe=4)
    assert ri.tolist() == di.tolist() and rd.tolist() == dd.tolist()
    # cold open (files only) keeps the declared type
    cold = DiskSpannReplica.from_store(str(tmp_path / "i8"))
    assert cold.post_V.dtype == np.int8
    assert cold.search_one(qs[0][1], k=5, nprobe=4)[0].tolist() == di.tolist()
    # switching value type at the SAME path must rebuild, not mis-read
    sw = DiskSpannReplica(heads, postings, str(tmp_path / "i8"))
    assert sw.post_V.dtype == np.float32
    # lossy cast refused: fractional components cannot be an int8 store
    frac = spark.createDataFrame(
        [(i, [float(v) + 0.5 for v in X[i]]) for i in range(40)],
        "id long, vector array<float>",
    )
    h2 = select_heads(frac, ratio=0.2).persist()
    p2 = build_postings(frac, h2).persist()
    p2.count()
    # the cast check runs in the executor-side fragment writer, so the
    # ValueError reaches the driver wrapped in Spark's PythonException
    with pytest.raises(Exception, match="ValueError: .*LOSSY"):
        build_packed_store_parallel(
            h2, p2, str(tmp_path / "lossy"), value_type="int8"
        )
    assert not os.path.exists(tmp_path / "lossy" / "_fragments")
    heads.unpersist()
    postings.unpersist()
    h2.unpersist()
    p2.unpersist()


def _dir_digest(d):
    """sha256 over a store dir's file names and bytes."""
    import hashlib
    import os

    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    return h.hexdigest()


def test_split_shard_rebalances_only_target(spark, built, tmp_path):
    """split_shard (r12): splitting one shard leaves every other shard's
    replica object AND disk-store bytes untouched, the split shard's rows
    partition exactly across its two halves, routing centers update, and
    search answers stay consistent (recall no worse vs the pre-split
    aggregator on self-queries)."""
    import os

    from sptag_spark.serving_local import ShardedSpannAggregator

    v, heads, postings = built
    store = str(tmp_path / "stores")
    agg = ShardedSpannAggregator(
        heads, postings, n_shards=3, store_dir=store, split="kmeans"
    )
    rows_before = agg.shard_posting_rows()
    j = int(np.argmax(rows_before))
    others = [i for i in range(3) if i != j]
    other_reps = [agg.replicas[i] for i in others]
    other_digests = {
        i: _dir_digest(os.path.join(store, f"shard_{i}")) for i in others
    }
    qs = _qlist(spark)
    base = agg.batch_search(qs, k=5, nprobe=8)
    rep = agg.split_shard(j, heads, postings, store_dir=store)
    assert rep["n_shards"] == 4 and len(agg.replicas) == 4
    assert sum(rep["rows_after"]) == rows_before[j]  # rows move, exactly
    assert agg.centers.shape[0] == 4
    # untouched shards: same OBJECTS, same store bytes
    for i, r in zip(others, other_reps):
        assert any(r is x for x in agg.replicas)
        assert (
            _dir_digest(os.path.join(store, f"shard_{i}")) == other_digests[i]
        )
    # the two new stores exist and carry exactly the split shard's rows
    assert all(os.path.isdir(d) for d in rep["store_dirs"])
    # answers still correct: exhaustive-probe results identical pre/post
    # (same head universe, only the shard boundary moved)
    post = agg.batch_search(qs, k=5, nprobe=64)
    base_ex = ShardedSpannAggregator(
        heads, postings, n_shards=3, store_dir=str(tmp_path / "s2"),
        split="kmeans",
    ).batch_search(qs, k=5, nprobe=64)
    assert sorted(post) == sorted(base_ex)
    del base


def test_split_shard_private_store_goes_with_old_replica(spark, built):
    """Without a store_dir every shard packs a private store; after
    split_shard the replaced shard's store dir is removed once its old
    replica is collected, and the two new shards own stores of their
    own."""
    import gc
    import os

    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=2)
    old = agg.replicas[0]
    d = old.store_dir
    assert os.path.exists(os.path.join(d, "meta.json"))
    rep = agg.split_shard(0, heads, postings)
    assert d not in rep["store_dirs"]
    assert all(os.path.isdir(x) for x in rep["store_dirs"])
    del old
    gc.collect()
    assert not os.path.exists(d)


def test_split_shard_twice_at_same_position_keeps_stores(
    spark, built, tmp_path
):
    """Two splits at the same position under one store_dir: each half
    is named after the split shard's own store, so no live shard's dir
    is reused, and every shard the second split leaves alone keeps its
    store bytes."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    root = str(tmp_path / "stores")
    agg = ShardedSpannAggregator(heads, postings, n_shards=2, store_dir=root)
    agg.split_shard(0, heads, postings, store_dir=root)
    untouched = agg.replicas[1:]
    before = {r.store_dir: _dir_digest(r.store_dir) for r in untouched}
    agg.split_shard(0, heads, postings, store_dir=root)
    dirs = [r.store_dir for r in agg.replicas]
    assert len(agg.replicas) == 4 and len(set(dirs)) == 4
    for r in untouched:
        assert any(r is x for x in agg.replicas)
        assert _dir_digest(r.store_dir) == before[r.store_dir]


def test_int8_refine_store_exact_rerank_identical(spark, tmp_path):
    """Native value-type REFINE store (r12, companion to the packed-store
    int8 mode): the PQ+refine replica reranks from 1-byte components at
    bit-identical results — the rerank kernel promotes gathered rows to
    float64 either way — at exactly 4x less store bytes."""
    import os

    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        LocalPqSpannReplica,
        build_refine_store_parallel,
        open_refine_store,
    )

    rng = np.random.default_rng(9)
    X = rng.integers(-128, 128, size=(300, 16)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.1).persist()
    postings = build_postings(vecs, heads).persist()
    postings.count()
    books = train_pq(vecs, m=8)
    codes = pq_encode(vecs, books)
    stores = {}
    for vt in ("float32", "int8"):
        d = str(tmp_path / vt)
        build_refine_store_parallel(vecs, d, value_type=vt)
        stores[vt] = open_refine_store(d)
    assert stores["int8"][1].dtype == np.int8
    b_f32 = os.path.getsize(tmp_path / "float32" / "vectors.f32")
    b_i8 = os.path.getsize(tmp_path / "int8" / "vectors.i8")
    assert b_f32 == 4 * b_i8
    # lossy cast refused: fractional components cannot be an int8 store,
    # and the failed build leaves no fragments behind
    frac = spark.createDataFrame(
        [(i, [float(v) + 0.5 for v in X[i]]) for i in range(40)],
        "id long, vector array<float>",
    )
    with pytest.raises(Exception, match="LOSSY"):
        build_refine_store_parallel(
            frac, str(tmp_path / "lossy"), value_type="int8"
        )
    assert not os.path.exists(tmp_path / "lossy" / "_fragments")
    reps = {
        vt: LocalPqSpannReplica(
            heads, postings, codes, books, refine_store=stores[vt]
        )
        for vt in stores
    }
    q = X[3].astype(np.float64) + 0.25
    a = reps["float32"].search_one(q, k=5, nprobe=4)
    b = reps["int8"].search_one(q, k=5, nprobe=4)
    assert a[0].tolist() == b[0].tolist()
    assert a[1].tolist() == b[1].tolist()  # bitwise: exact rerank values
    heads.unpersist()
    postings.unpersist()

def test_torn_patch_detected_and_recovered(spark, tmp_path):
    """Crash-safe store patch (r12 ADVICE): the patched sidecar set is
    one atomically-replaced npz whose epoch meta.json must match. A
    simulated crash between the two replaces (meta rolled back) makes
    from_store REFUSE with a clear error instead of serving extents past
    meta's rows; re-supplying Spark artifacts rebuilds cleanly."""
    import json
    import os
    import shutil

    from sptag_spark.serving_local import (
        DiskSpannReplica,
        patch_packed_store,
    )
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    rng = np.random.default_rng(11)
    X = rng.normal(size=(200, 8)).astype(np.float32)
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id long, vector array<float>",
    )
    heads = select_heads(vecs, ratio=0.1).persist()
    postings = build_postings(vecs, heads).persist()
    postings.count()
    store = str(tmp_path / "store")
    DiskSpannReplica(heads, postings, store)
    meta_p = os.path.join(store, "meta.json")
    with open(meta_p) as f:
        meta_before = json.load(f)
    # a real patch: one touched head
    h0 = int(heads.select("head_id").orderBy("head_id").first()[0])
    patch_packed_store(store, heads, postings, [h0])
    assert os.path.exists(os.path.join(store, "patch_sidecars.npz"))
    DiskSpannReplica.from_store(store)  # healthy patched store serves
    # simulate the crash window: sidecars landed, meta rollback
    with open(meta_p, "w") as f:
        json.dump(meta_before, f)
    with pytest.raises(RuntimeError, match="torn patch"):
        DiskSpannReplica.from_store(store)
    # and patching further on a torn store is refused too
    with pytest.raises(RuntimeError, match="torn patch"):
        patch_packed_store(store, heads, postings, [h0])
    # artifacts supplied -> the gate rebuilds instead of raising
    rep = DiskSpannReplica(heads, postings, store)
    assert not os.path.exists(os.path.join(store, "patch_sidecars.npz"))
    q = X[0].astype(np.float64)
    ids, _ = rep.search_one(q, k=3, nprobe=4)
    assert len(ids) == 3
    heads.unpersist()
    postings.unpersist()


def test_ship_arrays_content_cache_and_reclaim(spark, monkeypatch):
    """r12 ADVICE: _ship_arrays staged a fresh mkdtemp of multi-GB .npy
    copies per large build and never removed them. Same payload now
    reuses the staged files (content-keyed); each staging dir is removed
    with the SparkContext that registered its files."""
    import gc
    import os
    import types

    from sptag_spark.index import postings as P

    monkeypatch.setattr(P, "_BC_MMAP_MIN_BYTES", 0)
    # isolate this test's staging from any session-level state
    monkeypatch.setattr(P, "_SHIPPED_CACHE", {})
    arrays = {
        "H": np.arange(4000, dtype=np.float64).reshape(100, 40),
        "ids": np.arange(100, dtype=np.int64),
        "none": None,
    }
    b1 = P._ship_arrays(spark, dict(arrays))
    assert len(P._SHIPPED_CACHE) == 1
    b2 = P._ship_arrays(spark, dict(arrays))
    assert len(P._SHIPPED_CACHE) == 1  # reused, not re-staged
    assert b1.value["__files__"] == b2.value["__files__"]
    # different content stages anew
    arrays2 = dict(arrays, H=arrays["H"] + 1.0)
    b3 = P._ship_arrays(spark, arrays2)
    assert len(P._SHIPPED_CACHE) == 2
    assert b3.value["__files__"] != b1.value["__files__"]
    # worker-side decode still round-trips
    loaded = P._load_arrays(b1.value)
    assert np.array_equal(np.asarray(loaded["H"]), arrays["H"])
    assert loaded["none"] is None

    # reclaim, shown on a stand-in context: the session's staged files
    # must outlive this test (tasks re-fetch every registered file, and
    # deleting one fails all later tasks), so their dirs go only with
    # the session's own SparkContext.
    class _Context:
        applicationId = "stand-in"

        def __init__(self):
            self.files = []

        def addFile(self, path):
            self.files.append(path)

        def broadcast(self, value):
            return types.SimpleNamespace(value=value)

    ctx = _Context()
    P._ship_arrays(types.SimpleNamespace(sparkContext=ctx), dict(arrays))
    staged = os.path.dirname(ctx.files[0])
    assert os.path.isdir(staged)
    del ctx
    gc.collect()
    assert not os.path.exists(staged)


def test_io_counters_match_routing(spark, built):
    """Per-query IO witnesses (r12 ask #2, reference table shape
    SSDIndex.h:288-345): search_one's counters equal the routed slabs'
    sizes, and batch_search's per-query table is bitwise the search_one
    loop — including through the chunk recursion."""
    from sptag_spark import serving_local as SL

    _, heads, postings = built
    rep = DiskSpannReplica(heads, postings)
    qs = _qlist(spark)
    want_lists, want_rows = [], []
    for _, qv in qs:
        rep.search_one(qv, k=10, nprobe=6)
        want_lists.append(rep.last_io_postings)
        want_rows.append(rep.last_io_rows)
    assert all(x > 0 for x in want_lists)
    # rows_scanned = sum of routed slab lengths (pre-dedup gather size)
    hd = SL._exact_pair_dists(rep.H, qs[0][1], "l2")
    sel = np.lexsort((rep.head_ids, hd))[:6]
    cut = hd[sel].min() * SL.MAX_DIST_RATIO
    if cut > 0.1:
        sel = sel[hd[sel] <= cut]
    rep.search_one(qs[0][1], k=10, nprobe=6)
    assert rep.last_io_postings == len(sel)
    assert rep.last_io_rows == int(rep.slab_len[sel].sum())
    rep.batch_search(qs, k=10, nprobe=6)
    io = rep.last_batch_io
    assert io["postings_read"].tolist() == want_lists
    assert io["rows_scanned"].tolist() == want_rows
    # chunked path stitches per-chunk tables back to batch order
    import sptag_spark.serving_local as sl_mod

    old_chunk = sl_mod._BATCH_QUERY_CHUNK
    sl_mod._BATCH_QUERY_CHUNK = max(2, len(qs) // 3)
    try:
        rep.batch_search(qs, k=10, nprobe=6)
        io2 = rep.last_batch_io
    finally:
        sl_mod._BATCH_QUERY_CHUNK = old_chunk
    assert io2["postings_read"].tolist() == want_lists
    assert io2["rows_scanned"].tolist() == want_rows


def test_shard_latency_tracker_trigger():
    """r12 VERDICT #4: the rebalance trigger reads OBSERVED per-shard
    latency (rolling p99 + deadline-miss attribution), not row counts —
    hot_shard() fires on the slow-and-hot shard, never off noise, and
    split_at() splices the window like split_shard splices replicas."""
    import numpy as np

    from sptag_spark.serving_local import ShardLatencyTracker

    t = ShardLatencyTracker(4, window=64)
    rng = np.random.default_rng(5)
    for _ in range(100):
        for j in range(4):
            base = 10.0 if j == 2 else 1.0
            t.record(j, base + rng.uniform(0, 0.1), budget_ms=5.0)
    st = t.stats()
    assert st[2]["miss_rate"] == 1.0
    assert st[0]["deadline_misses"] == 0
    assert t.hot_shard() == 2
    # a trigger must never fire off noise: <2 sampled shards -> None
    t2 = ShardLatencyTracker(4)
    t2.record(0, 50.0)
    assert t2.hot_shard() is None
    t.split_at(2)
    assert len(t.lat) == 5
    assert t.calls[2] == t.calls[3] == 0
    # the halves start clean; remaining sampled shards are homogeneous
    assert t.hot_shard() is None


def test_aggregator_tracker_records(spark, built):
    """Both scatter paths feed the tracker: the serial search_one loop
    and the threaded deadline path (worker-thread recording)."""
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    agg = ShardedSpannAggregator(heads, postings, n_shards=2)
    qs = _qlist(spark)
    for _, qv in qs[:8]:
        agg.search_one(qv, k=5, nprobe=4)
    assert sum(s["n"] for s in agg.tracker.stats()) == 16  # 2 shards x 8
    agg.search_with_deadline(qs[0][1], k=5, nprobe=4, budget_ms=2000.0)
    import time

    time.sleep(0.05)  # worker-thread recorders
    assert sum(s["n"] for s in agg.tracker.stats()) >= 17


@pytest.mark.parametrize("tier", ["in_process", "remote"])
def test_aggregator_tracker_covers_both_tiers(spark, built, tier):
    """Per-shard latency on both aggregator tiers: N single-query calls
    record N samples on each routed shard, a deadline call charges a
    slowed shard with a miss, and batch calls record nothing (their
    latencies would skew the single-query percentiles hot_shard reads)."""
    from sptag_spark.server import AnnTcpServer, RemoteReplicaAggregator
    from sptag_spark.serving_local import ShardedSpannAggregator

    _, heads, postings = built
    local = ShardedSpannAggregator(heads, postings, n_shards=2)
    srvs = []
    if tier == "remote":
        srvs = [
            AnnTcpServer(rep, k=5, nprobe=4).start() for rep in local.replicas
        ]
        agg = RemoteReplicaAggregator([s.address for s in srvs])
    else:
        agg = local
    qs = _qlist(spark)[:6]
    n = len(qs)
    try:
        for _, qv in qs:
            agg.search_one(qv, k=5, nprobe=4)
        assert [s["n"] for s in agg.tracker.stats()] == [n, n]
        agg.batch_search(qs, k=5, nprobe=4)
        agg.batch_search_with_deadline(qs, k=5, nprobe=4, budget_ms=30_000)
        assert [s["n"] for s in agg.tracker.stats()] == [n, n]

        # the answering replica object is the same in both tiers (the
        # remote tier reaches it through its serve loop)
        slow = local.replicas[1]
        real = slow.search_one

        def lagged(*a, **kw):
            time.sleep(1.0)
            return real(*a, **kw)

        slow.search_one = lagged
        try:
            _, _, partial = agg.search_with_deadline(
                qs[0][1], k=5, nprobe=4, budget_ms=250.0
            )
            assert partial
            give_up = time.time() + 10
            while (
                agg.tracker.stats()[1]["n"] == n and time.time() < give_up
            ):
                time.sleep(0.05)  # the straggler records when it finishes
        finally:
            slow.search_one = real
        st = agg.tracker.stats()
        assert [s["n"] for s in st] == [n + 1, n + 1]
        assert [s["deadline_misses"] for s in st] == [0, 1]
    finally:
        agg.close()
        for s in srvs:
            s.stop()


def test_remote_tier_refuses_serve_time_filters(spark, built):
    """The wire format carries no id filter, so a remote shard refuses
    deleted_ids/allowed_ids instead of answering unfiltered. Through the
    network aggregator the refusal reaches the caller on the plain paths;
    on a deadline path it is a failed shard like any other (empty answer,
    flagged partial)."""
    from sptag_spark.server import (
        AnnTcpServer,
        RemoteReplicaAggregator,
        RemoteShard,
    )

    _, heads, postings = built
    rep = DiskSpannReplica(heads, postings)
    qid, q = _qlist(spark)[0]
    ids, _ = rep.search_one(q, k=5, nprobe=4)
    srv = AnnTcpServer(rep, k=5, nprobe=4).start()
    shard = RemoteShard(*srv.address)
    agg = RemoteReplicaAggregator([srv.address])
    try:
        for target in (shard, agg):
            with pytest.raises(ValueError, match="id filter"):
                target.search_one(q, k=5, deleted_ids=ids[:1])
            with pytest.raises(ValueError, match="id filter"):
                target.batch_search([(qid, q)], k=5, allowed_ids=ids)
        _, _, partial = agg.search_with_deadline(
            q, k=5, deleted_ids=ids[:1], budget_ms=30_000
        )
        assert partial
        assert agg.batch_search_with_deadline(
            [(qid, q)], k=5, allowed_ids=ids, budget_ms=30_000
        ) == ([], True)
        # unfiltered calls still answer, on the same connections
        assert shard.search_one(q, k=5)[0].tolist() == ids.tolist()
        assert agg.search_one(q, k=5)[0].tolist() == ids.tolist()
    finally:
        agg.close()
        shard.close()
        srv.stop()


def test_store_format_refused_on_mismatch(spark, built, tmp_path):
    """Packed stores carry meta ``"format": 1``. A meta without the field
    predates versioning and reads as 1 (a patch stamps it); any other
    value is refused by from_store and by patch_packed_store, which then
    write nothing."""
    import json
    import os

    from sptag_spark.errors import StoreFormatError
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        build_packed_store_parallel,
        patch_packed_store,
    )

    _, heads, postings = built
    store = str(tmp_path / "store")
    build_packed_store_parallel(heads, postings, store)
    meta_p = os.path.join(store, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    assert meta.pop("format") == 1
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    DiskSpannReplica.from_store(store)
    fp = {k: meta[k] for k in ("post_rows", "post_id_sum", "post_vec_crc")}
    patch_packed_store(store, heads, postings, [], fingerprint=fp)
    with open(meta_p) as f:
        assert json.load(f)["format"] == 1
    with open(meta_p, "w") as f:
        json.dump({**meta, "format": 2}, f)
    with pytest.raises(StoreFormatError, match="format 2"):
        DiskSpannReplica.from_store(store)
    with pytest.raises(StoreFormatError):
        patch_packed_store(store, heads, postings, [], fingerprint=fp)
    with open(meta_p) as f:
        assert json.load(f)["format"] == 2


def test_refine_store_format_refused_on_mismatch(spark, tmp_path):
    """Refine stores carry meta ``"format": 1`` as packed stores do. A
    meta without the field reads as 1; any other value is refused by
    open_refine_store and by refine_store_matches."""
    import json
    import os

    from sptag_spark.errors import StoreFormatError
    from sptag_spark.serving_local import (
        build_refine_store_parallel,
        open_refine_store,
        refine_fingerprint,
        refine_store_matches,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "id long, vector array<float>"
    )
    store = str(tmp_path / "rf")
    build_refine_store_parallel(vecs, store, n_fragments=2)
    fp = refine_fingerprint(vecs)
    meta_p = os.path.join(store, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    assert meta.pop("format") == 1
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    assert refine_store_matches(store, fp)
    assert open_refine_store(store)[0].tolist() == list(range(6))
    with open(meta_p, "w") as f:
        json.dump({**meta, "format": 2}, f)
    with pytest.raises(StoreFormatError, match="format 2"):
        open_refine_store(store)
    with pytest.raises(StoreFormatError):
        refine_store_matches(store, fp)


@pytest.fixture(scope="module")
def replica_kinds(spark, built, tmp_path_factory):
    """Every replica kind over the module's index and over the same index
    with an empty head table, built once for the degenerate-input cases:
    kind -> (replica, replica over no heads)."""
    from sptag_spark.index.pq import pq_encode, train_pq
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        LocalPqSpannReplica,
        build_packed_store_parallel,
        build_refine_store_parallel,
        open_refine_store,
    )

    v, heads, postings = built
    books = train_pq(v, m=8)
    codes = pq_encode(v, books)
    root = tmp_path_factory.mktemp("kinds")
    build_refine_store_parallel(v, str(root / "refine"))
    refine = open_refine_store(str(root / "refine"))
    out = {}
    for empty in (False, True):
        h, p = (heads.limit(0), postings.limit(0)) if empty else (heads, postings)
        store = str(root / f"store_{empty}")
        build_packed_store_parallel(h, p, store)
        out.setdefault("frame_built", []).append(DiskSpannReplica(h, p))
        out.setdefault("store_opened", []).append(
            DiskSpannReplica.from_store(store)
        )
        out.setdefault("pq", []).append(LocalPqSpannReplica(h, p, codes, books))
        out.setdefault("pq_refine", []).append(
            LocalPqSpannReplica(h, p, codes, books, refine_store=refine)
        )
    return out


@pytest.mark.parametrize(
    "case", ["empty_heads", "k_over_live", "allowed_empty", "all_tombstoned"]
)
@pytest.mark.parametrize(
    "kind", ["frame_built", "store_opened", "pq", "pq_refine"]
)
def test_replica_degenerate_inputs(spark, built, replica_kinds, kind, case):
    """Degenerate inputs answer empty or short, in (dist, id) order, and
    raise nothing — through search_one and batch_search alike."""
    v, _, _ = built
    all_ids = np.array(
        sorted(r["id"] for r in v.select("id").collect()), dtype=np.int64
    )
    rep, no_heads = replica_kinds[kind]
    kw = {"k": 10, "nprobe": 10**9}
    want = 0
    if case == "empty_heads":
        rep = no_heads
    elif case == "k_over_live":
        kw["k"], want = len(all_ids) + 5, len(all_ids)
    elif case == "allowed_empty":
        kw["allowed_ids"] = np.empty(0, dtype=np.int64)
    else:
        kw["deleted_ids"] = all_ids
    qs = _qlist(spark)[:3]
    rows = rep.batch_search(qs, **kw)
    assert rows == _loop_rows(rep, qs, **kw)
    for qid, _ in qs:
        got = [(d, i, r) for q, r, i, d in rows if q == qid]
        assert len(got) == want
        assert [r for _, _, r in got] == list(range(1, want + 1))
        assert [(d, i) for d, i, _ in got] == sorted((d, i) for d, i, _ in got)


def test_frame_built_replica_store_removed_with_replica(spark):
    """A replica built from frames packs a private store; the store's
    directory goes when the replica is collected."""
    import gc
    import os

    heads = spark.createDataFrame(
        [(0, [0.0] * 4)], "head_id long, vector array<float>"
    )
    postings = spark.createDataFrame(
        [(0, i, [float(i)] * 4) for i in range(5)],
        "head_id long, id long, vector array<float>",
    )
    rep = DiskSpannReplica(heads, postings)
    store = os.path.dirname(rep.post_V.filename)
    assert os.path.exists(os.path.join(store, "meta.json"))
    assert rep.search_one(np.zeros(4), k=2, nprobe=1)[0].tolist() == [0, 1]
    del rep
    gc.collect()
    assert not os.path.exists(store)
