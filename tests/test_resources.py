"""Persisted-artifact lifecycle: index builds must not leak executor
storage across a build → search → close cycle (VERDICT r5 task 5). The
gauge is SparkContext.getPersistentRDDs — a cached DataFrame registers its
RDD there once materialized and leaves on unpersist. Assertions diff
RDD-ID SETS, not counts: on the shared test session the async
ContextCleaner may reap earlier tests' unreferenced cache entries at any
moment, so only 'none of the ids THIS test pinned survive release' is
race-free."""

from __future__ import annotations

import numpy as np

from sptag_spark.resources import persisted_rdd_ids, release


def _vectors_df(spark, n=240, dim=4, seed=7):
    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "id long, vector array<float>",
    )


def test_hier_kmeans_release_unpins_coarse(spark):
    """balanced_kmeans_hier persists its coarse assignment for the returned
    plan's lifetime; release(result) must drop it back out of storage."""
    from sptag_spark.index.balanced import balanced_kmeans_hier

    before = persisted_rdd_ids(spark)
    out = balanced_kmeans_hier(_vectors_df(spark), k=8, n_iter=2, flat_max_k=4)
    rows = out.collect()
    assert len(rows) == 240
    assert len({r["cluster"] for r in rows}) == 8
    pinned = persisted_rdd_ids(spark) - before
    assert pinned  # coarse is in storage
    release(out)
    assert not (persisted_rdd_ids(spark) & pinned)
    # idempotent, and the plan stays executable (recomputes from lineage)
    release(out)
    assert len(out.collect()) == 240


def test_spark_ann_index_close_releases_artifacts(spark):
    """SparkAnnIndex.build_ann pins live/heads/postings; close() must
    release all three, and a REBUILD must not leak the stale trio."""
    from sptag_spark.api import SparkAnnIndex

    rng = np.random.default_rng(3)
    V = rng.normal(size=(120, 4)).astype(np.float32)
    before = persisted_rdd_ids(spark)
    idx = SparkAnnIndex.build(spark, V)
    res = idx.batch_search(V[:3], k=3, with_meta=False, ann=True).collect()
    assert {r["query_id"] for r in res} == {0, 1, 2}
    pinned = persisted_rdd_ids(spark) - before
    assert pinned
    # mutate → rebuild: the stale structure must be released, not leaked
    idx.add(rng.normal(size=(10, 4)).astype(np.float32))
    idx.batch_search(V[:1], k=3, with_meta=False, ann=True).collect()
    pinned |= persisted_rdd_ids(spark) - before
    idx.close()
    assert not (persisted_rdd_ids(spark) & pinned)
    # index remains usable after close — next ann search rebuilds
    res2 = idx.batch_search(V[:1], k=3, with_meta=False, ann=True).collect()
    assert res2
    pinned2 = persisted_rdd_ids(spark) - before
    idx.close()
    assert not (persisted_rdd_ids(spark) & pinned2)


def test_spann_live_index_rebuild_and_close_release(spark):
    """SpannLiveIndex must release the OLD structure's frames on the
    rebuild swap (base, heads, postings, per-batch deltas) and everything
    on close() — a serving driver rebuilds for the process lifetime."""
    from sptag_spark.streaming.spfresh import SpannLiveIndex

    before = persisted_rdd_ids(spark)
    idx = SpannLiveIndex(
        _vectors_df(spark, n=120), ratio=0.1, rebuild_threshold=50
    )
    idx.search(
        spark.createDataFrame(
            [(0, [0.0] * 4)], "query_id long, vector array<float>"
        ),
        k=3,
    ).collect()
    pinned0 = persisted_rdd_ids(spark) - before
    assert pinned0
    # two adds cross the threshold → rebuild fires inside add_batch
    idx.add_batch(_vectors_df(spark, n=30, seed=11))
    idx.add_batch(_vectors_df(spark, n=30, seed=12))
    assert idx.builds == 1
    after_rebuild = persisted_rdd_ids(spark)
    # the new structure is pinned, but nothing from BEFORE the rebuild is
    assert after_rebuild - before
    assert not (after_rebuild & pinned0)
    idx.close()
    assert not (persisted_rdd_ids(spark) - before)


def test_carry_artifacts_and_partial_release(spark):
    """Transformations drop the artifact attribute (it's a Python attr on
    the object), so builders must carry_artifacts onto derived frames;
    release(include_self=False) then drops only the build-time frames,
    keeping the owner's own cache."""
    from sptag_spark.resources import (
        attach_artifacts,
        carry_artifacts,
        release,
    )

    before = persisted_rdd_ids(spark)
    pinned = _vectors_df(spark, n=12).persist()
    pinned.count()
    new_ids = persisted_rdd_ids(spark) - before
    assert new_ids
    src = attach_artifacts(_vectors_df(spark, n=6), [pinned])
    derived = src.selectExpr("id")  # attribute lost here...
    assert not getattr(derived, "_sptag_artifacts", [])
    derived = carry_artifacts(derived, src)  # ...and re-attached here
    derived = derived.persist()
    derived.count()
    release(derived, include_self=False)  # drops pinned, keeps derived
    remaining = persisted_rdd_ids(spark) - before
    assert not (remaining & new_ids)  # build-time frame gone
    assert remaining  # the owner's own cache survived
    derived.unpersist()


def test_corpus_stream_pins_release(spark):
    """The corpus-sized stream pins (span stream in duplicate_spans, token
    stream in unigram_logprob, shingle side table in minhash → clusters)
    attach to their results and leave storage on release — the harnesses
    (bench.py / selfcheck) call release(df, include_self=False) per run so
    repeated runs do not accumulate cached copies."""
    from sptag_spark.operators.dedup import duplicate_spans
    from sptag_spark.operators.textops import unigram_logprob

    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 3) + f"tail{i % 4}")
         for i in range(60)],
        "doc_id long, text string",
    )
    for op in (lambda: duplicate_spans(docs, 5), lambda: unigram_logprob(docs)):
        before = persisted_rdd_ids(spark)
        out = op()
        # collect(), not count(): count() over the final left join is
        # optimized down to the left side alone (unique right keys), so the
        # cached stream branches would never materialize
        assert len(out.collect()) > 0
        assert persisted_rdd_ids(spark) - before  # stream pin is in storage
        arts = list(getattr(out, "_sptag_artifacts", []))
        assert arts
        release(out, include_self=False)
        # the artifact itself is what must leave storage (global id-set
        # diffs are racy on the shared session — other frames materialize
        # and get cleaner-reaped between snapshots)
        assert all(not a.is_cached for a in arts)
        assert not getattr(out, "_sptag_artifacts", [])


def test_persist_sized_keeps_build_artifacts(spark):
    """persist_sized re-lays a cache out at the right-sized width. The
    resized frame is a new object, so it must carry the attached build
    artifacts over, or the owner's release(frame, include_self=False)
    frees nothing (the IVF build's intermediates stayed pinned)."""
    from sptag_spark.partitioning import persist_sized
    from sptag_spark.resources import attach_artifacts

    before = persisted_rdd_ids(spark)
    inter = _vectors_df(spark, n=12).persist()
    inter.count()
    pinned = persisted_rdd_ids(spark) - before
    assert pinned
    # one partition for 600 rows is below the right-sized width, so the
    # cache is re-laid out into a new frame
    df = attach_artifacts(_vectors_df(spark, n=600).repartition(1), [inter])
    sized, n = persist_sized(df)
    assert n == 600 and sized is not df
    release(sized, include_self=False)
    assert not (persisted_rdd_ids(spark) & pinned)
    assert sized.is_cached  # the owner's own cache survives
    release(sized)
