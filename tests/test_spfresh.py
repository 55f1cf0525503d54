"""SPFresh-style incremental maintenance: streamed vectors must be
searchable mid-stream (no rebuild), deletes must disappear, and the
rebuild threshold must trigger an atomic head/posting swap
(reference: BKTIndex.cpp:901-970 rebuild-after-adds discipline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sptag_spark.streaming.spfresh import SpannLiveIndex
from sptag_spark.tables import vectors_table


@pytest.fixture()
def split_vectors(spark, sf_dir):
    v = vectors_table(spark, sf_dir).select("id", "vector").cache()
    base = v.filter(F.col("id") % 2 == 0).cache()
    held_out = v.filter(F.col("id") % 2 == 1).cache()
    return base, held_out


def _self_query(df, n=5):
    rows = df.limit(n).collect()
    return df.sparkSession.createDataFrame(
        [(r["id"], list(map(float, r["vector"]))) for r in rows],
        "query_id long, vector array<float>",
    )


def test_mid_stream_add_is_searchable(split_vectors):
    base, held_out = split_vectors
    idx = SpannLiveIndex(base, rebuild_threshold=10**9)
    q = _self_query(held_out)
    # before the add: the held-out vectors cannot be rank-1 self-hits
    before = idx.search(q, k=3).filter(
        (F.col("rank") == 1) & (F.col("id") == F.col("query_id"))
    )
    assert before.count() == 0
    idx.add_batch(held_out)
    assert idx.builds == 0  # visible WITHOUT a rebuild
    after = idx.search(q, k=3).filter(
        (F.col("rank") == 1)
        & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    )
    assert after.count() == q.count()


def test_mid_stream_delete_disappears(split_vectors):
    base, held_out = split_vectors
    idx = SpannLiveIndex(base, rebuild_threshold=10**9)
    idx.add_batch(held_out)
    victim = held_out.limit(1)
    vid = victim.first()["id"]
    idx.delete_ids(victim.select("id"))
    q = _self_query(victim, 1)
    got = idx.search(q, k=3).filter(F.col("id") == vid)
    assert got.count() == 0


def test_rebuild_threshold_swaps_index(split_vectors):
    base, held_out = split_vectors
    n_held = held_out.count()
    idx = SpannLiveIndex(base, rebuild_threshold=n_held)
    old_heads = idx.heads
    idx.add_batch(held_out)  # crosses the threshold → rebuild fires
    assert idx.builds == 1
    assert idx.adds_since_build == 0
    assert idx.heads is not old_heads  # atomic swap happened
    # post-rebuild: everything (base + streamed) still searchable
    q = _self_query(held_out)
    hits = idx.search(q, k=3).filter(
        (F.col("rank") == 1) & (F.col("id") == F.col("query_id"))
    )
    assert hits.count() == q.count()


def test_concurrent_add_delete_search(split_vectors):
    """Parity with `Test/src/ConcurrentTest.cpp:40-133` (ConcurrentAddSearchSave):
    an add thread, a delete thread and a search thread race against ONE live
    index. The snapshot contract under test: a search never sees a torn
    index (stable base vectors are rank-1 self-hits in EVERY search, no
    matter how the swaps interleave), and a search STARTED after add_batch
    returned sees that batch's vectors. Spark local mode schedules jobs
    from concurrent driver threads, so the searches genuinely overlap the
    maintenance work."""
    import threading
    import time

    base, held_out = split_vectors
    spark = base.sparkSession
    idx = SpannLiveIndex(base, rebuild_threshold=10**9)
    stable_q = _self_query(base, 3)
    held_rows = held_out.limit(40).collect()
    batches = [held_rows[i * 10 : (i + 1) * 10] for i in range(4)]

    errors: list = []
    added: list = []  # one entry (the batch's ids) per COMPLETED add_batch
    deleted: list = []
    n_searches = [0]
    done = threading.Event()

    def adder():
        try:
            for rows in batches:
                b = spark.createDataFrame(
                    [(r["id"], list(map(float, r["vector"]))) for r in rows],
                    "id long, vector array<float>",
                )
                idx.add_batch(b)
                added.append([r["id"] for r in rows])
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(("add", e))

    def deleter():
        try:
            while not added and not done.is_set():
                time.sleep(0.02)
            victims = added[0][:3]
            idx.delete_ids(
                spark.createDataFrame([(v,) for v in victims], "id long")
            )
            deleted.extend(victims)
        except Exception as e:  # pragma: no cover
            errors.append(("delete", e))

    def searcher():
        try:
            while not done.is_set() or n_searches[0] < 3:
                seen_batches = [list(b) for b in added]  # snapshot BEFORE search
                seen_deleted = set(deleted)
                probe_rows = [r for b in seen_batches for r in b[3:5]]
                q = stable_q
                if probe_rows:
                    by_id = {r["id"]: r for r in held_rows}
                    q = stable_q.unionByName(
                        spark.createDataFrame(
                            [
                                (i, list(map(float, by_id[i]["vector"])))
                                for i in probe_rows
                            ],
                            "query_id long, vector array<float>",
                        )
                    )
                res = idx.search(q, k=3).collect()
                top = {r["query_id"]: r for r in res if r["rank"] == 1}
                # stable base probes: rank-1 exact self-hit, every time
                for r in stable_q.collect():
                    hit = top[r["query_id"]]
                    assert hit["id"] == r["query_id"] and hit["dist"] == 0.0
                # batches whose add_batch returned before this search began
                # (and that this thread saw before grabbing the snapshot)
                for i in probe_rows:
                    if i in seen_deleted:
                        continue
                    hit = top[i]
                    assert hit["id"] == i and hit["dist"] == 0.0
                n_searches[0] += 1
        except Exception as e:  # pragma: no cover
            errors.append(("search", e))

    threads = [
        threading.Thread(target=adder),
        threading.Thread(target=deleter),
        threading.Thread(target=searcher),
    ]
    for t in threads[:2]:
        t.start()
    threads[2].start()
    threads[0].join(timeout=300)
    threads[1].join(timeout=60)
    done.set()
    threads[2].join(timeout=300)
    assert not errors, errors
    assert len(added) == 4 and len(deleted) == 3
    assert n_searches[0] >= 3
    # final state: every added, undeleted vector searchable; victims gone
    final_ids = [i for b in added for i in b if i not in set(deleted)]
    by_id = {r["id"]: r for r in held_rows}
    fq = spark.createDataFrame(
        [(i, list(map(float, by_id[i]["vector"]))) for i in final_ids],
        "query_id long, vector array<float>",
    )
    hits = idx.search(fq, k=3).filter(
        (F.col("rank") == 1)
        & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    )
    assert hits.count() == len(final_ids)
    vq = spark.createDataFrame(
        [(i, list(map(float, by_id[i]["vector"]))) for i in deleted],
        "query_id long, vector array<float>",
    )
    assert idx.search(vq, k=3).filter(F.col("id").isin(deleted)).count() == 0


# ---------------------------------------------------------------------------
# SPFresh LIRE local maintenance (SOSP'23 §4): split / merge / bounded
# reassign — maintenance touches ONLY affected postings, never the corpus
# ---------------------------------------------------------------------------

import numpy as np


def _clustered(spark, n_clusters=12, per=20, jitter=0.05, extra=None):
    """Well-separated clusters (centers 1000 apart) so replica RNG
    pruning keeps each vector in its own cluster's posting — maintenance
    locality is then observable as bit-identical far postings."""
    rng = np.random.default_rng(7)
    rows, centers = [], []
    for j in range(n_clusters):
        c = np.array([1000.0 * j, 0.0, 0.0, 0.0])
        centers.append((j, [float(v) for v in c]))
        for i in range(per):
            p = c + rng.normal(scale=jitter, size=4)
            rows.append((j * per + i, [float(v) for v in p]))
    if extra:
        rows += extra
    vecs = spark.createDataFrame(rows, "id long, vector array<float>")
    heads = spark.createDataFrame(centers, "head_id long, vector array<float>")
    return vecs, heads


def _assert_slabs_match_fresh_build(idx, store, fresh_dir, value_type="float32"):
    """Every live head's slab in the patched store holds the ids and the
    vector bytes that a fresh store build over the live postings puts at
    that head's extent."""
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        build_packed_store_parallel,
    )

    build_packed_store_parallel(
        idx.heads, idx.postings, fresh_dir, value_type=value_type
    )
    got = DiskSpannReplica.from_store(store)
    want = DiskSpannReplica.from_store(fresh_dir)
    assert got.head_ids.tolist() == want.head_ids.tolist()
    for i in range(len(want.head_ids)):
        a, n = int(got.slab_off[i]), int(got.slab_len[i])
        b, m = int(want.slab_off[i]), int(want.slab_len[i])
        assert n == m
        assert got.post_ids[a : a + n].tolist() == \
            want.post_ids[b : b + m].tolist()
        assert np.asarray(got.post_V[a : a + n]).tobytes() == \
            np.asarray(want.post_V[b : b + m]).tobytes()


def test_two_means_deterministic_and_degenerate():
    from sptag_spark.streaming.spfresh import two_means

    X = np.vstack([np.zeros((5, 3)), np.ones((5, 3)) * 9])
    labels, centers = two_means(X)
    assert len(set(labels[:5])) == 1 and len(set(labels[5:])) == 1
    assert labels[0] != labels[5]
    l2, c2 = two_means(X)
    assert (labels == l2).all() and (centers == c2).all()  # no RNG
    # all-identical members still split into two nonempty halves
    labels, _ = two_means(np.ones((6, 3)))
    assert 0 < labels.sum() < 6


def test_reassign_rule():
    """LIRE's reassign rule: the nearest candidate wins, a tie goes to the
    lower target id, rows of a retired posting always move, and any other
    row moves only when strictly closer than its current head."""
    from sptag_spark.streaming.spfresh import _reassign

    V = np.array([[0.0, 0.0], [2.0, 0.0], [5.0, 0.0]])
    T = np.array([[1.0, 0.0], [3.0, 0.0]])
    TI = np.array([9, 7], dtype=np.int64)
    dist = np.array([0.5, 1.0, 100.0])
    move, to, d = _reassign(V, dist, T, TI, False, "l2")
    # row 1 sits at distance 1 from both centres: id 7 wins the tie, and
    # 1.0 is not strictly closer than its current 1.0
    assert move.tolist() == [False, False, True]
    assert to.tolist() == [9, 7, 7] and d.tolist() == [1.0, 1.0, 4.0]
    move, _, _ = _reassign(V, dist, T, TI, True, "l2")
    assert move.all()


def test_local_split_touches_only_affected_postings(spark):
    """Adds concentrated on ONE posting trigger a split of that posting
    only: the head retires into two new heads, rows for non-affected ids
    are bit-identical, the length ledger stays exact, no global rebuild
    fires, and search at exhaustive nprobe matches a full fresh rebuild
    row-for-row."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    # base postings carry replica redundancy (max 45 members/head here),
    # so the limit sits just above the base maximum: only the targeted
    # adds below can trip it
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=45,
    )
    before = {
        (r["head_id"], r["id"]): round(r["dist"], 6)
        for r in postings.collect()
    }
    # 25 adds in a sub-blob near cluster 0 (x=-200: replica RNG prunes
    # every other head) → posting 0 goes 34 → 59 > 45
    rng = np.random.default_rng(3)
    off = np.array([-200.0, 0.0, 0.0, 0.0])
    batch = spark.createDataFrame(
        [
            (
                10_000 + i,
                [float(v) for v in off + rng.normal(scale=0.05, size=4)],
            )
            for i in range(25)
        ],
        "id long, vector array<float>",
    )
    idx.add_batch(batch)
    assert idx.builds == 0  # the global re-cut NEVER ran
    splits = [op for op in idx.maintenance_log if op["op"] == "split"]
    assert splits and splits[0]["head"] == 0
    assert idx.heads.count() == 13  # 12 - 1 retired + 2 new
    # ledger == physical truth, and every posting is back under limit
    actual = {
        int(r["head_id"]): int(r["count"])
        for r in idx.postings.groupBy("head_id").count().collect()
    }
    ledger = {h: n for h, n in idx.posting_lengths().items() if n > 0}
    assert ledger == actual
    assert max(actual.values()) <= 45
    # locality witness: rows for ids outside the affected set unchanged
    # locality witness: the edit scope is the retired posting + its
    # neighbors — every row in a head OUTSIDE the union of scopes is
    # bit-identical (batch rows excluded from the after-side: they were
    # added, not edited)
    touched = set()
    for op in idx.maintenance_log:
        touched |= {*op["scope"], *op["new_heads"]}
    batch_ids = {10_000 + i for i in range(25)}
    after = {
        (r["head_id"], r["id"]): round(r["dist"], 6)
        for r in idx.postings.collect()
    }
    before_rest = {k: v for k, v in before.items() if k[0] not in touched}
    after_rest = {
        k: v
        for k, v in after.items()
        if k[0] not in touched and k[1] not in batch_ids
    }
    assert before_rest == after_rest
    # search parity vs a FULL fresh rebuild over the same live set, at
    # exhaustive nprobe (both exact): row-for-row identical
    q = _self_query(batch, 4)
    got = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["dist"], 6))
        for r in idx.search(q, k=5, nprobe=64).collect()
    )
    full = SpannLiveIndex(vecs.unionByName(batch), rebuild_threshold=10**9)
    want = sorted(
        (r["query_id"], r["rank"], r["id"], round(r["dist"], 6))
        for r in full.search(q, k=5, nprobe=64).collect()
    )
    assert got == want
    full.close()
    idx.close()
    postings.unpersist()


def test_local_merge_reassigns_members(spark):
    """An undersized posting merges away: its head retires, members
    reassign to surviving heads (still searchable as exact self-hits),
    and far postings stay bit-identical."""
    from sptag_spark.index.postings import build_postings

    # far from every cluster so nothing else bleeds into its posting
    tiny = [(9_000 + i, [50_000.0 + i * 0.01, 0.0, 0.0, 0.0]) for i in range(3)]
    vecs, heads = _clustered(spark, extra=tiny)
    heads = heads.unionByName(
        spark.createDataFrame(
            [(12, [50_000.0, 0.0, 0.0, 0.0])],
            "head_id long, vector array<float>",
        )
    )
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        # the tiny posting carries 17 rows (3 tiny members + far replicas
        # the collinear RNG geometry keeps) — every other posting has >30
        maintenance="local", split_limit=1000, merge_limit=20,
    )
    before = {
        (r["head_id"], r["id"]): round(r["dist"], 6)
        for r in postings.collect()
    }
    ops = idx.maintain()
    merges = [op for op in ops if op["op"] == "merge"]
    assert merges and merges[0]["head"] == 12
    assert 12 not in idx.posting_lengths()
    assert idx.heads.filter(F.col("head_id") == 12).count() == 0
    # the merged members are still searchable (exact self-hits)
    q = spark.createDataFrame(
        [(i, v) for i, v in tiny], "query_id long, vector array<float>"
    )
    hits = idx.search(q, k=3, nprobe=64).filter(
        (F.col("rank") == 1)
        & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    )
    assert hits.count() == 3
    # far postings untouched
    affected_ids = {i for (h, i) in before if h == 12}
    before_rest = {k: v for k, v in before.items() if k[1] not in affected_ids}
    after = {
        (r["head_id"], r["id"]): round(r["dist"], 6)
        for r in idx.postings.collect()
    }
    after_rest = {k: v for k, v in after.items() if k[1] not in affected_ids}
    assert before_rest == after_rest
    idx.close()
    postings.unpersist()


def test_local_mode_compacts_per_batch_frames(spark):
    """Local mode never rebuilds, so rebuild_threshold acts as a
    COMPACTION trigger (ADVICE r11): crossing it folds the per-batch
    delta frames and tombstones into single materialized base/postings
    frames, releases the superseded cached frames, and leaves heads and
    posting membership untouched — so a long-running stream's union
    lineage is bounded. A batch itself pins nothing: its (id, vector)
    rows and its posting delta are local relations, which hold their rows
    in the plan and need no persist."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=6,
        maintenance="local", split_limit=10**9,
    )
    rng = np.random.default_rng(11)

    def mkbatch(b):
        return spark.createDataFrame(
            [
                (
                    20_000 + b * 10 + i,
                    [float(v) for v in rng.normal(scale=0.05, size=4)],
                )
                for i in range(3)
            ],
            "id long, vector array<float>",
        )

    idx.add_batch(mkbatch(0))  # adds=3 < 6: delta retained
    assert len(idx._deltas) == 1
    victim = idx._deltas[0].limit(1).first()["id"]
    idx.delete_ids(spark.createDataFrame([(victim,)], "id long"))
    idx.add_batch(mkbatch(1))  # adds=6 >= 6: compaction fires
    assert idx.builds == 0  # never a rebuild in local mode
    assert idx._deltas == []
    assert idx.adds_since_build == 0
    # tombstones folded into the compacted frames
    assert idx._n_tombstones == 0
    assert idx.postings.filter(F.col("id") == victim).count() == 0
    assert idx._base.filter(F.col("id") == victim).count() == 0
    pinned_after_compact = len(idx._pinned)
    idx.add_batch(mkbatch(2))  # adds=3: a delta, but nothing pinned
    assert len(idx._deltas) == 1
    assert len(idx._pinned) == pinned_after_compact
    # everything still searchable: a compacted add and a post-compaction
    # add both answer as exact self-hits
    probe = idx._base.filter(F.col("id") == 20_001).unionByName(
        idx.postings.filter(F.col("id") == 20_021).select("id", "vector")
    )
    q = spark.createDataFrame(
        [(r["id"], [float(v) for v in r["vector"]]) for r in probe.collect()],
        "query_id long, vector array<float>",
    )
    hits = idx.search(q, k=3, nprobe=64).filter(
        (F.col("rank") == 1)
        & (F.col("id") == F.col("query_id"))
        & (F.col("dist") == 0.0)
    )
    assert hits.count() == 2
    idx.close()
    postings.unpersist()


def test_merge_targets_follow_index_metric(spark):
    """Under metric="cosine" the merge target must be the ANGULAR nearest
    surviving head, not the euclidean one (ADVICE r11: neighbor scope was
    ranked by raw L2 regardless of metric). Head A sits far in euclidean
    terms but nearly collinear with the retiring head; head B is close in
    euclidean terms but 45 degrees away — the merged member must land in
    A's posting."""
    heads = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # retiring (undersized posting)
            (1, [100.0, 1.0]),      # A: euclid-far, cosine-near
            (2, [0.9, 0.9]),        # B: euclid-near, cosine-far (45 deg)
        ],
        "head_id long, vector array<float>",
    )
    postings = spark.createDataFrame(
        [(0, 100, [1.0, 0.01], 0.0)]
        + [(1, 200 + i, [100.0, 1.0 + 0.01 * i], 0.0) for i in range(3)]
        + [(2, 300 + i, [0.9, 0.9 + 0.01 * i], 0.0) for i in range(3)],
        "head_id long, id long, vector array<float>, dist double",
    )
    vecs = postings.select("id", "vector")
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), metric="cosine",
        rebuild_threshold=10**9, maintenance="local",
        split_limit=1000, merge_limit=2, neighbor_fanout=1,
    )
    ops = idx.maintain()
    merges = [op for op in ops if op["op"] == "merge"]
    assert merges and merges[0]["head"] == 0
    assert merges[0]["neighbors"] == [1]  # cosine-near head A, not B
    got = idx.postings.filter(F.col("id") == 100).first()
    assert int(got["head_id"]) == 1
    idx.close()


def test_attached_store_patches_locally_after_split(spark, tmp_path):
    """Incremental store patch (VERDICT r11 #2): with a packed serve
    store attached, adds and a LIRE split patch ONLY the touched slabs —
    appended segments + extent updates, never a full rebuild. Witnesses:
    bytes appended ≪ store size, untouched slab bytes BIT-identical, the
    fingerprint gate accepts the patched store, and a DiskSpannReplica
    opened from it answers row-identically to a replica freshly packed
    from the live postings."""
    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import (
        DiskSpannReplica,
        packed_store_matches,
        postings_fingerprint,
    )

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=45,
    )
    store = str(tmp_path / "store")
    idx.attach_store(store)
    rep0 = DiskSpannReplica.from_store(store)
    far = int(np.where(rep0.head_ids == 11)[0][0])
    lo0, ln0 = int(rep0.slab_off[far]), int(rep0.slab_len[far])
    slab_before = np.asarray(rep0.post_V[lo0 : lo0 + ln0]).tobytes()
    ids_before = rep0.post_ids[lo0 : lo0 + ln0].copy()
    del rep0
    # concentrated adds near cluster 0 → posting 0 splits (same geometry
    # as test_local_split_touches_only_affected_postings)
    rng = np.random.default_rng(3)
    off = np.array([-200.0, 0.0, 0.0, 0.0])
    batch = spark.createDataFrame(
        [
            (
                10_000 + i,
                [float(v) for v in off + rng.normal(scale=0.05, size=4)],
            )
            for i in range(25)
        ],
        "id long, vector array<float>",
    )
    idx.add_batch(batch)
    assert [op for op in idx.maintenance_log if op["op"] == "split"]
    assert idx.store_patch_log and not any(
        p.get("full_rebuild") for p in idx.store_patch_log
    )
    last = idx.store_patch_log[-1]
    appended = sum(
        p.get("vector_bytes_appended", 0) for p in idx.store_patch_log
    )
    assert 0 < appended < last["store_vector_bytes"] / 2  # locality witness
    assert not last["needs_compaction"]
    # the staleness gate accepts the patched store as CURRENT
    assert packed_store_matches(store, postings_fingerprint(idx.postings))
    # heads appended to and split in the same batch hold what a fresh
    # build over the live postings holds
    _assert_slabs_match_fresh_build(idx, store, str(tmp_path / "fresh1"))
    rep = DiskSpannReplica.from_store(store)
    # untouched slab: same extent, bit-identical bytes and ids
    far2 = int(np.where(rep.head_ids == 11)[0][0])
    assert int(rep.slab_off[far2]) == lo0 and int(rep.slab_len[far2]) == ln0
    assert np.asarray(rep.post_V[lo0 : lo0 + ln0]).tobytes() == slab_before
    assert rep.post_ids[lo0 : lo0 + ln0].tolist() == ids_before.tolist()
    # serve parity: patched disk store == fresh replica over live postings,
    # at exhaustive nprobe (covers split heads, neighbors, and far heads)
    ram = DiskSpannReplica(idx.heads, idx.postings)
    qs = [(int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
          for r in batch.limit(6).collect()]
    qs += [(3, np.asarray([3000.0, 0.0, 0.0, 0.0]))]
    got = rep.batch_search(qs, k=5, nprobe=64)
    want = ram.batch_search(qs, k=5, nprobe=64)
    assert got == want
    # a SECOND batch elsewhere patches again, store stays consistent
    batch2 = spark.createDataFrame(
        [
            (
                11_000 + i,
                [float(v) for v in np.array([5000.0, 0, 0, 0])
                 + rng.normal(scale=0.05, size=4)],
            )
            for i in range(5)
        ],
        "id long, vector array<float>",
    )
    idx.add_batch(batch2)
    rep2 = DiskSpannReplica.from_store(store)
    ram2 = DiskSpannReplica(idx.heads, idx.postings)
    qs2 = [(int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
           for r in batch2.collect()]
    assert rep2.batch_search(qs2, k=3, nprobe=64) == ram2.batch_search(
        qs2, k=3, nprobe=64
    )
    _assert_slabs_match_fresh_build(idx, store, str(tmp_path / "fresh2"))
    idx.close()
    postings.unpersist()


def test_attached_int8_store_patches_natively(spark, tmp_path):
    """value_type composes with the incremental patch (r12 asks #1+#2
    together): an int8-attached store appends PATCHED slabs at 1
    byte/component too, keeps answering identically to a fresh replica,
    and the meta keeps its declared width across patches."""
    import json as _json
    import os

    from sptag_spark.serving_local import DiskSpannReplica

    rng = np.random.default_rng(17)
    X = rng.integers(-100, 101, size=(240, 8)).astype(np.float64)
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id long, vector array<float>",
    )
    idx = SpannLiveIndex(vecs, ratio=0.1, rebuild_threshold=10**9,
                         maintenance="local", split_limit=60)
    store = str(tmp_path / "store8")
    idx.attach_store(store, value_type="int8")
    batch = spark.createDataFrame(
        [(1_000 + i, [float(v) for v in
                      np.clip(X[0] + rng.integers(-2, 3, size=8), -128, 127)])
         for i in range(20)],
        "id long, vector array<float>",
    )
    idx.add_batch(batch)
    assert idx.store_patch_log  # at least the append patch
    meta = _json.load(open(os.path.join(store, "meta.json")))
    assert meta["value_type"] == "int8"
    assert os.path.exists(os.path.join(store, "post_vectors.i8"))
    rep = DiskSpannReplica.from_store(store)
    assert rep.post_V.dtype == np.int8
    _assert_slabs_match_fresh_build(
        idx, store, str(tmp_path / "fresh8"), value_type="int8"
    )
    ram = DiskSpannReplica(idx.heads, idx.postings)
    qs = [(int(r["id"]), np.asarray(r["vector"], dtype=np.float64))
          for r in batch.limit(5).collect()]
    assert rep.batch_search(qs, k=5, nprobe=64) == ram.batch_search(
        qs, k=5, nprobe=64
    )
    idx.close()

def test_incremental_fingerprint_exact_through_lifecycle(spark, tmp_path):
    """r12 ADVICE: sync_store no longer recomputes postings_fingerprint
    over the full frame per micro-batch — SpannLiveIndex tracks it
    incrementally (add deltas, maintenance scope swaps, compact's
    tombstone drops). Exactness pin: after adds + a split + deletes +
    compact, the tracked fingerprint equals a fresh full recompute and
    the staleness gate still accepts the patched store."""
    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import (
        packed_store_matches,
        postings_fingerprint,
    )

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=45,
    )
    store = str(tmp_path / "store")
    idx.attach_store(store)
    assert idx._store_fp == postings_fingerprint(idx.postings)
    rng = np.random.default_rng(3)
    off = np.array([-200.0, 0.0, 0.0, 0.0])
    batch = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in off + rng.normal(scale=0.05, size=4)])
         for i in range(25)],
        "id long, vector array<float>",
    )
    idx.add_batch(batch)  # append + LIRE split + sync
    assert [op for op in idx.maintenance_log if op["op"] == "split"]
    assert idx._store_fp == postings_fingerprint(idx.postings)
    # deletes don't change postings until compact...
    idx.delete_ids(spark.createDataFrame([(10_000,), (5,)], "id long"))
    assert idx._store_fp == postings_fingerprint(idx.postings)
    # ...compact folds them; the tracked fp subtracts the dropped rows
    idx.compact()
    idx.sync_store()
    assert idx._store_fp == postings_fingerprint(idx.postings)
    assert packed_store_matches(store, idx._store_fp)
    idx.close()
    postings.unpersist()


def test_store_tombstone_export_filters_from_store(spark, tmp_path):
    """r12 ADVICE: a DiskSpannReplica opened from the files alone must
    not answer with tombstoned ids during the delete→compact window.
    delete_ids exports tombstones.npy; from_store merges it into every
    search; compact retracts it."""
    import os

    from sptag_spark.index.postings import build_postings
    from sptag_spark.serving_local import DiskSpannReplica

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local",
    )
    store = str(tmp_path / "store")
    idx.attach_store(store)
    q = (0, np.array([0.0, 0.0, 0.0, 0.0]))  # cluster-0 center
    before = DiskSpannReplica.from_store(store).batch_search([q], k=3)
    hit = before[0][2]  # nearest id
    idx.delete_ids(spark.createDataFrame([(hit,)], "id long"))
    assert os.path.exists(os.path.join(store, "tombstones.npy"))
    rep = DiskSpannReplica.from_store(store)
    got = rep.batch_search([q], k=3)
    assert hit not in [r[2] for r in got]
    # live index agrees (its own tombstone filter)
    live = idx.search(
        spark.createDataFrame([(0, q[1].tolist())],
                              "query_id long, vector array<float>"),
        k=3, nprobe=64,
    ).collect()
    assert hit not in [int(r["id"]) for r in live]
    # compact makes the delete physical and retracts the export
    idx.compact()
    idx.sync_store()
    assert len(np.load(os.path.join(store, "tombstones.npy"))) == 0
    rep2 = DiskSpannReplica.from_store(store)
    assert rep2.store_deleted_ids is None
    assert hit not in [r[2] for r in rep2.batch_search([q], k=3)]
    idx.close()
    postings.unpersist()


def test_write_path_job_budget(spark, tmp_path, jobs_in_group):
    """SPFresh's locality contract on the write path: a delete runs one
    job (collecting the given ids). An add with an attached store and no
    maintenance op assigns on the driver: collecting the batch runs one
    job for a list-built frame and none for a pandas-built one (a local
    relation); the delta's crc collect is folded on the driver, and the
    store patch appends the collected rows to the stored slabs and runs
    no job. The tombstone frame is a local relation rebuilt from the
    driver array, so its plan does not grow with the number of deletes."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=10**9,
    )
    idx.attach_store(str(tmp_path / "store"))
    rng = np.random.default_rng(5)

    def mkbatch(b):
        return spark.createDataFrame(
            [(50_000 + 10 * b + i,
              [float(v) for v in rng.normal(scale=0.05, size=4)])
             for i in range(5)],
            "id long, vector array<float>",
        )

    def plan_lines():
        return idx._tombstones._jdf.queryExecution().optimizedPlan() \
            .treeString().count("\n")

    # warm-up: the first add fills the heads frame's assignment arrays
    idx.delete_ids(spark.createDataFrame([(1,)], "id long"))
    idx.add_batch(mkbatch(0))
    one_delete = plan_lines()
    dels = spark.createDataFrame([(2,), (3,), (4,), (5,)], "id long")
    assert jobs_in_group("wb-del", lambda: idx.delete_ids(dels)) <= 1
    batch = mkbatch(1)
    assert jobs_in_group("wb-add", lambda: idx.add_batch(batch)) <= 1
    pbatch = spark.createDataFrame(
        mkbatch(2).toPandas(), "id long, vector array<float>"
    )
    assert jobs_in_group("wb-add-pd", lambda: idx.add_batch(pbatch)) == 0
    assert idx.postings.filter(F.col("id") >= 50_020).count() >= 5
    assert idx._n_tombstones == 5
    assert plan_lines() == one_delete
    assert not idx.maintenance_log
    idx.close()
    postings.unpersist()


def test_degenerate_deletes(spark, tmp_path):
    """An empty delete changes nothing: no tombstone, no anti-join in the
    search plan, no tombstones.npy written. Duplicate and already-deleted
    ids count once, and a delete that adds no new id leaves the export
    untouched."""
    import os

    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local",
    )
    store = str(tmp_path / "store")
    idx.attach_store(store)
    ts_p = os.path.join(store, "tombstones.npy")
    q = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0])], "query_id long, vector array<float>"
    )

    def plans_anti_join():
        plan = idx.search(q, k=3)._jdf.queryExecution().optimizedPlan()
        return "LeftAnti" in plan.toString()

    idx.delete_ids(spark.createDataFrame([], "id long"))
    assert idx._n_tombstones == 0
    assert not plans_anti_join()
    assert not os.path.exists(ts_p)
    idx.delete_ids(spark.createDataFrame([(5,), (5,), (7,)], "id long"))
    assert idx._n_tombstones == 2
    assert plans_anti_join()
    idx.delete_ids(spark.createDataFrame([(7,), (9,)], "id long"))
    assert idx._n_tombstones == 3
    assert np.load(ts_p).tolist() == [5, 7, 9]
    stamp = os.stat(ts_p).st_mtime_ns
    idx.delete_ids(spark.createDataFrame([(9,), (5,)], "id long"))
    assert idx._n_tombstones == 3
    assert os.stat(ts_p).st_mtime_ns == stamp
    idx.close()
    postings.unpersist()


def _blob(spark, first_id, center, n, seed):
    """``n`` adds scattered with σ = 0.05 around ``center``, ids from
    ``first_id``."""
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        [(first_id + i,
          [float(v) for v in np.asarray(center) + rng.normal(scale=0.05, size=4)])
         for i in range(n)],
        "id long, vector array<float>",
    )


def test_lire_splits_are_reproducible(spark):
    """Two live indexes over the same frames, fed the same batch, split
    the same postings into the same heads in the same rounds and end with
    the same (head_id, id, dist) rows."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    batch = _blob(spark, 10_000, [-200.0, 0, 0, 0], 60, 3).unionByName(
        _blob(spark, 20_000, [11_200.0, 0, 0, 0], 60, 4)
    )
    runs = []
    for _ in range(2):
        idx = SpannLiveIndex(
            vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
            maintenance="local", split_limit=45,
        )
        idx.add_batch(batch)
        rows = sorted(
            (r["head_id"], r["id"], r["dist"])
            for r in idx.postings.select("head_id", "id", "dist").collect()
        )
        runs.append((idx.maintenance_log, rows))
        idx.close()
    assert len([op for op in runs[0][0] if op["op"] == "split"]) >= 3
    assert runs[0] == runs[1]
    postings.unpersist()


def test_split_round_jobs_do_not_grow(spark, jobs_in_group):
    """A split round collects its scope once and builds the new postings
    from the untouched remainder of the previous frame plus the edited
    rows, so the previous frame appears once in the new plan and a round
    runs the same Spark jobs however many rounds came before it: the
    scope collect, the count that materializes the new postings (three
    jobs with AQE on, as the test session runs) and the head-matrix
    collect that materializes the new heads."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=45,
    )
    idx.posting_lengths()  # the ledger's jobs run once, before the batches
    maintain, jobs = idx.maintain, []

    def counted(max_ops=64):
        ops = []
        jobs.append(jobs_in_group(
            f"lire{len(jobs)}", lambda: ops.extend(maintain(max_ops))
        ))
        return ops

    idx.maintain = counted
    for b, center in enumerate(
        ([-200.0, 0, 0, 0], [11_200.0, 0, 0, 0], [6_000.0, 200.0, 0, 0])
    ):
        n_log = len(idx.maintenance_log)
        idx.add_batch(_blob(spark, 10_000 * (b + 1), center, 25, b))
        # each batch is exactly one round that splits one posting
        assert [op["op"] for op in idx.maintenance_log[n_log:]] == ["split"]
    assert jobs[2] <= jobs[0]
    assert jobs == [5, 5, 5]
    idx.close()
    postings.unpersist()


def test_length_ledger_seeded_from_store_and_kept_by_compact(
    spark, tmp_path, jobs_in_group
):
    """With a store attached, the posting-length ledger is seeded from
    the store's per-head lengths, so the first maintained add_batch runs
    as many Spark jobs as later ones (no groupBy over the postings); a
    split edits the ledger and compact() subtracts the rows it drops
    instead of discarding it. Throughout, it equals the groupBy truth."""
    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=45,
    )
    idx.attach_store(str(tmp_path / "store"))

    def truth():
        return {
            int(r["head_id"]): int(r["count"])
            for r in idx.postings.groupBy("head_id").count().collect()
        }

    def local_blob(first_id, center, n, seed):
        return spark.createDataFrame(
            _blob(spark, first_id, center, n, seed).toPandas(),
            "id long, vector array<float>",
        )

    batches = [local_blob(10_000 * (b + 1), [0.0] * 4, 5, b) for b in range(2)]
    jobs = [
        jobs_in_group(f"ledger{b}", lambda b=b: idx.add_batch(batches[b]))
        for b in range(2)
    ]
    assert jobs == [0, 0]
    assert idx.posting_lengths() == truth()
    idx.add_batch(local_blob(30_000, [1000.0, 0, 0, 0], 30, 2))
    assert "split" in [op["op"] for op in idx.maintenance_log]
    assert idx.posting_lengths() == truth()
    idx.delete_ids(
        spark.createDataFrame([(i,) for i in (0, 1, 2, 25, 30_000)], "id long")
    )
    idx.compact()
    assert idx._lengths is not None  # kept, not rebuilt
    assert idx.posting_lengths() == truth()
    idx.close()
    postings.unpersist()


@pytest.mark.parametrize("routed", [False, True])
def test_driver_delta_matches_assign_replicas(spark, monkeypatch, routed):
    """add_batch assigns on the driver with `assign_rows`, the kernel
    assign_replicas runs on executors, so its posting delta holds the
    same (head_id, id, vector) rows as assign_replicas over the same
    batch and heads, flat and with routing forced on (the gate lowered to
    one head); dist may differ by BLAS blocking only (≤ 1e-12 relative)."""
    import math

    from sptag_spark.index import postings as P

    rng = np.random.default_rng(11)
    sites = rng.normal(size=(40, 12)) * 30.0
    V = sites[rng.integers(0, 40, size=900)] + rng.normal(size=(900, 12))
    H = sites[np.arange(40).repeat(2)] + rng.normal(size=(80, 12))

    def frame(first, M, cols):
        return spark.createDataFrame(
            [(first + i, [float(x) for x in M[i]]) for i in range(len(M))],
            cols,
        )

    vecs = frame(0, V[:600], "id long, vector array<float>")
    batch = frame(10_000, V[600:], "id long, vector array<float>")
    heads = frame(0, H, "head_id long, vector array<float>")
    postings = P.build_postings(vecs, heads).persist()
    postings.count()
    if routed:
        monkeypatch.setattr(P, "ROUTED_MIN_HEADS", 1)
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local", split_limit=10**9,
    )
    idx.add_batch(batch)
    assert heads._sptag_assign_arrays[0] == ("l2", routed)

    def rows(df):
        return sorted(
            (r["head_id"], r["id"], list(r["vector"]), r["dist"])
            for r in df.collect()
        )

    got = rows(idx.postings.filter(F.col("id") >= 10_000))
    want = rows(P.assign_replicas(batch, heads, routed=routed))
    assert len(got) > len(V[600:])  # some vectors keep several replicas
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert all(
        math.isclose(g[3], w[3], rel_tol=1e-12, abs_tol=1e-12)
        for g, w in zip(got, want)
    )
    idx.close()
    postings.unpersist()


def test_empty_batch_is_a_noop(spark, tmp_path):
    """An empty batch, list- or pandas-built, leaves the postings frame,
    the tracked fingerprint, the store files and the patch log as they
    were."""
    import os

    import pandas as pd

    from sptag_spark.index.postings import build_postings

    vecs, heads = _clustered(spark)
    postings = build_postings(vecs, heads).persist()
    postings.count()
    idx = SpannLiveIndex(
        vecs, prebuilt=(heads, postings), rebuild_threshold=10**9,
        maintenance="local",
    )
    store = str(tmp_path / "store")
    idx.attach_store(store)
    idx.add_batch(_blob(spark, 10_000, [0.0, 0, 0, 0], 5, 1))

    def files():
        return {
            f: open(os.path.join(store, f), "rb").read()
            for f in sorted(os.listdir(store))
        }

    before = (idx.postings, dict(idx._store_fp), files(),
              len(idx.store_patch_log), len(idx._deltas))
    schema = "id long, vector array<float>"
    for empty in (
        spark.createDataFrame([], schema),
        spark.createDataFrame(pd.DataFrame({"id": [], "vector": []}), schema),
    ):
        idx.add_batch(empty)
        after = (idx.postings, dict(idx._store_fp), files(),
                 len(idx.store_patch_log), len(idx._deltas))
        assert after[0] is before[0]
        assert after[1:] == before[1:]
    idx.close()
    postings.unpersist()
