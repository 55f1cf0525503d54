"""Property-based tests (hypothesis) for the pure driver-side primitives.

Mirrors the reference's kernel-equivalence testing style
(`Test/src/DistanceTest.cpp:88-96`: SIMD vs scalar equality) — here the
properties are wire-format round-trips and BLAS-vs-direct distance
agreement, checked over generated inputs rather than fixtures.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sptag_spark.operators.knn import _block_distances, _exact_pair_dists
from sptag_spark.server import encode_query, parse_query

finite_floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
vectors = st.lists(finite_floats, min_size=1, max_size=32)


@settings(max_examples=200, deadline=None)
@given(vectors, st.integers(1, 100), st.booleans())
def test_wire_roundtrip(vec, k, use_b64):
    f32 = np.asarray(vec, dtype=np.float32)
    s = encode_query(
        f32, base64_payload=use_b64, resultnum=k, extractmetadata="true"
    )
    p = parse_query(s)
    assert p.result_num == k and p.extract_metadata
    np.testing.assert_array_equal(p.vector, f32.astype(np.float64))


@settings(max_examples=100, deadline=None)
@given(st.integers(-128, 127).flatmap(lambda _: st.lists(st.integers(-128, 127), min_size=1, max_size=64)))
def test_wire_roundtrip_int8(vals):
    s = encode_query(np.asarray(vals, dtype=np.int8), datatype="int8", base64_payload=True)
    p = parse_query(s)
    assert p.vector.tolist() == [float(v) for v in vals]


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.integers(2, 16),
    st.randoms(use_true_random=False),
)
def test_block_vs_exact_distances(n, q, d, rnd):
    rng = np.random.default_rng(rnd.randint(0, 2**31))
    V = rng.normal(size=(n, d))
    Q = rng.normal(size=(q, d))
    for metric in ("l2", "cosine", "ip"):
        D = _block_distances(V, Q, metric)
        for j in range(q):
            exact = _exact_pair_dists(V, Q[j], metric)
            np.testing.assert_allclose(D[:, j], exact, rtol=1e-9, atol=1e-8)


@settings(max_examples=50, deadline=None)
@given(st.lists(finite_floats, min_size=2, max_size=16))
def test_self_distance_zero(vec):
    V = np.asarray([vec], dtype=np.float64)
    # the exact per-pair arithmetic (what the kernel reports for winners) is
    # exactly 0 for self-distance ...
    assert _exact_pair_dists(V, V[0], "l2")[0] == 0.0
    # ... while the BLAS expansion only promises cancellation-level error
    # relative to ||v||² — which is WHY the kernel re-computes candidates
    # exactly before emitting them
    scale = max(1.0, (V * V).sum())
    assert _block_distances(V, V, "l2")[0, 0] <= 1e-12 * scale


@settings(max_examples=100, deadline=None)
@given(
    st.integers(3, 40),   # n points
    st.integers(2, 12),   # n centers
    st.integers(2, 10),   # dim
    st.floats(min_value=0.8, max_value=0.9999),  # cosine threshold
    st.randoms(use_true_random=False),
)
def test_eps_margin_blocking_is_complete(n, k, d, threshold, rnd):
    """The triangle-inequality guarantee behind the exact blocked embedding
    near-dup: with margin 2·eps (eps = sqrt(2-2t)), every pair with cosine
    >= t shares at least one block — for ANY centers, including bad ones."""
    from sptag_spark.operators.dedup import eps_margin_blocks

    rng = np.random.default_rng(rnd.randint(0, 2**31))
    V = rng.normal(size=(n, d))
    # inject tight near-dup pairs so the property is exercised
    V[1] = V[0] + rng.normal(scale=1e-3, size=d)
    V[2] = V[0] * 2.0
    centers_raw = rng.normal(size=(k, d))
    centers = centers_raw / np.linalg.norm(centers_raw, axis=1, keepdims=True)
    eps = float(np.sqrt(max(2.0 - 2.0 * threshold, 0.0)))
    blocks = eps_margin_blocks(V, centers, 2.0 * eps)
    norms = np.linalg.norm(V, axis=1)
    S = (V @ V.T) / np.outer(norms, norms)
    for i in range(n):
        for j in range(i + 1, n):
            if S[i, j] >= threshold:
                assert set(blocks[i]) & set(blocks[j]), (
                    i, j, S[i, j], blocks[i], blocks[j],
                )


def _rng_prune(
    cand_dists: np.ndarray, head_head: np.ndarray, replica: int, rng_factor: float
) -> list[int]:
    """Reference: the sequential early-exit RNG rule, which
    assign_replicas' vectorized prune must match. Indices (into the
    candidate list) surviving the rule, ≤ replica. cand_dists: ascending
    distances v→candidate-head; head_head[i, j]: distance between
    candidate heads i and j."""
    accepted: list[int] = []
    for j in range(len(cand_dists)):
        ok = True
        for i in accepted:
            if rng_factor * head_head[i, j] < cand_dists[j]:
                ok = False
                break
        if ok:
            accepted.append(j)
            if len(accepted) >= replica:
                break
    return accepted


@settings(max_examples=200, deadline=None)
@given(
    st.integers(2, 24),  # n candidates
    st.integers(1, 8),  # replica cap
    st.floats(0.5, 2.0),  # rng factor
    st.integers(0, 10_000),  # seed
)
def test_rng_prune_invariants(n, replica, rng_factor, seed):
    """RNG rule invariants (`RelativeNeighborhoodGraph.h:18-35`): the
    closest candidate is ALWAYS accepted (posting membership is never
    empty), at most `replica` survive, acceptance order preserves the
    ascending-distance scan, and every rejected candidate j has an accepted
    witness i with rng_factor·d(i,j) < d(v,j)."""
    rng = np.random.default_rng(seed)
    H = rng.normal(size=(n, 4))
    v = rng.normal(size=4)
    cd = np.sort(((H - v) ** 2).sum(1))
    hh = _block_distances(H, H, "l2")
    keep = _rng_prune(cd, hh, replica, rng_factor)

    assert keep and keep[0] == 0  # closest head always survives
    assert len(keep) <= replica
    assert keep == sorted(keep)  # scan order preserved
    kept = set(keep)
    for j in range(len(cd)):
        if j in kept or len(kept) >= replica and j > max(kept):
            continue
        if j < max(kept):  # rejected before the cap filled
            assert any(
                rng_factor * hh[i, j] < cd[j] for i in keep if i < j
            ), (j, keep)


# -- connected components: union-find vs BFS closure ------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=60
)


@settings(max_examples=200, deadline=None)
@given(edges_strategy)
def test_union_find_matches_bfs(edges):
    from collections import deque

    from sptag_spark.operators.components import union_find

    real = [(a, b) for a, b in edges if a != b]
    got = union_find(real)

    adj: dict[int, set[int]] = {}
    for a, b in real:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            x = q.popleft()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        rep = min(comp)
        for x in comp:
            expected[x] = rep
    assert got == expected


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=8),
    st.floats(min_value=0.5, max_value=2.0),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_vectorized_prune_matches_sequential(n, replica, rng_factor, seed):
    """The batched masked RNG prune inside assign_replicas' kernel accepts
    exactly the candidates the sequential early-exit reference rule does,
    for any (dists, head-head) configuration."""
    rng = np.random.default_rng(seed)
    cd = np.sort(rng.uniform(0, 4, size=n))
    hh = rng.uniform(0, 4, size=(n, n))
    hh = (hh + hh.T) / 2
    np.fill_diagonal(hh, 0.0)
    seq = _rng_prune(cd, hh, replica, rng_factor)
    # the vectorized loop from the kernel, specialized to one row
    acc = np.zeros(n, dtype=bool)
    cnt = 0
    for j in range(n):
        viol = acc & (rng_factor * hh[:, j] < cd[j])
        ok = (not viol.any()) and cnt < replica
        acc[j] = ok
        cnt += ok
    assert sorted(np.nonzero(acc)[0].tolist()) == sorted(seq)


def test_hier_kmeans_center_count_contract():
    """hier_kmeans returns at most k centers even when the coarse pass
    yields many tiny cells (the >=1-per-cell bump must not overshoot k)."""
    import numpy as np

    from sptag_spark.index.heads import hier_kmeans

    rng = np.random.default_rng(7)
    # one dense blob + scattered far outliers -> singleton coarse cells
    blob = rng.normal(0, 0.05, size=(20_000, 8))
    outliers = rng.normal(0, 1, size=(80, 8)) * 500.0
    X = np.vstack([blob, outliers])
    k = 5000
    centers = hier_kmeans(X, k, iters=3, seed=1)
    assert len(centers) <= k
    assert len(centers) >= k - 100  # still close to the request


@given(
    st.integers(2, 40),   # rows
    st.integers(1, 8),    # k clusters
    st.integers(2, 6),    # dim
    st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_local_balanced_lloyd_invariants(n, k, d, seed):
    """The in-task penalized Lloyd (hierarchical balanced k-means cell
    solve): every row assigned, labels within [0, k'), and the greedy
    size penalty keeps the largest cluster within 3x fair share +1 (the
    same contract the distributed loop is gated on)."""
    from sptag_spark.index.balanced import _local_balanced_lloyd

    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, d))
    assign = _local_balanced_lloyd(V, k, n_iter=4, seed=seed)
    kk = min(k, n)
    assert assign.shape == (n,)
    assert assign.min() >= 0 and assign.max() < kk
    counts = np.bincount(assign, minlength=kk)
    assert counts.sum() == n
    assert counts.max() <= 3 * (n / kk) + 1, counts
    # no empty sub-centers when rows >= k — the hier path's offset
    # encoding counts on every quota'd sub-center being used
    assert counts.min() > 0, counts


def test_local_balanced_lloyd_degenerate_identical_vectors():
    """A cell of IDENTICAL vectors (duplicate embeddings are common in
    real corpora) has mean distance 0; with lam floored at a positive
    epsilon the count penalty must round-robin the ties so every
    sub-center is non-empty — not dump all rows into sub-center 0."""
    from sptag_spark.index.balanced import _local_balanced_lloyd

    V = np.ones((24, 4), dtype=np.float64)
    assign = _local_balanced_lloyd(V, 6, n_iter=4, seed=0)
    counts = np.bincount(assign, minlength=6)
    assert counts.sum() == 24
    assert counts.min() > 0, counts
    assert counts.max() == 4, counts  # perfectly balanced under pure ties


@given(
    st.integers(0, 30),   # rows
    st.integers(1, 10),   # k
    st.integers(0, 10_000),
)
@settings(max_examples=25, deadline=None)
def test_ranked_topk_equals_window_rank(spark, n, k, seed):
    """ranked_topk (TakeOrderedAndProject + rank over survivors) must be
    row-identical to the naive global-window formulation it replaced, for
    any data including ties and fewer-than-k inputs. (spark is the
    session-scoped fixture — allowed with @given.)"""
    import pandas as pd
    from pyspark.sql import functions as F

    from sptag_spark.operators.rank import ranked_topk

    rng = np.random.default_rng(seed)
    # coarse values force ties; id breaks them
    pdf = pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64),
         "score": rng.integers(0, 4, size=n).astype(float)}
    )
    df = spark.createDataFrame(pdf) if n else spark.createDataFrame(
        [], "id long, score double"
    )
    order = [F.col("score").desc(), F.col("id")]
    got = sorted(
        map(tuple, ranked_topk(df, order, k).select("rank", "id", "score").collect())
    )
    exp_pdf = pdf.sort_values(["score", "id"], ascending=[False, True]).head(k)
    expect = sorted(
        (i + 1, int(r.id), float(r.score))
        for i, r in enumerate(exp_pdf.itertuples())
    )
    assert got == expect


@given(
    st.lists(  # corpus: up to 8 docs of 0..14 tokens from a 4-word vocab
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=14),
        max_size=8,
    ),
    st.integers(2, 4),  # span length n
)
@settings(max_examples=30, deadline=None)
def test_duplicate_spans_matches_naive(spark, docs_tokens, n):
    """duplicate_spans (token-hash slice extraction, filtered flag join,
    map-only n_spans) must equal the naive in-memory computation — exact
    duplicated-span counts per doc for ANY corpus, including within-doc
    repeats, all-too-short docs and empty texts."""
    from collections import Counter

    from sptag_spark.operators.dedup import duplicate_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = (
        spark.createDataFrame(rows, "doc_id long, text string")
        if rows
        else spark.createDataFrame([], "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in duplicate_spans(df, n).collect()
    }
    spans_by_doc = {
        i: [tuple(t[j : j + n]) for j in range(len(t) - n + 1)]
        for i, t in enumerate(docs_tokens)
        if len(t) >= n
    }
    corpus_counts = Counter(s for sp in spans_by_doc.values() for s in sp)
    expect = {
        i: (len(sp), sum(1 for s in sp if corpus_counts[s] > 1))
        for i, sp in spans_by_doc.items()
    }
    assert got == expect


@given(
    st.lists(st.integers(min_value=-5, max_value=5), max_size=60),
)
@settings(max_examples=60, deadline=None)
def test_group_slices_matches_mask_groupby(keys):
    """group_slices yields EXACTLY the index arrays (same group order, same
    within-group order) of the O(rows x groups) mask version it replaced in
    the scan kernels — including duplicate-heavy, negative, and empty key
    streams."""
    import numpy as np

    from sptag_spark.functions.npgroup import group_slices

    arr = np.array(keys, dtype=np.int64)
    got = [ix.tolist() for ix in group_slices(arr)]
    want = [np.nonzero(arr == k)[0].tolist() for k in np.unique(arr)]
    assert got == want
    # every row appears exactly once across groups
    assert sorted(i for g in got for i in g) == list(range(len(keys)))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # bucket key
            st.integers(min_value=0, max_value=3),  # seed/band
            st.integers(min_value=0, max_value=30),  # doc id
        ),
        min_size=0,
        max_size=60,
    )
)
def test_pairs_within_buckets_matches_self_join(spark, rows):
    """The folded candidate path (grouped sorted-id arrays → map-side pair
    explode, r8) must emit exactly the rows of the (seed, minhash)
    self-join it replaced — same multiset of per-band collisions, so the
    min_band_matches counting downstream is unchanged."""
    import pyspark.sql.functions as F

    from sptag_spark.operators.dedup import _pairs_within_buckets

    # banded rows are one per (doc, seed): dedupe the generated triples
    uniq = {(s, b): set() for b, s, d in rows for s, b in [(s, b)]}
    for b, s, d in rows:
        uniq[(s, b)].add(d)
    flat = [(d, s, b) for (s, b), ds in uniq.items() for d in ds]
    if not flat:
        return
    banded = spark.createDataFrame(
        flat, "doc_id long, seed int, minhash long"
    )
    buckets = (
        banded.groupBy("seed", "minhash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    folded = sorted(
        (r["doc_a"], r["doc_b"])
        for r in _pairs_within_buckets(buckets).collect()
    )
    a, b = banded.alias("a"), banded.alias("b")
    joined = sorted(
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .collect()
    )
    assert folded == joined
