"""BM25 + RRF fusion unit tests (hand-computed expectations)."""

from __future__ import annotations

import math

import pytest


def test_bm25_hand_computed(spark):
    from sptag_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),     # tf(cat)=2, dl=3
            (2, "cat mouse"),       # tf(cat)=1, dl=2
            (3, "bird bird bird"),  # no query terms
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["cat"]).collect()}
    n, avgdl, df, k1, b = 3.0, 8.0 / 3.0, 2.0, 1.2, 0.75

    def score(tf, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(score(2, 3), rel=1e-12)
    assert got[2] == pytest.approx(score(1, 2), rel=1e-12)


def test_bm25_case_insensitive_and_rank_ties(spark):
    from sptag_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "Cat"), (2, "cat"), (3, "CAT")], "doc_id long, text string"
    )
    rows = bm25_topk(docs, ["cat"], k=3).collect()
    # identical scores → rank by doc_id
    assert [(r["rank"], r["doc_id"]) for r in rows] == [(1, 1), (2, 2), (3, 3)]


def test_rrf_fuse_hand_computed(spark):
    from sptag_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    rows = rrf_fuse(a, b, k=3, c=60).collect()
    got = {r["doc_id"]: (r["rank"], r["rrf"]) for r in rows}
    # 20 appears in both lists → highest fused score
    assert got[20][0] == 1
    assert got[20][1] == pytest.approx(round(1 / 62 + 1 / 61, 6))
    assert got[10] == (2, round(1 / 61, 6))
    assert got[30] == (3, round(1 / 62, 6))


def test_rrf_fuse_null_rank_adds_nothing(spark):
    """A NULL rank contributes 0.0: the other list's term still counts,
    and a doc ranked only by NULL fuses to 0.0, not NULL."""
    from sptag_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, None), (40, None)], "doc_id long, rank long"
    )
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    got = {
        r["doc_id"]: (r["rank"], r["rrf"])
        for r in rrf_fuse(a, b, k=4, c=60).collect()
    }
    assert got == {
        10: (1, round(1 / 61, 6)),
        20: (2, round(1 / 61, 6)),
        30: (3, round(1 / 62, 6)),
        40: (4, 0.0),
    }


def test_bm25_index_matches_inline(spark):
    """The index artifact (one tokenize pass at build, zero corpus scans
    at query) scores identically to the inline two-pass path — including
    a zero-token doc, which must still count toward n_docs/avgdl."""
    from sptag_spark.operators.retrieval import (
        bm25_topk,
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),
            (2, "cat mouse"),
            (3, "bird bird bird"),
            (4, ""),  # zero tokens: in n_docs/avgdl, in no posting
            (5, "dog cat dog mouse dog"),
        ],
        "doc_id long, text string",
    )
    idx = build_bm25_index(docs)
    assert idx.n_docs == 5.0
    assert idx.avgdl == pytest.approx((3 + 2 + 3 + 0 + 5) / 5.0, rel=1e-12)
    inline = bm25_topk(docs, ["cat", "dog"], k=5).collect()
    served = bm25_topk(None, ["cat", "dog"], k=5, index=idx).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inline]
    idx.release()


def test_bm25_index_save_load_roundtrip(spark, tmp_path):
    from sptag_spark.operators.retrieval import Bm25Index, build_bm25_index

    docs = spark.createDataFrame(
        [(i, f"term{i % 3} common word{i}") for i in range(30)],
        "doc_id long, text string",
    )
    idx = build_bm25_index(docs)
    idx.save(str(tmp_path / "bm25"))
    loaded = Bm25Index.load(spark, str(tmp_path / "bm25"))
    assert loaded.n_docs == idx.n_docs
    assert loaded.avgdl == pytest.approx(idx.avgdl, rel=1e-12)
    a = idx.topk(["common", "term1"], k=10).collect()
    b = loaded.topk(["common", "term1"], k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    idx.release()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bm25_index_inline_equivalence_randomized(spark, seed):
    """Randomized corpora engineered with exact-duplicate docs, empty docs
    and repeated terms: the index-served ranking must equal the inline
    ranking EXACTLY (ranks, ids, rounded scores). Guards the FP-tie class
    found at sf0.001 (unordered 3-term sums breaking identical-doc ties)."""
    import random

    from sptag_spark.operators.retrieval import bm25_topk, build_bm25_index

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)] + ["cat", "dog", "fish"]
    rows = []
    for i in range(60):
        n = rng.randint(0, 14)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # exact duplicates of earlier docs (the tie generators)
    for j, src in enumerate(rng.sample(range(40), 8)):
        rows.append((100 + j, rows[src][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_bm25_index(docs)
    inline = [tuple(r) for r in bm25_topk(docs, ["cat", "dog", "fish"], k=30).collect()]
    served = [tuple(r) for r in bm25_topk(None, ["cat", "dog", "fish"], k=30, index=idx).collect()]
    assert served == inline
    idx.release()
