"""Dedup + text-analysis operator tests on hand-built corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sptag_spark.functions.text import token_shingles, tokens
from sptag_spark.operators.dedup import (
    dedup_exact_groups,
    doc_shingles,
    embedding_near_dup_pairs,
    exact_jaccard,
    minhash_near_dup_pairs,
    simhash,
)
from sptag_spark.operators.textops import doc_fingerprint, lang_id, text_quality, top_tokens


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "quick brown fox jumps over the lazy dog"),  # near dup (first tok dropped)
        (3, "completely different text about spark engines and distributed joins"),
        (4, "le chat est sur la table et il est content"),
        (5, "ab"),  # too short for 3-shingles
        (6, ""),  # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_tokens_edges(spark):
    df = spark.createDataFrame([(0, "  a  b "), (1, ""), (2, "   ")], "id long, t string")
    got = df.select(F.size(tokens(F.col("t"))).alias("n")).collect()
    assert [r["n"] for r in got] == [2, 0, 0]


def test_shingles_short_doc_empty(corpus):
    got = corpus.select("doc_id", F.size(token_shingles(F.col("text"))).alias("n")).collect()
    n = {r["doc_id"]: r["n"] for r in got}
    assert n[5] == 0 and n[6] == 0  # no crash, empty
    assert n[0] == 7  # 9 tokens → 7 shingles (all distinct)


def test_dedup_exact(corpus):
    got = dedup_exact_groups(corpus).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["group_min"], r["group_size"]) for r in got] == [
        (0, 0, 2),
        (1, 0, 2),
    ]


def test_exact_jaccard_and_minhash(corpus):
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard(doc_shingles(corpus)).collect()
    }
    assert jac[(0, 1)] == 1.0
    assert 0.5 < jac[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in jac  # nothing shared
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(corpus, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(a < b for a, b in pairs)
    # the web-scale banding knob (rows_per_band=2 shrinks buckets BEFORE
    # the candidate self-join): identical verified pairs on high-J dups —
    # the exact copy survives ANY banding, and the verify step makes every
    # surfaced candidate exact either way
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(
            corpus, threshold=0.5, rows_per_band=2, min_band_matches=1
        ).collect()
    }
    assert (0, 1) in banded
    assert banded <= pairs


def test_simhash_properties(corpus):
    got = {r["doc_id"]: r["simhash"] for r in simhash(corpus).collect()}
    assert got[0] == got[1]  # identical text → identical fingerprint
    assert 0 <= got[0] < 2**16
    # near dup differs in few bits
    ham = bin(got[0] ^ got[2]).count("1")
    assert ham <= 4
    ham_far = bin(got[0] ^ got[3]).count("1")
    assert ham_far > ham
    assert 6 not in got  # empty doc: no tokens → no fingerprint row


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),  # same direction
        (2, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs(emb, 0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]
    assert got[0]["cos_sim"] == 1.0


def test_embedding_near_dup_blocked_is_exact(spark):
    """The eps-margin blocked path must find EVERY pair brute force finds —
    forced to many blocks so correctness relies on the margin assignment."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    vecs, truth = [], set()
    vid = 0
    ids_of = []
    for b in base:
        ids_here = []
        for _ in range(3):  # 3 tight copies per center → in-cluster pairs
            vecs.append((vid, (b + rng.normal(scale=1e-3, size=16)).tolist()))
            ids_here.append(vid)
            vid += 1
        ids_of.append(ids_here)
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    t = 0.999
    got = embedding_near_dup_pairs(emb, t, n_blocks=16).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}
    # brute-force truth on float32-rounded values (what Spark stored)
    M = np.array([np.array(v, dtype=np.float32) for _, v in vecs], dtype=np.float64)
    n = np.linalg.norm(M, axis=1)
    S = (M @ M.T) / np.outer(n, n)
    exp = {
        (i, j)
        for i in range(len(M))
        for j in range(i + 1, len(M))
        if S[i, j] >= t
    }
    assert got_pairs == exp
    assert len(exp) >= 40  # the fixture really has pairs


def test_embedding_near_dup_never_collects_table(spark, monkeypatch):
    """Scale guard: only the bounded centroid sample may reach the driver."""
    import numpy as np
    from pyspark.sql import DataFrame

    rng = np.random.default_rng(3)
    vecs = [(i, rng.normal(size=8).tolist()) for i in range(600)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    collected = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    result = orig(embedding_near_dup_pairs(emb, 0.99, sample_cap=128))
    assert all(c <= 128 for c in collected), collected
    assert isinstance(result, list)


def test_text_quality_edges(corpus):
    got = {r["doc_id"]: r for r in text_quality(corpus).collect()}
    assert got[6]["n_tokens"] == 0 and got[6]["avg_token_len"] == 0.0
    assert got[0]["n_tokens"] == 9
    assert got[0]["stopword_ratio"] == round(2 / 9, 4)  # 'the' twice


def test_lang_id(corpus):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(corpus).collect()}
    assert got[0] == "en"
    assert got[4] == "fr"  # le, la, est, et markers
    assert got[6] == "en"  # empty → all scores 0 → tie → first lang


def test_fingerprint_stable(corpus):
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(corpus).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]
    assert len(fp[0].split("|")) == 5


def test_top_tokens(corpus):
    got = top_tokens(corpus, k=3).collect()
    assert got[0]["token"] == "the" and got[0]["rank"] == 1
    assert got[0]["cnt"] >= got[1]["cnt"] >= got[2]["cnt"]


def test_lsh_banding_subsets_candidates(corpus):
    """r-row banding produces a SUBSET of the 1-row-band candidates and
    still finds the high-similarity (exact-duplicate) pairs."""
    from sptag_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sigs = minhash_signature(corpus).cache()
    c1 = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    c4 = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, rows_per_band=4).collect()
    }
    sigs.unpersist()
    assert c4 <= c1
    # exact duplicates agree on every minhash -> survive any banding
    assert (0, 1) in c1 and (0, 1) in c4


def test_repetition_stats(spark):
    from sptag_spark.operators.textops import repetition_stats

    rows = [
        (0, "spam spam spam spam spam"),          # one bigram repeated 4x
        (1, "all words here are fully distinct"), # no repeated bigram
        (2, "x"),                                  # < 2 tokens → no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[0]["n_ngrams"] == 4
    assert out[0]["top_ngram_frac"] == 1.0 and out[0]["dup_ngram_ratio"] == 0.75
    assert out[1]["top_ngram_frac"] == round(1 / 5, 4)
    assert out[1]["dup_ngram_ratio"] == 0.0
    assert out[2]["n_ngrams"] == 0 and out[2]["top_ngram_frac"] == 0.0


def test_pii_mask(spark):
    from sptag_spark.operators.textops import pii_mask

    rows = [
        (0, "mail me at jane.doe+x@sub.example.org thanks"),
        (1, "server 192.168.1.254 and phone +44 20 7946 0958"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_mask(df).collect()}
    assert out[0]["masked_text"] == "mail me at <EMAIL> thanks"
    assert out[0]["n_email"] == 1
    assert out[1]["masked_text"] == "server <IP> and phone <PHONE>"
    assert out[1]["n_ipv4"] == 1 and out[1]["n_phone"] == 1
    assert out[2]["masked_text"] == rows[2][1]
    assert out[2]["n_email"] == out[2]["n_ipv4"] == out[2]["n_phone"] == 0


def test_domain_mix_sample_flattens(spark):
    from sptag_spark.operators.textops import domain_mix_sample

    # 90/10 skew; alpha=0.5 → weights √90:√10 ≈ 3:1, so the small source
    # keeps a much larger FRACTION of itself than the big one
    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = domain_mix_sample(df, target_total=40, alpha=0.5)
    sizes = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert sizes["small"] >= 10 * 0.9  # nearly all of the small source
    frac_big, frac_small = sizes["big"] / 90, sizes["small"] / 10
    assert frac_small > 2 * frac_big
    # deterministic: same call → same sample
    again = domain_mix_sample(df, target_total=40, alpha=0.5)
    assert kept.exceptAll(again).count() == 0 and again.exceptAll(kept).count() == 0


def test_pack_sequences(spark):
    from sptag_spark.operators.textops import pack_sequences

    rows = [
        (0, "s", "a b c d"),        # 4 tokens → pack 0 (cum_before 0)
        (1, "s", "a b c"),          # cum_before 4 → pack 0
        (2, "s", "a b c d e"),      # cum_before 7 → pack 0
        (3, "s", "a b"),            # cum_before 12 → pack 1
        (4, "t", "a b c d e f g"),  # separate group restarts at pack 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # n_shards=1: one contiguous stream per source
    out = {
        r["doc_id"]: r
        for r in pack_sequences(df, budget=10, n_shards=1).collect()
    }
    assert [out[i]["pack_id"] for i in range(5)] == [0, 0, 0, 1, 0]
    assert out[3]["n_tokens"] == 2
    assert all(r["shard"] == 0 for r in out.values())


def test_pack_sequences_sharded(spark):
    """The shard sub-key splits a giant source into n_shards independent
    budget streams (the per-source window no longer serializes); each
    shard's packs are budget-dense and restart at 0."""
    from sptag_spark.operators.textops import pack_sequences

    rows = [(i, "s", "a b c d e") for i in range(20)]  # 5 tokens each
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(df, budget=10, n_shards=4).collect()
    assert {r["shard"] for r in out} == {0, 1, 2, 3}
    for s in range(4):
        grp = sorted(
            (r for r in out if r["shard"] == s), key=lambda r: r["doc_id"]
        )
        assert [r["doc_id"] % 4 for r in grp] == [s] * 5
        # 5 docs × 5 tokens, budget 10 → packs 0,0,1,1,2 within the shard
        assert [r["pack_id"] for r in grp] == [0, 0, 1, 1, 2]


# -- connected components / duplicate clusters ------------------------------


def test_connected_components_chain_and_convergence(spark):
    from sptag_spark.operators.components import connected_components

    # two components: a 17-node path (stresses pointer jumping: diameter 16
    # must converge well inside max_iter=25 via log-rounds doubling) and a
    # disjoint triangle with non-contiguous ids
    path = [(i, i + 1) for i in range(100, 116)]
    tri = [(7, 901), (901, 55), (55, 7)]
    edges = spark.createDataFrame(path + tri, "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert {(i, 100) for i in range(100, 117)} <= got
    assert {(7, 7), (55, 7), (901, 7)} <= got
    assert len(got) == 20


def test_connected_components_self_loop_only_dropped(spark):
    from sptag_spark.operators.components import connected_components

    edges = spark.createDataFrame([(5, 5), (1, 2)], "src long, dst long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    # node 5's only edge is a self-loop → not incident to any real edge
    assert got == {(1, 1), (2, 1)}


def test_dedup_clusters_transitive(spark):
    from sptag_spark.operators.components import dedup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                       # A
            (2, base),                       # exact dup of A
            (3, base + " extra"),            # near-dup of A (high jaccard)
            (10, "one two three four five six seven eight nine ten"),
            (11, "completely different words with no overlap here at all"),
        ],
        "doc_id long, text string",
    )
    rows = dedup_clusters(docs, 0.6).collect()
    by_doc = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"]) for r in rows}
    # 1,2,3 form ONE cluster via transitivity (2 only links to 1 exactly,
    # 3 only links near; closure merges them), rep = min id = 1
    assert by_doc == {1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_duplicate_spans(spark):
    from sptag_spark.operators.dedup import duplicate_spans

    ten = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [
            (1, ten + " k"),          # spans: [a..j], [b..k]
            (2, ten),                 # span [a..j] — duplicates doc 1's first
            (3, "x " + ten),          # spans [x a..i], [a..j] — dup again
            (4, "short doc"),         # < 10 tokens → no rows
            (5, "p q r s t u v w x y z zz"),  # 3 unique spans
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in duplicate_spans(docs, 10).collect()
    }
    assert rows[1] == (2, 1, 0.5)
    assert rows[2] == (1, 1, 1.0)
    assert rows[3] == (2, 1, 0.5)
    assert 4 not in rows
    assert rows[5] == (3, 0, 0.0)


def test_duplicate_spans_statless_input_keeps_default_width(spark):
    """A createDataFrame input has no size estimate (Catalyst reports
    Long.Max): the span shuffle must stay at the session width, not
    widen to the 4,096-way ceiling meant for huge corpora."""
    import re

    from sptag_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k")], "doc_id long, text string"
    )
    plan = duplicate_spans(docs, 10)._jdf.queryExecution().executedPlan()
    widths = re.findall(r"hashpartitioning\([^)]*, (\d+)\)", plan.toString())
    assert widths and "4096" not in widths, widths


def test_duplicate_spans_intra_doc(spark):
    from sptag_spark.operators.dedup import duplicate_spans

    # the same 10-token span occurring twice INSIDE one doc is duplicated
    ten = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, ten + " SEP " + ten)], "doc_id long, text string"
    )
    (r,) = duplicate_spans(docs, 10).collect()
    assert r["n_spans"] == 12 and r["n_dup_spans"] == 2


def test_connected_components_local_and_distributed_agree(spark):
    from sptag_spark.operators.components import connected_components

    path = [(i, i + 1) for i in range(100, 116)]
    tri = [(7, 901), (901, 55), (55, 7)]
    edges = spark.createDataFrame(path + tri, "src long, dst long")
    local = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert local == dist and len(local) == 20


def test_unigram_logprob_hand_computed(spark):
    import math

    from sptag_spark.operators.textops import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b"), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(docs).collect()
    }
    # corpus: a×2, b×2, total 4 → p(a)=p(b)=0.5
    lp = round(math.log(0.5), 4)
    assert got == {1: (3, lp), 2: (1, lp)}  # doc 3 (empty) excluded


def test_dataset_split_deterministic_and_proportional(spark):
    from sptag_spark.operators.textops import dataset_split

    docs = spark.range(10000).select(F.col("id").alias("doc_id"))
    a = dataset_split(docs, seed=7).groupBy("split").count().collect()
    b = dataset_split(docs, seed=7).groupBy("split").count().collect()
    assert {(r["split"], r["count"]) for r in a} == {
        (r["split"], r["count"]) for r in b
    }
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 10000 - 0.9) < 0.02
    assert abs(counts["val"] / 10000 - 0.05) < 0.01
    # different seed → different assignment (overwhelmingly)
    c = dataset_split(docs, seed=8)
    moved = (
        dataset_split(docs, seed=7)
        .select("doc_id", F.col("split").alias("s7"))
        .join(c.select("doc_id", F.col("split").alias("s8")), "doc_id")
        .filter(F.col("s7") != F.col("s8"))
        .count()
    )
    assert moved > 500


def test_chunk_documents_covers_text(spark, sf_dir):
    """Chunks tile every doc: idx 0..n-1, starts at stride multiples, all
    chars covered, last chunk may be short, empty doc still yields 1 chunk."""
    from pyspark.sql import functions as F

    from sptag_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 1000), (2, "b" * 399), (3, "c" * 401), (4, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, window=500, stride=400).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert {d: len(v) for d, v in by_doc.items()} == {1: 3, 2: 1, 3: 2, 4: 1}
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert all(c["chunk_start"] == c["chunk_idx"] * 400 for c in chunks)
    # doc 1: 1000 chars -> windows of 500,500,200; overlap covers all chars
    assert [c["chunk_len"] for c in by_doc[1]] == [500, 500, 200]
    assert by_doc[4][0]["chunk_len"] == 0


def test_vocab_pair_counts_ranks_adjacent_pairs(spark):
    from sptag_spark.operators.textops import vocab_pair_counts

    docs = spark.createDataFrame(
        [(1, "x y x y z"), (2, "x y q"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["pair"]: (r["rank"], r["n"]) for r in vocab_pair_counts(docs, top=10).collect()}
    # "x y" appears 3 times (twice in doc1, once in doc2)
    assert rows["x y"] == (1, 3)
    # ties broken by pair asc
    assert rows["y q"][1] == 1 and rows["y x"][1] == 1 and rows["y z"][1] == 1
    assert rows["y q"][0] < rows["y x"][0] < rows["y z"][0]
    assert "solo" not in " ".join(rows)  # single-token/empty docs yield no pairs


def test_minhash_auto_banding_dispatch(corpus):
    """rows_per_band='auto' (VERDICT r6): measured bucket occupancy picks
    the banding. Small corpora stay on the max-recall (1, 2) config —
    identical output to the explicit knobs — and a tiny budget forces the
    web-scale (2, 1) config, which still verifies every surfaced pair
    exactly (subset of the max-recall output)."""
    auto = minhash_near_dup_pairs(corpus, threshold=0.5)
    assert auto._sptag_lsh_config == (1, 2)
    explicit = minhash_near_dup_pairs(
        corpus, threshold=0.5, rows_per_band=1, min_band_matches=2
    )
    a = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in auto.collect()}
    e = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in explicit.collect()}
    assert a == e

    forced = minhash_near_dup_pairs(corpus, threshold=0.5, auto_pair_budget=0)
    assert forced._sptag_lsh_config == (2, 1)
    f = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in forced.collect()}
    assert f <= a
    assert (0, 1, 1.0) in f  # the exact copy survives any banding


def test_minhash_auto_honors_explicit_min_band_matches(corpus):
    """ADVICE r7: an explicit integer min_band_matches combined with
    rows_per_band='auto' must survive BOTH dispatch outcomes, not be
    silently reassigned by the auto branch."""
    kept = minhash_near_dup_pairs(
        corpus, threshold=0.5, min_band_matches=1
    )
    assert kept._sptag_lsh_config == (1, 1)
    forced = minhash_near_dup_pairs(
        corpus, threshold=0.5, min_band_matches=2, auto_pair_budget=0
    )
    assert forced._sptag_lsh_config == (2, 2)
    # m=1 at r=1 is a candidate superset of the default m=2: output must
    # still be exact-verified pairs, so it equals the m=2 output plus any
    # genuinely-≥threshold single-band pairs
    base = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(corpus, threshold=0.5).collect()
    }
    loose = {(r["doc_a"], r["doc_b"]) for r in kept.collect()}
    assert base <= loose


def test_minhash_auto_count_hint_short_circuit(corpus):
    """A memoized doc count whose worst case 16·C(n,2) clears the budget
    skips the occupancy job entirely and lands on the max-recall config
    with identical output."""
    auto = minhash_near_dup_pairs(corpus, threshold=0.5)
    hinted_corpus = corpus.limit(1000000).alias("h")  # fresh DF node
    hinted_corpus._sptag_cached_count = corpus.count()
    hinted = minhash_near_dup_pairs(hinted_corpus, threshold=0.5)
    assert hinted._sptag_lsh_config == (1, 2)
    a = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in auto.collect()}
    h = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in hinted.collect()}
    assert a == h
