"""Keyword (BM25) and hybrid keyword+vector retrieval.

The reference is a pure vector engine; a training-data / RAG pipeline over
the same corpus also needs lexical retrieval and rank fusion — the classic
hybrid-search pair (BM25 candidates ∪ ANN candidates → reciprocal-rank
fusion). Both stages here are pure DataFrame plans.

Scale notes (100 TB):
- BM25 prunes to the QUERY'S terms before any shuffle: the exploded token
  stream is filtered map-side against the (tiny, broadcast) term list, so
  the per-(doc, term) aggregation shuffles only matching tokens, not the
  corpus token stream. df(t) is |terms| rows; corpus scalars (N, avgdl) are
  one partial-agg job; both broadcast back into the scoring join.
- RRF joins two (id, rank) lists of length ≤ depth per query — driver-bounded
  candidate sets, outer-joined and fused without touching the corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sptag_spark.functions.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


class Bm25Index:
    """Index-time BM25 corpus statistics (VERDICT r8 #2): the inverted
    index (tok, doc_id, dl, tf), the document frequencies (tok, df), and
    the corpus scalars (n_docs, avgdl), built from ONE tokenize pass over
    the text and served without ever touching the corpus again — the
    `warm_replica` discipline applied to lexical retrieval. The reference's
    analogue is the SPANN build/serve split: stats are a build artifact
    (SSDServing BuildSsdIndex stage), queries only read them.

    At 100 TB the tf table is the big side: save() writes it range-
    partitioned and sorted by tok so parquet row-group stats prune a term
    lookup to the row groups containing the query's terms."""

    def __init__(self, tf: DataFrame, dfs: DataFrame, n_docs: float, avgdl: float):
        self.tf = tf  # (tok, doc_id, dl, tf) persisted
        self.dfs = dfs  # (tok, df) persisted
        self.n_docs = float(n_docs)
        self.avgdl = float(avgdl)

    def scores(
        self, terms: list[str], k1: float = BM25_K1, b: float = BM25_B
    ) -> DataFrame:
        """(doc_id, bm25) for docs containing ≥1 query term — no corpus
        scan: an isin(terms) filter on the persisted inverted index (term
        pushdown), a broadcast join of the |terms|-row df subset, and the
        collected scalars folded in as literals."""
        tf = self.tf.filter(F.col("tok").isin(list(terms)))
        dfs = self.dfs.filter(F.col("tok").isin(list(terms)))
        idf = F.log(
            F.lit(1.0)
            + (F.lit(self.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        denom = F.col("tf") + k1 * (
            1.0 - b + b * F.col("dl") / F.lit(self.avgdl)
        )
        contrib = idf * F.col("tf") * (k1 + 1.0) / denom
        return _sum_contribs_by_tok(
            tf.join(F.broadcast(dfs), "tok"), contrib
        )

    def topk(
        self,
        terms: list[str],
        k: int = 20,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> DataFrame:
        """(rank, doc_id, bm25) — same contract as bm25_topk, served from
        the index artifact."""
        from sptag_spark.operators.rank import ranked_topk

        top = ranked_topk(
            self.scores(terms, k1=k1, b=b),
            [F.col("bm25").desc(), F.col("doc_id")],
            k,
        )
        return top.select("rank", "doc_id", F.round("bm25", 4).alias("bm25"))

    def save(self, path: str) -> None:
        """Persist the artifact: tf range-partitioned + sorted by tok (row-
        group stats prune term lookups), dfs plain, scalars as JSON."""
        import json
        import os

        (
            self.tf.repartitionByRange(F.col("tok"))
            .sortWithinPartitions("tok")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "tf"))
        )
        self.dfs.write.mode("overwrite").parquet(os.path.join(path, "dfs"))
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump({"n_docs": self.n_docs, "avgdl": self.avgdl}, f)

    @classmethod
    def load(cls, spark, path: str) -> "Bm25Index":
        import json
        import os

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        return cls(
            spark.read.parquet(os.path.join(path, "tf")),
            spark.read.parquet(os.path.join(path, "dfs")),
            meta["n_docs"],
            meta["avgdl"],
        )

    def release(self) -> None:
        for df in (self.tf, self.dfs):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — context may be stopped
                pass


def build_bm25_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> Bm25Index:
    """ONE tokenize pass builds everything (the r8 fold): the inverted
    index materializes first, then df and the corpus scalars are cheap
    aggregates OVER it — n_docs comes from a metadata-only count of docs
    (no tokenize), and Σdl from the distinct (doc_id, dl) pairs the tf
    table already carries (zero-token docs contribute 0 to Σdl and appear
    in no posting, so avgdl = Σdl / n_docs is exact over ALL docs)."""
    stats = _bm25_stats(docs, id_col, text_col)
    tf = (
        stats.select("doc_id", "dl", F.explode("toks").alias("tok"))
        .groupBy("tok", "doc_id", "dl")
        .agg(F.count("*").cast("double").alias("tf"))
        .persist()
    )
    tf.count()  # the single tokenize+shuffle pass
    dfs = (
        tf.groupBy("tok").agg(F.count("*").cast("double").alias("df")).persist()
    )
    n_docs = float(docs.count())  # parquet metadata count — no text read
    sum_dl = (
        tf.select("doc_id", "dl").distinct().agg(F.sum("dl")).first()[0]
        or 0.0
    )
    return Bm25Index(tf, dfs, n_docs, sum_dl / n_docs if n_docs else 0.0)


def warm_bm25_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> Bm25Index:
    """Memoize the artifact on the docs DataFrame (planner.warm_replica
    discipline): repeat queries in a session pay zero corpus scans."""
    idx = getattr(docs, "_sptag_bm25_index", None)
    if idx is None:
        idx = build_bm25_index(docs, id_col, text_col)
        docs._sptag_bm25_index = idx
    return idx


def _bm25_stats(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, dl, toks) — the tokenized corpus stream."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", F.size("toks").cast("double").alias("dl"), "toks")


def _bm25_tf(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, dl, tok, tf) for matching (doc, term) pairs. The term
    filter runs MAP-SIDE against the (tiny, literal) term array before the
    explode, so the aggregation shuffles only matching tokens — never the
    corpus token stream. Split out so the plan stays testable past the
    localCheckpoint bm25_scores puts above it (the duplicate_spans
    discipline)."""
    stats = _bm25_stats(docs, id_col, text_col)
    term_arr = F.array(*[F.lit(t) for t in terms])
    return (
        stats.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter("toks", lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def _sum_contribs_by_tok(joined: DataFrame, contrib) -> DataFrame:
    """(doc_id, bm25): per-doc BM25 total as a TOK-ORDERED fold, not a
    bare sum. Float addition is commutative but not associative, so with
    ≥3 query terms an unordered sum's last bits depend on row arrival
    order — two docs with identical text then score UNEQUAL in one run
    and equal in another, flipping their rank-tie (observed: sf0.001
    hybrid depth-100, docs 0/466). The per-doc term list is bounded by
    the query's term count, so the collect_list is a few structs."""
    return joined.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("tok", contrib.alias("c")))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("bm25")
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bm25 DOUBLE) for every doc containing ≥ 1 query term.

    Okapi/Lucene BM25: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    contribution = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    over lowercased whitespace tokens.
    """
    scal = _bm25_stats(docs, id_col, text_col).agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = _bm25_tf(docs, terms, id_col, text_col)
    # tf is consumed by the df(t) aggregate AND as the scoring probe;
    # unmaterialized, the second branch re-runs the full scan+tokenize+
    # explode lineage. The term filter already pruned the corpus stream,
    # but common terms still make tf corpus-scale, so the pin is a
    # columnar persist (the duplicate_spans GC-wall fix), attached to the
    # result for release(). One full text scan remains for the corpus
    # scalars (N, avgdl) — the classic two-pass BM25 shape.
    tf = tf.persist()
    dfs = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    from sptag_spark.resources import attach_artifacts

    return attach_artifacts(
        _sum_contribs_by_tok(
            tf.join(F.broadcast(dfs), "tok").crossJoin(F.broadcast(scal)),
            contrib,
        ),
        [tf],
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: Bm25Index | None = None,
) -> DataFrame:
    """(rank, doc_id, bm25) — top-k by (score desc, doc_id asc); rank on the
    unrounded score, ties broken by id like every other top-k in the engine.

    With ``index`` (a prebuilt Bm25Index), serves from the artifact — zero
    corpus scans. Without one, the inline two-pass shape (the right call
    for a one-off query: it shuffles only the query's terms, never the full
    token stream the index build pays for once).

    The tail is TakeOrderedAndProject (per-partition heap), not a global
    window — the scored candidate set (every doc matching ≥ 1 term) never
    funnels through one task. See operators/rank.py.
    """
    if index is not None:
        return index.topk(terms, k=k, k1=k1, b=b)
    from sptag_spark.operators.rank import ranked_topk
    from sptag_spark.resources import carry_artifacts

    scores = bm25_scores(docs, terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
    top = ranked_topk(scores, [F.col("bm25").desc(), F.col("doc_id")], k)
    return carry_artifacts(
        top.select("rank", "doc_id", F.round("bm25", 4).alias("bm25")), scores
    )


def rrf_fuse(
    list_a: DataFrame,
    list_b: DataFrame,
    k: int = 20,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two (id, rank) candidate lists:
    rrf(d) = Σ_lists 1/(c + rank_d); absent-from-a-list contributes 0,
    and so does a NULL rank (an unranked row adds nothing; it does not
    make the fused score NULL).

    Input contract: doc_ids are unique within each list. A doc_id listed
    twice in one list is summed twice, like a doc in both lists.

    Returns (rank, doc_id, rrf) top-k by (rrf desc, doc_id asc). Tail is
    TakeOrderedAndProject, not a global window (operators/rank.py) — the
    fused candidate union can be |queries|·depth rows in a batch run.

    Shape (r14, guide §3.4): the fusion is a UNION + sum-aggregate, not a
    full-outer join — a full outer cannot broadcast, so Spark planned a
    SortMergeJoin (two full-width exchanges + sorts) to fuse two
    rank-bounded lists. Each list contributes 1/(c + rank) rows and the
    per-doc sum over the union is value-identical to the join's
    coalesce-to-0 addition (a doc appears in ≤ 2 lists; IEEE addition of
    two terms is commutative), for ONE combinable exchange and no sort.
    """
    from sptag_spark.operators.rank import ranked_topk

    contrib = F.coalesce(1.0 / (F.lit(c) + F.col("rank")), F.lit(0.0))
    fused = (
        list_a.select(F.col(id_col).alias("doc_id"), contrib.alias("_c"))
        .unionByName(
            list_b.select(F.col(id_col).alias("doc_id"), contrib.alias("_c"))
        )
        .groupBy("doc_id")
        .agg(F.sum("_c").alias("rrf"))
    )
    top = ranked_topk(fused, [F.col("rrf").desc(), F.col("doc_id")], k)
    return top.select("rank", "doc_id", F.round("rrf", 6).alias("rrf"))
