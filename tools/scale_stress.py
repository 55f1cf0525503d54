"""Scale-stress harness: measure how the headline operators scale with N.

The correctness gate runs at sf0.01 and the bench at sf0.1; this tool answers
the next question — does wall time grow like the PLAN says it should when the
data grows 4× and 16×? Near-linear growth (ratio ≈ scale) validates the
shuffle/partition design; super-linear growth exposes an all-pairs or
single-partition bottleneck hiding below test scale.

Corpus synthesis: documents/embeddings from $SPTAG_STRESS_SF (default sf0.1)
replicated k× with deterministic perturbation — texts get a per-copy suffix
token and embeddings a per-copy deterministic jitter, so dedup/LSH outputs
don't explode combinatorially with the copy count (exact copies would).

Usage: python tools/scale_stress.py [--scales 1,4,16]
Writes one JSON line per (operator, scale) and a summary table to stdout;
results land in SCALING.md (curated by hand).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPTAG_STRESS_SF", "/root/testdata/sf0.1")
WORK = os.environ.get("SPTAG_STRESS_DIR", "/tmp/sptag_stress")


def scaled_docs(spark: SparkSession, scale: int) -> DataFrame:
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    if scale == 1:
        return base
    copies = spark.range(scale).select(F.col("id").alias("copy"))
    # per-copy suffix on EVERY token: copy k of a doc shares no shingles
    # with copy j≠k, so the near-dup pair structure replicates linearly
    # (suffixing only the end of the text leaves copies ~identical and
    # fabricates a quadratic cross-copy pair explosion the real corpus
    # doesn't have)
    perturbed = F.array_join(
        F.transform(
            F.split(F.trim("text"), r"\s+"),
            lambda t: F.concat(t, F.lit("c"), F.col("copy").cast("string")),
        ),
        " ",
    )
    return base.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * 10_000_000).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text")).otherwise(perturbed).alias("text"),
    )


def scaled_embeddings(spark: SparkSession, scale: int) -> DataFrame:
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    if scale == 1:
        return base.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    copies = spark.range(scale).select(F.col("id").alias("copy"))
    # deterministic per-(id, copy) jitter on the first component: copies are
    # near but not identical, so ANN structures see genuinely new points
    return base.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * 10_000_000).alias("id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + F.when(i == 0, (F.col("copy") % 97).cast("float") / 1000.0).otherwise(
                F.lit(0.0)
            ),
        ).alias("vector"),
    )


def materialize(df: DataFrame, path: str) -> str:
    if not os.path.exists(path):
        df.write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    scales = [
        int(s)
        for s in (sys.argv[sys.argv.index("--scales") + 1] if "--scales" in sys.argv else "1,4,16").split(",")
    ]
    # --ops a,b,c restricts the probe to the named operators (default all)
    only_ops = (
        set(sys.argv[sys.argv.index("--ops") + 1].split(","))
        if "--ops" in sys.argv
        else None
    )
    from sptag_spark.session import get_spark

    os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "48g")
    spark = get_spark("scale-stress", cpus=32, shuffle_partitions=64)
    os.makedirs(WORK, exist_ok=True)

    from sptag_spark.index.ann import ann_search
    from sptag_spark.index.heads import select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.operators.components import dedup_clusters
    from sptag_spark.operators.dedup import duplicate_spans, minhash_near_dup_pairs
    from sptag_spark.operators.knn import range_search
    from sptag_spark.operators.retrieval import bm25_topk
    from sptag_spark.operators.textops import chunk_documents, vocab_pair_counts

    results: list[dict] = []

    def record(op: str, scale: int, n: int, fn) -> None:
        if only_ops is not None and op not in only_ops:
            return
        if isinstance(fn, (int, float)):
            sec = fn
        else:
            # time the BUILD+EXECUTE together (operators with eager
            # dispatch jobs, e.g. minhash's occupancy measurement, must
            # stay inside the window), then release the op's pinned
            # intermediates (bench.py discipline): a leftover 1.28M-doc
            # shingle cache from minhash measured duplicate_spans at 116 s
            # vs 20 s isolated at ×256 — cross-op cache pressure is probe
            # contamination, not op cost
            from sptag_spark.resources import release

            t0 = time.time()
            df = fn()
            df.write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
            release(df, include_self=False)
        row = {"op": op, "scale": scale, "rows_in": n, "sec": round(sec, 2)}
        results.append(row)
        print(json.dumps(row), flush=True)

    DOC_OPS = {"minhash_near_dup", "duplicate_spans", "bm25_topk",
               "dedup_clusters", "doc_chunks", "vocab_pair_counts"}
    VEC_OPS = {"spann_build", "spann_serve", "range_search"}
    for scale in scales:
        if only_ops is not None and not (only_ops & DOC_OPS):
            docs, nd = None, 0
        else:
            dpath = materialize(
                scaled_docs(spark, scale), f"{WORK}/documents_x{scale}.parquet"
            )
            docs = spark.read.parquet(dpath)
            nd = docs.count()

        record("minhash_near_dup", scale, nd,
            lambda: minhash_near_dup_pairs(docs, 0.6)
        )
        record("duplicate_spans", scale, nd,
            lambda: duplicate_spans(docs, 10)
        )
        record("bm25_topk", scale, nd,
            lambda: bm25_topk(docs, ["merge", "scan", "hash"], k=20)
        )
        record("dedup_clusters", scale, nd,
            lambda: dedup_clusters(docs, 0.6)
        )
        record("doc_chunks", scale, nd,
            lambda: chunk_documents(docs)
        )
        record("vocab_pair_counts", scale, nd,
            lambda: vocab_pair_counts(docs)
        )

        if only_ops is not None and not (only_ops & VEC_OPS):
            continue
        epath = materialize(
            scaled_embeddings(spark, scale), f"{WORK}/embeddings_x{scale}.parquet"
        )
        vecs = spark.read.parquet(epath)
        nv = vecs.count()
        queries = vecs.filter(F.col("id") % (25 * scale) == 0).select(
            F.col("id").alias("query_id"), "vector"
        )

        t0 = time.time()
        heads = select_heads(vecs, ratio=0.1).persist()
        postings = build_postings(vecs, heads).persist()
        postings.count()
        record("spann_build", scale, nv, time.time() - t0)
        nprobe = max(10, heads.count() * 85 // 1000)
        record("spann_serve", scale, nv,
            lambda: ann_search(queries, heads, postings, k=10, nprobe=nprobe)
        )
        record("range_search", scale, nv,
            lambda: range_search(vecs, queries, radius=1.3)
        )
        heads.unpersist()
        postings.unpersist()

    # summary: per op, time ratio vs scale ratio
    print("\nop                 scale  rows_in     sec   xtime-vs-x1")
    by_op: dict[str, dict[int, dict]] = {}
    for r in results:
        by_op.setdefault(r["op"], {})[r["scale"]] = r
    for op, rows in by_op.items():
        base = rows.get(min(rows))
        for scale in sorted(rows):
            r = rows[scale]
            ratio = r["sec"] / max(base["sec"], 1e-9)
            print(f"{op:18s} {scale:5d} {r['rows_in']:8d} {r['sec']:7.2f}   {ratio:6.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
