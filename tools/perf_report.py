"""ANN serving report in the reference harness's shape.

Emits the numbers SSDServing prints for a search stage — QPS
(`SSDIndex.h:154-158`), Recall@K and MRR@K vs brute-force truth
(`SSDIndex.h:284-285`, `TruthSet.h:167-243` tie-credit semantics), and the
latency percentile table (`SSDIndex.h:288-345`) — against the prebuilt
index structures, "so numbers are comparable in spirit" (BASELINE.md).

Usage:
    python tools/perf_report.py [spann|ivf|pq|replica] [sf_dir] [k]

Batch throughput comes from the batched plan (Spark's natural execution);
per-query latency percentiles come from single-query executions, which is
what a serving deployment of this engine would issue.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "spann"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    os.environ.setdefault("SPTAG_SPARK_AQE", "false")
    os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "16g")
    from sptag_spark.operators.knn import knn
    from sptag_spark.operators.recall import recall_per_query, recall_summary
    from sptag_spark.queries.ann_queries import ivf_index, pq_index, spann_index
    from sptag_spark.session import get_spark
    from sptag_spark.tables import queries_table, vectors_table

    spark = get_spark("perf-report", cpus=32, shuffle_partitions=32)
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").count()

    vectors = vectors_table(spark, sf_dir)
    queries = queries_table(spark, sf_dir).cache()
    n_queries = queries.count()

    t0 = time.time()
    if mode == "replica":
        # the serving tier: Spark-built artifacts loaded into process RAM
        # (serving_local.py) — same JSON shape, ms-scale numbers
        from sptag_spark.serving_local import DiskSpannReplica

        heads, postings = spann_index(spark, sf_dir)
        replica = DiskSpannReplica(heads, postings)
        build_sec = round(time.time() - t0, 3)
        truth = knn(vectors, queries, k=k)
        truth_sets = {}
        for r in truth.collect():
            truth_sets.setdefault(r["query_id"], set()).add(r["id"])
        qs = [
            (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in queries.collect()
        ]
        replica.search_one(qs[0][1], k=k, nprobe=10)  # warm
        lat, hits, rr_sum = [], 0, 0.0
        t0 = time.time()
        for qid, q in qs:
            t1 = time.time()
            ids, _ = replica.search_one(q, k=k, nprobe=10)
            lat.append((time.time() - t1) * 1000.0)
            tset = truth_sets[qid]
            hits += sum(int(i) in tset for i in ids)
            first = next((r + 1 for r, i in enumerate(ids) if int(i) in tset), None)
            rr_sum += 1.0 / first if first else 0.0
        wall = time.time() - t0
        lat = np.array(sorted(lat))
        print(
            json.dumps(
                {
                    "mode": mode,
                    "sf_dir": sf_dir,
                    "k": k,
                    "n_queries": n_queries,
                    "build_sec": build_sec,
                    "qps_batch": round(n_queries / wall, 2),
                    f"recall@{k}": round(hits / (n_queries * k), 4),
                    f"mrr@{k}": round(rr_sum / n_queries, 4),
                    "latency_ms": {
                        "p50": round(float(np.percentile(lat, 50)), 3),
                        "p90": round(float(np.percentile(lat, 90)), 3),
                        "p95": round(float(np.percentile(lat, 95)), 3),
                        "p99": round(float(np.percentile(lat, 99)), 3),
                        "max": round(float(lat[-1]), 3),
                    },
                }
            )
        )
        spark.stop()
        return
    if mode == "spann":
        from sptag_spark.index.ann import ann_search

        heads, postings = spann_index(spark, sf_dir)
        search = lambda q: ann_search(q, heads, postings, k=k, nprobe=10)
    elif mode == "ivf":
        from sptag_spark.index.ivf import ivf_search

        centroids, lists = ivf_index(spark, sf_dir)
        search = lambda q: ivf_search(q, centroids, lists, k=k, nprobe=12)
    elif mode == "pq":
        from sptag_spark.index.pq import adc_search

        books, codes = pq_index(spark, sf_dir)
        search = lambda q: adc_search(codes, q, books, k=k).withColumnRenamed(
            "adc_dist", "dist"
        )
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    build_sec = round(time.time() - t0, 3)

    # truth: brute-force exact top-k (the reference's TruthSet)
    truth = knn(vectors, queries, k=k).cache()
    truth.count()

    # batch QPS
    t0 = time.time()
    results = search(queries)
    results.write.format("noop").mode("overwrite").save()
    batch_wall = time.time() - t0
    qps = round(n_queries / batch_wall, 2)

    # recall / MRR with distance-tie credit
    summary = recall_summary(recall_per_query(search(queries), truth, k)).first()

    # per-query latency percentiles over a sample of single-query runs
    sample = queries.limit(20).collect()
    lat = []
    for r in sample:
        q1 = spark.createDataFrame(
            [(r["query_id"], r["vector"])], "query_id long, vector array<float>"
        )
        t0 = time.time()
        search(q1).collect()
        lat.append((time.time() - t0) * 1000.0)
    lat = np.array(sorted(lat))

    def pct(p):
        return round(float(np.percentile(lat, p)), 1)

    print(
        json.dumps(
            {
                "mode": mode,
                "sf_dir": sf_dir,
                "k": k,
                "n_queries": n_queries,
                "build_sec": build_sec,
                "qps_batch": qps,
                f"recall@{k}": round(summary["avg_recall"], 4),
                f"mrr@{k}": round(summary["mrr"], 4),
                "latency_ms": {
                    "p50": pct(50),
                    "p90": pct(90),
                    "p95": pct(95),
                    "p99": pct(99),
                    "max": round(float(lat.max()), 1),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
