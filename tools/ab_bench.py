"""Focused A/B bench: the four headline metrics, one fresh process per run.

Purpose (VERDICT r6 ask #1): every headline number regressed r5→r6 with no
committed attribution. This harness runs ONLY those metrics — the 7 index
builds, exact-kNN batch QPS, SPANN batch QPS at the 0.95-recall operating
point, and multiprocess replica QPS — against an arbitrary checkout of the
repo (a git worktree of any round's HEAD), so interleaved fresh-process runs
of two checkouts in the same sitting isolate code effects from machine state.

A calibration micro-kernel (fixed-size float64 GEMM, the arithmetic every
scoring kernel leans on, plus 1-minute loadavg) runs first in each process:
if two runs' GEMM throughputs differ, the machine differed, and the honest
comparison is QPS normalized by calibration gflops.

Usage: python tools/ab_bench.py REPO_ROOT [SF_DIR]
Prints one JSON line. Drive interleaved runs with tools/ab_drive.sh.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else "/root/repo"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
sys.path.insert(0, REPO)


def _replica_proc_main(replica, qs, k, nprobe, ready, start, done):
    # spawn-context child (see bench.py's note: fork would share the py4j
    # socket); warm before signalling ready so the timed window is search-only
    import numpy as np  # noqa: PLC0415

    replica.search_one(np.asarray(qs[0]), k=k, nprobe=nprobe)
    ready.put(1)
    start.wait()
    for q in qs:
        replica.search_one(np.asarray(q), k=k, nprobe=nprobe)
    done.put(len(qs))


def calibrate() -> dict:
    """Machine-state fingerprint: single-process BLAS GEMM gflops (median of
    5) — the primitive the scoring kernels are made of — and loadavg."""
    import numpy as np

    n = 1536
    rng = np.random.default_rng(0)
    A = rng.standard_normal((n, n))
    B = rng.standard_normal((n, n))
    A @ B  # warm
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        A @ B
        samples.append(time.perf_counter() - t0)
    samples.sort()
    gflops = 2 * n**3 / samples[len(samples) // 2] / 1e9
    return {
        "gemm_gflops": round(gflops, 1),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    cal = calibrate()

    os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "40g")
    os.environ.setdefault("SPTAG_SPARK_AQE", "false")
    from sptag_spark.session import get_spark

    spark = get_spark("sptag-ab", cpus=32, shuffle_partitions=32)
    # same warm-up as bench.py: JVM + Python/Arrow worker pool
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    from sptag_spark.queries.ann_queries import (
        _kdt_leaf_histogram,
        _rng_graph_degrees,
        ivf_index,
        ivfpq_index,
        opq_index,
        pq_index,
        spann_index,
    )
    from sptag_spark.tables import queries_table

    out: dict = {"repo": REPO, "calibration": cal}

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
        builder(spark, SF_DIR)
        builds[bname] = round(time.time() - t0, 3)
    out["index_build_sec"] = builds
    out["index_build_total_sec"] = round(sum(builds.values()), 3)

    spark._jvm.System.gc()

    # exact kNN batch QPS — same protocol as bench.py: registry knn_l2,
    # 1 warm-up + median of n
    from sptag_spark.registry import all_specs

    n_runs = int(os.environ.get("AB_RUNS", "3"))
    spec = all_specs()["knn_l2"]
    samples = []
    for i in range(1 + n_runs):
        t0 = time.time()
        spec.query(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        if i >= 1:
            samples.append(time.time() - t0)
    samples.sort()
    nq = queries_table(spark, SF_DIR).count()
    out["exact_knn_batch_qps"] = round(nq / samples[len(samples) // 2], 1)

    # SPANN batch QPS at the committed operating point (nprobe=24)
    from sptag_spark.index.ann import ann_search

    heads, postings = spann_index(spark, SF_DIR)
    queries_df = queries_table(spark, SF_DIR)
    samples = []
    for i in range(1 + n_runs):
        t0 = time.time()
        ann_search(queries_df, heads, postings, k=10, nprobe=24).write.format(
            "noop"
        ).mode("overwrite").save()
        if i >= 1:
            samples.append(time.time() - t0)
    samples.sort()
    out["spann_batch_qps"] = round(nq / samples[len(samples) // 2], 1)

    # multiprocess replica QPS — bench.py's spawn-barrier protocol
    import multiprocessing as mp

    import numpy as np

    from sptag_spark.serving_local import DiskSpannReplica

    replica = DiskSpannReplica(heads, postings)
    reps = [
        np.asarray(r["vector"], dtype=np.float64)
        for r in queries_df.collect()
    ]
    replica.search_one(reps[0], k=10, nprobe=24)
    ctx = mp.get_context("spawn")
    n_procs = 16
    qvs = reps * 8
    ready_q, done_q = ctx.Queue(), ctx.Queue()
    start_ev = ctx.Event()
    procs = [
        ctx.Process(
            target=_replica_proc_main,
            args=(replica, qvs[i::n_procs], 10, 24, ready_q, start_ev, done_q),
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
        for p in procs:
            if p.is_alive():
                p.terminate()
    out["replica_qps_multiprocess"] = round(done / mp_wall, 1)

    out["calibration_after"] = calibrate()
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
