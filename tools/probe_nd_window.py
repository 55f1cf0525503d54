"""Probe: streaming near-dup state growth — cumulative vs window mode.

VERDICT r7 ask #3 evidence: at the ×64 doc scale (320k docs) split into
N_BATCHES micro-batches, record per-batch state bytes (Spark state-store
memoryUsedBytes) for state_mode="cumulative" vs state_mode="window", and
the recall of window mode (fraction of cumulative-mode pairs surfaced)
for a ladder of window sizes. One streaming run per mode: the file source
feeds one batch file per trigger (maxFilesPerTrigger=1), so per-batch
state metrics come from a single query's recentProgress.

Usage:  python tools/probe_nd_window.py [--scale 64] [--batches 8]
        [--windows 2,4,8]
Writes one JSON line per configuration to stdout; paste the summary into
SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from tools.scale_stress import scaled_docs  # noqa: E402

WORK = os.environ.get("SPTAG_STRESS_DIR", "/tmp/sptag_nd_window")


def _arg(name: str, default: str) -> str:
    return (
        sys.argv[sys.argv.index(name) + 1] if name in sys.argv else default
    )


def run_mode(spark, src: str, n_batches: int, mode: str, window: int):
    from sptag_spark.streaming.stateful import streaming_near_dup_candidates

    ckpt = f"{WORK}/ckpt_{mode}_{window}"
    out = f"{WORK}/out_{mode}_{window}"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cands = streaming_near_dup_candidates(
        stream, threshold=0.6, state_mode=mode, window_batches=window
    )
    t0 = time.time()
    q = (
        cands.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    # drain all n_batches files
    while True:
        q.processAllAvailable()
        progs = [json.loads(p.json) for p in q.recentProgress]
        done = sum(1 for p in progs if p.get("numInputRows", 0) > 0)
        if done >= n_batches:
            break
        time.sleep(1)
    q.stop()
    wall = time.time() - t0
    state_bytes = [
        p["stateOperators"][0]["memoryUsedBytes"]
        for p in progs
        if p.get("stateOperators") and p.get("numInputRows", 0) > 0
    ]
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(out)
        .select("doc_a", "doc_b")
        .collect()
    }
    return state_bytes, pairs, wall


def main() -> None:
    scale = int(_arg("--scale", "64"))
    n_batches = int(_arg("--batches", "8"))
    windows = [int(w) for w in _arg("--windows", "2,4,8").split(",")]

    from sptag_spark.session import get_spark

    spark = get_spark("probe-nd-window")
    os.makedirs(WORK, exist_ok=True)
    src = f"{WORK}/src_x{scale}_{n_batches}"
    if not os.path.exists(src):
        docs = scaled_docs(spark, scale).withColumn(
            "b", F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
        )
        for b in range(n_batches):
            (
                docs.filter(F.col("b") == b)
                .select("doc_id", "text")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
    n_docs = spark.read.parquet(src).count()

    cum_bytes, cum_pairs, cum_wall = run_mode(
        spark, src, n_batches, "cumulative", 0
    )
    print(
        json.dumps(
            {
                "mode": "cumulative",
                "scale": scale,
                "n_docs": n_docs,
                "batches": n_batches,
                "state_bytes_per_batch": cum_bytes,
                "pairs": len(cum_pairs),
                "wall_sec": round(cum_wall, 1),
            }
        ),
        flush=True,
    )
    for w in windows:
        wb, wp, wwall = run_mode(spark, src, n_batches, "window", w)
        print(
            json.dumps(
                {
                    "mode": f"window_{w}",
                    "scale": scale,
                    "batches": n_batches,
                    "state_bytes_per_batch": wb,
                    "pairs": len(wp),
                    "recall_vs_cumulative": (
                        round(len(wp & cum_pairs) / max(1, len(cum_pairs)), 4)
                    ),
                    "extra_pairs_not_in_cumulative": len(wp - cum_pairs),
                    "wall_sec": round(wwall, 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
