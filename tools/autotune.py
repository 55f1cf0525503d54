"""ANN operating-point auto-tuner (VERDICT r6 ask #4).

Reference parity: `/root/reference/Tools/nni-auto-tune/main.py` + `runner.py`
search SPANN's knobs (search-internal-result-num, replica/posting limits)
for a recall target using NNI trials. This is the same harness without the
NNI dependency: a deterministic sweep over (replica_count, posting_limit)
build configs × nprobe serve settings, each point MEASURED — recall@k
against the exact-kNN truth and single-thread QPS on the store replica
(serving_local.DiskSpannReplica, row-identical to the distributed plan,
so the measured recall is the plan's recall) — and the chosen point is the
highest-QPS configuration that clears the target.

The curve + choice are machine-readable (AUTOTUNE.json when run as a CLI)
and feed the serving tier directly: pass chosen["nprobe"] to
DiskSpannReplica.search_one / ann_search, and rebuild postings with
chosen["replica_count"]/["posting_limit"] if they differ from the default.

Usage:
  python tools/autotune.py [--target 0.9] [--k 10] [--sf-dir DIR] [--out PATH]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_NPROBES = (4, 8, 12, 16, 24, 32)


def autotune(
    spark,
    sf_dir: str,
    recall_target: float = 0.9,
    k: int = 10,
    nprobes: tuple = DEFAULT_NPROBES,
    build_configs: tuple = ((4, 500), (4, 1000), (8, 500), (8, 1000)),
    head_ratio: float | None = None,
) -> dict:
    """Sweep → measure → choose. Returns
    {"target", "k", "curve": [...], "chosen": {...} | None}.

    Each curve point: build knobs, nprobe, measured recall@k / MRR proxy,
    single-thread replica QPS, and the candidate volume (avg posting rows
    scanned per query — the figure that stays bounded as the corpus grows).
    Chosen = max QPS among points with recall ≥ target; None if no point
    clears it (caller should widen the sweep, e.g. more replicas)."""
    import numpy as np

    from sptag_spark.index.heads import DEFAULT_HEAD_RATIO, select_heads
    from sptag_spark.index.postings import build_postings
    from sptag_spark.queries.ann_queries import truth_topk
    from sptag_spark.serving_local import DiskSpannReplica
    from sptag_spark.tables import queries_table, vectors_table

    vectors = vectors_table(spark, sf_dir)
    q_rows = [
        (int(r["query_id"]), np.asarray(r["vector"], dtype=np.float64))
        for r in queries_table(spark, sf_dir).collect()
    ]
    truth: dict[int, list] = {}
    for r in truth_topk(spark, sf_dir, k=k).collect():
        truth.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["id"]), float(r["dist"]))
        )
    truth_sets = {
        qid: {i for _, i, _ in rows} for qid, rows in truth.items()
    }
    # tie credit at the boundary (recall.py convention): any id whose dist
    # ties the kth truth dist within 1e-6 counts as a hit
    kth = {
        qid: max(d for _, _, d in rows) for qid, rows in truth.items()
    }

    from sptag_spark.plans.planner import index_fingerprint

    curve: list[dict] = []
    fingerprints: dict[tuple, dict] = {}
    for replica_count, posting_limit in build_configs:
        heads = select_heads(
            vectors, ratio=head_ratio or DEFAULT_HEAD_RATIO
        ).persist()
        postings = build_postings(
            vectors,
            heads,
            replica_count=replica_count,
            posting_limit=posting_limit,
        ).persist()
        postings.count()
        # identity of this build, so deploy-time adoption can verify the
        # tuned point was measured on the index it's being applied to
        # (ADVICE r8 — planner.tuned_operating_point fingerprint gate)
        fingerprints[(replica_count, posting_limit)] = index_fingerprint(
            heads, postings
        )
        rep = DiskSpannReplica(heads, postings)
        plen = np.diff(rep.indptr)
        for nprobe in nprobes:
            rep.search_one(q_rows[0][1], k=k, nprobe=nprobe)  # warm
            hits = total = 0
            rows_scanned = []
            t0 = time.perf_counter()
            for qid, qv in q_rows:
                ids, dists = rep.search_one(qv, k=k, nprobe=nprobe)
                ts = truth_sets[qid]
                hits += sum(
                    1
                    for i, d in zip(ids, dists)
                    if i in ts or d <= kth[qid] + 1e-6
                )
                total += len(ts)
            wall = time.perf_counter() - t0
            # candidate volume: posting lengths of the routed heads
            for qid, qv in q_rows[: min(32, len(q_rows))]:
                hd = rep.H - qv[None, :]
                d = (hd * hd).sum(1)
                sel = np.argsort(d)[:nprobe]
                rows_scanned.append(int(plen[sel].sum()))
            curve.append(
                {
                    "replica_count": replica_count,
                    "posting_limit": posting_limit,
                    "nprobe": nprobe,
                    "recall_at_k": round(hits / max(total, 1), 4),
                    "qps_single_thread": round(len(q_rows) / wall, 1),
                    "avg_rows_scanned": round(
                        sum(rows_scanned) / len(rows_scanned), 1
                    ),
                }
            )
        heads.unpersist()
        postings.unpersist()
    eligible = [p for p in curve if p["recall_at_k"] >= recall_target]
    chosen = (
        max(eligible, key=lambda p: p["qps_single_thread"])
        if eligible
        else None
    )
    out = {"target": recall_target, "k": k, "curve": curve, "chosen": chosen}
    if chosen:
        out["index_fingerprint"] = fingerprints[
            (chosen["replica_count"], chosen["posting_limit"])
        ]
    return out


def main() -> int:
    argv = sys.argv[1:]

    def opt(name, default):
        if name in argv:
            i = argv.index(name)
            return argv[i + 1]
        return default

    target = float(opt("--target", "0.9"))
    k = int(opt("--k", "10"))
    sf_dir = opt("--sf-dir", "/root/testdata/sf0.01")
    out_path = opt("--out", os.path.join(ROOT, "AUTOTUNE.json"))

    from sptag_spark.calibration import gemm_calibration
    from sptag_spark.session import get_spark

    cal = gemm_calibration()
    spark = get_spark("autotune")
    result = autotune(spark, sf_dir, recall_target=target, k=k)
    result["sf_dir"] = sf_dir
    result["calibration"] = cal
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps(result["chosen"], separators=(",", ":")))
    spark.stop()
    return 0 if result["chosen"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
