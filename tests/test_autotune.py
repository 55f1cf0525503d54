"""Auto-tune harness (tools/autotune.py — nni-auto-tune parity): the chosen
operating point must MEASURE at or above the recall target, and the curve
must behave (recall non-decreasing in nprobe for a fixed build)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from autotune import autotune  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_autotune_chooses_point_hitting_target(spark):
    res = autotune(
        spark,
        SF,
        recall_target=0.9,
        k=10,
        nprobes=(4, 8, 16),
        build_configs=((8, 1000),),
    )
    assert res["chosen"] is not None
    assert res["chosen"]["recall_at_k"] >= 0.9
    # chosen = max QPS among eligible points
    elig = [p for p in res["curve"] if p["recall_at_k"] >= 0.9]
    assert res["chosen"]["qps_single_thread"] == max(
        p["qps_single_thread"] for p in elig
    )
    # recall monotone (within tie noise) in nprobe for the fixed build
    recalls = [p["recall_at_k"] for p in res["curve"]]
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])), recalls
    # candidate volume grows with nprobe — the bounded-work knob
    scanned = [p["avg_rows_scanned"] for p in res["curve"]]
    assert scanned == sorted(scanned)
