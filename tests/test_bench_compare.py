"""tools/bench_compare.py: artifact loading + calibration normalization."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_compare import compare, load_bench  # noqa: E402


def _artifact(queries, gflops=None, gflops_after=None):
    d = {"queries": queries}
    if gflops is not None:
        d["calibration"] = {"gemm_gflops": gflops, "loadavg_1m": 1.0}
    if gflops_after is not None:
        d["calibration_after"] = {"gemm_gflops": gflops_after, "loadavg_1m": 1.0}
    return d


def test_normalization_cancels_machine_speed():
    # same per-query cost on a machine measured 2x slower: raw ratio 2.0,
    # normalized 1.0 (new gflops half of old)
    old = _artifact({"q": 1.0}, gflops=200.0)
    new = _artifact({"q": 2.0}, gflops=100.0)
    r = compare(old, new, threshold=2.0)
    assert r["calibrated"] is True
    assert r["rows"][0]["raw_ratio"] == 2.0
    assert r["rows"][0]["norm_ratio"] == 1.0
    assert r["flagged"] == []


def test_real_regression_flagged_despite_fast_machine():
    # 5x slower code on a 1.25x faster machine: norm 6.25 > 2 -> flagged
    old = _artifact({"q": 1.0}, gflops=160.0)
    new = _artifact({"q": 5.0}, gflops=200.0)
    r = compare(old, new)
    assert r["flagged"] and r["flagged"][0]["query"] == "q"


def test_calibration_averages_before_and_after():
    old = _artifact({"q": 1.0}, gflops=100.0, gflops_after=300.0)  # avg 200
    new = _artifact({"q": 1.0}, gflops=100.0)
    r = compare(old, new)
    assert r["gemm_gflops"] == {"old": 200.0, "new": 100.0}
    assert r["rows"][0]["norm_ratio"] == 0.5


def test_uncalibrated_artifacts_fall_back_to_raw():
    r = compare(_artifact({"q": 1.0}), _artifact({"q": 3.0}))
    assert r["calibrated"] is False
    assert r["rows"][0]["norm_ratio"] == 3.0
    assert r["flagged"]


def test_load_bench_unwraps_driver_artifact(tmp_path):
    payload = {"queries": {"q": 1.0}, "calibration": {"gemm_gflops": 100.0}}
    wrapped = {"n": 1, "tail": "noise\n" + json.dumps(payload) + "\n"}
    p = tmp_path / "BENCH_rX.json"
    p.write_text(json.dumps(wrapped))
    assert load_bench(str(p))["queries"] == {"q": 1.0}
    p2 = tmp_path / "BENCH_SELF.json"
    p2.write_text(json.dumps(payload))
    assert load_bench(str(p2))["calibration"]["gemm_gflops"] == 100.0


def test_cli_space_separated_threshold(tmp_path, monkeypatch, capsys):
    # ADVICE r8: the documented `--threshold 2.0` (space-separated) form
    # must work, not just `--threshold=2.0`
    from tools.bench_compare import main

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps(_artifact({"q": 1.0}, gflops=100.0)))
    new.write_text(json.dumps(_artifact({"q": 3.0}, gflops=100.0)))
    for argv in (
        ["bench_compare.py", str(old), str(new), "--threshold", "2.5"],
        ["bench_compare.py", str(old), str(new), "--threshold=2.5"],
    ):
        monkeypatch.setattr(sys, "argv", argv)
        rc = main()
        out = json.loads(capsys.readouterr().out.strip())
        assert rc == 1 and out["threshold"] == 2.5  # 3.0 > 2.5 -> flagged
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", str(old), str(new), "--threshold", "4"]
    )
    assert main() == 0  # 3.0 < 4 -> clean
    capsys.readouterr()


def test_floor_bound_queries_gate_on_raw():
    """VERDICT r9 #2: sub-floor walls are fixed stage/scheduling cost the
    gemm kernel does not track — they gate on the RAW ratio."""
    old = _artifact({"q": 1.0}, gflops=100.0)
    new = _artifact({"q": 1.45}, gflops=140.0)  # norm 2.03, raw 1.45
    r = compare(old, new)
    row = r["rows"][0]
    assert row["floor_bound"] is True
    assert row["gate_ratio"] == row["raw_ratio"]
    assert r["flagged"] == [] and r["n_floor_bound"] == 1
    # the same walls ABOVE the floor would flag on the normalized ratio
    r2 = compare(old, new, floor_sec=0.5)
    assert r2["rows"][0]["floor_bound"] is False and r2["flagged"]


def test_suspect_calibration_gates_all_on_raw():
    """When the gemm reading claims a big machine swing but raw walls are
    flat, the calibration did not track effective speed for this pair
    (r8's committed sitting) — every query gates on raw, and a genuinely
    slower query still flags."""
    old = _artifact({"a": 10.0, "b": 8.0, "c": 6.0}, gflops=80.0)
    new = _artifact({"a": 10.5, "b": 8.2, "c": 21.0}, gflops=250.0)
    r = compare(old, new)
    assert r["calibration_suspect"] is True
    assert r["gating"].startswith("raw")
    assert [f["query"] for f in r["flagged"]] == ["c"]  # raw 3.5
    # a REAL 3x-faster sitting shows flat normalized ratios and ~0.33 raw
    # medians — that is not suspect
    fast = _artifact({"a": 3.3, "b": 2.7, "c": 2.0}, gflops=250.0)
    r2 = compare(old, fast)
    assert r2["calibration_suspect"] is False


def test_retime_guard_keyed_to_core_count():
    """bench.py's end-of-sitting re-time ranks queries against the previous
    BENCH_SELF.json only when that artifact ran at the same core count;
    otherwise it re-times the slowest queries and the policy says why."""
    from bench import _retime_pick

    now = {"a": 1.0, "b": 4.0, "c": 2.0}
    prev = {"queries": {"a": 0.5, "b": 4.0, "c": 2.0}, "cpus": 4}
    # same cores: "a" doubled, so it ranks worst
    assert _retime_pick(now, prev, 4, 1) == (["a"], "worst_vs_prev_bench_self")
    # different cores, or no cpus recorded: the slowest now, with the reason
    flagged, policy = _retime_pick(now, prev, 32, 2)
    assert flagged == ["b", "c"]
    assert policy.startswith("slowest_current") and "4 cpus" in policy
    _, policy = _retime_pick(now, {"queries": prev["queries"]}, 4, 2)
    assert "no cpus" in policy
    _, policy = _retime_pick(now, {}, 4, 2)
    assert "no previous" in policy
