"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py A B

A and B are each a directory of result records (as ``run.py`` writes them
under ``.perfbench_work/results/``) or a file of them, one JSON object per
line. A is the parent, B the change; metrics, directions and bounds come
from the ``BENCHMARK.json`` beside ``perfbench/``. End-to-end metrics are
read from untraced runs, per-layer metrics from traced ones. For every (workload,
end-to-end metric) the tool prints each side's median and quartiles, the
pairs B won (runs paired in seed order), and a verdict:

- ``improved``: B wins at least nine tenths of the pairs (ties count for
  neither) and the medians differ, in the better direction, by more than
  A's own interquartile distance;
- ``worse``: B's median is worse than A's by more than the metric's bound;
- ``unresolved``: either side's spread (interquartile distance over
  median) is wider than the bound, unless every run of B reads better than
  every run of A;
- ``unchanged``: none of the above.

Runs taken at different core counts are refused.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            text = fh.read().strip()
        try:
            recs = [json.loads(text)]
        except json.JSONDecodeError:
            recs = [json.loads(line) for line in text.splitlines() if line.strip()]
        out += [r for r in recs if isinstance(r, dict) and "workload" in r]
    return out


def values(recs: list[dict], workload: str, metric: str, layer: bool) -> list[float]:
    """One value per run, in seed order: end-to-end metrics from untraced
    runs, per-layer metrics from traced ones."""
    rs = sorted(
        (r for r in recs if r["workload"] == workload and bool(r.get("trace")) == layer),
        key=lambda r: r.get("seed", 0),
    )
    key = "layers" if layer else "e2e"
    return [float(r[key][metric]) for r in rs if metric in r.get(key, {})]


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(a: list[float], b: list[float], bound: float, higher: bool) -> tuple[str, int, int]:
    """→ (verdict, pairs B won, pairs compared)."""
    sign = 1.0 if higher else -1.0
    pairs = list(zip(a, b))
    won = sum(1 for x, y in pairs if sign * (y - x) > 0)
    qa1, ma, qa3 = quartiles(a)
    qb1, mb, qb3 = quartiles(b)
    spread_a = (qa3 - qa1) / abs(ma) if ma else float("inf")
    spread_b = (qb3 - qb1) / abs(mb) if mb else float("inf")
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    gain = sign * (mb - ma)
    if gain > 0 and won >= 0.9 * len(pairs) and gain > (qa3 - qa1):
        return "improved", won, len(pairs)
    if (spread_a > bound or spread_b > bound) and not all_better:
        return "unresolved", won, len(pairs)
    if ma and -gain / abs(ma) > bound:
        return "worse", won, len(pairs)
    return "unchanged", won, len(pairs)


def main(argv=None) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    A, B = load(args.a), load(args.b)
    cores = {r.get("host", {}).get("nproc") for r in A + B}
    if len(cores) > 1:
        print(f"refusing to compare runs taken at different core counts: {sorted(map(str, cores))}")
        return 2
    metrics = [(m, False) for m in bench["end_to_end"]] + [(m, True) for m in bench["per_layer"]]
    print(f"{'workload':15s} {'metric':34s} {'A median [q1, q3]':>30s} {'B median [q1, q3]':>30s} {'won':>7s}  verdict")
    worse = 0
    for w in [x["name"] for x in bench["workloads"]]:
        for m, layer in metrics:
            a, b = values(A, w, m["name"], layer), values(B, w, m["name"], layer)
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            if layer:  # per-layer metrics carry no bound: figures only
                v, won, n = "-", 0, min(len(a), len(b))
            else:
                v, won, n = verdict(a, b, m["bound"], m["better"] == "higher")
            worse += v == "worse"
            side = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
            print(f"{w:15s} {m['name']:34s} {side(qa):>30s} {side(qb):>30s} "
                  f"{won:>3d}/{n:<3d} {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
