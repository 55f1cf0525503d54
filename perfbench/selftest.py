"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` at the tiny size (sf0.001
tables, a few hundred vectors, two-second windows, no warm-up passes),
untraced and traced,
and checks the contract of each run: exit code 0, a last line holding
exactly ``correct``, ``attempted``, ``failed`` and ``metrics``, every
end-to-end metric (untraced) or per-layer metric (traced) present with its
unit, no failed operation, and no end-to-end metric at 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    errors = []
    if p.returncode != 0:
        errors.append(f"exit code {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    if not lines:
        return errors + ["no output"]
    try:
        out = json.loads(lines[-1])
    except json.JSONDecodeError:
        return errors + [f"last line is not JSON: {lines[-1][:200]}"]
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0:
        errors.append(f"correct={out.get('correct')} failed={out.get('failed')}")
    if not isinstance(out.get("attempted"), int) or out["attempted"] < 1:
        errors.append(f"attempted={out.get('attempted')}")
    want = bench["per_layer" if trace else "end_to_end"]
    got = out.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        errors.append(f"metrics differ: missing {sorted({m['name'] for m in want} - set(got))}, "
                      f"extra {sorted(set(got) - {m['name'] for m in want})}")
    for m in want:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{m['name']}: {v}")
        elif not trace and v["value"] == 0:
            errors.append(f"{m['name']} reads 0")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failed = 0
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            errors = check_run(w, trace, bench)
            failed += bool(errors)
            print(f"{'FAIL' if errors else 'PASS'} {w} trace={trace}")
            for e in errors:
                print(f"    {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
