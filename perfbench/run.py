"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds every input from ``--seed``, drives
one workload through the engine's public entry points, checks its outputs,
and prints one line per metric (name, value, unit, samples) followed, as
the last line of standard output, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans and Spark counters and reports the per-layer
metrics instead, plus the tracing overhead against the end-to-end figures
of an untraced run with the same seed, when one was saved. Full results,
with the host fingerprint, go to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"registry_sf01": "wl_registry", "fresh_update": "wl_fresh"}


def _load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small inputs (config.json tiny)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sptag_spark", "__init__.py")):
        print("perfbench: no sptag_spark package beside perfbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import host
    from common import Ctx

    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    tiny = config.pop("tiny")
    if args.size == "tiny":
        for w, over in tiny.items():
            config[w].update(over)
    bench = _load_bench()
    ctx = Ctx(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), config)
    t_run = time.perf_counter()
    fp = host.fingerprint(ROOT)
    ctx.phase("workload")
    module = __import__(WORKLOADS[args.workload])
    try:
        module.run(ctx)
    except BaseException:
        ctx.cleanup()
        raise
    finally:
        ctx.stop_spark()
        for p in ctx.procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    ctx.phase("report")
    from sptag_spark.calibration import gemm_calibration

    fp["calibration_after"] = gemm_calibration(n=768, runs=3)
    fp["loadavg_after"] = list(os.getloadavg())

    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    values = ctx.layers if args.trace else ctx.e2e
    if not args.trace:
        # an end-to-end metric a workload failed to measure is an error; a
        # layer the workload never calls into reads 0
        for n in names:
            if n not in values:
                ctx.check(False, f"metric {n} not measured")
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names
    }
    ctx.named["failed_share"] = ctx.failed / max(1, ctx.attempted)

    results_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results_dir, exist_ok=True)
    tag = "" if args.size == "full" else f"-{args.size}"
    e2e_path = os.path.join(
        results_dir, f"{args.workload}-s{args.seed}{tag}-e2e.json"
    )
    if args.trace and os.path.exists(e2e_path):
        with open(e2e_path) as f:
            untraced = json.load(f)["e2e"]
        ctx.named["trace_overhead"] = {
            k: (ctx.e2e[k] - v) / v
            for k, v in untraced.items() if k in ctx.e2e and v
        }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": fp, "e2e": ctx.e2e, "layers": ctx.layers,
        "named": ctx.named, "samples": ctx.samples,
        "breakdown": ctx.breakdown,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "problems": ctx.problems, "run_s": time.perf_counter() - t_run,
    }
    out_path = e2e_path if not args.trace else e2e_path.replace("-e2e", "-trace")
    if args.trace:
        record["span_self_s"] = ctx.tracer.self_times()
        ctx.tracer.dump(out_path.replace(".json", "-spans.jsonl"))
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=float)

    for n in names:
        print(f"metric {n} = {metrics[n]['value']:.6g} {metrics[n]['unit']} "
              f"(samples {ctx.samples.get(n, 1)})")
    for n, v in ctx.named.items():
        print(f"figure {n} = {json.dumps(v, default=float)}")
    for row in (ctx.breakdown or [])[:10]:
        print("slow " + json.dumps(row))
    ctx.cleanup()
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": max(1, ctx.attempted),
        "failed": ctx.failed, "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
