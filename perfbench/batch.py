"""Closed-loop batch runner for ``registry_sf01``.

One client runs a fixed list of queries back to back. An untimed warm
pass runs each query once and checks its output, and ``warm_passes`` more
untimed passes follow; the timed window then repeats
whole passes until ``--seconds`` have gone by (at least two), and each
query's figures are the medians of its timed walls and of the CPU seconds
its run took in the driver, the JVM and Spark's Python workers. Every
result is materialised with a noop write, so no driver collect sits in the
timing.

With tracing on, each query runs under its own Spark job group, and the
spans around its construct and execute phases carry the jobs, stages,
tasks, stage metrics, Python-node SQL metrics, leaked persisted RDDs and
broadcasts it caused.
"""

from __future__ import annotations

import time
from datetime import datetime

import os

import numpy as np

import host
from common import Ctx, geomean
from spans import SparkCounters

_PY_KEYS = ["py_rows_in", "py_bytes_in", "py_bytes_out"]
# seconds into a run after which warm-up passes stop, so that a run on a
# heavily loaded host still ends well within its 180 s limit
WARM_DEADLINE_S = 90.0


class StreamingProbe:
    """StreamingQueryListener that keeps every progress event's trigger
    time, durations and state-operator figures (the streaming layer)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                ops = list(p.stateOperators or [])
                events.append({
                    # trigger start, wall-clock seconds
                    "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "trigger_ms": float(d.get("triggerExecution", 0)),
                    "addbatch_ms": float(d.get("addBatch", 0)),
                    "commit_ms": float(
                        sum(o.commitTimeMs for o in ops)
                        + d.get("commitOffsets", 0) + d.get("walCommit", 0)
                    ),
                    "state_rows": float(sum(o.numRowsTotal for o in ops)),
                    "state_mem_bytes": float(sum(o.memoryUsedBytes for o in ops)),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def metrics(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Figures of the triggers that started inside the timed passes
        ``windows`` (wall-clock start, end): triggers per pass, and
        durations and state sizes over those triggers."""
        per_pass = [[e for e in self.events if t0 <= e["ts"] <= t1] for t0, t1 in windows]
        ev = [e for p in per_pass for e in p]
        med = lambda k: float(np.median([e[k] for e in ev])) if ev else 0.0  # noqa: E731
        return {
            "streaming.triggers": float(np.median([len(p) for p in per_pass])) if per_pass else 0.0,
            "streaming.trigger_ms_p50": med("trigger_ms"),
            "streaming.addbatch_ms_p50": med("addbatch_ms"),
            "streaming.commit_ms_p50": med("commit_ms"),
            "streaming.state_rows": max((e["state_rows"] for e in ev), default=0.0),
            "streaming.state_mem_bytes": max(
                (e["state_mem_bytes"] for e in ev), default=0.0
            ),
        }


def _broadcast_counter(spark):
    """→ callable reading how many broadcasts the SparkContext has created
    (BroadcastManager's id counter, read through reflection)."""
    try:
        bm = spark.sparkContext._jsc.sc().env().broadcastManager()
        for f in bm.getClass().getDeclaredFields():
            if f.getName().endswith("nextBroadcastId"):
                f.setAccessible(True)

                def read() -> int:
                    # an AtomicLong in some Spark versions, a long in others
                    v = f.get(bm)
                    return int(v.get() if hasattr(v, "get") else v)

                return read
    except Exception:  # noqa: BLE001 - JVM internals differ
        pass
    return lambda: 0


def run_batch(ctx: Ctx, items, checks: dict, warm_passes: int,
              min_passes: int = 2) -> list[tuple[float, float]]:
    """``items``: [(name, fn() -> DataFrame)]. ``checks``: name →
    fn(pandas result) -> bool, applied in the warm pass; queries without
    one are materialised only. → wall-clock (start, end) of each timed
    pass."""
    from sptag_spark.resources import persisted_rdd_ids, release

    spark = ctx.spark
    tr = ctx.tracer
    counters = SparkCounters(spark) if ctx.trace else None
    bcast = _broadcast_counter(spark) if ctx.trace else None
    per: dict[str, dict] = {
        name: {"wall": [], "cpu": [], "construct": [], "exec": []} for name, _ in items
    }
    me = os.getpid()

    t_warm = time.perf_counter()
    warm = {}
    for name, fn in items:
        t0 = time.perf_counter()
        with tr.span(f"warm:{name}", "queries"):
            df = fn()
            chk = checks.get(name)
            if chk is not None:
                ok = False
                try:
                    ok = bool(chk(df.toPandas()))
                finally:
                    ctx.check(ok, f"{ctx.workload}:{name}")
            else:
                df.write.format("noop").mode("overwrite").save()
                ctx.check(True, f"{ctx.workload}:{name}")
            release(df, include_self=False)
        warm[name] = time.perf_counter() - t0
    ctx.named["warm_pass_s"] = time.perf_counter() - t_warm
    # a fixed number of further untimed passes, not a time budget: pass
    # walls keep falling for several passes while the JVM compiles Spark's
    # planning and scheduling paths, and a run whose cold pass was slow
    # would otherwise start timing from an earlier point of that curve
    done = 0
    while done < warm_passes and time.perf_counter() - ctx.t0 < WARM_DEADLINE_S:
        done += 1
        for _, fn in items:
            df = fn()
            df.write.format("noop").mode("overwrite").save()
            release(df, include_self=False)
    ctx.named["warm_s"] = time.perf_counter() - t_warm
    ctx.named["warm_passes"] = done

    ctx.phase("timed passes")
    ctx.rss_reset()
    t_start = time.perf_counter()
    passes = 0
    pass_walls = []
    windows = []
    while passes < min_passes or time.perf_counter() - t_start < ctx.seconds:
        t_pass = time.perf_counter()
        w0 = time.time()
        for name, fn in items:
            rec = per[name]
            if counters is not None:
                group = f"{name}#{passes}"
                spark.sparkContext.setJobGroup(group, group)
                before_exec = counters.last_execution_id()
                before_rdds = persisted_rdd_ids(spark)
                before_bc = bcast()
            c0 = host.tree_cpu_seconds(me)
            with tr.span(name, "queries", passes=passes):
                t0 = time.perf_counter()
                with tr.span("construct", "queries"):
                    df = fn()
                t1 = time.perf_counter()
                with tr.span("execute", "spark"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            rec["cpu"].append(host.tree_cpu_seconds(me) - c0)
            release(df, include_self=False)
            rec["wall"].append(t2 - t0)
            rec["construct"].append(t1 - t0)
            rec["exec"].append(t2 - t1)
            if counters is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                jobs, stages, tasks, stage_ids = counters.jobs_for(group)
                m = counters.stage_metrics(stage_ids)
                m.update(counters.python_nodes(before_exec))
                m["jobs"], m["stages"], m["tasks"] = jobs, stages, tasks
                m["leaked_rdds"] = len(persisted_rdd_ids(spark) - before_rdds)
                m["broadcasts"] = bcast() - before_bc
                rec.setdefault("counters", []).append(m)
        pass_walls.append(time.perf_counter() - t_pass)
        windows.append((w0, time.time()))
        passes += 1
    ctx.rss_snapshot()

    med = {name: float(np.median(r["wall"])) for name, r in per.items()}
    cpu = {name: float(np.median(r["cpu"])) for name, r in per.items()}
    ctx.named["batch_wall_s"] = sum(med.values())
    ctx.named["batch_geomean_ms"] = geomean(med.values()) * 1000.0
    ctx.named["batch_max_ms"] = max(med.values()) * 1000.0
    ctx.named["queries_per_s"] = len(items) / ctx.named["batch_wall_s"]
    ctx.named["passes"] = passes
    ctx.named["pass_wall_s"] = pass_walls
    ctx.named["query_wall_s"] = med
    ctx.named["query_cpu_s"] = cpu
    ctx.named["query_warm_pass_s"] = warm
    # CPU seconds of the driver, the JVM and Spark's Python workers per
    # query: wall times of the same code moved 1.5-2x between runs with
    # the host's steal, CPU times by under a tenth
    ctx.e2e["op_cpu_ms"] = geomean(cpu.values()) * 1000.0
    ctx.samples["op_cpu_ms"] = passes * len(items)

    if counters is not None:
        _layer_metrics(ctx, per, pass_walls)
    return windows


def _layer_metrics(ctx: Ctx, per: dict, pass_walls: list[float]) -> None:
    """Per-pass layer figures: counters summed over the queries of a pass,
    then the median over passes; times are per-query medians summed."""
    L = ctx.layers
    L["queries.construct_s"] = sum(float(np.median(r["construct"])) for r in per.values())
    L["queries.exec_s"] = sum(float(np.median(r["exec"])) for r in per.values())
    n_pass = min(len(r["counters"]) for r in per.values())
    tot = []
    for i in range(n_pass):
        agg: dict[str, float] = {}
        for r in per.values():
            for k, v in r["counters"][i].items():
                agg[k] = agg.get(k, 0.0) + float(v)
        tot.append(agg)
    med = lambda k: float(np.median([t.get(k, 0.0) for t in tot]))  # noqa: E731
    L["spark.jobs"] = med("jobs")
    L["spark.stages"] = med("stages")
    L["spark.tasks"] = med("tasks")
    L["io.scan_bytes"] = med("scan_bytes")
    L["io.scan_rows"] = med("scan_rows")
    run_s = med("executor_run_s")
    L["io.rows_per_core_s"] = med("scan_rows") / run_s if run_s > 0 else 0.0
    L["exchange.write_bytes"] = med("shuffle_write_bytes")
    L["exchange.write_s"] = med("shuffle_write_s")
    L["exchange.read_bytes"] = med("shuffle_read_bytes")
    L["exchange.fetch_wait_s"] = med("fetch_wait_s")
    L["exchange.spill_bytes"] = med("spill_bytes")
    L["executor.run_s"] = run_s
    L["executor.cpu_s"] = med("executor_cpu_s")
    L["executor.gc_s"] = med("gc_s")
    wall = float(np.median(pass_walls))
    L["executor.busy_share"] = run_s / (wall * ctx.nproc) if wall > 0 else 0.0
    for k in _PY_KEYS:
        L[f"functions.{k}"] = med(k)
    L["resources.leaked_rdds"] = med("leaked_rdds")
    L["resources.broadcasts"] = med("broadcasts")
    # the per-query split the trace exists for: slowest queries first
    rows = []
    for name, r in per.items():
        c = r["counters"][-1]
        rows.append({
            "query": name,
            "wall_s": float(np.median(r["wall"])),
            "construct_s": float(np.median(r["construct"])),
            "exec_s": float(np.median(r["exec"])),
            "jobs": c["jobs"], "stages": c["stages"], "tasks": c["tasks"],
            "shuffle_write_bytes": c["shuffle_write_bytes"],
            "shuffle_write_s": c["shuffle_write_s"],
            "fetch_wait_s": c["fetch_wait_s"],
            "scan_bytes": c["scan_bytes"],
            "executor_run_s": c["executor_run_s"],
            "py_bytes_in": c["py_bytes_in"], "py_bytes_out": c["py_bytes_out"],
            "leaked_rdds": c["leaked_rdds"], "broadcasts": c["broadcasts"],
        })
    rows.sort(key=lambda x: -x["wall_s"])
    ctx.breakdown = rows
