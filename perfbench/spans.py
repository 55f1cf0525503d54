"""In-memory spans around the benchmark's calls into each layer, plus the
Spark counters attached to them.

A ``Tracer`` records spans (name, layer, start, end, parent, request id) in
a list and writes them out once, at the end of a run. The untraced run uses
``NullTracer``, whose ``span`` does nothing, so the end-to-end numbers carry
no tracing cost; the traced run reports its own overhead as traced minus
untraced end-to-end figures.

``SparkCounters`` reads Spark's own bookkeeping, which Spark keeps whether
or not its UI is enabled: the status tracker (jobs, stages, tasks of a job
group), the application status store (per-stage executor, input, shuffle
and spill metrics) and the SQL status store (per-node SQL metrics, of which
the Python nodes' rows and bytes sent to and returned from Python workers
are kept).
"""

from __future__ import annotations

import contextlib
import json
import re
import time

# SQL plan nodes that run a Python/Arrow kernel (the functions layer).
PYTHON_NODES = re.compile(r"Python|Pandas|Arrow", re.IGNORECASE)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _seq(s) -> list:
    """Scala Seq → Python list."""
    return [s.apply(i) for i in range(s.size())]


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of a formatted SQL metric value ("1,234", "12.0 MiB (...)",
    "total (min, med, max ...)\\n3.4 s (...)") in rows, bytes or seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    tok = line.split("(")[0].strip().replace(",", "")
    if not tok:
        return 0.0
    parts = tok.split()
    try:
        val = float(parts[0])
    except ValueError:
        return 0.0
    if len(parts) > 1:
        unit = parts[1]
        if kind == "size":
            val *= _SIZE_UNITS.get(unit, 1)
        elif kind in ("timing", "nsTiming"):
            val *= _TIME_UNITS.get(unit, 1.0)
    return val


class SparkCounters:
    """Spark-side counters for the jobs a block of benchmark code ran."""

    STAGE_FIELDS = {
        "executor_run_s": ("executorRunTime", 1e-3),
        "executor_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "scan_bytes": ("inputBytes", 1),
        "scan_rows": ("inputRecords", 1),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "shuffle_write_s": ("shuffleWriteTime", 1e-9),
        "shuffle_read_bytes": ("shuffleReadBytes", 1),
        "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
        "spill_bytes": ("diskBytesSpilled", 1),
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._stage_data = self._find_stage_data()

    def _find_stage_data(self):
        for m in self.store.getClass().getMethods():
            if m.getName() == "stageData":
                return len(m.getParameterTypes())
        return None

    def last_execution_id(self) -> int:
        ex = self.sql_store.executionsList()
        n = ex.size()
        return int(ex.apply(n - 1).executionId()) if n else -1

    def jobs_for(self, group: str) -> tuple[int, int, int, list[int]]:
        """→ (jobs, stages, tasks, stage ids) of one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages: list[int] = []
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                # a stage skipped because its shuffle output was reused has
                # no completed tasks and did no work
                if si is not None and si.numCompletedTasks > 0:
                    stages.append(int(s))
                    tasks += int(si.numCompletedTasks)
        return len(jobs), len(stages), tasks, stages

    def stage_metrics(self, stage_ids: list[int]) -> dict[str, float]:
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        if self._stage_data is None:
            return out
        jvm = self.sc._jvm
        for sid in stage_ids:
            args = [sid, False]
            if self._stage_data >= 3:
                args.append(jvm.java.util.ArrayList())
            if self._stage_data >= 4:
                args.append(False)
            if self._stage_data >= 5:
                args.append(self.sc._gateway.new_array(jvm.double, 0))
            try:
                attempts = _seq(self.store.stageData(*args))
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            for a in attempts:
                for key, (field, scale) in self.STAGE_FIELDS.items():
                    out[key] += float(getattr(a, field)()) * scale
        return out

    def python_nodes(self, after_execution: int) -> dict[str, float]:
        """Rows and bytes across the Python kernel boundary for every SQL
        execution started after ``after_execution``."""
        out = {"py_rows_in": 0.0, "py_bytes_in": 0.0, "py_bytes_out": 0.0}
        ex = self.sql_store.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = int(e.executionId())
            if eid <= after_execution:
                break
            values = self.sql_store.executionMetrics(eid)
            nodes = _seq(self.sql_store.planGraph(eid).allNodes())
            for n in nodes:
                if not PYTHON_NODES.search(n.name()):
                    continue
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name == "data sent to Python workers":
                        out["py_bytes_in"] += parse_sql_metric(v.get(), "size")
                    elif name == "data returned from Python workers":
                        out["py_bytes_out"] += parse_sql_metric(v.get(), "size")
                    elif name in ("number of input rows", "number of output rows"):
                        out["py_rows_in"] += parse_sql_metric(v.get(), "sum")
        return out
