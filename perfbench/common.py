"""Shared run context: environment, Spark session, statistics, results."""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

import numpy as np

import host
from spans import NullTracer, Tracer


def pctl(values, q: float) -> float:
    """q-th percentile (0..100, linear interpolation); 0.0 when empty."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def tail_q(n: int) -> float:
    """Highest percentile with at least ten samples beyond it, capped at
    p99; the median when there are fewer than 20."""
    if n < 20:
        return 50.0
    return min(99.0, 100.0 * (1.0 - 10.0 / n))


def geomean(values) -> float:
    v = [x for x in values if x > 0]
    if not v:
        return 0.0
    return math.exp(sum(math.log(x) for x in v) / len(v))


class Ctx:
    """Everything one benchmark run shares between its phases."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, config: dict) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = float(seconds)
        self.trace = trace
        self.config = config
        self.tracer = Tracer() if trace else NullTracer()
        self.work = os.path.join(
            root, ".perfbench_work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        )
        os.makedirs(self.work, exist_ok=True)
        self.nproc = host.nproc()
        self.driver_memory = host.driver_memory()
        self.spark = None
        self.jvm_pid: int | None = None
        self.procs: list = []  # child processes, killed if a run dies
        self.extra_pids: list[int] = []  # serving processes, for peak RSS
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        # workload-specific figures (batch_wall_s, serve_max_qps, ...) and
        # sample counts: printed and saved beside the comparable metrics
        self.named: dict = {}
        self.samples: dict[str, int] = {}
        self.breakdown: list[dict] | None = None  # traced per-query split
        self.t0 = time.perf_counter()
        self._setup_env()

    def _setup_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Spark's Python workers import the package from the checkout, and
        # everything Spark, the JVM and tempfile write stays inside it.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        # the driver heap at its full size and touched at start-up: the heap
        # G1 chose to grow to, and so the JVM's peak RSS, otherwise varied
        # by a third between runs of the same code
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Xms{self.driver_memory} -XX:+AlwaysPreTouch' "
            "pyspark-shell"
        )
        # the repo's own bench setting: AQE replanning is pure fixed cost at
        # this input size
        os.environ["SPTAG_SPARK_AQE"] = "false"
        import tempfile

        tempfile.tempdir = tmp

    def phase(self, name: str) -> None:
        """Log how far into the run a phase starts (standard error)."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {name}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness-checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"MISMATCH {what}", file=sys.stderr, flush=True)
        return ok

    def start_spark(self, cpus: int | None = None):
        """Spark sized from the host: local[cpus] (default nproc), heap
        from MemAvailable."""
        from sptag_spark.session import get_spark

        cpus = cpus or self.nproc
        self.named["spark_cores"] = cpus
        self.phase("spark start")
        with self.tracer.span("session_start", "spark"):
            self.spark = get_spark(
                f"perfbench-{self.workload}", cpus=cpus,
                shuffle_partitions=cpus,
                driver_memory=self.driver_memory,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = host.jvm_pid(self.spark)
        return self.spark

    def _rss_groups(self) -> dict[str, list[int]]:
        return {
            "driver": [os.getpid()],
            "jvm": [self.jvm_pid] if self.spark is not None else [],
            "serving": list(self.extra_pids),
        }

    def rss_reset(self) -> None:
        """Start the timed window's peak RSS: what inputs, oracles and
        warm-up reached before it no longer counts, what stays resident
        does."""
        host.reset_peak_rss([p for ps in self._rss_groups().values() for p in ps])
        self.e2e.pop("peak_rss_mb", None)

    def rss_snapshot(self) -> None:
        """Fold the current peak RSS of every live process, since
        ``rss_reset``, into the run's peak (called inside the timed window
        only, so verification after it does not count)."""
        groups = self._rss_groups()
        mb = {g: host.peak_rss_mb(p) for g, p in groups.items()}
        if sum(mb.values()) > self.e2e.get("peak_rss_mb", 0.0):
            self.e2e["peak_rss_mb"] = sum(mb.values())
            self.named["peak_rss_mb_by_process"] = mb
            self.samples["peak_rss_mb"] = sum(len(p) for p in groups.values())

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to
        exit, so nothing of Spark runs beside what comes next."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.phase("spark stop")
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - make sure it is gone
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
