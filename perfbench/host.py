"""Host fingerprint, sizing and memory readings.

Every result records the host it ran on, so that runs from different core
counts are never compared (``compare.py`` refuses them). Spark's
``local[N]`` width and driver heap are sized from the host instead of a
fixed large default.
"""

from __future__ import annotations

import os
import subprocess


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def meminfo_kb(key: str) -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def driver_memory() -> str:
    """A quarter of available memory, between 1 and 1.5 GiB: the
    benchmark's inputs are tens of MB and the host is shared."""
    avail_mb = meminfo_kb("MemAvailable") // 1024 or 4096
    return f"{max(1024, min(1536, avail_mb // 4))}m"


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reset_peak_rss(pids) -> None:
    """Reset each process's VmHWM to its current resident set (writing 5
    to ``/proc/<pid>/clear_refs``), so a later reading covers only what
    came after."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_cpu_seconds(root: int, exclude=()) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` and every live descendant, leaving out the subtrees rooted
    at ``exclude``. Time the hypervisor takes from the VM (steal) is not
    charged to any process, so this reads the same on a host whose steal
    doubles the wall time of the same work."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        used[int(d)] = sum(int(x) for x in fields[11:15])
    skip = set(exclude)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in skip:
            continue
        total += used.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / tick


def jvm_pid(spark) -> int | None:
    """Process id of the JVM behind a local-mode SparkSession."""
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 - JVM gateway gone
        return None


def git_commit(root: str) -> str | None:
    try:
        # no search above the checkout: outside a repository there is no
        # commit to record
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def java_version() -> str | None:
    try:
        r = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return None
    # skip the "Picked up JAVA_TOOL_OPTIONS" notice the run's settings cause
    lines = [x for x in (r.stderr or r.stdout).splitlines() if not x.startswith("Picked up")]
    return lines[0].strip() if lines else None


def fingerprint(root: str) -> dict:
    """Host facts recorded before the run."""
    from sptag_spark.calibration import gemm_calibration

    import pyspark

    return {
        "nproc": nproc(),
        "mem_available_mb": meminfo_kb("MemAvailable") // 1024,
        "loadavg": list(os.getloadavg()),
        "calibration_before": gemm_calibration(n=768, runs=3),
        "git_commit": git_commit(root),
        "spark_version": pyspark.__version__,
        "java_version": java_version(),
    }
