"""Process-level helpers: session teardown, memory, host record."""

from __future__ import annotations

import os
import platform
import resource
import subprocess
import sys


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM, in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # already gone; the wait below still runs
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def env_record(root: str) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": host_cpus(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "platform": platform.platform(),
        "git_commit": commit,
        "loadavg_start": os.getloadavg(),
    }


def tree_census(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
