"""Shared helpers: the run's working directory, summary statistics,
peak memory, the environment record and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_environment(work: str) -> None:
    """Point every scratch location the engine, Spark and the JVM use
    into the run's working directory inside the checkout, cap the
    engine at the machine's cores and size the Spark driver heap from
    the machine (a quarter of memory, 1 to 4 GiB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = max(1, min(4, mem_total_bytes() // (4 << 30)))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_SCRATCH": tmp,
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse / derby files land here


def make_work_dir() -> str:
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def remove_work_dir(work: str) -> None:
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation; 0 for no data."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    k = (len(vals) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (k - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def overhead_pct(traced, plain) -> float:
    """Tracing overhead: median of traced ops over median of untraced
    ops of the same run, in percent (0 without both kinds)."""
    if not traced or not plain:
        return 0.0
    return (median(traced) / median(plain) - 1.0) * 100.0


def mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident memory (VmHWM) of a process, this one by default.

    The end-to-end figure is this process's: the engine's Python side
    and Spark's Python driver. The query-mix inputs and oracle answers
    are made in a child process (``prepare``), so the benchmark's own
    data generation is not in it. The Spark JVM is not counted there:
    its residency follows the collector's heap sizing and varied from
    3.6 to 5.0 GB between runs of the same code; the traced run reports
    it as ``spark.jvm_peak_rss_mb``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing from /proc/{pid}/status")


def versions() -> dict:
    """Library versions, read from the installed package metadata so
    that recording them imports nothing into the measured process."""
    from importlib.metadata import version

    return {
        "python": sys.version.split()[0],
        **{name: version(name) for name in ("pyspark", "pyarrow", "duckdb")},
    }


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=False), flush=True)
