"""Spark session sized to the machine, box facts, and RSS sampling."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import threading
import time
from typing import Dict, List, Optional


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of physical RAM, between 1 and 4 GiB."""
    return max(1, min(4, ram_bytes() // (4 << 30)))


def _java_version() -> Optional[str]:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = [l for l in (out.stderr or out.stdout).splitlines()
             if not l.startswith("Picked up")]
    return lines[0] if lines else None


def _git_commit(root: str) -> Optional[str]:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha256 over the engine's Python sources: identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "sophia_rs_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def box_info(root: str, seed: int) -> Dict[str, object]:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / (1 << 30), 1),
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": sys.version.split()[0],
        "git_commit": _git_commit(root),
        "source_digest": source_digest(root),
        "seed": seed,
    }


def prepare_process_env(root: str, work: str) -> None:
    """Python workers import the engine from the checkout; temporary
    files stay inside the checkout (every JVM, the launcher's too, gets
    the temporary directory and no /tmp/hsperfdata file)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [root, os.environ.get("PYTHONPATH", "")] if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp


def start_session(work: str, cores: int):
    """``local[cores]`` with the settings ``bench.py`` uses (AQE,
    partition coalescing, the codegen method-size limit, arrow), a driver
    heap within physical RAM and spill inside the work directory."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # one shuffle partition per core: the inputs are small, and on
        # local[4] crawl_mixed passes ran 15% faster than with 2 per core
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it exits
    (the gateway JVM exits when its stdin closes; stopping the context
    first stops the Python workers)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def jvm_pid(spark) -> Optional[int]:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants (the driver JVM
    and the Python workers it forks)."""
    children: Dict[int, List[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the peak summed RSS while measuring."""

    def __init__(self, pid: Optional[int], interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        if self.pid is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def wall() -> float:
    return time.perf_counter()
