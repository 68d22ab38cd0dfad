"""Environment fingerprint and process-tree memory sampling (from /proc)."""

from __future__ import annotations

import hashlib
import os
import platform
import re
import threading
import time

# Set by run.py before Spark starts; recorded in every fingerprint.
BENCH_ENV: dict[str, str] = {}


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return "none"
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.exists(path):
        return open(path).read().strip()
    packed = os.path.join(root, ".git", "packed-refs")
    if os.path.exists(packed):
        for line in open(packed):
            if line.rstrip().endswith(ref[5:]):
                return line.split()[0]
    return "unknown"


def source_digest(root: str) -> str:
    """sha256 over the engine's sources (gdal_spark/ + __spark_entry__.py):
    identifies the code under test where no git metadata exists."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "gdal_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(root: str, spark, master: str) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _meminfo_kb(),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(root),
        "source_sha256": source_digest(root),
        "spark_master": master,
        "env": dict(sorted(BENCH_ENV.items())),
    }


def fingerprint_key(fp: dict) -> str:
    """Records compare only when this key matches. The source digest and
    commit are left out on purpose: comparing two versions of the code
    is the point of a record. So is each run's own scratch directory."""
    keep = {k: v for k, v in fp.items() if k not in ("git_commit", "source_sha256")}
    keep["env"] = {
        k: re.sub(r"\.bench_build/perfbench/[^/\s]+", ".bench_build/perfbench/<run>", v)
        for k, v in fp["env"].items()
    }
    return hashlib.sha256(repr(sorted(keep.items())).encode()).hexdigest()[:16]


def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcSampler:
    """Samples the benchmark's Spark processes every `interval` seconds: the
    gateway JVM (this process's child) and the Python workers (processes
    running pyspark.daemon). Keeps the peak of their summed RSS and the set
    of worker pids ever seen (worker spawns). Other descendants are left
    out: a child the JVM is spawning shares its address space until exec,
    and counting it would add the JVM's whole RSS a second time."""

    WORKER = "pyspark.daemon"

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.workers: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        parent = _children()
        desc, frontier = set(), {me}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier} - desc
            desc |= frontier
        workers = {p for p in desc if self.WORKER in _cmdline(p)}
        jvm = {p for p in desc if parent[p] == me}
        rss = sum(_rss_kb(p) for p in jvm | workers)
        with self._lock:
            self.peak_kb = max(self.peak_kb, rss)
        self.workers |= workers

    def reset_peak(self) -> int:
        """Start a new peak; returns the peak so far (kB)."""
        with self._lock:
            peak, self.peak_kb = self.peak_kb, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_children_gone(timeout: float = 20.0) -> bool:
    """True once no process descends from this one (JVM, workers)."""
    me = os.getpid()
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if not any(pp == me for pp in _children().values()):
            return True
        time.sleep(0.1)
    return False
