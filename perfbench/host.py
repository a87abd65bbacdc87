"""Deployment pinning, the host record and the peak-RSS sampler."""

from __future__ import annotations

import faulthandler
import hashlib
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager

# A/B knobs of the engine that must not leak into a measured process
SCRUBBED_ENV = (
    "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_CONSTRAINT_PROP",
    "SPARK_GRAFT_DEBUG_CLOSURE",
    "SPARK_GRAFT_MASTER",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb() -> int:
    """Driver heap: a quarter of host RAM, between 2 and 8 GB (the
    engine's 24g default exceeds small hosts)."""
    return int(max(2, min(8, mem_total_mb() / 1024 / 4)))


def pin_environment(root: str, work: str) -> dict[str, str]:
    """Set the deployment the measured process runs with; returns it."""
    for k in SCRUBBED_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON") or sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(pinned)
    return pinned


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def source_digest(root: str, package: str) -> str:
    """sha256 of the package sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_head(root: str) -> str | None:
    """HEAD commit when the checkout is a git work tree, read from the
    files (no subprocess)."""
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid``
    (default: this process) and all its live descendants. Unlike the
    wall, it does not grow when the host steals CPU from this VM."""
    pid = os.getpid() if pid is None else pid
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


# JVM thread-name prefixes of the runtime's own work
_JVM_GROUPS = (("GC Thread", "gc"), ("G1 ", "gc"), ("C1 Compiler", "jit"), ("C2 Compiler", "jit"))


def tree_cpu_split() -> dict[str, float]:
    """CPU seconds so far of this process tree's live threads by kind:
    the JVM's GC and JIT compiler threads, its other threads, and the
    Python processes (this one and the workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"jvm_gc": 0.0, "jvm_jit": 0.0, "jvm_other": 0.0, "python": 0.0}
    for p in [os.getpid(), *_descendants(os.getpid())]:
        java = _comm(p) == "java"
        try:
            tids = os.listdir(f"/proc/{p}/task") if java else [str(p)]
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.find("(") + 1 : stat.rfind(")")]
            f = stat[stat.rfind(")") + 2 :].split()
            cpu = (int(f[11]) + int(f[12])) / tick
            kind = "python"
            if java:
                kind = "jvm_" + next((k for pre, k in _JVM_GROUPS if name.startswith(pre)), "other")
            out[kind] += cpu
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(pid: int) -> dict[str, float]:
    """Resident memory of ``pid`` ("driver"), of its Java descendants
    ("jvm") and of the other descendants ("workers"), in MB."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * page / 1e6
        except OSError:
            continue
        out["driver" if p == pid else "jvm" if _comm(p) == "java" else "workers"] += rss
    return out


class PeakRss:
    """Samples the process tree's RSS on a background thread; keeps the
    peak total, its split at that moment, and each part's own peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self.part_peaks: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            split = tree_rss_mb(pid)
            if sum(split.values()) > self.peak_mb:
                self.peak_mb, self.at_peak = sum(split.values()), split
            for k, v in split.items():
                self.part_peaks[k] = max(v, self.part_peaks.get(k, 0.0))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Watchdog:
    """Ends a run that outlives ``limit_s``: dumps every thread's stack
    to stderr, kills the process tree (JVM, Python workers) and exits
    with code 3, so a hang fails fast instead of running on."""

    def __init__(self, limit_s: float):
        self._deadline = time.monotonic() + limit_s
        self._timer = self._arm()

    def _arm(self) -> threading.Timer:
        timer = threading.Timer(max(0.0, self._deadline - time.monotonic()), self._fire)
        timer.daemon = True
        return timer

    @contextmanager
    def paused(self):
        """Stop the clock for one-time work that has a limit of its own."""
        self._timer.cancel()
        t = time.monotonic()
        try:
            yield
        finally:
            self._deadline += time.monotonic() - t
            self._timer = self._arm()
            self._timer.start()

    def _fire(self) -> None:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        faulthandler.dump_traceback(all_threads=True)
        # SIGQUIT makes a JVM print its threads' stacks (to the stdout it
        # shares with this process) and carry on
        for pid in _descendants(os.getpid()):
            if _comm(pid) == "java":
                os.kill(pid, signal.SIGQUIT)
        time.sleep(2)
        for pid in reversed(_descendants(os.getpid())):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    def __enter__(self) -> "Watchdog":
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it (Python workers are
    its children and end with its SparkContext)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
