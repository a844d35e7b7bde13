"""Box sizing, the machine stamp, and process bookkeeping from ``/proc``.

Nothing here imports the engine: sizing decides the Spark master and
driver memory before a session exists, and the process helpers read
``/proc`` directly (psutil is not a dependency).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

# per-workload floor: below it a run would swap or starve the Python
# workers, and its numbers would describe the box, not the program
MIN_CORES = 2
MIN_MEM_MB = 4096
# head-room per Python worker (pandas + pyarrow + a payload batch) and
# for the OS; the driver JVM gets half of what is left, capped
WORKER_MB = 512
OS_RESERVE_MB = 2048
MAX_DRIVER_MB = 4096


class BoxTooSmall(RuntimeError):
    pass


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_box(cores: int, mem_mb: int) -> dict:
    """Spark sizing derived from the box: ``local[cores]``, one shuffle
    partition per core, driver heap from MemTotal after reserving room
    for ``cores`` Python workers.  Raises :class:`BoxTooSmall`."""
    if cores < MIN_CORES or mem_mb < MIN_MEM_MB:
        raise BoxTooSmall(
            f"box has {cores} cores / {mem_mb} MB; the benchmark needs at "
            f"least {MIN_CORES} cores and {MIN_MEM_MB} MB MemTotal")
    spare = mem_mb - OS_RESERVE_MB - cores * WORKER_MB
    driver_mb = min(MAX_DRIVER_MB, spare // 2)
    if driver_mb < 1024:
        raise BoxTooSmall(
            f"{mem_mb} MB MemTotal leaves {driver_mb} MB of driver heap "
            f"after {cores} Python workers; need at least 1024 MB")
    return {"master": f"local[{cores}]", "shuffle_partitions": cores,
            "driver_memory": f"{driver_mb}m"}


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def machine_stamp(spark) -> dict:
    """The fields two results must share before they may be compared;
    the Java version is read from the running driver JVM."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"nproc": nproc(), "mem_total_mb": mem_total_mb(),
            "pyspark": pyspark.__version__,
            "java": (f"{jvm.System.getProperty('java.vendor')} "
                     f"{jvm.System.getProperty('java.version')}")}


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
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


class RssSampler:
    """Background sampler of the summed resident set size (VmRSS) of
    this process's descendants — the driver JVM and its Python workers;
    ``peak_mb`` is the maximum seen between :meth:`start` and
    :meth:`stop`.  Each sample reads ``/proc/<pid>/status`` only, which
    does not walk the sampled process's page tables."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(
            _rss_kb(p) for p in descendants(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return total, files


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process it started (the JVM, the Python daemon and its workers) has
    exited.  Workers are collected before the JVM ends, because they are
    re-parented away from this process once it does."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in started:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2:].split()[0] != "Z"
