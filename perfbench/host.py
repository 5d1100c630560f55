"""Host-derived Spark session sizing, the /proc memory sampler, and
process teardown.

Everything the benchmark writes (Spark local dirs, JVM and Python
temp files, inputs, outputs) lives under one work directory inside the
checkout, and every process it starts is stopped and waited for.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import threading
import time

def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 and 8 GiB: the driver JVM
    is the only executor in local mode, and the Python workers and the
    page cache need the rest. The heap is fixed at this size from the
    start, so how far it grows does not depend on garbage-collector
    heap resizing."""
    return max(1024, min(8192, mem_total_bytes() // 4 // 2**20))


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: time this
    virtual machine was ready to run but the host ran something else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_session(root: str, work: str):
    """``local[nproc]`` session whose scratch space is under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package by module path; the JVM and the
    # worker daemon inherit this environment
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    n = nproc()
    mem = driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.pyspark.python", sys.executable)
        .config("spark.pyspark.driver.python", sys.executable)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ── process tree ─────────────────────────────────────────────────────

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared
    between processes (forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited
        pass
    return 0


def tree_rss_bytes() -> int:
    me = os.getpid()
    return sum(_pss_bytes(p) for p in [me, *descendants(me)])


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python worker daemon and workers), sampled from /proc
    on a background thread while the ``with`` block runs. Resident
    memory is counted as proportional set size, so the pages forked
    Python workers share with their parent count once."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this benchmark started has exited (killing stragglers at the end)."""
    from pyspark import SparkContext

    started = descendants()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in started) and time.monotonic() < deadline + 5:
        time.sleep(0.1)
