"""Spark sessions sized from this machine, and process-tree memory.

A run launches one JVM, with the first session it builds, and builds each
later session (a new SparkContext, possibly at another parallelism level)
in the same JVM; ``shutdown`` stops the JVM and waits until it and every
other child process has exited, so no process outlives the run.
Parallelism levels are 1 and the cores this process may run on; driver
memory is an eighth of ``MemTotal``.  Nothing is pinned to core ids.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

NPROC = len(os.sched_getaffinity(0))
PAGE = os.sysconf("SC_PAGE_SIZE")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    # local mode: the executors share the driver JVM, which only scans and
    # moves Arrow batches; the kernel's memory is in the Python workers
    return max(1024, min(4096, mem_total_mb() // 8))


def _prepare_env(root: Path, work: Path) -> None:
    """Workers import ``ocr_spark`` and ``perfbench`` from the checkout;
    temporary files stay inside it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if str(root) not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([str(root), *paths])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM would otherwise write its performance
    # counters to the system temporary directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start(root: Path, work: Path, level: int, event_log: Path | None = None) -> SparkSession:
    """A new session at ``local[level]``, launching the JVM if none runs."""
    if SparkContext._active_spark_context is not None:
        raise RuntimeError("a SparkContext is still running")
    _prepare_env(root, work)
    heap = f"{driver_memory_mb()}m"
    builder = (
        SparkSession.builder.master(f"local[{level}]")
        .appName(f"perfbench-local{level}")
        .config("spark.driver.memory", heap)
        # the whole heap is committed and touched at launch: G1 otherwise
        # grows it lazily, by amounts that differ from run to run, and the
        # JVM's share of the peak RSS would measure that instead of the job
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        )
        # the same splits and shuffle width at every level, so both levels
        # of the scaling ratio run the same plan
        .config("spark.sql.shuffle.partitions", str(2 * NPROC))
        .config("spark.sql.files.minPartitionNum", str(2 * NPROC))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log is not None).lower())
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the JVM, then wait until every child process has exited."""
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while kids := _children(_processes()).get(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"child processes still running: {kids}")
        time.sleep(0.05)


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        procs[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    return procs


def _children(procs: dict[int, tuple[int, str]]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants_rss_bytes(root_pid: int) -> int:
    """Summed resident set of all descendants of ``root_pid``: the Spark
    JVM and its Python workers, not the benchmark process itself.  A java
    child of a java process is skipped: it is the JVM forked on its way to
    exec a helper command (Hadoop's local file system runs one per file
    permission change), and its pages are the parent's."""
    procs = _processes()
    kids = _children(procs)
    total, todo = 0, list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        if procs[pid][1] == "java" and procs.get(procs[pid][0], (0, ""))[1] == "java":
            continue
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of this process's descendants every
    ``interval`` seconds while the ``with`` block runs; ``peak_mb`` holds
    the largest sample."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, descendants_rss_bytes(pid) / 2**20)
            if self._done.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()


def timed(fn, *args) -> float:
    """Wall seconds of ``fn(*args)``."""
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0
