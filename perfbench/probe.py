"""Measurements taken from outside the program: the host, the process
tree (driver Python, the JVM and its Python workers) and Spark's own
status store.

Everything here reads ``/proc`` or calls Spark over py4j; nothing is
installed into the program under test.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- host -----------------------------------------------------------------

def host_snapshot() -> dict:
    """Load average and the aggregate ``/proc/stat`` CPU line."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"t": time.time(), "loadavg": list(os.getloadavg()),
            "cpu_total": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0}


def cpu_probe_ms() -> float:
    """Milliseconds a fixed single-threaded Python loop takes (median of
    three). It reads higher while other tenants slow the host's cores, which
    steal time and load average do not always show."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(times), 2)


def host_record(before: dict, after: dict, slots: int, probe_ms: list[float]) -> dict:
    """nproc, Spark slots, load before/after, the share of host CPU time
    stolen by the hypervisor over the run, and ``cpu_probe_ms`` readings."""
    total = max(1, after["cpu_total"] - before["cpu_total"])
    return {"nproc": os.cpu_count(), "spark_slots": slots,
            "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_share": round((after["steal"] - before["steal"]) / total, 5),
            "cpu_probe_ms": probe_ms, "seconds": round(after["t"] - before["t"], 3)}


# --- process tree ---------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU of the tree, counting reaped children (so Python
    workers that already exited are included through their parent)."""
    ticks = 0
    for pid in tree_pids() if pids is None else pids:
        st = _stat(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        st = _stat(pid)
        if st:
            total += int(st[21])
    return total * _PAGE / 2 ** 20


class RssSampler:
    """Background sampler of the program's resident set while it runs.

    Samples are taken only inside ``window()`` blocks (the timed runs), so
    set-up and the correctness gates do not count. The JVM and its Python
    workers count in full. The driver process also holds the benchmark's
    own inputs and gate data, so it counts as its resident set at
    ``base()`` (interpreter, imports, a started session) plus what it grew
    by inside the window. ``peak_mb`` is the highest sum seen.
    """

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak_mb = interval, 0.0
        self._driver_base = self._driver_start = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _driver_mb(self) -> float:
        return tree_rss_mb([os.getpid()])

    def _sample(self) -> None:
        me = os.getpid()
        total = (tree_rss_mb([p for p in tree_pids() if p != me]) + self._driver_base
                 + max(0.0, self._driver_mb() - self._driver_start))
        if self._active.is_set():
            self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval)

    def base(self) -> None:
        self._driver_base = self._driver_mb()

    @contextlib.contextmanager
    def window(self):
        self._driver_start = self._driver_mb()
        self._active.set()
        try:
            yield
        finally:
            self._sample()
            self._active.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- Spark status store ---------------------------------------------------

class SparkCounters:
    """Counters of the jobs and stages a block of driver code ran.

    Job and stage ids are handed out in order, so with one driver thread
    the jobs of a block are exactly the ids issued between two marks;
    that also catches jobs Spark submits under its own group (broadcast
    exchanges). The listener bus is drained before reading, so the store
    has every finished task. JVM-wide GC time comes from the collector
    MXBeans (driver and executors share one JVM in local mode).
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gateway = self.sc._gateway.jvm
        self._gc_beans = list(gateway.java.lang.management.ManagementFactory
                              .getGarbageCollectorMXBeans())

    def _jvm_gc_ms(self) -> int:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans)

    def cache_entries(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager() \
            .cachedData().size()

    def mark(self) -> tuple[int, int, int]:
        dag = self._jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId(), self._jvm_gc_ms()

    def since(self, mark: tuple[int, int, int]) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        job0, stage0, gc0 = mark
        job1, stage1, gc1 = self.mark()
        out = {"jobs": job1 - job0, "stages": 0, "tasks": 0, "run_ms": 0,
               "cpu_ms": 0, "task_gc_ms": 0, "input_b": 0, "shuffle_read_b": 0,
               "shuffle_write_b": 0, "spill_b": 0, "jvm_gc_ms": gc1 - gc0,
               "max_stage_input_b": 0, "max_stage_tasks": 0}
        for sid in range(stage0, stage1):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_ms"] += s.executorRunTime()
            out["cpu_ms"] += s.executorCpuTime() // 1_000_000
            out["task_gc_ms"] += s.jvmGcTime()
            out["input_b"] += s.inputBytes()
            out["shuffle_read_b"] += s.shuffleReadBytes()
            out["shuffle_write_b"] += s.shuffleWriteBytes()
            out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.inputBytes() > out["max_stage_input_b"]:
                out["max_stage_input_b"] = s.inputBytes()
                out["max_stage_tasks"] = s.numTasks()
        return out
