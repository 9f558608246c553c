"""Measurements taken from outside the program: CPU and memory of the
process tree from ``/proc``, Spark's executor counters, and host-state
probes."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return int(f[1]), comm, sum(int(x) for x in f[11:15]) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcessTree:
    """The harness process and every process it started: the JVM (java)
    and the Python workers the JVM forks."""

    def __init__(self):
        self.root = os.getpid()

    def members(self) -> dict[int, tuple[int, str, float]]:
        procs = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    procs[int(entry)] = st
        keep = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _, _) in procs.items():
                if ppid in keep and pid not in keep:
                    keep.add(pid)
                    grew = True
        return {pid: procs[pid] for pid in keep if pid in procs}

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into the driver (this Python process),
        the JVM, and Python workers (everything below the JVM)."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        members = self.members()
        jvms = {pid for pid, (ppid, comm, _) in members.items() if ppid == self.root and comm == "java"}
        for pid, (ppid, comm, cpu) in members.items():
            if pid == self.root:
                # the JVM is a live child: its time is not yet in cutime
                out["driver"] += cpu
            elif pid in jvms:
                out["jvm"] += cpu
            else:
                out["pyworker"] += cpu
        return out

    def wait_exit(self, timeout: float = 60.0) -> list[int]:
        """Wait until every descendant has ended; kill what remains at the
        deadline. Returns the pids that had to be killed."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            rest = [p for p in self.members() if p != self.root]
            if not rest:
                return []
            time.sleep(0.1)
        rest = [p for p in self.members() if p != self.root]
        for pid in rest:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in rest:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass
        return rest


class PeakRss:
    """Background sampler of the process tree's resident memory. It
    re-reads which processes are in the tree once a second and their
    memory every ``interval`` seconds, to keep its own cost small."""

    def __init__(self, tree: ProcessTree, interval: float = 0.2):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, pids) -> None:
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def _loop(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed > 1.0:
                pids, listed = list(self.tree.members()), time.monotonic()
            self._sample(pids)
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample(self.tree.members())


# ExecutorSummary totals that are sums over tasks. Its totalDuration is
# not: in local mode it tracks executor busy wall time, so task time is
# summed from the stages instead (see executor_counters).
EXEC_FIELDS = {
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}


def executor_counters(spark, after_stage: int) -> tuple[dict[str, int], int]:
    """Totals over all executors from Spark's status store, read after the
    listener bus has delivered every event so far, plus task run time and
    task CPU time summed over the stages numbered above ``after_stage``.
    Returns the counters and the highest stage id seen."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    execs = store.executorList(True)
    out = dict.fromkeys(EXEC_FIELDS, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, getter in EXEC_FIELDS.items():
            out[key] += int(getattr(e, getter)())
    jvm = spark._jvm
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(jvm.java.util.ArrayList(), False, False, no_quantiles, jvm.java.util.ArrayList())
    out["task_ms"] = out["task_cpu_ns"] = 0
    last = after_stage
    for i in range(stages.size()):  # newest stage first
        st = stages.apply(i)
        if st.stageId() <= after_stage:
            break
        last = max(last, st.stageId())
        out["task_ms"] += st.executorRunTime()
        out["task_cpu_ns"] += st.executorCpuTime()
    return out, last


def host_probes(spark) -> dict[str, float]:
    """Fixed work on the JVM and in pure Python, timed as medians of three.
    Diagnostics for drift between runs, not metrics of the program."""
    from pyspark.sql import functions as F

    def jvm() -> float:
        t = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=4).select(F.max(F.xxhash64("id"))).collect()
        return time.perf_counter() - t

    def py() -> float:
        t = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i * i
        return time.perf_counter() - t

    jvm()  # compile once
    return {
        "jvm_probe_s": sorted(jvm() for _ in range(3))[1],
        "py_probe_s": sorted(py() for _ in range(3))[1],
    }
