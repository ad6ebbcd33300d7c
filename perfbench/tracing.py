"""Measurement helpers: the /proc process-tree sampler, the Spark status
store reader per job group, and the span recorder of the traced run.

The status store is read through py4j (`statusStore().stageData(...)`),
which works with the Spark UI off. Executor CPU time counts JVM threads
only; the time spent in PySpark workers (pandas UDFs, applyInPandas) is
read from /proc instead.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
MB = 2**20


# ---- /proc ---------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"   # a zombie has ended


def descendants(root: int) -> list[int]:
    """Every live process below `root` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def process_group(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None and int(st[2]) == pgid:
                out.append(int(name))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class ProcSampler:
    """Background thread over the process tree below `root` (the driver
    Python, the JVM and the PySpark workers).

    Records the peak summed RSS of the tree, and for every PySpark worker
    process it has seen its CPU time (utime+stime) and its peak RSS (the
    kernel's VmHWM, so no peak falls between samples). The PySpark daemon
    ignores SIGCHLD, so an exited worker's CPU never reaches its parent's
    cutime: each worker's last sampled values are kept instead, which
    loses at most one interval of CPU per worker that exits."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.peak_parts_mb: dict[str, float] = {}
        self._worker_ticks: dict[tuple[int, str], int] = {}
        self._worker_hwm_kb: dict[tuple[int, str], int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pids = [self.root, *descendants(self.root)]
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        ticks, hwm = {}, {}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1])
            except OSError:
                continue
            if _is_python_worker(pid):
                parts["workers"] += rss
                st = _stat_fields(pid)
                peak = _vm_hwm_kb(pid)
                if st is not None and peak is not None:
                    # utime, stime and starttime: fields 14, 15 and 22 of
                    # /proc/pid/stat (pid, start time) names one process
                    ticks[(pid, st[19])] = int(st[11]) + int(st[12])
                    hwm[(pid, st[19])] = peak
            else:
                parts["driver" if pid == self.root else "jvm"] += rss
        total = sum(parts.values()) * PAGE_MB
        with self._lock:
            if total > self.peak_rss_mb:
                self.peak_rss_mb = total
                self.peak_parts_mb = {k: v * PAGE_MB
                                      for k, v in parts.items()}
            self._worker_ticks.update(ticks)
            self._worker_hwm_kb.update(hwm)

    def worker_peak_rss_mb(self) -> float:
        """Sum over every PySpark worker process seen of its peak RSS."""
        self.sample()
        with self._lock:
            return sum(self._worker_hwm_kb.values()) / 1024

    def python_cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._worker_ticks.values()) / CLK_TCK

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---- Spark status store ----------------------------------------------------

STAGE_FIELDS = ("exec_run_s", "exec_cpu_s", "shuffle_mb", "spill_mb",
                "tasks")


def wait_listener(sc) -> None:
    """The status store is fed asynchronously by the listener bus; drain
    it so the jobs that just finished are visible."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def group_stage_ids(sc, group: str) -> list[int]:
    store = sc._jsc.sc().statusStore()
    ids: set[int] = set()
    for job in group_job_ids(sc, group):
        seq = store.job(job).stageIds()
        ids.update(seq.apply(i) for i in range(seq.size()))
    return sorted(ids)


def stage_rows(sc, stage_id: int) -> list[dict]:
    """One dict per attempt of a stage (skipped stages read as zeros)."""
    seq = sc._jsc.sc().statusStore().stageData(stage_id, False, None, False,
                                               None)
    rows = []
    for i in range(seq.size()):
        s = seq.apply(i)
        rows.append({
            "exec_run_s": s.executorRunTime() / 1e3,
            "exec_cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_mb": (s.shuffleReadBytes() + s.shuffleWriteBytes()) / MB,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
            "tasks": s.numCompleteTasks(),
        })
    return rows


def sum_rows(rows: list[dict]) -> dict:
    return {k: sum(r[k] for r in rows) for k in STAGE_FIELDS}


def group_metrics(sc, group: str) -> dict:
    """Stage metrics summed over every stage of every job in the group,
    plus the job count."""
    rows = [r for sid in group_stage_ids(sc, group)
            for r in stage_rows(sc, sid)]
    return {**sum_rows(rows), "jobs": len(group_job_ids(sc, group))}


def persisted(sc) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum((r.memSize() + r.diskSize()) / MB for r in infos)
    return sc._jsc.getPersistentRDDs().size(), mb


def retained_heap_mb(sc) -> float:
    """JVM heap still in use after a full GC: what the session keeps,
    leaked caches included, once a call has returned. Broadcasts and
    shuffles the ContextCleaner has not yet dropped still count."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return usage.getUsed() / MB


# ---- spans -----------------------------------------------------------------

@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    child_wall: float = 0.0
    py_cpu_s: float = 0.0
    stages: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_wall


class Tracer:
    """Spans named after the module they call into. Each span runs under
    its own Spark job group, so a span's stage metrics are its own even
    when spans nest (the parent's group is restored on exit)."""

    def __init__(self, sc, procs: ProcSampler, run_id: str):
        self.sc = sc
        self.procs = procs
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{self.run_id}.{idx}.{name}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, group=group, parent=parent, start=0.0)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(group)
        cpu0 = self.procs.python_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            cpu = self.procs.python_cpu_s() - cpu0
            # self time: children already subtracted their inclusive share
            sp.py_cpu_s += cpu
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_wall += sp.wall_s
                self.spans[parent].py_cpu_s -= cpu
            self._set_group(self.spans[parent].group if parent is not None
                            else None)
            # read now: the status store evicts old stages past
            # spark.ui.retainedStages, and a run makes over a thousand
            wait_listener(self.sc)
            sp.stages = group_metrics(self.sc, group)

    def top_level_wall(self) -> float:
        return sum(s.wall_s for s in self.spans if s.parent is None)

    def layers(self) -> dict[str, dict]:
        """Per layer: self wall, python-worker CPU and stage metrics, summed
        over every span of that layer."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(
                s.name, {"wall_s": 0.0, "py_cpu_s": 0.0, "jobs": 0,
                         **{k: 0 for k in STAGE_FIELDS}})
            agg["wall_s"] += s.self_s
            agg["py_cpu_s"] += s.py_cpu_s
            for k, v in s.stages.items():
                agg[k] += v
        return out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "wall_s": s.wall_s, "self_s": s.self_s,
             "py_cpu_s": s.py_cpu_s, **s.stages}
            for s in self.spans
        ]
