"""Measurement probes: spans, Spark stage counters, JVM MXBeans and the
``/proc`` process tree.

Nothing here changes the program. Spans are opened by the benchmark
around its own calls into the program's public functions; Spark
counters are read from the application status store per job group
right after each step (Spark keeps only the last 1000 jobs); JVM
counters come from the platform MXBeans; CPU time and RSS of the
benchmark process, the JVM and the Python workers come from ``/proc``
(psutil is not assumed).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc -------------------------------------------------------------------

@dataclass
class Proc:
    pid: int
    ppid: int
    rss: int        # bytes
    cpu_s: float    # own user + system time
    child_cpu_s: float  # reaped children's user + system time
    python_worker: bool


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:  # the process exited while we looked
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after the command name, 0-based from field 3 (state)
    ppid, ut, st, cut, cst, rss = (int(rest[1]), int(rest[11]), int(rest[12]),
                                   int(rest[13]), int(rest[14]), int(rest[21]))
    return Proc(pid, ppid, rss * _PAGE, (ut + st) / _TICK, (cut + cst) / _TICK,
                b"pyspark" in cmd and b"python" in cmd)


def process_tree(root: int) -> list[Proc]:
    """``root`` and all its live descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(procs: list[Proc]) -> float:
    """CPU seconds of a tree, counting children already reaped."""
    return sum(p.cpu_s + p.child_cpu_s for p in procs)


def worker_tree(procs: list[Proc]) -> list[Proc]:
    """The pyspark daemon and the workers it forked."""
    return [p for p in procs if p.python_worker]


def python_workers(procs: list[Proc]) -> list[Proc]:
    """The forked Python workers alone (children of the daemon)."""
    daemons = {p.pid for p in procs if p.python_worker}
    return [p for p in procs if p.python_worker and p.ppid in daemons]


class TreeSampler:
    """Samples the summed RSS and the Python-worker count of this
    process's tree every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_rss = 0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = process_tree(os.getpid())
        self.peak_rss = max(self.peak_rss, sum(p.rss for p in procs))
        self.max_workers = max(self.max_workers, len(python_workers(procs)))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# -- host --------------------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# -- JVM and Spark -----------------------------------------------------------

def jvm_counters(spark) -> dict[str, float]:
    """GC time, JIT compile time and heap in use, from the MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(b.getCollectionTime()
                    for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "heap_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
    }


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


STAGE_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "task_gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "input_bytes", "output_bytes",
                "peak_execution_memory_bytes")


def group_counters(spark, group: str) -> dict[str, float]:
    """Counters of every job of one job group, summed over its completed
    stage attempts (skipped stages ran nothing and count for nothing).
    Drains the listener bus first so the store has seen every event."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["task_gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["peak_execution_memory_bytes"] = max(
                out["peak_execution_memory_bytes"], sd.peakExecutionMemory())
    return out


# -- spans -------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int


@dataclass
class Tracer:
    """Spans kept in memory. ``span`` nests: the innermost open span is
    the parent of the next one. With ``enabled`` false every call is a
    no-op, so the untraced path pays one attribute test per span.

    ``step`` also runs its body under a fresh Spark job group and adds
    the group's stage counters to ``counters[op]`` when it closes."""

    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[int, dict[str, float]] = field(default_factory=dict)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def step(self, name: str):
        """A span whose Spark jobs run in their own job group."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"op{self.op}:{name}:{len(self.spans)}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            sc.setJobGroup(f"op{self.op}:misc", "misc")
            self._count(group)

    def _count(self, group: str) -> None:
        got = group_counters(self.spark, group)
        acc = self.counters.setdefault(self.op, dict.fromkeys(STAGE_FIELDS, 0.0))
        for k, v in got.items():
            if k == "peak_execution_memory_bytes":
                acc[k] = max(acc[k], v)
            else:
                acc[k] += v

    def begin_op(self, op: int) -> None:
        self.op = op
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"op{op}:misc", "misc")

    def end_op(self) -> None:
        if self.enabled:
            self._count(f"op{self.op}:misc")
            self.spark.sparkContext.setJobGroup("untraced", "untraced")
        self.op = None

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self, name: str) -> list[float]:
        """Duration of each ``name`` span minus the union of its direct
        children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append(s.end - s.start - covered)
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
