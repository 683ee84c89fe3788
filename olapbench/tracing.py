"""Spans, Spark-side counters and latency statistics.

Spans are recorded by the benchmark around its calls into the engine's
layers (``session``, ``fixtures``, ``hierarchy``, ``rollup``); nothing
inside the engine is instrumented. Counters come from what Spark and the
engine already expose: job groups plus the status tracker, the executed
(adaptive) plan's SQL metrics, the engine's broadcast-probe statistics,
Spark's storage info and the driver JVM's management beans.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op_id: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.op_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(
            id=len(self.spans),
            name=name,
            op_id=self.op_id,
            start=time.perf_counter(),
            parent=self._open[-1] if self._open else None,
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._open.pop()


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def latency_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) at the highest percentile that
    has at least 10 samples beyond it: the 11th-largest sample, at
    percentile 100 * (n - 10) / n. Below 21 samples that rank falls under
    the median, which is then reported instead (percentile 50)."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 21:
        return statistics.median(samples), 50.0, n
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n, n


# -- Spark counters -----------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks run) for one job group; skipped stages run no tasks."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def _metric(node, name: str) -> int | None:
    opt = node.metrics().get(name)
    return opt.get().value() if opt.isDefined() else None


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls == "InMemoryTableScanExec":
        return []
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


class _PlanNode:
    """A plain-Python copy of an executed plan tree (one py4j walk)."""

    def __init__(self, jnode):
        self.cls = jnode.getClass().getSimpleName()
        self.rows = _metric(jnode, "numOutputRows")
        self.data_size = _metric(jnode, "dataSize") if self.cls == "ShuffleExchangeExec" else None
        self.children = [_PlanNode(c) for c in _children(jnode)]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def reads(self, cls: str) -> bool:
        return any(n.cls == cls for n in self.walk())

    def first_rows(self) -> int | None:
        for n in self.walk():
            if n.rows is not None:
                return n.rows
        return None


def plan_metrics(df) -> dict[str, float]:
    """Exchanges, shuffled MB and closure-join expansion of the executed
    plan of an already-executed DataFrame. The closure join is the join
    with one side reading only the cached dimension and the other side
    reading no cache (the fact side); expansion is its output rows over
    the fact side's rows."""
    root = _PlanNode(df._jdf.queryExecution().executedPlan())
    nodes = list(root.walk())
    exchanges = sum(n.cls in ("ShuffleExchangeExec", "BroadcastExchangeExec") for n in nodes)
    shuffle_bytes = sum(n.data_size or 0 for n in nodes)
    out_rows = in_rows = 0
    for n in nodes:
        if not n.cls.endswith("JoinExec") or len(n.children) != 2 or n.rows is None:
            continue
        a, b = n.children
        for dim_side, fact_side in ((a, b), (b, a)):
            if (
                dim_side.reads("InMemoryTableScanExec")
                and not dim_side.reads("FileSourceScanExec")
                and not fact_side.reads("InMemoryTableScanExec")
            ):
                rows = fact_side.first_rows()
                if rows:
                    out_rows += n.rows
                    in_rows += rows
                break
    return {
        "exchanges": float(exchanges),
        "shuffle_mb": shuffle_bytes / 1e6,
        "expansion": out_rows / in_rows if in_rows else 0.0,
    }


def cached_mb(spark) -> float:
    """Memory plus disk held by Spark's cached RDDs and checkpoints."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class JvmProbe:
    """Driver JVM counters read through py4j. In local mode every layer
    runs in this one JVM."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = mf.getGarbageCollectorMXBeans()
        self._mem = mf.getMemoryMXBean()
        self.pid = int(spark._jvm.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size())) / 1e3

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 1e6


def cpu_ticks() -> tuple[int, int]:
    """(ran, stolen) clock ticks summed over all CPUs, from /proc/stat:
    time the CPUs executed anything, and time a runnable virtual CPU
    waited for the hypervisor (steal)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def net_of_steal(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` seconds less the share of it the CPUs lost to steal
    between the ``cpu_ticks()`` readings ``t0`` and ``t1``. Stolen over
    ran-plus-stolen ticks is the fraction of the time the busy CPUs
    wanted to run that they did not, whether one CPU or all were busy."""
    ran, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return wall * (1 - stolen / (ran + stolen)) if ran + stolen else wall


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
