"""Counters read from outside the engine: ``/proc`` for the process tree and
the host, py4j for the JVM's MXBeans, Spark's ``CodeGenerator`` and its
status store. Nothing here changes what the engine does."""

from __future__ import annotations

import os
import statistics

_HZ = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants() -> list[int]:
    """Every live process below this one: the Spark JVM and the Python
    workers it forks."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rfind(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / _HZ


def tree_cpu_s() -> float:
    """CPU-s of this process (the driver's py4j side) plus every descendant:
    JVM threads including JIT and GC, and the Python workers."""
    return sum(_cpu_s(p) for p in [os.getpid(), *descendants()])


def reset_peak_rss() -> None:
    """Restart the ``VmHWM`` peak of every engine process at its current RSS
    (``clear_refs`` 5), so the next read is the peak of one job."""
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def engine_peak_rss_mb() -> float:
    """Sum of peak RSS (``VmHWM``) over the engine's processes: the JVM and
    its Python workers. The benchmark's own process (inputs, DuckDB) is
    excluded."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Host:
    """Steal share and load average between two reads of ``/proc/stat``."""

    def __init__(self) -> None:
        self._last = self._ticks()

    @staticmethod
    def _ticks() -> tuple[int, int]:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)

    def sample(self) -> dict:
        steal, total = self._ticks()
        d_steal, d_total = steal - self._last[0], max(total - self._last[1], 1)
        self._last = (steal, total)
        return {"steal_pct": 100.0 * d_steal / d_total, "loadavg1": os.getloadavg()[0]}


class Jvm:
    """Cumulative JVM counters through py4j."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict:
        return {
            "codegen.compiles": self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_s": self._codegen.compileTime() / 1e9,
            # accumulated elapsed time of the JIT compiler threads
            "jvm.jit_cpu_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()) / 1e3,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in before}


class Stages:
    """Stage and SQL-node metrics from Spark's status store (works with the
    UI disabled). ``mark()`` before an action, ``since(mark)`` after it."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _stages(self) -> list:
        # Scala default arguments must be passed explicitly through py4j
        return list(self._conv.asJava(self._store.stageList(None, False, False, self._no_quantiles, None)))

    def _executions(self) -> list:
        return list(self._conv.asJava(self._sql.executionsList()))

    def mark(self) -> tuple[int, int]:
        stage_ids = [s.stageId() for s in self._stages()]
        exec_ids = [e.executionId() for e in self._executions()]
        return max(stage_ids, default=-1), max(exec_ids, default=-1)

    def since(self, mark: tuple[int, int], wall_s: float) -> dict:
        """Totals over the stages that ran after ``mark``; ``wall_s`` is the
        action's wall time, used for the share with no stage running."""
        stages = [
            s for s in self._stages()
            if s.stageId() > mark[0] and s.status().toString() == "COMPLETE"
        ]
        spans = sorted(
            (s.submissionTime().get().getTime(), s.completionTime().get().getTime())
            for s in stages if s.submissionTime().isDefined() and s.completionTime().isDefined()
        )
        busy_ms, end = 0, None
        for a, b in spans:
            if end is None or a > end:
                busy_ms += b - a
                end = b
            elif b > end:
                busy_ms += b - end
                end = b
        longest = max(stages, key=lambda s: s.executorRunTime(), default=None)
        return {
            "task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "stage_gap_s": max(wall_s - busy_ms / 1e3, 0.0),
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in stages) / 1e6,
            "shuffle_records": sum(s.shuffleWriteRecords() for s in stages),
            "spill_mb": sum(s.diskBytesSpilled() for s in stages) / 1e6,
            "peak_exec_mem_mb": max((s.peakExecutionMemory() for s in stages), default=0) / 1e6,
            "skew": self._skew(longest) if longest is not None else 0.0,
        }

    def _skew(self, stage) -> float:
        """max / median task duration of one stage."""
        tasks = self._conv.asJava(self._store.taskList(stage.stageId(), stage.attemptId(), 1 << 20))
        durations = [t.duration().get() for t in tasks if t.duration().isDefined()]
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 0.0

    def node_rows(self, mark: tuple[int, int], name: str, desc_prefix: str = "") -> list[int]:
        """``number of output rows`` of every plan node called ``name`` (and
        whose description starts with ``desc_prefix``) in the SQL executions
        after ``mark``."""
        out = []
        for e in self._executions():
            if e.executionId() <= mark[1]:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in self._conv.asJava(self._sql.planGraph(e.executionId()).allNodes()):
                if node.name() != name or not node.desc().startswith(desc_prefix):
                    continue
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        out.append(int(v.get().replace(",", "")))
        return out
