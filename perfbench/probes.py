"""Counters read from outside the program: the JVM over py4j, the process
tree from /proc, and Spark jobs and stages by id range.

Nothing here changes what the program does. Every read happens between
operations, outside the timed regions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

MB = 1024.0 * 1024.0
CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- the process tree ---------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the command name may hold spaces; fields after it are fixed
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: user and system time of every live
    member plus what each has reaped from children that ended."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident MB of a process (``VmHWM``), 0 once it has ended."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_peaks(pids: list[int]) -> None:
    """Restart each process's ``VmHWM`` at its current resident size
    (Linux ``clear_refs`` 5), so a later read gives the peak since now."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:  # the process ended
            pass


def peak_rss_split_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident MB since ``reset_peaks`` of the Python driver, the JVM
    and the Python workers (every other descendant), each summed over its
    processes. The JVM's includes its whole committed heap."""
    split = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for pid in tree_pids():
        part = "driver" if pid == me else "jvm" if pid == jvm_pid else "workers"
        split[part] += vm_hwm_mb(pid)
    return split


def mem_available_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- the JVM -----------------------------------------------------------------


@dataclass
class Counters:
    """Cumulative counters at one instant; subtract two for an interval."""

    jobs: int = 0
    codegen_compiles: int = 0
    codegen_s: float = 0.0
    jit_s: float = 0.0
    gc_s: float = 0.0
    cpu_s: float = 0.0

    def __sub__(self, other: "Counters") -> "Counters":
        return Counters(*(getattr(self, f.name) - getattr(other, f.name) for f in fields(self)))


class JvmProbe:
    """Spark's generated-code counters (``CodegenMetrics``, and the total
    compile time ``CodeGenerator`` keeps), the JVM's JIT and GC beans, the
    job id counter of the DAG scheduler and the process tree's CPU time."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory
        self._jit = beans.getCompilationMXBean()
        self._heap = beans.getMemoryMXBean()
        self._heap_pools = [p for p in beans.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        self._gcs = list(beans.getGarbageCollectorMXBeans())
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def reset_heap_peaks(self) -> None:
        """Restart every heap pool's peak use at its current use."""
        for pool in self._heap_pools:
            pool.resetPeakUsage()

    def heap_mb(self) -> tuple[float, float]:
        """(committed heap, sum of the heap pools' peak use since
        ``reset_heap_peaks``) in MB. With the heap pre-touched, the
        committed heap is resident whatever the program uses of it."""
        committed = self._heap.getHeapMemoryUsage().getCommitted()
        peak = sum(pool.getPeakUsage().getUsed() for pool in self._heap_pools)
        return committed / MB, peak / MB

    def read(self) -> Counters:
        return Counters(
            jobs=self._dag.numTotalJobs(),
            codegen_compiles=self._compiles.getCount(),
            codegen_s=self._codegen.compileTime() / 1e9,
            jit_s=self._jit.getTotalCompilationTime() / 1e3,
            gc_s=sum(b.getCollectionTime() for b in self._gcs) / 1e3,
            cpu_s=tree_cpu_s(),
        )


# -- Spark jobs and stages -----------------------------------------------------


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    tasks: int
    stage_ids: list[int]


@dataclass
class Stage:
    executor_run_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    output_bytes: int


class JobLedger:
    """Jobs and stages read from the driver's status store (it works with
    the UI disabled) by job id: an operation's jobs are the ids the DAG
    scheduler handed out while it ran. The store keeps only the last 1000
    jobs and stages, so ``collect`` is called after every operation."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}

    def collect(self, first_job: int, end_job: int) -> list[Job]:
        """Read jobs ``first_job`` .. ``end_job - 1`` and their stages, once
        the listener bus has delivered every event posted so far: the
        store is filled from the bus, after the jobs have ended."""
        self._bus.waitUntilEmpty()
        out = []
        for jid in range(first_job, end_job):
            if jid not in self.jobs:
                j = self._store.job(jid)
                done = j.completionTime()
                start = j.submissionTime().get().getTime() / 1000.0
                self.jobs[jid] = Job(
                    jid,
                    start,
                    done.get().getTime() / 1000.0 if done.isDefined() else start,
                    j.numTasks(),
                    list(self._as_java(j.stageIds())),
                )
                for sid in self.jobs[jid].stage_ids:
                    if sid not in self.stages:
                        self.stages[sid] = self._stage(sid)
            out.append(self.jobs[jid])
        return out

    def _stage(self, sid: int) -> Stage:
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the job skipped never ran
            return Stage(0.0, 0, 0, 0)
        return Stage(
            s.executorRunTime() / 1000.0,
            s.shuffleWriteBytes(),
            s.memoryBytesSpilled() + s.diskBytesSpilled(),
            s.outputBytes(),
        )

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [self.stages[sid] for sid in sorted(ids)]

    @staticmethod
    def within(jobs: list[Job], start: float, end: float) -> list[Job]:
        """Jobs submitted inside [start, end] (the store keeps whole ms)."""
        return [j for j in jobs if start - 0.002 <= j.start <= end + 0.002]
