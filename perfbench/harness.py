"""The measured loop the three workloads share, and the metrics built from it.

A workload has a few kinds of operation. Each kind is either a *full* use,
which computes its results from scratch, or a *delta* use, which updates
stored results. A round runs one operation of every kind, in a fixed order,
one client in a closed loop. A run is ``warmup_rounds`` rounds, whose length
each workload sets from its measured warm-up decay curve (README), then
measured rounds while the next one still fits in ``--seconds``, and never
fewer than ``min_rounds``.

Every operation is timed alone. The JVM and process-tree counters are read
just before and just after it, and its output is checked afterwards; both
stay outside the timed region. A timing metric is the sum over kinds of the
per-kind median, so a change to one kind moves it by that kind's share.
"""

from __future__ import annotations

import ctypes
import gc
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from probes import MB, Counters, Job, JobLedger, JvmProbe, reset_peaks, vm_hwm_mb
from trace import Span, Tracer, union_length

FULL, DELTA = "full", "delta"


@dataclass
class Op:
    kind: str
    mode: str
    round: int  # negative in the warm-up
    seconds: float = 0.0
    start: float = 0.0
    end: float = 0.0
    counters: Counters = field(default_factory=Counters)
    ok: bool = True
    error: str | None = None
    span: Span | None = None
    jobs: list[Job] = field(default_factory=list)  # traced runs only
    extra: dict = field(default_factory=dict)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile that still has at
    least ten samples beyond it (only with 20 or more samples)."""
    out = {"p50": median(samples), "n": len(samples)}
    n = len(samples)
    if n >= 20:
        pct = 100 * (n - 10) // n
        out[f"p{pct}"] = sorted(samples)[max(0, (pct * n) // 100 - 1)]
    return out


def _driver_peak_reset() -> None:
    """Give freed memory back to the OS, then restart this process's
    ``VmHWM`` at its current size, so the next read is the next
    operation's peak."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):  # not glibc
        pass
    reset_peaks([os.getpid()])


class Workload:
    """Subclasses provide inputs, operations, checks and layer values."""

    name = ""
    warmup_rounds = 1
    min_rounds = 2

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.spark = None
        self.tracer = Tracer(enabled=False)

    def generate(self, seed: int) -> dict:
        """Write the inputs for ``seed`` and the reference results; return
        input sizes for the report."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        self.spark = spark

    def operations(self, index: int) -> list[tuple[str, str, object]]:
        """``(kind, mode, fn)`` of round ``index``; ``fn()`` returns what
        ``check`` needs."""
        raise NotImplementedError

    def check(self, op: Op, payload) -> str | None:
        """A description of what is wrong with the output, or None."""
        raise NotImplementedError

    def samples(self, op: Op) -> list[tuple[str, str, float]]:
        """``(mode, kind, seconds)`` timing samples one operation gives."""
        return [(op.mode, op.kind, op.seconds)]

    def work(self, op: Op) -> dict:
        """The shape of the work an operation did, which no seed changes:
        it must repeat exactly."""
        return {}

    def end_round(self, index: int) -> None:
        pass

    def install_tracing(self, tracer: Tracer) -> None:
        tracer.install_py4j_counter()

    def layer_values(self, ops: list[Op], ledger: JobLedger) -> dict[str, float]:
        """This workload's per-layer values over one measured round."""
        return {}


class Runner:
    """Runs a workload's rounds, times and checks every operation."""

    def __init__(self, workload: Workload, probe: JvmProbe, ledger: JobLedger | None) -> None:
        self.workload = workload
        self.probe = probe
        self.ledger = ledger
        self.track_driver_peak = False
        self.driver_peak_mb = 0.0
        self.check_s = 0.0  # the benchmark's own time, spent checking

    def run_op(self, kind: str, mode: str, fn, index: int) -> Op:
        op = Op(kind, mode, index)
        if self.track_driver_peak:
            _driver_peak_reset()
        tracer = self.workload.tracer
        tracer.run_id = f"{index}:{kind}"
        counts = dict(tracer.counts)
        before = self.probe.read()
        op.start = time.time()
        t0 = time.perf_counter()
        payload = None
        try:
            with tracer.span(kind) as op.span:
                payload = fn()
        except Exception as exc:  # one failed operation must not end the run
            traceback.print_exc()
            op.ok, op.error = False, f"{kind}: {type(exc).__name__}: {exc}"
        op.seconds = time.perf_counter() - t0
        op.end = time.time()
        op.counters = self.probe.read() - before
        op.extra["counts"] = {k: v - counts.get(k, 0) for k, v in tracer.counts.items()}
        t_check = time.perf_counter()
        if self.track_driver_peak:
            self.driver_peak_mb = max(self.driver_peak_mb, vm_hwm_mb(os.getpid()))
        problem = None
        try:
            if self.ledger is not None:
                op.jobs = self.ledger.collect(before.jobs, before.jobs + op.counters.jobs)
            if op.ok:
                problem = self.workload.check(op, payload)
        except Exception as exc:  # a failed read or check fails the operation
            traceback.print_exc()
            problem = f"check raised {type(exc).__name__}: {exc}"
        if problem and op.ok:
            op.ok, op.error = False, f"{kind}: {problem}"
        self.check_s += time.perf_counter() - t_check
        return op

    def run_round(self, index: int) -> list[Op]:
        try:
            return [self.run_op(kind, mode, fn, index) for kind, mode, fn in self.workload.operations(index)]
        finally:
            self.workload.end_round(index)

    def warmup(self) -> list[Op]:
        n = self.workload.warmup_rounds
        return [op for i in range(-n, 0) for op in self.run_round(i)]

    def measure(self, seconds: float, tree: list[int]) -> list[list[Op]]:
        """Whole rounds while the next still fits in ``seconds``, at least
        ``min_rounds``; peak memory is tracked over this phase only."""
        reset_peaks(tree)
        self.probe.reset_heap_peaks()
        self.track_driver_peak = True
        rounds: list[list[Op]] = []
        t0 = time.perf_counter()
        while True:
            t_round = time.perf_counter()
            rounds.append(self.run_round(len(rounds)))
            elapsed = time.perf_counter() - t0
            if len(rounds) >= self.workload.min_rounds and elapsed + (time.perf_counter() - t_round) > seconds:
                break
        self.track_driver_peak = False
        return rounds


def check_work(workload: Workload, ops: list[Op]) -> None:
    """Every measured operation of a kind must do work of the same shape as
    the kind's first; one that does not fails."""
    first: dict[str, dict] = {}
    for op in ops:
        w = op.extra["work"] = workload.work(op)
        ref = first.setdefault(op.kind, w)
        if w != ref and op.ok:
            op.ok, op.error = False, f"{op.kind}: work {w} differs from the same kind's {ref}"


def timing_metrics(workload: Workload, ops: list[Op]) -> tuple[dict, dict]:
    """``full_p50_s`` and ``delta_p50_s`` (sum over kinds of the per-kind
    median) and the per-kind summaries behind them."""
    by: dict[tuple[str, str], list[float]] = {}
    for op in ops:
        for mode, kind, seconds in workload.samples(op):
            by.setdefault((mode, kind), []).append(seconds)
    per_kind = {f"{mode}:{kind}": summarize(v) for (mode, kind), v in by.items()}
    totals = {
        f"{mode}_p50_s": sum(median(v) for (m, _), v in by.items() if m == mode)
        for mode in (FULL, DELTA)
    }
    return totals, per_kind


def spark_values(ops: list[Op], ledger: JobLedger) -> dict[str, float]:
    """Job, task, stage and driver-gap totals of a round's operations."""
    out = dict.fromkeys(
        ("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.shuffle_write_mb",
         "spark.spill_mb", "spark.driver_gap_s"), 0.0)
    for op in ops:
        stages = ledger.stages_of(op.jobs)
        out["spark.jobs"] += len(op.jobs)
        out["spark.tasks"] += sum(j.tasks for j in op.jobs)
        out["spark.executor_run_s"] += sum(s.executor_run_s for s in stages)
        out["spark.shuffle_write_mb"] += sum(s.shuffle_write_bytes for s in stages) / MB
        out["spark.spill_mb"] += sum(s.spill_bytes for s in stages) / MB
        busy = union_length([(max(j.start, op.start), min(j.end, op.end)) for j in op.jobs])
        out["spark.driver_gap_s"] += (op.end - op.start) - busy
    return out


def counter_values(ops: list[Op]) -> dict[str, float]:
    return {
        "codegen.compiles": sum(op.counters.codegen_compiles for op in ops),
        "codegen.compile_s": sum(op.counters.codegen_s for op in ops),
        "jvm.jit_s": sum(op.counters.jit_s for op in ops),
        "jvm.gc_s": sum(op.counters.gc_s for op in ops),
        "cpu_s": sum(op.counters.cpu_s for op in ops),
    }
