"""Benchmark entry point: one seeded workload per invocation.

    python3 perfbench/run.py --workload fhir_studies --seed 1 --seconds 15 --trace 0

Run from the root of a checkout; the program under test is the
``kf_task_fhir_etl_spark`` package next to this directory. The run starts
the Spark session, generates its inputs from ``--seed``, runs the
workload's warm-up rounds, then measured rounds (harness.py), checking
every output. ``setup_s`` runs from process start to the end of the
warm-up; the benchmark's own input generation and checks are left out.

stdout carries exactly one line, the result JSON. fd 1 points at stderr for
the whole run (the JVM inherits it), so Spark, log4j and py4j output never
reach stdout; the result goes to a dup of the original stdout. A report
(host fingerprint, input sizes, phase times, per-kind sample counts, the
work of every sample, the warm-up decay curve, the memory split, content
hashes) goes to stderr as one line starting ``perfbench-report``.

``--trace 1`` wraps the layers' public functions during the measured
rounds and prints the per-layer metrics instead; its report carries the
traced ``full_p50_s``, so the tracing overhead is that minus the
``full_p50_s`` of an untraced run of the same seed.

Everything the run writes lives under ``.perfbench_work/`` in the checkout
(inputs, sinks, stored results, stream checkpoints, Spark local dirs, the
program's staging caches via TMPDIR) and is deleted before exit, also on
SIGTERM.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

# leave no bytecode caches behind in the checkout
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kf_task_fhir_etl_spark"
WORKLOADS = ("fhir_studies", "graph_fixpoint", "stream_patterns")
DRIVER_MEM = "1g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` beside this directory declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _tree_rev() -> str:
    """git rev when the checkout is a repository, else a hash of the
    package sources (the benchmark checkout is a plain tree)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:  # no git on this host
            pass
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return "tree-" + h.hexdigest()[:12]


def host_fingerprint(loadavg_start: tuple) -> dict:
    import pyspark

    from probes import mem_available_mb

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "mem_available_mb": round(mem_available_mb(), 1),
        "loadavg_start": loadavg_start,
        "rev": _tree_rev(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


class Session:
    """Owns the Spark JVM: start and teardown."""

    def __init__(self) -> None:
        self.spark = None

    def start(self) -> float:
        from kf_task_fhir_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        return time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        return getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)

    def stop(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # a run cut short mid-call; the JVM still goes
            traceback.print_exc()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(30)
                SparkContext._gateway = None
                SparkContext._jvm = None


def prepare_environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the program at
    ``work`` before the first JVM starts."""
    for sub in ("tmp", "jvmtmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap, the same for every version measured (README, "Heap size")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = os.environ["TMPDIR"]
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata file in /tmp, and the JVM's own temp files (streaming
    # checkpoints among them) under the work directory
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvmtmp')}"
    # the same for the short-lived JVM spark-submit launches first
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    # the whole heap resident from the start: how far the JVM grew its heap
    # before the measured phase otherwise sets its share of peak_rss_mb
    heap = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote(f'spark.driver.extraJavaOptions={java_opts} {heap}')} pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def workload_class(name: str):
    from fhir_studies import FhirStudies
    from graph_fixpoint import GraphFixpoint
    from stream_patterns import StreamPatterns

    return {c.name: c for c in (FhirStudies, GraphFixpoint, StreamPatterns)}[name]


def decay_row(op) -> dict:
    """One point of the warm-up decay curve."""
    c = op.counters
    return {"round": op.round, "kind": op.kind, "s": round(op.seconds, 4), "jit_s": round(c.jit_s, 3),
            "codegen": c.codegen_compiles, "codegen_s": round(c.codegen_s, 3), "gc_s": round(c.gc_s, 3),
            "cpu_s": round(c.cpu_s, 2), "jobs": c.jobs}


def run(args: argparse.Namespace, session: Session, work: str, process_start: float,
        loadavg_start: tuple) -> tuple[dict, dict]:
    end_to_end, per_layer = metric_units()
    from harness import Runner, check_work, counter_values, median, spark_values, timing_metrics
    from probes import JobLedger, JvmProbe, peak_rss_split_mb, tree_pids

    session_start_s = session.start()
    spark = session.spark
    probe = JvmProbe(spark)
    workload = workload_class(args.workload)(os.path.join(work, "data"))
    phases = {"session": session_start_s}
    t = time.perf_counter()
    input_sizes = workload.generate(args.seed)
    phases["generate"] = time.perf_counter() - t
    t = time.perf_counter()
    workload.prepare(spark)
    phases["prepare"] = time.perf_counter() - t
    runner = Runner(workload, probe, JobLedger(spark) if args.trace else None)

    t = time.perf_counter()
    warm = runner.warmup()
    phases["warmup"] = time.perf_counter() - t - runner.check_s
    # process start to the end of the warm-up, without the benchmark's own
    # input generation and checks
    setup_s = time.time() - process_start - phases["generate"] - runner.check_s
    phases["warmup_checks"] = runner.check_s

    tracer = workload.tracer
    if args.trace:
        tracer.enabled = True
        workload.install_tracing(tracer)
    t = time.perf_counter()
    try:
        rounds = runner.measure(args.seconds, tree_pids())
    finally:
        tracer.unpatch()
        tracer.enabled = False
    phases["measured"] = time.perf_counter() - t
    measured = [op for r in rounds for op in r]
    check_work(workload, measured)
    work: dict[str, dict] = {}
    for op in measured:
        work.setdefault(op.kind, {**op.extra["work"], "jobs": []})["jobs"].append(op.counters.jobs)

    rss = peak_rss_split_mb(session.jvm_pid())
    rss["driver"] = runner.driver_peak_mb
    # the pre-touched heap is resident whatever the program needs of it:
    # count the heap the program used instead
    heap_committed, heap_peak = probe.heap_mb()
    rss["jvm"] += heap_peak - heap_committed
    totals, per_kind = timing_metrics(workload, measured)
    e2e = {"setup_s": setup_s, **totals, "peak_rss_mb": sum(rss.values())}
    ops = warm + measured
    failed = [op.error for op in ops if not op.ok]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "host": host_fingerprint(loadavg_start),
        "inputs": input_sizes,
        "phases_s": phases,
        "rounds": {"warmup": workload.warmup_rounds, "measured": len(rounds)},
        "samples": per_kind,
        "work": work,
        "decay_curve": [decay_row(op) for op in ops],
        "peak_rss_split_mb": rss,
        "heap_mb": {"committed": heap_committed, "peak_used": heap_peak},
        "content_hashes": getattr(workload, "hashes", None),
        "failures": failed[:5],
        "traced": bool(args.trace),
        "end_to_end": e2e,
    }
    if args.trace:
        per_round = []
        for r in rounds:
            values = {**spark_values(r, runner.ledger), **counter_values(r), **workload.layer_values(r, runner.ledger)}
            per_round.append(values)
        layers = {name: median(v.get(name, 0.0) for v in per_round) for name in set().union(*per_round)}
        layers.update({"session.start_s": session_start_s, "setup.warmup_s": phases["warmup"],
                       "workers.peak_rss_mb": rss["workers"]})
        report["per_layer"] = layers
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit} for name, unit in per_layer.items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in end_to_end.items()}
    report["host"]["loadavg_end"] = os.getloadavg()
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}
    return result, report


def main(argv: list[str] | None = None) -> int:
    process_start = _process_start_epoch()
    loadavg_start = os.getloadavg()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)
    session = Session()
    try:
        result, report = run(args, session, work, process_start, loadavg_start)
    finally:
        t_stop = time.perf_counter()
        try:
            session.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    report["phases_s"]["teardown"] = time.perf_counter() - t_stop
    report["phases_s"]["total"] = time.time() - process_start
    print("perfbench-report " + json.dumps(report, default=str), file=sys.stderr)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
