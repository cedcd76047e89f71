"""Benchmark entry point.

    python3 perfbench/run.py --workload query_relational --seed 1 --seconds 24 --trace 0

Runs one workload in a fresh process against the checkout this file sits
in, checks every output, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import probes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("query_relational", "etl_incremental")
RUN_DEADLINE_S = 170  # a run must end within 180 s
PR_SET_CHILD_SUBREAPER = 36


class Context:
    """What a workload gets: session, seeded RNG, paths, probes, tracer."""

    def __init__(self, args, spark, get_spark_s: float, start_epoch: float):
        self.args = args
        self.spark = spark
        self.get_spark_s = get_spark_s
        self.start_epoch = start_epoch
        self.rng = random.Random(args.seed)
        self.work = ROOT / ".bench_work" / args.workload
        self.counters = probes.SparkCounters(spark)
        self.tracer = None
        if args.trace:
            from tracing import Tracer

            self.tracer = Tracer(spark)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    def measure_op(self, op_id: str, fn) -> tuple[float, float, dict | None]:
        """Time ``fn()`` (the timed region) and the process tree's CPU
        seconds around it; for a traced op, then read its Spark counters
        and fold its spans into layer metrics."""
        from tracing import covered_s, layer_metrics

        traced = self.tracer is not None and self.tracer.installed
        if traced:
            self.tracer.op = op_id
            cpu0 = probes.python_worker_cpu_s(self.counters.jvm_pid)
        tree0 = probes.tree_cpu_s()
        t0, p0 = time.time(), time.perf_counter()
        fn()
        wall = time.perf_counter() - p0
        cpu = probes.tree_cpu_s() - tree0
        t1 = t0 + wall
        if not traced:
            return wall, cpu, None
        jobs = self.counters.jobs_between(t0, t1)
        spans = [s for s in self.tracer.spans if s["op"] == op_id]
        m = layer_metrics(spans, jobs)
        m.update(self.counters.summarize(jobs, t0, t1))
        m["spark.python_worker_cpu_s"] = (
            probes.python_worker_cpu_s(self.counters.jvm_pid) - cpu0
        )
        m["trace.unattributed_s"] = wall - covered_s(spans, t0, t1)
        m["_wall"] = wall
        return wall, cpu, m

    def window_open(self, timed_start: float, untraced: list, traced: list,
                    last_s: float) -> bool:
        """Start another pass if one as long as the last still ends inside
        ``--seconds``; a traced run needs at least one untraced and one
        traced pass to report its overhead."""
        if time.time() - timed_start + last_s <= self.args.seconds:
            return True
        return not untraced or (self.tracer is not None and not traced)

    def pass_layers(self, ops: list[dict]) -> dict[str, float]:
        """Layer totals of one traced pass, with its ratios."""
        out: dict[str, float] = {}
        for m in ops:
            for k, v in m.items():
                out[k] = out.get(k, 0.0) + v
        wall, run_s, tables = out.pop("_wall"), out["pipeline.run_s"], out.pop("pipeline.tables")
        table_jobs = out.pop("pipeline.table_jobs")
        out["pipeline.overlap"] = out["pipeline.table_s"] / run_s if run_s else 0.0
        out["pipeline.jobs_per_table"] = table_jobs / tables if tables else 0.0
        out["spark.core_busy_frac"] = out["spark.task_run_s"] / (wall * self.counters.cores)
        out["trace.unattributed_frac"] = out.pop("trace.unattributed_s") / wall
        return out

    def layer_report(self, untraced: list[float], traced: list[float],
                     per_pass: list[dict]) -> dict[str, float]:
        """Median over traced passes of each layer metric, plus the
        tracing overhead (traced minus untraced median pass time)."""
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        base = statistics.median(untraced)
        out["trace.overhead_frac"] = (statistics.median(traced) - base) / base
        out["session.get_spark_s"] = self.get_spark_s
        return out


def prepare_env(work: Path) -> None:
    """Keep every file the run and its JVMs write inside the checkout."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_all(timeout_s: float = 20.0) -> None:
    """Wait until every process this run started has ended. The process
    is a child subreaper, so the JVMs' orphaned Python workers and the
    CLI's JVM become its children; after ``timeout_s`` they are killed."""
    deadline = time.time() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for p in probes.descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    start_epoch = probes.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size as a multiple of sf0.01 row counts (the self-test uses 0.1)
    ap.add_argument("--scale", type=float, default=1.0)
    # self-test only: damage one output before the checks run
    ap.add_argument("--tamper", action="store_true")
    args = ap.parse_args(argv)

    missing = [
        p for p in ("__spark_entry__.py", "etl_data_pipeline_spark/__main__.py",
                    "tables_list", "tools/check_correctness.py")
        if not (ROOT / p).exists()
    ]
    if missing:
        print(f"perfbench: not a program checkout, missing {missing}", file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    watchdog = threading.Timer(RUN_DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()

    work = ROOT / ".bench_work" / args.workload
    prepare_env(work)
    sys.path.insert(0, str(ROOT))
    rss = probes.RssSampler().start()

    from etl_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Context(args, spark, get_spark_s, start_epoch)
        diag = {"loadavg_1m_before": os.getloadavg()[0],
                "control_s_before": probes.control_query_s(spark)}
        if args.workload == "query_relational":
            from wl_queries import run
        else:
            from wl_etl import run
        steal0, t0 = probes.steal_s(), time.time()
        e2e, extra, layers = run(ctx)
        diag["steal_frac"] = (probes.steal_s() - steal0) / (
            (time.time() - t0) * os.cpu_count())
        diag["control_s_after"] = probes.control_query_s(spark)
        diag["loadavg_1m_after"] = os.getloadavg()[0]
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
            ctx.tracer.write(str(work / "trace.jsonl"))
    finally:
        stop_spark(spark)
        reap_all()
    summary = {**e2e, **extra, "peak_rss_mb": rss.stop(),
               "failed_frac": ctx.failed / max(ctx.attempted, 1)}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for k, v in summary.items():
        print(f"  {k:<22} {v}")
    for k, v in diag.items():
        print(f"  diag.{k:<17} {v:.3f}")
    for note in ctx.notes:
        print(f"  FAILED {note}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            # a layer the workload does not run reports 0
            m["name"]: {"value": float(values.get(m["name"], 0.0) if args.trace
                                       else values[m["name"]]), "unit": m["unit"]}
            for m in declared
        },
    }
    watchdog.cancel()
    print(json.dumps(result))
    return 0


def _abort() -> None:
    print("perfbench: run exceeded its deadline", file=sys.stderr)
    for p in probes.descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
