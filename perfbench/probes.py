"""Measurements taken from outside the program: process-tree RSS, Python
worker CPU from ``/proc``, and Spark job/stage counters from the
session's status tracker and its local UI REST API.

Nothing here runs inside a timed region: callers read the counters
before and after an op and take differences.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock start of this process (``/proc`` start time, 10 ms
    resolution), so set-up time includes interpreter start."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / TICK


def _proc_table() -> dict[int, tuple[int, int, float, str]]:
    """pid -> (ppid, rss bytes, cpu seconds incl. reaped children, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.find("(") + 1 : raw.rfind(")")]
        fields = raw.rsplit(")", 1)[1].split()
        cpu = sum(int(x) for x in fields[11:15]) / TICK
        out[int(name)] = (int(fields[1]), int(fields[21]) * PAGE, cpu, comm)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(me, table)] if p in table)


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (steal excluded)."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][2] for p in [me, *descendants(me, table)] if p in table)


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python daemon/worker processes, counting
    workers the daemon has already reaped."""
    table = _proc_table()
    return sum(
        table[p][2]
        for p in descendants(jvm_pid, table)
        if table[p][3].startswith("python")
    )


class RssSampler:
    """Background sampler of the whole process tree's RSS; keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak / 2**20


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkCounters:
    """Job and stage metrics of one SparkContext, read via the local UI
    REST API after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.jvm_pid = self.sc._gateway.proc.pid
        self.cores = self.sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until every submitted job's events reached the status store."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + 10
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.01)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in [t0, t1] (epoch seconds), oldest first."""
        self.settle()
        out = []
        for j in self._get("/jobs"):
            sub = _rest_time(j.get("submissionTime"))
            if sub is not None and t0 - 0.002 <= sub <= t1 + 0.002:
                j["_sub"] = sub
                j["_end"] = _rest_time(j.get("completionTime")) or t1
                out.append(j)
        return sorted(out, key=lambda j: j["jobId"])

    def summarize(self, jobs: list[dict], t0: float, t1: float) -> dict[str, float]:
        """Execution counters of ``jobs`` over the op window [t0, t1]."""
        wanted = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in (self._get("/stages") if wanted else [])
            if s["stageId"] in wanted and s["status"] in ("COMPLETE", "FAILED")
        ]
        busy, cursor = 0.0, t0
        for a, b in sorted((max(j["_sub"], t0), min(j["_end"], t1)) for j in jobs):
            a = max(a, cursor)
            if b > a:
                busy += b - a
                cursor = b
        wall = max(t1 - t0, 1e-9)
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        mb = 2**20
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ) / mb,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / mb,
            "spark.driver_only_s": wall - busy,
        }


def control_query_s(spark) -> float:
    """A fixed in-JVM shuffle + hash aggregate (noop sink) of ~1 s here:
    a host-speed diagnostic recorded around each run, never a metric."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 3_000_000, 1, 8)
        .select(
            (F.col("id") % 100_000).alias("k"),
            ((F.col("id") * 2654435761) % 1_000_003).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
