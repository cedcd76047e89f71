"""Span tracing for the traced run (``--trace 1``).

``Tracer.install()`` replaces the package's layer functions, where the
package bound them, with wrappers that only time the call, tag the Spark
jobs it submits (a per-span job tag, so jobs of concurrent pipeline
tables are attributed exactly) and count. ``uninstall()`` restores the
originals, so untraced passes inside a traced run run the plain code.
Spans stay in memory and are written as JSON lines at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

# (module, attribute, span name): free functions, patched in every
# package module that imported them by name
FUNCTIONS = (
    ("etl_data_pipeline_spark.session", "load_table", "session.load_table"),
    ("etl_data_pipeline_spark.sources", "read_source", "sources.read_source"),
    ("etl_data_pipeline_spark.watermark", "max_watermark", "watermark.max"),
    ("etl_data_pipeline_spark.sinks", "write_sink", "sinks.write"),
    ("etl_data_pipeline_spark.sinks", "idempotent_append_parquet", "sinks.append_fence"),
)
# (module, class, method, span name)
METHODS = (
    ("etl_data_pipeline_spark.watermark", "WatermarkStore", "set", "watermark.store_set"),
    ("etl_data_pipeline_spark.pipeline", "IncrementalPipeline", "run", "pipeline.run"),
    ("etl_data_pipeline_spark.pipeline", "IncrementalPipeline", "run_table", "pipeline.table"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._main_stack: list[dict] = []
        self._restore: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """One timed span; Spark jobs submitted inside carry its tag. A
        span opened on a pool thread with nothing open there is parented
        to the innermost span open on the main thread."""
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = {
            "id": next(self._ids),
            "name": name,
            "op": self.op,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        s["tag"] = f"perfbench-span-{s['id']}"
        self.sc.addJobTag(s["tag"])
        stack.append(s)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self.sc.removeJobTag(s["tag"])
            with self._lock:
                self.spans.append(s)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if name == "pipeline.run":
                    s["tables_failed"] = sum(r.status == "failed" for r in out)
                return out

        return traced

    def install(self) -> None:
        for modname, attr, name in FUNCTIONS:
            orig = getattr(sys.modules[modname], attr)
            wrapper = self._wrap(orig, name)
            for mname, mod in list(sys.modules.items()):
                if not (mname.startswith("etl_data_pipeline_spark") or mname == "__spark_entry__"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._restore.append((mod, key, orig))
                        setattr(mod, key, wrapper)
        for modname, clsname, attr, name in METHODS:
            cls = getattr(sys.modules[modname], clsname)
            orig = cls.__dict__[attr]
            self._restore.append((cls, attr, orig))
            setattr(cls, attr, self._wrap(orig, name))

    @property
    def installed(self) -> bool:
        return bool(self._restore)

    def uninstall(self) -> None:
        while self._restore:
            obj, key, orig = self._restore.pop()
            setattr(obj, key, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus its same-thread children (pool-thread
    children overlap their parent and are not subtracted)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and p["thread"] == s["thread"]:
            own[p["id"]] -= s["end"] - s["start"]
    return own


def covered_s(spans: list[dict], t0: float, t1: float) -> float:
    """Wall time inside [t0, t1] covered by at least one span."""
    total, cursor = 0.0, t0
    for a, b in sorted((max(s["start"], t0), min(s["end"], t1)) for s in spans):
        a = max(a, cursor)
        if b > a:
            total += b - a
            cursor = b
    return total


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-layer totals of one op from its spans and its (tagged) jobs;
    ratios are formed per pass, from these totals."""
    own = self_times(spans)
    by_tag: dict[str, int] = {}
    for j in jobs:
        for tag in j.get("jobTags", []):
            by_tag[tag] = by_tag.get(tag, 0) + 1

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def njobs(name):
        return sum(by_tag.get(s["tag"], 0) for s in spans if s["name"] == name)

    tables = [s for s in spans if s["name"] == "pipeline.table"]
    runs = [s for s in spans if s["name"] == "pipeline.run"]
    return {
        "session.load_table_s": dur("session.load_table"),
        "session.load_table_jobs": njobs("session.load_table"),
        "sources.read_source_s": dur("sources.read_source"),
        "sources.read_source_jobs": njobs("sources.read_source"),
        "watermark.max_s": dur("watermark.max"),
        "watermark.max_jobs": njobs("watermark.max"),
        "watermark.store_set_s": dur("watermark.store_set"),
        "pipeline.run_s": dur("pipeline.run"),
        "pipeline.table_s": dur("pipeline.table"),
        "pipeline.self_s": sum(own[s["id"]] for s in tables),
        "pipeline.tables": len(tables),
        "pipeline.table_jobs": njobs("pipeline.table"),
        "pipeline.tables_failed": sum(s.get("tables_failed", 0) for s in runs),
        "sinks.write_s": dur("sinks.write") + dur("sinks.append_fence"),
        "sinks.append_fence_s": dur("sinks.append_fence"),
        "sinks.jobs": njobs("sinks.write") + njobs("sinks.append_fence"),
        "operators.build_s": dur("operators.build"),
        "operators.build_jobs": njobs("operators.build"),
        "llm.build_s": dur("llm.build"),
        "llm.build_jobs": njobs("llm.build"),
        "spark.plan_s": dur("spark.plan"),
        "spark.exec_s": dur("spark.exec"),
    }
