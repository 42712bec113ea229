"""Spans recorded from the benchmark's side of each layer boundary.

A span has a name, an id, the id of the span that was open when it
started, and wall-clock start/end (epoch seconds, so Spark's own job and
stage timestamps line up with it). Spans stay in memory and are written
out once, at the end of the run.

:func:`patched` wraps the program's internal calls at their import
sites — the Pregel runner and its state truncation, the NN-descent
loops' truncation, the CSR block builder and the parquet writer the
runner checkpoints with — and restores the originals on exit.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
import urllib.request
from datetime import datetime, timezone


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Spans in memory, written out once by :meth:`dump`."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (duration
        minus the part of it that child spans cover)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = (
                    child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_cover.get(s["id"], 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_times": self.self_times(), **extra}, fh
            )


def _traced_runner(tracer: Tracer, run_supersteps):
    """run_supersteps whose step_fn and post_fn are spans of their own."""

    @functools.wraps(run_supersteps)
    def traced(spark, state, step_fn, max_iters, *args, **kwargs):
        step_fn = tracer.wrap(step_fn, "pregel.step_fn")
        if kwargs.get("post_fn") is not None:
            kwargs["post_fn"] = tracer.wrap(kwargs["post_fn"], "pregel.post")
        with tracer.span("pregel.run_supersteps"):
            return run_supersteps(spark, state, step_fn, max_iters, *args, **kwargs)

    return traced


#: (module, attribute, span name) — every site a layer's callee is looked up
_SITES = (
    ("kgraph_framework_spark.plans.pregel", "truncate_state", "pregel.truncate"),
    ("kgraph_framework_spark.operators.nnd_fused", "truncate_state", "nnd_fused.truncate"),
    ("kgraph_framework_spark.operators.nnd_blocked", "truncate_state", "nnd_blocked.truncate"),
    ("kgraph_framework_spark.operators.csr", "build_csr_blocks", "csr.build_plan"),
)
_RUNNER_SITES = (
    "kgraph_framework_spark.plans.pregel",
    "kgraph_framework_spark.plans.pagerank",
    "kgraph_framework_spark.plans.components",
    "kgraph_framework_spark.plans.labelprop",
)


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route the program's internal layer calls through ``tracer``."""
    from pyspark.sql.readwriter import DataFrameWriter

    saved = []
    try:
        for mod_name, attr, name in _SITES:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, tracer.wrap(getattr(mod, attr), name))
        for mod_name in _RUNNER_SITES:
            mod = importlib.import_module(mod_name)
            saved.append((mod, "run_supersteps", mod.run_supersteps))
            mod.run_supersteps = _traced_runner(tracer, mod.run_supersteps)
        saved.append((DataFrameWriter, "parquet", DataFrameWriter.parquet))
        DataFrameWriter.parquet = tracer.wrap(DataFrameWriter.parquet, "pregel.ckpt_write")
        yield tracer
    finally:
        for obj, attr, orig in reversed(saved):
            setattr(obj, attr, orig)


# -- Spark's own metrics, from the status REST API (UI on in traced runs) --

def _epoch(ts: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' -> epoch seconds."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def spark_rest(spark, endpoint: str) -> list[dict]:
    url = spark.sparkContext.uiWebUrl
    if not url:
        return []
    base = "http://127.0.0.1:" + url.rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/{endpoint}", timeout=30
    ) as resp:
        return json.load(resp)


def spark_jobs_and_stages(spark, since: float) -> tuple[list[dict], list[dict]]:
    """Completed jobs and stages submitted at or after ``since`` (epoch s)."""
    time.sleep(1.0)  # the listener bus publishes asynchronously
    jobs = []
    for j in spark_rest(spark, "jobs"):
        t = _epoch(j.get("submissionTime"))
        if t is not None and t >= since:
            jobs.append({"t": t, "tasks": int(j.get("numTasks", 0))})
    stages = []
    for s in spark_rest(spark, "stages"):
        t = _epoch(s.get("submissionTime"))
        if t is None or t < since or s.get("status") != "COMPLETE":
            continue
        stages.append({
            "t": t,
            "tasks": int(s.get("numCompleteTasks", 0)),
            "run_s": s.get("executorRunTime", 0) / 1000.0,
            "shuffle_write_bytes": int(s.get("shuffleWriteBytes", 0)),
            "spill_bytes": int(s.get("memoryBytesSpilled", 0))
            + int(s.get("diskBytesSpilled", 0)),
        })
    return jobs, stages
