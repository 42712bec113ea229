"""Per-layer metrics of one traced repetition.

Sources: the spans of trace.py, the program's own per-superstep and
per-round records, Spark's job and stage metrics (status REST API), and
two probes run after the traced repetition — an identity ``step_fn``
through ``run_supersteps`` on the workload's own state (the runner's
fixed floor) and a direct ``build_csr_blocks(...).persist().count()``.
Metrics of a layer the workload does not run read 0.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import inputs
from perfbench.trace import spark_jobs_and_stages
from perfbench.workloads import rounds

FLOOR_PROBE_STEPS = 4


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class SpanIndex:
    def __init__(self, spans: list[dict]) -> None:
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def under(self, s: dict, name: str) -> bool:
        """True if a span named ``name`` encloses ``s``."""
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            if s["name"] == name:
                return True
        return False

    def find(self, name: str, within: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (within is None or self.under(s, within))
        ]

    def supersteps(self, run: dict, jobs: list[dict]) -> list[dict]:
        """Split one run_supersteps span into per-superstep windows, each
        from a step_fn call to the next (or to the end of the run)."""
        kids = sorted(self.children.get(run["id"], []), key=lambda s: s["start"])
        starts = [s["start"] for s in kids if s["name"] == "pregel.step_fn"]
        bounds = list(zip(starts, starts[1:] + [run["end"]]))
        out = []
        for i, (a, b) in enumerate(bounds):
            inside = [s for s in kids if a <= s["start"] < b]

            def total(name: str) -> float:
                return sum(_dur(s) for s in inside if s["name"] == name)

            w = {
                "index": i,
                "total": b - a,
                "plan": total("pregel.step_fn"),
                "materialize": total("pregel.truncate"),
                "post": total("pregel.post"),
                "ckpt": total("pregel.ckpt_write"),
                "jobs": sum(1 for j in jobs if a <= j["t"] < b),
                "tasks": sum(j["tasks"] for j in jobs if a <= j["t"] < b),
            }
            w["count"] = w["total"] - w["plan"] - w["materialize"] - w["post"] - w["ckpt"]
            out.append(w)
        return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _floor_probe(spark, state) -> float:
    """Median superstep of an identity step_fn on ``state``: the runner's
    localCheckpoint + count + release floor with no algorithm work."""
    from kgraph_framework_spark.plans.pregel import release_state, run_supersteps

    res = run_supersteps(spark, state, lambda s, i: (s, {}), FLOOR_PROBE_STEPS)
    release_state(res.state)
    return _median(m.seconds for m in res.metrics)


def _csr_build_probe(spark, edges, n_edges: int) -> float:
    from kgraph_framework_spark.operators.csr import auto_n_parts, build_csr_blocks

    t = time.monotonic()
    blocks = build_csr_blocks(edges, auto_n_parts(spark, n_edges)).persist()
    blocks.count()
    dt = time.monotonic() - t
    blocks.unpersist()
    return dt


def _graph_layers(spark, idx: SpanIndex, r: dict, jobs) -> tuple[dict, int]:
    m: dict[str, float] = {}
    small = [w for run in idx.find("pregel.run_supersteps", "graph-small")
             for w in idx.supersteps(run, jobs)]
    csr = [w for run in idx.find("pregel.run_supersteps", "graph-csr")
           for w in idx.supersteps(run, jobs)]
    (derive,) = idx.find("edges.derive")
    m["edges.derive_s"] = _dur(derive)
    m["edges.rows"] = r["n_edges"]
    for key in ("plan", "materialize", "count", "post"):
        m[f"pregel.{key}_s"] = _median(w[key] for w in small)
    m["pregel.first_superstep_s"] = _median(w["total"] for w in small if w["index"] == 0)
    m["pregel.floor_s"] = _floor_probe(spark, r["pr"].state)
    m["pregel.jobs_per_superstep"] = _median(w["jobs"] for w in small)
    m["pregel.tasks_per_superstep"] = _median(w["tasks"] for w in small)
    m["pregel.ckpt_write_s"] = _median(w["ckpt"] for w in csr)
    m["pregel.ckpt_bytes"] = _dir_bytes(r["ckpt"]) / max(r["csr"].supersteps, 1)
    for name in ("pagerank", "cc", "lp", "triangles"):
        (s,) = idx.find(name, "graph-small")
        m[f"{name}.s"] = _dur(s)
    m["pagerank.supersteps"] = r["pr"].supersteps
    m["cc.supersteps"] = r["cc"].supersteps
    m["csr.build_s"] = _csr_build_probe(spark, r["edges"], r["n_edges"])
    m["csr.superstep_s"] = _median(x.seconds for x in r["csr"].metrics[1:])
    return m, len(small) + len(csr)


def _knn_layers(wl, idx: SpanIndex, r: dict) -> tuple[dict, int]:
    m: dict[str, float] = {}
    n_rounds = 0
    for name, n, _, _ in inputs.KNN_CORPORA:
        pdf, metrics = r[name]
        rows = rounds(metrics)
        n_rounds += len(rows)
        trunc = idx.find(f"nnd_{name}.truncate", f"knn-{name}")
        m[f"knn.{name}.rounds"] = len(rows)
        m[f"knn.{name}.round_s"] = _median(row["wall_sec"] for row in rows)
        m[f"knn.{name}.truncate_s"] = sum(map(_dur, trunc)) / max(len(rows), 1)
        m[f"knn.{name}.final_update_rate"] = rows[-1]["update_rate"] if rows else 0.0
        m[f"knn.{name}.recall"] = wl.recall(name, pdf)
        m[f"knn.{name}.vecs_per_s"] = n / r[f"{name}_s"]
    return m, n_rounds


def collect(wl, spark, tracer, traced: dict, untraced_wall: float, cores: int,
            session_start_s: float, names: list[str]) -> dict[str, float]:
    """Every per-layer metric in ``names`` for the traced repetition."""
    r = traced["r"]
    t0, t1 = traced["start"], traced["start"] + traced["wall"]
    jobs, stages = spark_jobs_and_stages(spark, since=t0)
    jobs = [j for j in jobs if j["t"] <= t1]
    stages = [s for s in stages if s["t"] <= t1]
    idx = SpanIndex(tracer.spans)
    if wl.name == "graph":
        m, iterations = _graph_layers(spark, idx, r, jobs)
    else:
        m, iterations = _knn_layers(wl, idx, r)
    m["session.start_s"] = session_start_s
    it = max(iterations, 1)
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages) / it
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / it
    m["spark.busy_frac"] = sum(s["run_s"] for s in stages) / (traced["wall"] * cores)
    m["spark.spill_bytes"] = sum(s["spill_bytes"] for s in stages)
    m["job.warm_s"] = untraced_wall
    m["trace.job_s"] = traced["wall"]
    m["trace.overhead_s"] = traced["wall"] - untraced_wall
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: float(m.get(name, 0.0)) for name in names}
