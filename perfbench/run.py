#!/usr/bin/env python3
"""Seeded end-to-end benchmark: one fresh Spark application per run.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 1 --trace 0

Run from the repository root. The run makes (or reuses) the seed's inputs
and expected outputs under ``perfbench/_work``, then in a fresh Spark
application on ``local[<cores>]``:

1. sets up several times (session start + input registration) and
   reports the median as ``setup_s``;
2. runs the workload's job once in the fresh application and reports
   that repetition: a user of a batch job pays the cold JIT, codegen and
   worker start on every application. Further repetitions run only while
   less than ``--seconds`` of job time has been measured; their walls go
   to the context line. Every repetition's output is checked against the
   oracle outside the timer;
3. with ``--trace 1``, runs one warm repetition untraced and one traced
   (spans around every layer call, see trace.py), reads Spark's stage
   metrics over REST and reports the per-layer metrics instead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value, unit). The line before it
carries context: host stamp, input sizes and checksums, sample counts.
Spans go to ``perfbench/_work/traces/`` at the end of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
SETUPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(cores: int, trace: bool) -> None:
    """Session, BLAS and worker settings, exported before the JVM starts."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package by name, so they need the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(os.environ["SPARK_GRAFT_LOCAL_DIR"], exist_ok=True)


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree - {root}:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.period)


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below 11 samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def host_stamp() -> float:
    """Single-process CPU stamp (context only, never a metric)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from host_calibration import pinned_kernel_sec

    return pinned_kernel_sec(n=1_000_000, reps=1)


def run(args) -> int:
    try:
        import kgraph_framework_spark  # noqa: F401
        from kgraph_framework_spark.session import get_spark
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    from perfbench import inputs, layers
    from perfbench.trace import NullTracer, Tracer, patched
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    t_run = time.monotonic()
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    pin_environment(cores, trace)
    context: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    context["host_kernel_sec"] = host_stamp()

    t0 = time.monotonic()
    in_dir = inputs.ensure(WORK, args.workload, args.seed, ROOT)
    context["input_prepare_s"] = round(time.monotonic() - t0, 3)
    wl = WORKLOADS[args.workload](in_dir, WORK, args.seed)
    context["inputs"] = wl.meta

    setup_times: list[float] = []
    attempted = failed = 0
    first = None
    later: list[float] = []
    tracer = None
    per_layer: dict[str, float] | None = None
    with RssSampler() as rss:
        spark = None
        try:
            for i in range(SETUPS):
                t = time.monotonic()
                spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                                  shuffle_partitions=cores)
                if i == 0:
                    context["session_start_s"] = time.monotonic() - t
                wl.register(spark)
                setup_times.append(time.monotonic() - t)
                if i < SETUPS - 1:
                    wl.release()
                    spark.stop()
            spark.sparkContext.setLogLevel("ERROR")

            def repetition(tr) -> dict | None:
                nonlocal attempted, failed
                attempted += 1
                r = None
                try:
                    start = time.time()
                    t = time.monotonic()
                    r = wl.job(spark, tr)
                    wall = time.monotonic() - t
                    wl.check(r)
                    context["check_s"] = context.get("check_s", 0.0) + (
                        time.monotonic() - t - wall
                    )
                    return {"wall": wall, "start": start, "r": r,
                            "steps": wl.supersteps(r), "work": wl.edge_work(r)}
                except Exception:
                    failed += 1
                    log("repetition failed:\n" + traceback.format_exc())
                    if r is not None:
                        wl.cleanup(r)
                    return None

            def finish(rep: dict | None) -> None:
                if rep is not None:
                    wl.cleanup(rep.pop("r"))

            first = repetition(NullTracer())
            finish(first)
            if trace:
                # one untraced and one traced warm repetition: their
                # difference is the tracing overhead
                rep = repetition(NullTracer())
                finish(rep)
                tracer = Tracer()
                with patched(tracer):
                    traced = repetition(tracer)
                if traced is not None and rep is not None:
                    per_layer = layers.collect(
                        wl, spark, tracer, traced, rep["wall"], cores,
                        session_start_s=context["session_start_s"],
                        names=[m["name"] for m in bench["per_layer"]],
                    )
                finish(traced)
            else:
                measured = first["wall"] if first else 0.0
                while measured < args.seconds and attempted < 50:
                    rep = repetition(NullTracer())
                    finish(rep)
                    if rep is not None:
                        later.append(rep["wall"])
                        measured += rep["wall"]
        finally:
            if spark is not None:
                stop_spark(spark)

    context["peak_rss_mb"] = rss.peak_kb / 1024.0
    if per_layer is not None:
        per_layer["rss.peak_mb"] = context["peak_rss_mb"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics: dict[str, float] = {}
    if trace:
        if per_layer is not None:
            metrics = per_layer
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-{int(time.time())}.json"
            )
            tracer.dump(path, {"context": context, "per_layer": per_layer})
            context["trace_file"] = os.path.relpath(path, ROOT)
    elif first is not None:
        steps = first["steps"]
        tail, pct = percentile_tail(steps)
        work, secs = first["work"]
        metrics = {
            "setup_s": statistics.median(setup_times),
            "job_s": first["wall"],
            "superstep_p50_s": statistics.median(steps),
            "superstep_tail_s": tail,
            "edges_per_s": work / secs,
        }
        context.update(superstep_samples=len(steps),
                       superstep_tail_percentile=round(pct, 1),
                       setup_times_s=[round(t, 3) for t in setup_times],
                       later_job_s=[round(t, 3) for t in later])
    context["run_wall_s"] = time.monotonic() - t_run
    print(json.dumps({"context": context}), flush=True)
    if not metrics:
        log("no repetition succeeded; no result")
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
