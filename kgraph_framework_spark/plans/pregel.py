"""Generic superstep runner: iterate → converge-check → checkpoint → resume.

Reference analog: the NN-descent driver loop
(/root/reference/src/index_graph.cpp:139-190) — per iteration it mutates
shared state, evaluates a convergence metric, records telemetry, and
supports save/load between phases (src/index_graph.cpp:401-430). Here the
state is a DataFrame, the iteration is a caller-supplied step function, and
resumability is parquet checkpoints + a lineage/metrics sidecar (the north
rule's "resumable from checkpoint with per-partition lineage + metrics").

Two independent mechanisms, both per-superstep:

* ``localCheckpoint`` ALWAYS — truncates the logical plan so 50 supersteps
  don't compile a 50-deep join tree (the classic iterative-Spark blowup).
* parquet checkpoint + metrics row WHEN ``checkpoint_dir`` is given —
  a killed job restarts from the last completed superstep with identical
  results (tested in tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class SuperstepMetrics:
    superstep: int
    seconds: float
    rows: int
    converged: bool
    detail: dict = field(default_factory=dict)


@dataclass
class PregelResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[SuperstepMetrics] = field(default_factory=list)


def truncate_state(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize + cut lineage + RESET inherited size statistics.

    ``localCheckpoint`` truncates the RDD lineage but the resulting
    LogicalRDD *keeps the pre-checkpoint plan's size-in-bytes estimate*.
    A superstep that references the state more than once (the scatter
    side plus the vertices' own rows, the pointer-jump self-join)
    then SQUARES that estimate every iteration — by superstep ~40 the
    BigInt sizeInBytes has thousands of digits and Catalyst's stats
    visitor burns minutes per plan in Toom-Cook multiplication (observed
    live via jstack). Rebuilding the Dataset over the checkpointed
    InternalRow RDD resets the estimate to the session default and pins
    planning cost constant across supersteps.
    """
    try:
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
    except Exception:
        jsc, before = None, set()
    ckpt = df.localCheckpoint(eager=True)
    try:
        # localCheckpoint persists an INTERNAL RDD (not reachable from the
        # Dataset's queryExecution().toRdd(), which is a fresh derived
        # MapPartitionsRDD) — diff the persistent-RDD registry around the
        # call to capture the actually-persisted handle for release_state.
        # The diff alone can also catch an UNRELATED cache whose RDD first
        # registered during this action (e.g. a .persist() upstream first
        # materialized here); keep only diffed ids that appear in the
        # checkpointed dataset's own lineage so release_state never
        # unpersists a user cache mid-run.
        kg_rdds = []
        if jsc is not None:
            reg = jsc.getPersistentRDDs()
            new_ids = set(reg.keys()) - before
            if new_ids:
                dbg = ckpt._jdf.queryExecution().toRdd().toDebugString()
                lineage = dbg.decode() if isinstance(dbg, bytes) else str(dbg)
                kg_rdds = [
                    reg[i] for i in new_ids if f"[{i}]" in lineage
                ]
        jdf = ckpt._jdf
        jrdd = jdf.queryExecution().toRdd()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        out = _CDF(new_jdf, spark)
        out._kg_ckpt_rdds = kg_rdds  # handle for release_state
        return out
    except Exception:
        # internal API unavailable (e.g. connect client) — the checkpoint
        # alone is still correct, just slower on long convergence runs.
        return ckpt


#: below this many vertices a descent round's shuffle is MBs, not GBs —
#: the ~1-3 s GC+settle would dominate the round, so skip reclaiming
RECLAIM_MIN_VECS = 200_000

#: minimum seconds between run_supersteps' boundary shuffle reclaims —
#: bounds dead-shuffle disk to ~minutes of writes without taxing
#: second-scale supersteps with a full-GC pause each round
RECLAIM_EVERY_SEC = 300.0


def reclaim_shuffles(
    spark: SparkSession, n_rows: int = 0, settle_sec: float = 1.0
) -> None:
    """Synchronously push dead shuffle files off disk at a round boundary.

    Shuffle files are deleted by the ContextCleaner only after the
    stage's ShuffleDependency is garbage-collected in the DRIVER JVM, so
    in an iterative job each round's tens-of-GB of shuffle output
    outlives the round by up to ``spark.cleaner.periodicGC.interval``
    (and the async cleaner can lag a further round behind under load) —
    a 5-round 1M-vector NN-descent filled an 80 GB disk twice this way.
    Python GC first (drops py4j handles to superseded DataFrames), then
    ``System.gc()`` in the JVM, then a short settle so the cleaner
    thread drains its reference queue before the next round piles on.
    Call this only in loops whose rounds run minutes (kNN descent); for
    second-scale supersteps (PageRank) the GC pause would dominate.
    ``n_rows`` is the caller's corpus/state size — below
    RECLAIM_MIN_VECS the call is a no-op for the same reason.
    """
    if n_rows and n_rows < RECLAIM_MIN_VECS:
        return
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        return
    time.sleep(settle_sec)


def release_state(df: DataFrame | None) -> None:
    """Free a superseded superstep's cached checkpoint blocks.

    localCheckpoint persists every superstep's state (MEMORY_AND_DISK);
    without an explicit release the cached RDDs accumulate across the
    whole run — observed as per-superstep time creeping up (5s -> 13s
    over 6 supersteps at 6M edges) from growing GC pressure.
    """
    for jrdd in getattr(df, "_kg_ckpt_rdds", None) or []:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass


def _ckpt_path(checkpoint_dir: str, step: int) -> str:
    return os.path.join(checkpoint_dir, f"superstep={step:05d}")


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_manifest.jsonl")


def latest_checkpoint(checkpoint_dir: str) -> int | None:
    """Highest superstep with a committed checkpoint, or None."""
    rec = latest_manifest_record(checkpoint_dir)
    return None if rec is None else rec["superstep"]


def latest_manifest_record(checkpoint_dir: str) -> dict | None:
    path = _manifest_path(checkpoint_dir)
    if not os.path.exists(path):
        return None
    last = None
    with open(path) as fh:
        for line in fh:
            last = json.loads(line)
    return last


def run_supersteps(
    spark: SparkSession,
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], tuple[DataFrame, dict]],
    max_iters: int,
    converged_fn: Callable[[dict], bool] | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    prev_info: dict | None = None,
) -> PregelResult:
    """Run ``state = step_fn(state, i)`` until convergence or max_iters.

    ``step_fn`` returns (new_state, info) and must NOT trigger actions:
    each superstep runs exactly ONE Spark action, the localCheckpoint
    that materializes the new state. Every ``Column`` in ``info`` is a
    global aggregate over the new state (convergence delta, changed
    count, checksum); the runner observes it with the row count on top of
    the step's output, inside that job, and replaces it by its value.
    ``info`` feeds ``converged_fn`` and is persisted as the superstep's
    metrics/lineage record.

    ``prev_info`` carries Pregel aggregators into the next superstep:
    after superstep i the runner replaces its content with i's resolved
    ``info``; before the first superstep it holds what the caller seeded.
    When ``checkpoint_dir`` is set, each completed superstep writes the
    state as parquet plus a manifest line; on restart with ``resume=True``
    the run continues from the last committed superstep, with
    ``prev_info`` seeded from that superstep's record.
    """
    metrics: list[SuperstepMetrics] = []
    start_step = 0
    if prev_info is None:
        prev_info = {}

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        if resume:
            rec = latest_manifest_record(checkpoint_dir)
            if rec is not None:
                last = rec["superstep"]
                state = spark.read.parquet(_ckpt_path(checkpoint_dir, last))
                start_step = last + 1
                prev_info.update(rec)
                if start_step >= max_iters or rec.get("converged"):
                    # run already complete — don't enter the loop (which
                    # would produce empty metrics and over-count steps)
                    return PregelResult(
                        state=state, supersteps=start_step,
                        converged=bool(rec.get("converged")), metrics=[],
                    )

    state = truncate_state(spark, state)
    converged = False
    step = start_step
    last_reclaim = time.monotonic()
    for step in range(start_step, max_iters):
        t0 = time.monotonic()
        new_state, info = step_fn(state, step)
        obs = Observation()
        aggs = [c.alias(k) for k, c in info.items() if isinstance(c, Column)]
        new_state = truncate_state(
            spark, new_state.observe(obs, F.count(F.lit(1)).alias("_rows"), *aggs)
        )
        info = {**info, **obs.get}
        rows = info.pop("_rows")
        release_state(state)  # prev superstep's cache no longer reachable
        # time-throttled shuffle reclaim: long convergence runs write GBs
        # of dead shuffle per superstep; reclaim at a superstep BOUNDARY
        # at most once per RECLAIM_EVERY_SEC so disk stays proportional
        # to a few minutes of writes while second-scale supersteps never
        # pay a full-GC pause mid-step (the session's periodic net is
        # 5min for the same reason — see session.py)
        if time.monotonic() - last_reclaim >= RECLAIM_EVERY_SEC:
            reclaim_shuffles(spark, settle_sec=0.2)
            last_reclaim = time.monotonic()
        dt = time.monotonic() - t0
        converged = bool(converged_fn(info)) if converged_fn else False
        metrics.append(SuperstepMetrics(step, dt, rows, converged, info))
        prev_info.clear()
        prev_info.update(info)

        if checkpoint_dir:
            path = _ckpt_path(checkpoint_dir, step)
            new_state.write.mode("overwrite").parquet(path)
            lineage = {
                "superstep": step,
                "rows": rows,
                "seconds": dt,
                "converged": converged,
                "n_partitions": new_state.rdd.getNumPartitions(),
                **{k: v for k, v in info.items() if isinstance(v, (int, float, str, bool))},
            }
            with open(_manifest_path(checkpoint_dir), "a") as fh:
                fh.write(json.dumps(lineage) + "\n")

        state = new_state
        if converged:
            break

    return PregelResult(state=state, supersteps=step + 1 if max_iters else 0,
                        converged=converged, metrics=metrics)
