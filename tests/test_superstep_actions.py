"""The iterative loops' action contract: one Spark action per superstep.

Every superstep of ``run_supersteps`` runs exactly one SQL execution, the
``localCheckpoint`` that materializes the new state; the row count and the
step's convergence scalars ride that execution through
``DataFrame.observe``. Every NN-descent round does the same: its entry
and fresh counts ride the truncate of the merged pool. Counted from the SQL status store, which the
asynchronous listener bus fills: it is read only after the bus has
drained and two reads agree.
"""

from __future__ import annotations

import importlib
import time

import pytest

from kgraph_framework_spark.operators.csr import pagerank_csr
from kgraph_framework_spark.operators.knn_graph import nn_descent
from kgraph_framework_spark.plans.components import (
    connected_components,
    connected_components_star,
)
from kgraph_framework_spark.plans.labelprop import label_propagation
from kgraph_framework_spark.plans.pagerank import pagerank as pagerank_join

from conftest import MICRO_EDGES, edges_df


def _executions(spark) -> int:
    """Id of the last SQL execution the status store has seen.

    Execution ids are allocated in order, so the difference of two reads
    counts the executions in between. ``executionsCount()`` alone is
    not monotonic: the store drops executions beyond
    ``spark.sql.ui.retainedExecutions``, which a long test session
    passes.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    last = None
    for _ in range(50):
        bus.waitUntilEmpty()
        count = store.executionsCount()
        latest = store.executionsList(count - 1, 1).head().executionId() if count else -1
        if latest == last:
            return latest
        last = latest
        time.sleep(0.2)
    raise AssertionError("SQL execution count did not settle")


def _runner_executions(spark, monkeypatch, call) -> list[tuple[int, int]]:
    """(SQL executions, supersteps) of every run_supersteps call in ``call``."""
    runs = []

    def counted(orig):
        def run(*args, **kwargs):
            before = _executions(spark)
            res = orig(*args, **kwargs)
            runs.append((_executions(spark) - before, res.supersteps))
            return res

        return run

    for name in ("pregel", "pagerank", "components", "labelprop"):
        mod = importlib.import_module(f"kgraph_framework_spark.plans.{name}")
        monkeypatch.setattr(mod, "run_supersteps", counted(mod.run_supersteps))
    call()
    return runs


CALLS = {
    "pagerank_tol": lambda s, e: pagerank_join(s, e, tol=1e-6, max_iters=4),
    "pagerank_num_iters": lambda s, e: pagerank_join(s, e, num_iters=3),
    "pagerank_csr_tol": lambda s, e: pagerank_csr(s, e, tol=1e-6, max_iters=3, n_parts=4),
    "cc_converged": lambda s, e: connected_components(s, e),
    "cc_star": lambda s, e: connected_components_star(s, e),
    "label_propagation": lambda s, e: label_propagation(s, e, num_iters=2),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_one_action_per_superstep(spark, monkeypatch, name):
    edges = edges_df(spark, MICRO_EDGES).persist()
    edges.count()
    runs = _runner_executions(spark, monkeypatch, lambda: CALLS[name](spark, edges))
    edges.unpersist()
    assert len(runs) == 1
    executions, supersteps = runs[0]
    assert supersteps >= 1
    # one localCheckpoint per superstep, plus the initial truncate
    assert executions == supersteps + 1, runs


@pytest.mark.parametrize("mode", ["fused", "blocked"])
def test_one_action_per_descent_round(spark, sf_tiny, mode):
    """Two more rounds cost exactly two more SQL executions, on both the
    broadcast-scored ("fused") and the gather-scored ("blocked") path."""
    emb = (
        spark.read.parquet(f"{sf_tiny}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )
    emb.count()
    executions = {}
    for iters in (1, 3):
        before = _executions(spark)
        _, metrics = nn_descent(
            spark, emb, k=10, max_iters=iters, min_update_rate=0, mode=mode
        )
        executions[iters] = _executions(spark) - before
        assert sum("superstep" in m for m in metrics) == iters
    emb.unpersist()
    assert executions[3] - executions[1] == 2, executions
