"""Resumability: a superstep loop killed mid-iteration resumes from the
last committed checkpoint and produces identical output (north rule).

Simulated kill: run K of N supersteps with a checkpoint dir, drop the
in-memory state, then re-invoke with the same dir — the runner must
continue from superstep K (verified via the lineage manifest) and match
the uninterrupted run exactly.
"""

from __future__ import annotations

import json
import os

from kgraph_framework_spark.operators.csr import pagerank_csr
from kgraph_framework_spark.plans.components import connected_components
from kgraph_framework_spark.plans.pagerank import pagerank
from kgraph_framework_spark.plans.pregel import latest_checkpoint

from conftest import MICRO_EDGES, edges_df


def _scores(df):
    return {r["vertex"]: r["score"] for r in df.collect()}


def _labels(df):
    return {r["vertex"]: r["label"] for r in df.collect()}


class TestResume:
    def test_pagerank_resume_identical(self, spark, tmp_path):
        ckpt = str(tmp_path / "pr")
        full = pagerank(spark, edges_df(spark, MICRO_EDGES), num_iters=6)

        # phase 1: "killed" after 3 supersteps
        pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=3, checkpoint_dir=ckpt
        )
        assert latest_checkpoint(ckpt) == 2  # supersteps 0..2 committed

        # phase 2: resume and run to 6 total
        resumed = pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=6, checkpoint_dir=ckpt
        )
        assert _scores(resumed.state) == _scores(full.state)
        # metrics only cover the resumed tail
        assert [m.superstep for m in resumed.metrics] == [3, 4, 5]

    def test_pagerank_csr_resume_identical(self, spark, tmp_path):
        ckpt = str(tmp_path / "csr")
        full = pagerank_csr(spark, edges_df(spark, MICRO_EDGES), num_iters=6, n_parts=4)
        pagerank_csr(
            spark, edges_df(spark, MICRO_EDGES), num_iters=3, n_parts=4,
            checkpoint_dir=ckpt,
        )
        assert latest_checkpoint(ckpt) == 2
        resumed = pagerank_csr(
            spark, edges_df(spark, MICRO_EDGES), num_iters=6, n_parts=4,
            checkpoint_dir=ckpt,
        )
        assert _scores(resumed.state) == _scores(full.state)
        assert [m.superstep for m in resumed.metrics] == [3, 4, 5]

    def test_pagerank_tol_resume_identical(self, spark, tmp_path):
        """Convergence mode: the resumed tail must apply the dangling mass
        (vertex 9 is dangling) observed before the kill and stop at the
        same superstep as the uninterrupted run."""
        ckpt = str(tmp_path / "tol")
        full = pagerank(spark, edges_df(spark, MICRO_EDGES), tol=1e-3, max_iters=30)
        assert full.converged and full.supersteps > 4
        pagerank(
            spark, edges_df(spark, MICRO_EDGES), tol=1e-3, max_iters=4,
            checkpoint_dir=ckpt,
        )
        assert latest_checkpoint(ckpt) == 3
        resumed = pagerank(
            spark, edges_df(spark, MICRO_EDGES), tol=1e-3, max_iters=30,
            checkpoint_dir=ckpt,
        )
        assert resumed.converged
        assert resumed.supersteps == full.supersteps
        assert _scores(resumed.state) == _scores(full.state)

    def test_cc_resume_identical(self, spark, tmp_path):
        ckpt = str(tmp_path / "cc")
        full = connected_components(spark, edges_df(spark, MICRO_EDGES), num_iters=4)
        connected_components(
            spark, edges_df(spark, MICRO_EDGES), num_iters=2, checkpoint_dir=ckpt
        )
        resumed = connected_components(
            spark, edges_df(spark, MICRO_EDGES), num_iters=4, checkpoint_dir=ckpt
        )
        assert _labels(resumed.state) == _labels(full.state)

    def test_manifest_carries_lineage(self, spark, tmp_path):
        ckpt = str(tmp_path / "lin")
        pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=2, checkpoint_dir=ckpt
        )
        with open(os.path.join(ckpt, "_manifest.jsonl")) as fh:
            recs = [json.loads(line) for line in fh]
        assert [r["superstep"] for r in recs] == [0, 1]
        for r in recs:
            assert r["rows"] > 0
            assert "n_partitions" in r and "seconds" in r

    def test_resume_completed_run_is_noop(self, spark, tmp_path):
        """Re-running a fully-completed checkpointed run must return the
        final state without re-entering the loop (and without the
        empty-metrics IndexError the naive start_step math caused)."""
        ckpt = str(tmp_path / "done")
        first = pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=3, checkpoint_dir=ckpt
        )
        again = pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=3, checkpoint_dir=ckpt
        )
        assert again.supersteps == 3
        assert again.metrics == []
        assert _scores(again.state) == _scores(first.state)

    def test_superstep_cache_stays_bounded(self, spark):
        """release_state must free the RDD localCheckpoint actually
        persisted — cached-block count may not grow per superstep."""
        from pyspark.sql import functions as F

        from kgraph_framework_spark.plans.pregel import run_supersteps

        jsc = spark.sparkContext._jsc
        seen = []

        def step(df, i):
            seen.append(len(jsc.getPersistentRDDs()))
            return df.select((F.col("x") + 1).alias("x")), {}

        run_supersteps(spark, spark.range(100).toDF("x"), step, max_iters=8)
        # steady state: prior superstep's ckpt + current — constant, not
        # one extra cached RDD per superstep
        assert max(seen) - seen[0] <= 2, seen

    def test_resume_false_restarts(self, spark, tmp_path):
        ckpt = str(tmp_path / "nores")
        pagerank(
            spark, edges_df(spark, MICRO_EDGES), num_iters=2, checkpoint_dir=ckpt
        )
        res = pagerank(
            spark,
            edges_df(spark, MICRO_EDGES),
            num_iters=2,
            checkpoint_dir=ckpt,
            resume=False,
        )
        # started over: superstep ids 0..1 again, same converged scores
        assert [m.superstep for m in res.metrics] == [0, 1]
