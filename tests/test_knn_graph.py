"""NN-descent kNN-graph construction vs brute-force oracle.

The reference's own test strategy (SURVEY.md §5): exact ground truth via
O(N^2) scan, quality metric = graph recall, target recall high after few
refinement rounds (the reference converges SIFT1M to >0.9 in <10 iters;
the tiny fixture converges faster).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgraph_framework_spark.operators.knn_graph import (
    graph_recall,
    knn_bruteforce_l2,
    nn_descent,
    random_init,
)

SF_TINY = "/root/testdata/sf0.001"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )


@pytest.fixture(scope="module")
def truth(spark, emb):
    return knn_bruteforce_l2(emb, k=K).persist()


class TestBruteforceOracle:
    def test_matches_numpy(self, emb, truth):
        rows = emb.collect()
        vecs = {r["vec_id"]: np.asarray(r["embedding"], np.float64) for r in rows}
        got = {}
        for r in truth.collect():
            got.setdefault(r["src"], []).append((r["dist"], r["dst"]))
        for src in list(vecs)[:10]:
            d2 = {
                v: float(((vecs[src] - x) ** 2).sum())
                for v, x in vecs.items()
                if v != src
            }
            exp = sorted((d, v) for v, d in d2.items())[:K]
            mine = sorted(got[src])
            assert [v for _, v in mine] == [v for _, v in exp]
            for (dm, _), (de, _) in zip(mine, exp):
                assert dm == pytest.approx(de, rel=1e-10)


class TestRandomInit:
    def test_degree_and_no_self_loops(self, spark, emb):
        init = random_init(emb, k=K)
        bad = init.where(F.col("src") == F.col("dst")).count()
        assert bad == 0
        degs = [r["c"] for r in init.groupBy("src").agg(
            F.count(F.lit(1)).alias("c")).collect()]
        assert max(degs) <= K
        assert min(degs) >= K - 2  # hash collisions may drop a slot or two

    def test_deterministic(self, spark, emb):
        a = random_init(emb, k=K).orderBy("src", "dst").collect()
        b = random_init(emb, k=K).orderBy("src", "dst").collect()
        assert a == b

    def test_non_contiguous_ids(self, spark, emb):
        """Gapped / non-zero-based id spaces must still produce k REAL
        neighbors per vertex (synthesized slots map through the dense
        index instead of being silently dropped by the embedding join)."""
        shifted = emb.select(
            (F.col("vec_id") * 7 + 1000).alias("vec_id"), "embedding"
        ).persist()
        ids = {r["vec_id"] for r in shifted.select("vec_id").collect()}
        init = random_init(shifted, k=K)
        bad_dst = init.select("dst").distinct().collect()
        assert all(r["dst"] in ids for r in bad_dst)
        degs = [
            r["c"]
            for r in init.groupBy("src")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        assert min(degs) >= K - 2 and max(degs) <= K
        shifted.unpersist()


class TestIdIndex:
    def test_rank_mapping_and_no_global_window(self, spark, emb):
        from kgraph_framework_spark.operators.knn_graph import id_index

        shifted = emb.select((F.col("vec_id") * 7 + 1000).alias("vec_id"))
        got = {r["vec_id"]: r["ridx"] for r in id_index(shifted).collect()}
        ids = sorted(r["vec_id"] for r in shifted.collect())
        assert got == {v: i for i, v in enumerate(ids)}
        # scale guard: the zipWithIndex path must not reintroduce a
        # no-partition Window (single-task global sort)
        plan = id_index(shifted)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestNNDescent:
    def test_recall_improves_and_clears_floor(self, spark, emb, truth):
        init_recall = graph_recall(
            random_init(emb, k=K).select("src", "dst"), truth
        )
        graph, metrics = nn_descent(spark, emb, k=K, max_iters=6)
        final_recall = graph_recall(graph.select("src", "dst"), truth)
        assert final_recall > init_recall + 0.3
        assert final_recall >= 0.85, f"recall {final_recall:.3f}"
        # update rate decays monotonically-ish to convergence
        rates = [m["update_rate"] for m in metrics]
        assert rates[-1] < rates[0]

    def test_output_shape(self, spark, emb):
        graph, _ = nn_descent(spark, emb, k=K, max_iters=2)
        degs = graph.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        assert degs.where(F.col("c") > K).count() == 0
        assert graph.where(F.col("src") == F.col("dst")).count() == 0


class TestMinRecallConvergence:
    """The reference's OWN stop criterion: sampled pool recall vs exact
    control truth, stop past a threshold (src/index_graph.cpp:172-179,
    eval_recall :209-229) — nn_descent(min_recall=...)."""

    def test_control_truth_matches_oracle(self, spark, emb, truth):
        from kgraph_framework_spark.operators.knn_graph import control_truth

        ct = control_truth(spark, emb, K).persist()
        ctrl_ids = {r["src"] for r in ct.select("src").distinct().collect()}
        assert len(ctrl_ids) >= 50  # ~n_control stride-sampled points
        exp = {
            (r["src"], r["dst"])
            for r in truth.collect()
            if r["src"] in ctrl_ids
        }
        got = {(r["src"], r["dst"]) for r in ct.collect()}
        # different (mathematically equal) float64 expansions may flip
        # ties at the k boundary; demand near-exact agreement
        assert len(got & exp) / max(len(exp), 1) >= 0.99
        ct.unpersist()

    def test_recall_stop_fused(self, spark, emb):
        graph, metrics = nn_descent(
            spark, emb, k=K, max_iters=8, min_recall=0.3
        )
        assert "recall" in metrics[-1] and "recall_eval_sec" in metrics[-1]
        assert metrics[-1]["recall"] >= 0.3
        assert len(metrics) < 8, "should stop on recall, not iter count"
        # earlier rounds below the threshold must NOT have stopped
        for m in metrics[:-1]:
            assert m["recall"] < 0.3
        # the stopping round says so explicitly; no other round does
        assert [m["recall_stop"] for m in metrics] == (
            [False] * (len(metrics) - 1) + [True]
        )

    def test_blocked_recall_equals_fused(self, spark, emb):
        """packed_pool_recall (blocked) and the broadcast semi-join
        (fused) must read the SAME recall off the bit-identical pools."""
        out = {}
        for mode in ("fused", "blocked"):
            _, m = nn_descent(
                spark, emb, k=K, max_iters=2, min_recall=1.01, mode=mode
            )
            out[mode] = [r["recall"] for r in m]
        assert len(out["fused"]) == 2
        assert out["fused"] == out["blocked"]

    def test_blocked_recall_stop_flag(self, spark, emb):
        """The blocked loop flags the round that stops on min_recall,
        even when it is the last allowed round."""
        _, m = nn_descent(
            spark, emb, k=K, max_iters=1, min_recall=0.0, mode="blocked"
        )
        assert [r["recall_stop"] for r in m] == [True]

    def test_control_truth_offset_ids(self, spark, emb):
        """Offset, gapped ids (1000 + 7i): a stride over raw id values
        can select no id at all (here every id is 6 mod 7); the control
        set must be drawn from real ids by rank and match the oracle."""
        from kgraph_framework_spark.operators.knn_graph import control_truth

        shifted = emb.select(
            (F.col("vec_id") * 7 + 1000).alias("vec_id"), "embedding"
        ).persist()
        n = shifted.count()
        ids = sorted(r["vec_id"] for r in shifted.select("vec_id").collect())
        n_control = n // 7  # stride 7
        ct = control_truth(spark, shifted, K, n_control=n_control).persist()
        ctrl = {r["src"] for r in ct.select("src").distinct().collect()}
        assert ctrl == set(ids[::7])
        got = {(r["src"], r["dst"]) for r in ct.collect()}
        truth = knn_bruteforce_l2(shifted, k=K)
        exp = {
            (r["src"], r["dst"])
            for r in truth.collect()
            if r["src"] in ctrl
        }
        assert len(got & exp) / max(len(exp), 1) >= 0.99
        ct.unpersist()
        shifted.unpersist()

    def test_empty_control_set_raises(self, spark, emb):
        empty = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError, match="control set is empty"):
            nn_descent(
                spark, emb, k=K, max_iters=1, min_recall=0.99,
                control=empty,
            )


class TestKnobWarnings:
    def test_block_bytes_warns_on_fused_path(self, spark, emb):
        """block_bytes sizes the blocked loop only; a run that takes
        the fused loop must say it ignored the knob."""
        with pytest.warns(UserWarning, match="block_bytes"):
            nn_descent(
                spark, emb, k=K, max_iters=1, mode="fused",
                block_bytes=1 << 20,
            )
