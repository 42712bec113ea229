"""The two workloads: what one repetition runs and how its output is checked.

Each workload registers its inputs once per set-up, runs ``job`` once per
repetition (timed by the caller), checks the returned results against the
per-seed expectations outside the timer, then frees them in ``cleanup``.
Only public entry points are called: ``union_graph``,
``tool_cousage_edges``, ``pagerank_auto``, ``pagerank_csr``,
``connected_components``, ``label_propagation``, ``count_triangles`` and
``nn_descent(mode="auto")``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np

from perfbench import inputs


class CheckFailed(AssertionError):
    """A repetition's output disagrees with the oracle."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _state_arrays(df, col: str, dtype) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas()
    v = pdf["vertex"].to_numpy(np.int64)
    o = np.argsort(v)
    return v[o], pdf[col].to_numpy(dtype)[o]


def _check_scores(df, exp_v, exp_s, what: str) -> None:
    v, s = _state_arrays(df, "score", np.float64)
    _expect(np.array_equal(v, exp_v), f"{what}: vertex set differs")
    _expect(np.allclose(s, exp_s, rtol=1e-6, atol=0.0), f"{what}: scores differ")


def _check_labels(df, exp_v, exp_l, what: str) -> None:
    v, lab = _state_arrays(df, "label", np.int64)
    _expect(np.array_equal(v, exp_v), f"{what}: vertex set differs")
    _expect(np.array_equal(lab, exp_l), f"{what}: labels differ")


class GraphWorkload:
    """graph-small (join-engine Pregel loops, floor-dominated) followed by
    graph-csr (the CSR PageRank engine on the same edges, with a parquet
    checkpoint and a manifest line every superstep)."""

    name = "graph"

    def __init__(self, in_dir: str, work: str, seed: int) -> None:
        self.in_dir = in_dir
        self.ckpt_root = os.path.join(work, "ckpt")
        self.exp = dict(np.load(os.path.join(in_dir, "expected.npz")))
        with open(os.path.join(in_dir, "meta.json")) as fh:
            self.meta = json.load(fh)

    def register(self, spark) -> None:
        self.tx = spark.read.parquet(
            os.path.join(self.in_dir, "transcripts.parquet")
        ).persist()
        self.tx.count()

    def release(self) -> None:
        self.tx.unpersist()

    def job(self, spark, tr) -> dict:
        from kgraph_framework_spark.operators.csr import pagerank_csr
        from kgraph_framework_spark.operators.edges import (
            tool_cousage_edges,
            union_graph,
        )
        from kgraph_framework_spark.plans.components import connected_components
        from kgraph_framework_spark.plans.labelprop import label_propagation
        from kgraph_framework_spark.plans.pagerank import pagerank_auto
        from kgraph_framework_spark.plans.triangles import count_triangles

        r: dict = {}
        with tr.span("graph-small"):
            with tr.span("edges.derive"):
                r["edges"] = union_graph(self.tx).persist()
                r["n_edges"] = r["edges"].count()
            with tr.span("pagerank"):
                r["pr"] = pagerank_auto(
                    spark, r["edges"], n_edges=r["n_edges"],
                    tol=inputs.SMALL_PR_TOL, max_iters=inputs.SMALL_PR_MAX_ITERS,
                )
            r["cousage"] = tool_cousage_edges(self.tx).persist()
            with tr.span("cc"):
                r["cc"] = connected_components(spark, r["cousage"], max_iters=30)
            with tr.span("lp"):
                r["lp"] = label_propagation(
                    spark, r["edges"], num_iters=inputs.SMALL_LP_ITERS
                )
            with tr.span("triangles"):
                r["triangles"] = count_triangles(r["cousage"])
        # a fresh directory per repetition: with resume=True a reused one
        # makes run_supersteps return at once from the previous manifest
        r["ckpt"] = os.path.join(self.ckpt_root, uuid.uuid4().hex)
        with tr.span("graph-csr"):
            r["csr"] = pagerank_csr(
                spark, r["edges"], num_iters=inputs.CSR_PR_ITERS,
                checkpoint_dir=r["ckpt"],
            )
        return r

    def check(self, r: dict) -> None:
        e = self.exp
        _expect(r["n_edges"] == self.meta["n_edges"], "edge count")
        _expect(
            inputs.edge_checksum(r["edges"].toPandas()) == self.meta["edges_checksum"],
            "edge checksum",
        )
        _expect(r["pr"].supersteps == int(e["pr_small_steps"]), "pagerank supersteps")
        _check_scores(r["pr"].state, e["pr_small_v"], e["pr_small_s"], "pagerank")
        _expect(r["cc"].converged, "connected components did not converge")
        _check_labels(r["cc"].state, e["cc_v"], e["cc_l"], "connected components")
        _check_labels(r["lp"].state, e["lp_v"], e["lp_l"], "label propagation")
        _expect(r["triangles"] == int(e["triangles"]), "triangle count")
        _expect(r["csr"].supersteps == inputs.CSR_PR_ITERS, "csr pagerank supersteps")
        _check_scores(r["csr"].state, e["pr_csr_v"], e["pr_csr_s"], "csr pagerank")

    def cleanup(self, r: dict) -> None:
        from kgraph_framework_spark.plans.pregel import release_state

        for key in ("pr", "cc", "lp", "csr"):
            if key in r:
                release_state(r[key].state)
        for key in ("edges", "cousage"):
            if key in r:
                r[key].unpersist()
        if "ckpt" in r:
            shutil.rmtree(r["ckpt"], ignore_errors=True)

    def supersteps(self, r: dict) -> list[float]:
        """Seconds of every Pregel superstep the job ran."""
        return [m.seconds for key in ("pr", "cc", "lp", "csr") for m in r[key].metrics]

    def edge_work(self, r: dict) -> tuple[float, float]:
        """(edges x supersteps, superstep seconds) of both PageRank engines."""
        secs = [m.seconds for key in ("pr", "csr") for m in r[key].metrics]
        return float(r["n_edges"] * len(secs)), float(sum(secs))


class KnnWorkload:
    """nn_descent(mode="auto") on a corpus under the fused/blocked crossover
    (nnd_fused, broadcast matrix) and on one over it (nnd_blocked)."""

    name = "knn"

    def __init__(self, in_dir: str, work: str, seed: int) -> None:
        self.in_dir = in_dir
        self.seed = seed
        self.exp = dict(np.load(os.path.join(in_dir, "expected.npz")))
        with open(os.path.join(in_dir, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.x = {
            name: inputs.read_vectors(os.path.join(in_dir, f"{name}.parquet"), dim)
            for name, _, dim, _ in inputs.KNN_CORPORA
        }

    def register(self, spark) -> None:
        from kgraph_framework_spark.operators.knn_graph import AUTO_FUSED_MAX_BYTES

        self.emb = {}
        for name, n, dim, _ in inputs.KNN_CORPORA:
            # the auto pick is by matrix bytes; keep each corpus on its side
            _expect((n * dim * 4 > AUTO_FUSED_MAX_BYTES) == (name == "blocked"),
                    f"{name} corpus is on the wrong side of AUTO_FUSED_MAX_BYTES")
            df = spark.read.parquet(os.path.join(self.in_dir, f"{name}.parquet")).persist()
            df.count()
            self.emb[name] = df

    def release(self) -> None:
        for df in self.emb.values():
            df.unpersist()

    def job(self, spark, tr) -> dict:
        from kgraph_framework_spark.operators.knn_graph import nn_descent

        r: dict = {}
        for name, _, _, iters in inputs.KNN_CORPORA:
            t0 = time.monotonic()
            with tr.span(f"knn-{name}"):
                graph, metrics = nn_descent(
                    spark, self.emb[name], k=inputs.KNN_K, max_iters=iters,
                    seed=self.seed, mode="auto",
                )
                r[name] = (graph.toPandas(), metrics)
            r[f"{name}_s"] = time.monotonic() - t0
        return r

    def recall(self, name: str, pdf) -> float:
        q = self.exp[f"{name}_queries"]
        truth = self.exp[f"{name}_truth"]
        sub = pdf[pdf["src"].isin(q)]
        got = {(int(s), int(d)) for s, d in zip(sub["src"], sub["dst"])}
        want = {(int(s), int(d)) for s, row in zip(q, truth) for d in row}
        return len(got & want) / len(want)

    def check(self, r: dict) -> None:
        k = inputs.KNN_K
        for name, n, _, _ in inputs.KNN_CORPORA:
            pdf, metrics = r[name]
            src = pdf["src"].to_numpy(np.int64)
            dst = pdf["dst"].to_numpy(np.int64)
            _expect(len(pdf) == n * k, f"{name}: {len(pdf)} rows, want {n * k}")
            _expect(np.array_equal(np.bincount(src, minlength=n), np.full(n, k)),
                    f"{name}: a vertex does not have exactly k neighbours")
            _expect(bool(np.all(src != dst)), f"{name}: self loop")
            _expect(len(set(zip(src.tolist(), dst.tolist()))) == len(pdf),
                    f"{name}: duplicate edge")
            x = self.x[name].astype(np.float64)
            exact = ((x[src] - x[dst]) ** 2).sum(1)
            _expect(np.allclose(pdf["dist"].to_numpy(np.float64), exact, rtol=1e-6),
                    f"{name}: returned distances are not exact squared L2")
            _expect(self.recall(name, pdf) >= MIN_RECALL[name],
                    f"{name}: recall below {MIN_RECALL[name]}")
            _expect(len(rounds(metrics)) >= 1, f"{name}: no descent round ran")

    def cleanup(self, r: dict) -> None:
        pass

    def supersteps(self, r: dict) -> list[float]:
        """Seconds of every descent round the job ran, both loops."""
        return [row["wall_sec"] for name, *_ in inputs.KNN_CORPORA
                for row in rounds(r[name][1])]

    def edge_work(self, r: dict) -> tuple[float, float]:
        """(kNN-graph edges x rounds, round seconds) over both phases."""
        work = secs = 0.0
        for name, n, _, _ in inputs.KNN_CORPORA:
            rs = rounds(r[name][1])
            work += n * inputs.KNN_K * len(rs)
            secs += sum(row["wall_sec"] for row in rs)
        return work, secs


#: recall@10 floors on the control sample after the capped rounds: ten
#: times a random graph's k/n. One round reads ~0.11 (fused) and ~0.06
#: (blocked); these check for a real descent, not a converged graph
MIN_RECALL = {"fused": 0.05, "blocked": 0.025}


def rounds(metrics: list[dict]) -> list[dict]:
    """Descent-round rows of an nn_descent metrics list."""
    return [m for m in metrics if "superstep" in m]


WORKLOADS = {"graph": GraphWorkload, "knn": KnnWorkload}
