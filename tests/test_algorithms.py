"""Graph algorithms vs single-process numpy/union-find oracles (SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pytest

from kgraph_framework_spark import oracle
from kgraph_framework_spark.plans import (
    connected_components,
    count_triangles,
    label_propagation,
    pagerank,
    triangles_per_vertex,
)

from conftest import MICRO_EDGES, TRI_EDGES, edges_df


def _sym(rows):
    return rows + [(d, s, w) for s, d, w in rows]


def _scores(df):
    return {r["vertex"]: r["score"] for r in df.collect()}


def _labels(df):
    return {r["vertex"]: r["label"] for r in df.collect()}


class TestPageRank:
    def test_micro_directed_matches_numpy(self, spark):
        res = pagerank(spark, edges_df(spark, MICRO_EDGES), tol=1e-12, max_iters=100)
        got = _scores(res.state)
        exp = oracle.pagerank_ref(MICRO_EDGES, tol=1e-12, max_iters=200)
        assert set(got) == set(exp)
        for v in exp:
            assert got[v] == pytest.approx(exp[v], abs=1e-6)
        # probability distribution sums to 1 (dangling mass redistributed)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_fixed_iters_matches_numpy_exactly_stepwise(self, spark):
        res = pagerank(spark, edges_df(spark, MICRO_EDGES), num_iters=7)
        got = _scores(res.state)
        exp = oracle.pagerank_ref(MICRO_EDGES, num_iters=7)
        for v in exp:
            assert got[v] == pytest.approx(exp[v], abs=1e-12)
        assert res.supersteps == 7

    def test_convergence_early_exit(self, spark):
        res = pagerank(spark, edges_df(spark, MICRO_EDGES), tol=1e-10, max_iters=500)
        assert res.converged
        assert res.supersteps < 500


class TestConnectedComponents:
    def test_micro_exact(self, spark):
        res = connected_components(spark, edges_df(spark, MICRO_EDGES))
        got = _labels(res.state)
        exp = oracle.components_ref(MICRO_EDGES)
        assert got == exp
        assert res.converged

    def test_fixed_rounds_match_hashmin_ref(self, spark):
        sym = _sym(MICRO_EDGES)
        res = connected_components(
            spark, edges_df(spark, MICRO_EDGES), num_iters=2, symmetrize=True
        )
        exp = oracle.hashmin_rounds_ref(sym, 2)
        assert _labels(res.state) == exp

    def test_long_chain(self, spark):
        chain = [(i, i + 1, 1.0) for i in range(30)]
        res = connected_components(spark, edges_df(spark, chain), max_iters=60)
        got = _labels(res.state)
        assert set(got.values()) == {0}
        assert res.converged


class TestStarComponents:
    def test_micro_matches_hashmin(self, spark):
        from kgraph_framework_spark.plans.components import (
            connected_components_star,
        )

        star = connected_components_star(spark, edges_df(spark, MICRO_EDGES))
        exp = oracle.components_ref(MICRO_EDGES)
        assert _labels(star.state) == exp
        assert star.converged

    def test_long_chain_logarithmic_rounds(self, spark):
        """A 128-vertex path: plain hash-min needs O(n) rounds; the
        star rewrite must converge in O(log n)."""
        from kgraph_framework_spark.plans.components import (
            connected_components_star,
        )

        chain = [(i, i + 1, 1.0) for i in range(127)]
        star = connected_components_star(
            spark, edges_df(spark, chain), max_iters=30
        )
        got = _labels(star.state)
        assert set(got.values()) == {0}
        assert len(got) == 128
        assert star.converged
        assert star.supersteps <= 12, star.supersteps

    def test_random_graph_matches_hashmin(self, spark):
        from kgraph_framework_spark.plans.components import (
            connected_components_star,
        )

        rng = np.random.default_rng(3)
        rows = [
            (int(a), int(b), 1.0)
            for a, b in rng.integers(0, 200, size=(120, 2))
            if a != b
        ]
        star = connected_components_star(spark, edges_df(spark, rows))
        hm = connected_components(spark, edges_df(spark, rows))
        assert _labels(star.state) == _labels(hm.state)


class TestLabelPropagation:
    def test_fixed_rounds_match_ref(self, spark):
        sym = _sym(MICRO_EDGES)
        res = label_propagation(spark, edges_df(spark, MICRO_EDGES), num_iters=4)
        exp = oracle.label_propagation_ref(sym, 4)
        assert _labels(res.state) == exp

    def test_two_cliques_converge_to_two_labels(self, spark):
        cl1 = [(a, b, 1.0) for a in range(4) for b in range(a + 1, 4)]
        cl2 = [(a, b, 1.0) for a in range(10, 14) for b in range(a + 1, 14)]
        rows = cl1 + cl2 + [(3, 10, 0.1)]
        res = label_propagation(spark, edges_df(spark, rows), num_iters=8)
        got = _labels(res.state)
        assert all(got[v] == 0 for v in range(4))
        assert all(got[v] == 10 for v in range(10, 14))


class TestTriangles:
    def test_two_shared_triangles(self, spark):
        assert count_triangles(edges_df(spark, TRI_EDGES)) == 2
        per = {
            r["vertex"]: r["triangles"]
            for r in triangles_per_vertex(edges_df(spark, TRI_EDGES)).collect()
        }
        exp_total, exp_per = oracle.triangles_ref(TRI_EDGES)
        assert exp_total == 2
        assert per == exp_per

    def test_random_graph_matches_ref(self, spark):
        rng = np.random.default_rng(7)
        n = 40
        rows = []
        seen = set()
        for _ in range(200):
            a, b = map(int, rng.integers(0, n, 2))
            if a != b and (min(a, b), max(a, b)) not in seen:
                seen.add((min(a, b), max(a, b)))
                rows.append((a, b, 1.0))
        exp_total, exp_per = oracle.triangles_ref(rows)
        assert count_triangles(edges_df(spark, rows)) == exp_total
        per = {
            r["vertex"]: r["triangles"]
            for r in triangles_per_vertex(edges_df(spark, rows)).collect()
        }
        assert per == exp_per

    def test_duplicate_and_reverse_edges_ignored(self, spark):
        noisy = TRI_EDGES + [(2, 1, 1.0), (1, 2, 5.0), (3, 3, 1.0)]
        assert count_triangles(edges_df(spark, noisy)) == 2

    def test_auto_engine_pick_and_agreement(self, spark):
        """engine='auto' picks the wedge join on sparse-wedge graphs
        (the measured-cheap regime, W/E <= WEDGE_MAX_PER_EDGE) and the
        CSR gather on wedge-dense ones; both agree with the explicit
        engines on counts."""
        from kgraph_framework_spark.plans.triangles import (
            WEDGE_MAX_PER_EDGE,
            _auto_engine,
            _oriented,
        )

        # path graph: oriented out-degrees ~1 -> W/E ~ 0 -> wedge
        path = [(i, i + 1, 1.0) for i in range(50)]
        o = _oriented(edges_df(spark, path))
        assert _auto_engine(o) == "wedge"
        assert count_triangles(edges_df(spark, path)) == 0

        # K30 clique: W/E = C(30,3)/C(30,2) = 9.33 > cap -> csr
        k30 = [
            (a, b, 1.0) for a in range(30) for b in range(a + 1, 30)
        ]
        e = edges_df(spark, k30)
        o30 = _oriented(e)
        assert _auto_engine(o30) == "csr"
        assert WEDGE_MAX_PER_EDGE < (4060 / 435)
        got_auto = count_triangles(e)  # default engine="auto"
        assert got_auto == 4060  # C(30, 3)
        assert got_auto == count_triangles(e, engine="csr")
        assert got_auto == count_triangles(e, engine="wedge")

    def test_intersection_equals_wedge_path(self, spark):
        """The sorted-adjacency CSR intersection must agree with the
        wedge-join formulation exactly."""
        rng = np.random.default_rng(11)
        rows = []
        seen = set()
        for _ in range(300):
            a, b = map(int, rng.integers(0, 50, 2))
            if a != b and (min(a, b), max(a, b)) not in seen:
                seen.add((min(a, b), max(a, b)))
                rows.append((a, b, 1.0))
        e = edges_df(spark, rows)
        assert count_triangles(e) == count_triangles(e, engine="wedge")
        a = {r["vertex"]: r["triangles"]
             for r in triangles_per_vertex(e, engine="csr").collect()}
        b = {r["vertex"]: r["triangles"]
             for r in triangles_per_vertex(e, engine="wedge").collect()}
        assert a == b

    def test_csr_engine_equals_ref_and_wedge(self, spark):
        """The CSR cogroup gather must match the oracle and the wedge
        join exactly, including across partition counts (cells, packs,
        and pre-aggregated credits are internal)."""
        rng = np.random.default_rng(23)
        rows = []
        seen = set()
        for _ in range(400):
            a, b = map(int, rng.integers(0, 60, 2))
            if a != b and (min(a, b), max(a, b)) not in seen:
                seen.add((min(a, b), max(a, b)))
                rows.append((a, b, 1.0))
        e = edges_df(spark, rows)
        _, want = oracle.triangles_ref(rows)
        wedge = {r["vertex"]: r["triangles"]
                 for r in triangles_per_vertex(e, engine="wedge").collect()}
        assert wedge == want
        for n_parts in (1, 3, 16):
            got = {
                r["vertex"]: r["triangles"]
                for r in triangles_per_vertex(
                    e, engine="csr", n_parts=n_parts
                ).collect()
            }
            assert got == want, f"n_parts={n_parts}"


class TestUnknownEngineRaises:
    """A misspelled engine or mode must raise, not quietly run some
    other engine."""

    @pytest.mark.parametrize(
        "call", ["nn_descent", "count_triangles", "triangles_per_vertex"]
    )
    def test_unknown_engine_raises(self, spark, call):
        from kgraph_framework_spark.operators.knn_graph import nn_descent

        rng = np.random.default_rng(3)
        with pytest.raises(ValueError, match="bogus"):
            if call == "nn_descent":
                emb = spark.createDataFrame(
                    [(i, rng.random(4).tolist()) for i in range(20)],
                    "vec_id long, embedding array<float>",
                )
                nn_descent(spark, emb, k=3, max_iters=1, mode="bogus")
            elif call == "count_triangles":
                count_triangles(edges_df(spark, TRI_EDGES), engine="bogus")
            else:
                triangles_per_vertex(edges_df(spark, TRI_EDGES), engine="bogus")
