"""CSR block layout: roundtrip identity + CSR-PageRank parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgraph_framework_spark import oracle
from kgraph_framework_spark.operators.csr import (
    build_csr_blocks,
    csr_roundtrip_edges,
    pagerank_csr,
)

from conftest import MICRO_EDGES, edges_df


class TestCsrBlocks:
    def test_roundtrip_identity(self, spark):
        e = edges_df(spark, MICRO_EDGES)
        csr = build_csr_blocks(e, n_parts=4)
        back = csr_roundtrip_edges(csr)
        # wnorm = weight / out-weight-sum of src
        exp = {}
        wsum = {}
        for s, d, w in MICRO_EDGES:
            wsum[s] = wsum.get(s, 0.0) + w
        for s, d, w in MICRO_EDGES:
            exp[(s, d)] = w / wsum[s]
        got = {(r["src"], r["dst"]): r["wnorm"] for r in back.collect()}
        assert set(got) == set(exp)
        for k in exp:
            assert got[k] == pytest.approx(exp[k], abs=1e-15)

    def test_auto_n_parts_scales_with_edges(self, spark):
        """Block count must grow with the DATA, not stay pinned to core
        count — one block's arrays are otherwise O(corpus/32)."""
        from kgraph_framework_spark.operators.csr import (
            TARGET_EDGES_PER_BLOCK,
            auto_n_parts,
        )

        base = spark.sparkContext.defaultParallelism
        assert auto_n_parts(spark, 1_000) == base
        assert auto_n_parts(spark, TARGET_EDGES_PER_BLOCK * 100) >= 100
        assert auto_n_parts(spark, TARGET_EDGES_PER_BLOCK * 1000) >= 1000

    def test_blocks_partition_by_src(self, spark):
        e = edges_df(spark, MICRO_EDGES)
        rows = build_csr_blocks(e, n_parts=4).collect()
        for r in rows:
            assert all(v % 4 == r["part_id"] for v in r["src_ids"])
            assert len(r["indptr"]) == len(r["src_ids"]) + 1
            assert r["indptr"][-1] == len(r["dst_codes"]) == len(r["wnorm"])
            # srcs sorted, neighbors sorted within each src row
            assert list(r["src_ids"]) == sorted(r["src_ids"])
            # dst dictionary-encoding is exact: sorted unique ids, every
            # code in range
            assert list(r["dst_uniq"]) == sorted(set(r["dst_uniq"]))
            assert all(0 <= c < len(r["dst_uniq"]) for c in r["dst_codes"])


class TestCsrPageRank:
    def test_matches_numpy_oracle(self, spark):
        res = pagerank_csr(
            spark, edges_df(spark, MICRO_EDGES), tol=1e-10, max_iters=200, n_parts=4
        )
        got = {r["vertex"]: r["score"] for r in res.state.collect()}
        exp = oracle.pagerank_ref(MICRO_EDGES, tol=1e-12, max_iters=300)
        assert set(got) == set(exp)
        for v in exp:
            assert got[v] == pytest.approx(exp[v], abs=1e-6)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_matches_dataframe_path(self, spark):
        from kgraph_framework_spark.plans.pagerank import pagerank

        e = edges_df(spark, MICRO_EDGES)
        a = pagerank_csr(spark, e, num_iters=5, n_parts=4)
        b = pagerank(spark, e, num_iters=5)
        ga = {r["vertex"]: r["score"] for r in a.state.collect()}
        gb = {r["vertex"]: r["score"] for r in b.state.collect()}
        assert set(ga) == set(gb)
        for v in ga:
            assert ga[v] == pytest.approx(gb[v], abs=1e-12)
