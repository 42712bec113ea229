"""NN-descent numpy cores and broadcast scoring: SQL/numpy lockstep,
the flag-clear derivation, and recall against the brute-force
oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kgraph_framework_spark.operators.knn_graph import (
    _hash_order,
    graph_recall,
    knn_bruteforce_l2,
    nn_descent,
)
from kgraph_framework_spark.operators.nnd_fused import (
    _blk_np,
    _hash_np,
    _score_chunk,
    blk_col,
    l2_gathered,
    topk_per_src,
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


class TestHashLockstep:
    def test_numpy_matches_sql(self, spark):
        """_hash_np / _blk_np MUST agree with the SQL twins: the merge
        cogroup aligns pool blocks (SQL-assigned) with candidate blocks
        (numpy-assigned) by value."""
        ids = np.array([0, 1, 7, 12345, 999_999_937, (1 << 40) + 3], np.int64)
        df = spark.createDataFrame([(int(i),) for i in ids], "v long")
        got = df.select(
            _hash_order(F.col("v")).alias("h"),
            blk_col(F.col("v"), 32).alias("b"),
            "v",
        ).collect()
        by_v = {r["v"]: (r["h"], r["b"]) for r in got}
        h_np = _hash_np(ids)
        b_np = _blk_np(ids, 32)
        for i, v in enumerate(ids):
            assert by_v[int(v)] == (int(h_np[i]), int(b_np[i]))


class TestTopkPerSrc:
    def test_matches_window(self, spark):
        rows = [
            (int(s), int(d), float(((s * 7 + d * 13) % 29)))
            for s in range(40)
            for d in range(25)
            if s != d
        ]
        df = spark.createDataFrame(rows, "src long, dst long, dist double")
        w = Window.partitionBy("src").orderBy("dist", "dst")
        want = (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("src", "dst", "dist")
            .orderBy("src", "dst")
            .collect()
        )
        got = topk_per_src(df, 5).orderBy("src", "dst").collect()
        assert got == want

    def test_dedupes_min_dist(self, spark):
        df = spark.createDataFrame(
            [(1, 2, 5.0), (1, 2, 3.0), (1, 3, 4.0)],
            "src long, dst long, dist double",
        )
        got = {(r["src"], r["dst"]): r["dist"]
               for r in topk_per_src(df, 5).collect()}
        assert got == {(1, 2): 3.0, (1, 3): 4.0}


class TestFusedVsJoin:
    def test_fused_reaches_floor_and_converges(self, spark, emb):
        truth = knn_bruteforce_l2(emb, k=K).persist()
        gf, mf = nn_descent(spark, emb, k=K, max_iters=6)
        rf = graph_recall(gf.select("src", "dst"), truth)
        assert rf >= 0.9, f"fused recall {rf:.3f}"
        # converges (update rate decays)
        assert mf[-1]["update_rate"] < mf[0]["update_rate"]
        truth.unpersist()

    def test_fused_deterministic(self, spark, emb):
        a = nn_descent(spark, emb, k=K, max_iters=3)[0].orderBy(
            "src", "dst"
        ).collect()
        b = nn_descent(spark, emb, k=K, max_iters=3)[0].orderBy(
            "src", "dst"
        ).collect()
        assert a == b

    def test_fused_output_invariants(self, spark, emb):
        g, _ = nn_descent(spark, emb, k=K, max_iters=2)
        assert g.where(F.col("src") == F.col("dst")).count() == 0
        assert (
            g.groupBy("src").count().where(F.col("count") > K).count() == 0
        )
        # every vertex has a pool
        assert g.select("src").distinct().count() == emb.count()


class TestRevPushGate:
    """Reverse pushes (src/index_graph.cpp:78-113): the sender-side
    pre-cut of reverse samples must be invisible to the receiver-side
    reservoir cap."""

    def test_precut_exact_vs_receiver_reservoir(self):
        """The sender-side reverse pre-cut (map-side combine of the
        receiver's top-S-by-hash reservoir) must leave the canonical
        pair output EXACTLY unchanged — global top-S is a subset of the
        union of per-sender-block top-S — while actually dropping rows
        for pool in-degree hubs."""
        from kgraph_framework_spark.operators.nnd_fused import (
            _canonical_pairs,
            _sample_np,
        )

        rng = np.random.default_rng(7)
        s, seed = 3, 1234
        # two sender blocks; every vertex's closest pool entry is hub
        # 999, so the hub draws 20 reverse rows per block (>> s)
        def block(lo_id):
            src = np.repeat(
                np.arange(lo_id, lo_id + 20, dtype=np.int64), 5
            )
            dst = rng.integers(100, 200, size=src.size).astype(np.int64)
            dist = rng.random(src.size) + 0.1
            new = rng.random(src.size) < 0.5
            dst[::5] = 999
            dist[::5] = 0.0
            return src, dst, new, dist

        blocks = [block(0), block(1000)]
        outs = {}
        for rev_seed in (None, seed):
            parts = [
                _sample_np(*b, s, rev_seed=rev_seed) for b in blocks
            ]
            outs[rev_seed] = tuple(
                np.concatenate([p[i] for p in parts]) for i in range(4)
            )
        # the pre-cut must bite on the hub's reverse fan-in
        assert outs[seed][0].size < outs[None][0].size
        # forward rows untouched
        for i in range(4):
            assert np.array_equal(
                outs[seed][i][outs[seed][3].astype(bool)],
                outs[None][i][outs[None][3].astype(bool)],
            )
        # receiver-side reservoir -> identical canonical pairs
        pairs = {
            rs: _canonical_pairs(o[0], o[1], o[2], o[3], s, seed, None)
            for rs, o in outs.items()
        }
        assert pairs[None][0].tolist() == pairs[seed][0].tolist()
        assert pairs[None][1].tolist() == pairs[seed][1].tolist()
        assert pairs[None][0].size > 0


class TestSampledNew:
    """The merge re-derives the round's flag clears from the round-start
    pool; they must be exactly the sample stage's forward new rows."""

    @pytest.mark.parametrize("s", [1, 3, 8])
    def test_equals_forward_new_samples(self, s):
        from kgraph_framework_spark.operators.nnd_fused import (
            _pack2,
            _sample_np,
            _sampled_new,
        )

        rng = np.random.default_rng(s)
        src = np.repeat(np.arange(50, dtype=np.int64) * 7, 12)
        dst = rng.integers(0, 400, src.size).astype(np.int64)
        # coarse distances force (src, dist) ties that dst must break
        dist = rng.integers(0, 5, src.size).astype(np.float64)
        new = rng.random(src.size) < 0.6
        perm = rng.permutation(src.size)  # order-insensitive
        src, dst, dist, new = src[perm], dst[perm], dist[perm], new[perm]
        key, nbr, isn, fwd = _sample_np(src, dst, new, dist, s)
        m = fwd & isn
        want = np.sort(_pack2(key[m], nbr[m]))
        got = _sampled_new(src, dst, new, dist, s)
        assert got.tobytes() == want.tobytes()
        assert _sampled_new(src, dst, np.zeros_like(new), dist, s).size == 0


class TestL2GatheredChunks:
    """l2_gathered scores in cache-sized chunks whose pair count depends
    on dim; every output must equal the one-shot einsum bit for bit on
    both sides of each chunk edge."""

    def test_chunk_sizes(self):
        assert _score_chunk(1) == 1 << 14  # ceiling
        assert _score_chunk(64) == 1024
        assert _score_chunk(1024) == 64
        assert _score_chunk(4096) == 16
        assert _score_chunk(8192) == 16  # floor

    @pytest.mark.parametrize("dim", [1, 64, 1024, 4096])
    def test_bit_identical_across_chunk_edges(self, dim):
        rng = np.random.default_rng(dim)
        ch = _score_chunk(dim)
        ids_a = np.arange(40, dtype=np.int64) * 3 + 7
        ids_b = np.arange(50, dtype=np.int64) * 2 + 1
        Xa = rng.standard_normal((ids_a.size, dim)).astype(np.float32)
        Xb = rng.standard_normal((ids_b.size, dim)).astype(np.float32)
        for n in sorted({0, 1, ch - 1, ch, ch + 1, 3 * ch + 5}):
            ia = rng.integers(0, ids_a.size, n)
            ib = rng.integers(0, ids_b.size, n)
            got = l2_gathered(Xa, ids_a, ids_a[ia], Xb, ids_b, ids_b[ib])
            d = Xa[ia].astype(np.float64) - Xb[ib].astype(np.float64)
            want = np.einsum("ij,ij->i", d, d)
            assert got.dtype == np.float64 and got.shape == (n,)
            assert got.tobytes() == want.tobytes(), (dim, n)
