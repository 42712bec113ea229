"""NN-descent gather scoring (beyond-broadcast path): parity with
broadcast scoring.

The descent loop (operators/nnd_blocked.py) must build BIT-IDENTICAL
graphs round for round whether it scores against a broadcast matrix
("fused") or through the cogroup gather ("blocked") — same sampling
hashes, same scoring arithmetic, only the matrix residency differs
(broadcast vs cogrouped shards). These tests force tiny block counts / byte caps so the sharded
machinery is exercised on the small fixture.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgraph_framework_spark.operators.knn_graph import (
    graph_recall,
    knn_bruteforce_l2,
    nn_descent,
)
from kgraph_framework_spark.operators.nnd_blocked import (
    build_emb_blocks,
    grid_dims,
    n_emb_blocks,
    replicate_emb_cells,
    score_pairs_blocked,
)
from kgraph_framework_spark.operators.nnd_fused import auto_n_blocks, blk_col

SF_TINY = "/root/testdata/sf0.001"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist()
    )


class TestEmbBlocks:
    def test_roundtrip(self, spark, emb):
        """Every vector survives packing, bit-exact, in sorted-id order."""
        blocks = build_emb_blocks(emb, 4).collect()
        assert sorted(r["g"] for r in blocks) == sorted(
            set(r["g"] for r in blocks)
        )
        got = {}
        for r in blocks:
            ids = np.asarray(r["ids"], np.int64)
            X = np.frombuffer(r["mat"], np.float32).reshape(-1, r["dim"])
            assert np.all(np.diff(ids) > 0)  # sorted, unique
            for i, vid in enumerate(ids):
                got[int(vid)] = X[i]
        want = {
            int(r["vec_id"]): np.asarray(r["embedding"], np.float32)
            for r in emb.collect()
        }
        assert set(got) == set(want)
        for vid in want:
            assert np.array_equal(got[vid], want[vid])

    def test_block_count_scales_with_bytes(self):
        # 1M x 128-d float32 = 512 MB; 64 MB blocks -> 8. NO core-count
        # floor: gathered-vector duplication grows with G, so G tracks
        # data bytes only (cells keep gather tasks parallel regardless).
        assert n_emb_blocks(1_000_000, 128, s=10, block_bytes=64 << 20) == 8
        # 1e9 x 128-d = 512 GB -> ~7.6k blocks
        assert n_emb_blocks(10**9, 128, s=10, block_bytes=64 << 20) == 7630
        # pair-buffer floor: tiny matrix but huge S^2 fan-out still shards
        assert (
            n_emb_blocks(10**8, 4, s=32, pair_group_bytes=1 << 30) >= 305
        )
        # core-count floor keeps gather tasks parallel on small corpora…
        assert n_emb_blocks(200_000, 64, s=15, parallelism=32) == 32
        # …but is capped at the candidate fan-out (past it, duplication
        # hits the per-pair regime and extra tasks only move bytes)
        assert n_emb_blocks(200_000, 64, s=4, parallelism=1024) == 8

    def test_grid_dims(self):
        """Gather grid: gh ~ sqrt(tasks) bounds duplication, r restores
        parallelism; the memory bound wins at scale (flat grid, r=1)."""
        # 1M x 128-d on 32 cores: 512 MB matrix / 128 MB -> by_matrix=4,
        # sqrt(32) ~ 6 -> gh=6, r=6 (36 cells; each lo ships <= 6x, vs
        # 32x on the flat layout)
        assert grid_dims(1_000_000, 128, 32) == (6, 6)
        # 10^9 x 128-d = 512 GB: per-task memory dominates, grid is flat
        gh, r = grid_dims(10**9, 128, 32)
        assert gh == 3815 and r == 1
        # high-dim intermediate regime (the 500k x 960-d probe in
        # BENCH.md): 1.92 GB matrix binds gh above sqrt(tasks)
        # (15 > ~6), yet r > 1 still restores task parallelism
        assert grid_dims(500_000, 960, 32) == (15, 3)
        # replication never exceeds what parallelism needs: gh*r covers
        # the task target within one gh
        for n, dim, p in ((50_000, 64, 8), (10**7, 128, 256)):
            gh, r = grid_dims(n, dim, p)
            assert gh * r >= p
            assert gh * (r - 1) < p or r == 1

    def test_replicate_emb_cells(self, spark, emb):
        """r-fold replication keys every coarse block into r distinct
        cells carrying identical bytes."""
        hi = build_emb_blocks(emb, 3).persist()
        cells = replicate_emb_cells(hi, 2).collect()
        base = {r_["g"]: r_ for r_ in hi.collect()}
        hi.unpersist()
        assert len(cells) == 2 * len(base)
        for c in cells:
            src = base[c["g"] // 2]
            assert c["mat"] == src["mat"]
            assert list(c["ids"]) == list(src["ids"])


class TestChunkedRows:
    """PACK_ROW_BYTES bounds every packed matrix ROW (distinct from
    EMB_BLOCK_BYTES, which sizes logical blocks): an unbounded row OOMs
    the cache-read -> sort -> cogroup path at high dim (measured: 500k x
    960-d, 128 MB single-row cells, 48 GB heap — see BENCH.md). Results
    must be bit-identical at any chunk size."""

    def test_chunked_block_roundtrip(self, spark, emb):
        import pandas as pd

        from kgraph_framework_spark.operators.nnd_blocked import _emb_concat

        whole = build_emb_blocks(emb, 2).collect()
        tiny = build_emb_blocks(emb, 2, row_bytes=1024).collect()
        assert max(len(r["mat"]) for r in tiny) <= 1024
        assert len(tiny) > len(whole)
        for g in {r["g"] for r in whole}:
            w = next(r for r in whole if r["g"] == g)
            rows = [r for r in tiny if r["g"] == g]
            pdf = pd.DataFrame(
                {
                    "c": [r["c"] for r in rows],
                    "ids": [list(r["ids"]) for r in rows],
                    "mat": [r["mat"] for r in rows],
                    "dim": [r["dim"] for r in rows],
                }
            ).sample(frac=1.0, random_state=0)  # arrival order is free
            ids, X, dim = _emb_concat(pdf)
            assert np.array_equal(ids, np.asarray(w["ids"], np.int64))
            assert X.tobytes() == w["mat"]
            assert dim == w["dim"]

    def test_chunked_scoring_identical(self, spark, emb):
        """Tiny row caps on BOTH the emb blocks and the gather-1 pack
        output produce bit-identical distances to the one-row layout."""
        ids = [r["vec_id"] for r in emb.select("vec_id").limit(14).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:7] for b in ids[7:]],
            "a long, b long",
        )
        blocks = build_emb_blocks(emb, 3).persist()
        tiny = build_emb_blocks(emb, 3, row_bytes=1024).persist()
        want = {
            (r["a"], r["b"]): r["dist"]
            for r in score_pairs_blocked(pairs, blocks, 3).collect()
        }
        got = {
            (r["a"], r["b"]): r["dist"]
            for r in score_pairs_blocked(
                pairs, tiny, 3, row_bytes=512
            ).collect()
        }
        blocks.unpersist()
        tiny.unpersist()
        assert got == want

    def test_descent_chunked_identical(self, spark, emb):
        from kgraph_framework_spark.operators.nnd_blocked import (
            nn_descent_blocked,
        )

        base, _ = nn_descent_blocked(
            spark, emb, k=K, l=K, s=4, max_iters=2,
            min_update_rate=0.0, seed=11, final_k=K,
        )
        chunked, _ = nn_descent_blocked(
            spark, emb, k=K, l=K, s=4, max_iters=2,
            min_update_rate=0.0, seed=11, final_k=K, row_bytes=2048,
        )
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, chunked.collect())
        )


class TestAutoNBlocks:
    def test_grows_with_corpus_not_cores(self):
        """VERDICT r3 'what's wrong #2': block count must scale with
        N*L, or one applyInPandas group holds ~N*L/cores rows."""
        # tiny pools (< FLOOR4_MIN_POOL_ROWS): plain core-count floor —
        # the 4x collision fix loses to per-group overhead there
        # (BENCH.md "Fused-path 4x-floor A/B", 20k measurement)
        assert auto_n_blocks(32, 2_000, 30) == 32
        # at/above the measured crossover: 4x core count
        # (hash-collision floor — B keys into P partitions need B >> P
        # to fill the reduce side; BENCH.md n_blocks A/Bs)
        assert auto_n_blocks(32, 50_000, 30) == 128
        assert auto_n_blocks(32, 10**9, 30) == 15_000  # ceil(3e10/2e6)
        assert auto_n_blocks(8, 10**6, 70) == 35


class TestBlockedScoring:
    def test_matches_join_scorer(self, spark, emb):
        from kgraph_framework_spark.operators.knn_graph import _score_pairs

        ids = [r["vec_id"] for r in emb.select("vec_id").limit(12).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:6] for b in ids[6:]],
            "a long, b long",
        )
        blocks = build_emb_blocks(emb, 3).persist()
        got = {
            (r["a"], r["b"]): r["dist"]
            for r in score_pairs_blocked(pairs, blocks, 3).collect()
        }
        want = {
            (r["a"], r["b"]): r["dist"]
            for r in _score_pairs(pairs, emb).collect()
        }
        blocks.unpersist()
        assert set(got) == set(want)
        for k_ in want:  # bit-identical float64, no tolerance
            assert got[k_] == want[k_]

    def test_grid_matches_flat(self, spark, emb):
        """Scoring on a (gh, r) grid returns bit-identical distances to
        the flat per-block layout."""
        ids = [r_["vec_id"] for r_ in emb.select("vec_id").limit(14).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:7] for b in ids[7:]],
            "a long, b long",
        )
        blocks = build_emb_blocks(emb, 5).persist()
        hi = build_emb_blocks(emb, 2).persist()
        cells = replicate_emb_cells(hi, 3)
        flat = {
            (r_["a"], r_["b"]): r_["dist"]
            for r_ in score_pairs_blocked(pairs, blocks, 5).collect()
        }
        grid = {
            (r_["a"], r_["b"]): r_["dist"]
            for r_ in score_pairs_blocked(
                pairs, blocks, 5, emb_cells=cells, gh=2, r=3
            ).collect()
        }
        blocks.unpersist()
        hi.unpersist()
        assert flat == grid


class TestBlockedVsFused:
    def test_bit_identical_graph(self, spark, emb):
        """Same seeds, same rounds -> byte-for-byte the same kNN graph
        whether the matrix is broadcast or sharded."""
        gf, mf = nn_descent(spark, emb, k=K, max_iters=3)
        gb, mb = nn_descent(spark, emb, k=K, max_iters=3, mode="blocked")
        a = gf.orderBy("src", "dst").collect()
        b = gb.orderBy("src", "dst").collect()
        assert a == b
        # convergence telemetry identical too (same fresh-insert counts)
        assert [m["new_entries"] for m in mf] == [
            m["new_entries"] for m in mb
        ]

    def test_blocked_reaches_floor(self, spark, emb):
        truth = knn_bruteforce_l2(emb, k=K).persist()
        gb, _ = nn_descent(spark, emb, k=K, max_iters=6, mode="blocked")
        rb = graph_recall(gb.select("src", "dst"), truth)
        truth.unpersist()
        assert rb >= 0.9, f"blocked recall {rb:.3f}"

    def test_blocked_output_invariants(self, spark, emb):
        g, _ = nn_descent(spark, emb, k=K, max_iters=2, mode="blocked")
        assert g.where(F.col("src") == F.col("dst")).count() == 0
        assert (
            g.groupBy("src").count().where(F.col("count") > K).count() == 0
        )
        assert g.select("src").distinct().count() == emb.count()


def _graph_checksum(graph) -> str:
    """Order-independent checksum of a (src, dst, dist) graph: sha256
    over the (src, dst)-sorted rows' little-endian int64/int64/float64
    bytes, so any change to an edge or a distance bit shows."""
    rows = np.array(
        sorted((r["src"], r["dst"], r["dist"]) for r in graph.collect()),
        dtype=[("s", "<i8"), ("d", "<i8"), ("x", "<f8")],
    )
    return hashlib.sha256(rows.tobytes()).hexdigest()


class TestFrozenChecksums:
    """Fixed-seed guard for refactors of the descent loops: the graph
    checksum AND the per-round fresh-insert counts of each loop and
    payload must stay bit-identical. Only a deliberate change to
    sampling or scoring may re-pin these values."""

    FUSED = "c626b9cbc14b5e57f60c976034038667e8452b61e53747343b8728d11777f066"
    INT8 = "d11df19e025ec1f19841942f813abefa789ce411924ade768d18df3946da0a1d"

    @pytest.mark.parametrize(
        "kwargs, sha, new_entries",
        [
            ({"mode": "fused"}, FUSED, [14239, 7411, 2396]),
            ({"mode": "blocked"}, FUSED, [14239, 7411, 2396]),
            ({"payload": "int8"}, INT8, [14242, 7419, 2398]),
        ],
        ids=["fused", "blocked_fp32", "blocked_int8"],
    )
    def test_fixed_seed_checksum(self, spark, emb, kwargs, sha, new_entries):
        g, m = nn_descent(spark, emb, k=K, max_iters=3, **kwargs)
        assert _graph_checksum(g) == sha
        assert [x["new_entries"] for x in m if "new_entries" in x] == (
            new_entries
        )


class TestTauFilter:
    """Emit-site insertion-threshold filter (F5,
    /root/reference/src/index_graph.cpp:29-39): dropping candidates
    with dist > the target's round-start pool worst must be invisible
    in the merged pool — only the shipped candidate volume changes."""

    def test_tau_packed_map_unit(self):
        import pandas as pd

        from kgraph_framework_spark.operators.nnd_blocked import (
            _blk_np,
            _tau_packed_map,
        )

        # vertex 1: 3 entries (saturated at l=3, tau = max = 9.0)
        # vertex 2: 2 entries (unsaturated -> no row emitted)
        src = np.array([1, 2, 1, 1, 2], np.int64)
        dist = np.array([9.0, 5.0, 1.0, 4.0, 2.0])
        row = pd.DataFrame(
            {"blk": [0], "src": [src.tobytes()],
             "dst": [src.tobytes()], "dist": [dist.tobytes()],
             "is_new": [np.ones(5, np.uint8).tobytes()]}
        )
        out = list(_tau_packed_map(l=3, out_blocks=4)([row]))
        assert len(out) == 1
        pdf = pd.concat(out)
        ids = np.concatenate(
            [np.frombuffer(b, np.int64) for b in pdf["t_ids"]]
        )
        tau = np.concatenate(
            [np.frombuffer(b, np.float64) for b in pdf["t_tau"]]
        )
        assert ids.tolist() == [1] and tau.tolist() == [9.0]
        assert pdf["g"].tolist() == [int(_blk_np(np.array([1]), 4)[0])]

        # replication: r=3 stripes -> 3 rows keyed blk*3 + stripe
        out3 = pd.concat(list(_tau_packed_map(l=3, out_blocks=4, r=3)([row])))
        base = int(_blk_np(np.array([1]), 4)[0])
        assert sorted(out3["g"].tolist()) == [base * 3 + i for i in range(3)]

        # all-unsaturated pool emits nothing at all
        assert list(_tau_packed_map(l=9, out_blocks=4)([row])) == []

    def test_pool_tau_np_unit(self):
        from kgraph_framework_spark.operators.nnd_blocked import _pool_tau_np

        src = np.array([1, 2, 1, 1, 2], np.int64)
        dist = np.array([9.0, 5.0, 1.0, 4.0, 2.0])
        ids, tau = _pool_tau_np(src, dist, 3)
        assert ids.tolist() == [1] and tau.tolist() == [9.0]
        ids2, tau2 = _pool_tau_np(src, dist, 2)
        assert ids2.tolist() == [1, 2] and tau2.tolist() == [9.0, 5.0]
        ids0, _ = _pool_tau_np(np.empty(0, np.int64), np.empty(0), 1)
        assert ids0.size == 0

    def test_tau_lookup_unit(self):
        from kgraph_framework_spark.operators.nnd_blocked import _tau_lookup

        ids = np.array([3, 7, 11], np.int64)
        tau = np.array([0.5, 1.5, 2.5])
        got = _tau_lookup(ids, tau, np.array([1, 3, 7, 9, 11, 99], np.int64))
        assert got[1] == 0.5 and got[2] == 1.5 and got[4] == 2.5
        assert np.isinf(got[[0, 3, 5]]).all()
        assert np.isinf(
            _tau_lookup(np.empty(0, np.int64), np.empty(0),
                        np.array([1], np.int64))
        ).all()

    def test_tau_on_off_identical(self, spark, emb):
        """l == k so pools saturate after round 0 and the filter engages
        (finite taus) — pools AND convergence telemetry must not move."""
        from kgraph_framework_spark.operators.nnd_blocked import (
            nn_descent_blocked,
        )

        outs, mets = {}, {}
        for tf in (True, False):
            # engage rate 2.0 forces the filter on in every round (round
            # 0's taus are all +inf anyway) so each saturated round tests it
            pool, m = nn_descent_blocked(
                spark, emb, k=K, l=K, s=4, max_iters=4,
                min_update_rate=0.0, seed=11, tau_filter=tf, final_k=K,
                tau_engage_rate=2.0,
            )
            outs[tf] = sorted(map(tuple, pool.collect()))
            mets[tf] = [x["new_entries"] for x in m]
            if tf:
                assert all(x["tau_engaged"] for x in m)
        assert outs[True] == outs[False]
        assert mets[True] == mets[False]


class TestInt8Payload:
    """payload="int8" ships per-vector-scaled int8 codes (~4x fewer
    matrix bytes on the block shuffle, replicated cells and gather
    packs) and finishes with an exact fp32 re-rank of the top band, so
    the returned graph's distances are exact despite the quantized
    descent."""

    def test_int8_blocks_quarter_bytes_and_decode(self, spark, emb):
        from kgraph_framework_spark.operators.nnd_blocked import _mat_decode

        f32 = build_emb_blocks(emb, 3).collect()
        q8 = build_emb_blocks(emb, 3, payload="int8").collect()
        by_g32 = {r["g"]: r for r in f32}
        assert len(q8) == len(f32)
        for r in q8:
            r32 = by_g32[r["g"]]
            assert r["ids"] == r32["ids"]
            n, dim = len(r["ids"]), r["dim"]
            # codes (n*dim bytes) + per-row fp32 scales (4n bytes)
            assert len(r["mat"]) == n * (dim + 4)
            Xq = _mat_decode(r["mat"], n, dim)
            X32 = _mat_decode(r32["mat"], n, dim)
            assert Xq.dtype == np.float32
            # symmetric per-row quantization: |err| <= scale/2 = max|x|/254
            tol = np.abs(X32).max(axis=1, keepdims=True) / 254.0 + 1e-12
            assert np.all(np.abs(Xq - X32) <= tol)

    def test_int8_scoring_close(self, spark, emb):
        """Quantized-payload distances track exact fp32 within the
        per-component rounding envelope; same pair set either way."""
        ids = [r["vec_id"] for r in emb.select("vec_id").limit(12).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:6] for b in ids[6:]],
            "a long, b long",
        )
        b32 = build_emb_blocks(emb, 3).persist()
        bq = build_emb_blocks(emb, 3, payload="int8").persist()
        got32 = {
            (r["a"], r["b"]): r["dist"]
            for r in score_pairs_blocked(pairs, b32, 3).collect()
        }
        gotq = {
            (r["a"], r["b"]): r["dist"]
            for r in score_pairs_blocked(pairs, bq, 3).collect()
        }
        b32.unpersist()
        bq.unpersist()
        assert set(gotq) == set(got32)
        d32 = np.array([got32[k_] for k_ in sorted(got32)])
        dq = np.array([gotq[k_] for k_ in sorted(got32)])
        assert np.allclose(dq, d32, rtol=5e-2, atol=1e-3)
        assert not np.array_equal(dq, d32)  # quantization actually happened

    def test_int8_recall_floor_and_exact_final_dists(self, spark, emb):
        """End-to-end: recall holds the same floor as the exact build,
        AND the returned distances are bit-exact fp32 arithmetic (the
        re-rank pass), verified against the brute-force scorer."""
        truth = knn_bruteforce_l2(emb, k=K).persist()
        g, m = nn_descent(spark, emb, k=K, max_iters=6, payload="int8")
        g = g.persist()
        r = graph_recall(g.select("src", "dst"), truth)
        assert r >= 0.9, f"int8 recall {r:.3f}"
        assert any(e.get("stage") == "rerank" for e in m)
        # exact-distance contract: every returned edge's dist equals the
        # brute-force (fp32-storage, fp64-arithmetic) distance
        from kgraph_framework_spark.operators.knn_graph import _score_pairs

        exact = _score_pairs(
            g.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            emb, None,
        )
        joined = g.join(
            exact.select(
                F.col("a").alias("src"), F.col("b").alias("dst"),
                F.col("dist").alias("ref"),
            ),
            ["src", "dst"],
        )
        bad = joined.where(F.abs(F.col("dist") - F.col("ref")) > 1e-9).count()
        n_edges = g.count()
        g.unpersist()
        truth.unpersist()
        assert bad == 0 and n_edges > 0

    def test_int8_tiny_dim_roundtrip(self, spark):
        """int8's dim + 4 bytes/row never equals fp32's 4 * dim, so the
        length-inferred wire layout decodes both payloads at any dim —
        down to dim 1 — within the quantization envelope."""
        from kgraph_framework_spark.operators.nnd_blocked import _mat_decode

        rng = np.random.default_rng(3)
        for dim in (1, 2, 3, 4):
            X = rng.normal(size=(8, dim)).astype(np.float32)
            df = spark.createDataFrame(
                [(i, X[i].tolist()) for i in range(8)],
                "vec_id long, embedding array<float>",
            )
            for payload in ("fp32", "int8"):
                for r in build_emb_blocks(df, 2, payload=payload).collect():
                    ids = np.asarray(r["ids"], np.int64)
                    assert r["dim"] == dim
                    got = _mat_decode(r["mat"], ids.size, dim)
                    assert got.dtype == np.float32
                    want = X[ids]
                    if payload == "fp32":
                        assert np.array_equal(got, want)
                    else:
                        assert len(r["mat"]) == ids.size * (dim + 4)
                        tol = (np.abs(want).max(axis=1, keepdims=True)
                               / 254.0 + 1e-12)
                        assert np.all(np.abs(got - want) <= tol)

    def test_payload_validation(self, spark, emb):
        with pytest.raises(ValueError):
            nn_descent(spark, emb, k=K, mode="fused", payload="fp16")
        with pytest.raises(ValueError):
            nn_descent(spark, emb, k=K, mode="fused", payload="int8")
        with pytest.raises(ValueError):
            nn_descent(spark, emb, k=K, payload="int4")


class TestStaticSideExchangeReuse:
    """The corpus-derived cogroup sides (emb blocks / grid cells) are
    static across descent rounds; nn_descent_blocked caches them ALREADY
    placed by key id (block g on partition g, repartitionById) and
    places every fresh side the same way, so EnsureRequirements elides
    the static side's per-round exchange (the ~corpus-bytes and
    ~r*corpus-bytes shuffle edges the round-4 stage attribution
    measured)."""

    @staticmethod
    def _cached_scan_exchanges(df) -> int:
        """ENSURE_REQUIREMENTS exchanges, of any partitioning, that
        re-shuffle the cached static side (an InMemoryTableScan within 2
        plan lines below)."""
        import re

        s = df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString prints BOTH the Final Plan and the pre-execution
        # Initial Plan; only the Final Plan's exchanges actually ran.
        lines = s.split("== Initial Plan ==")[0].splitlines()
        n = 0
        for i, ln in enumerate(lines):
            if "ENSURE_REQUIREMENTS" in ln and "Exchange " in ln:
                below = "\n".join(lines[i + 1 : i + 3])
                if "InMemoryTableScan" in below:
                    n += 1
        return n

    def test_prepartitioned_side_elides_exchange(self, spark, emb):
        """Same results, and the cached block side is consumed WITHOUT a
        runtime re-shuffle when cached placed by key id (what
        nn_descent_blocked does for emb_blocks and emb_cells)."""
        ids = [r["vec_id"] for r in emb.select("vec_id").limit(12).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:6] for b in ids[6:]],
            "a long, b long",
        )
        plain = build_emb_blocks(emb, 3).persist()
        plain.count()
        part = build_emb_blocks(emb, 3).repartitionById(3, "g").persist()
        part.count()

        out_plain = score_pairs_blocked(pairs, plain, 3)
        out_part = score_pairs_blocked(pairs, part, 3)
        rows_plain = sorted(map(tuple, out_plain.collect()))
        rows_part = sorted(map(tuple, out_part.collect()))
        n_plain = self._cached_scan_exchanges(out_plain)
        n_part = self._cached_scan_exchanges(out_part)
        plain.unpersist()
        part.unpersist()

        assert rows_part == rows_plain  # bit-identical distances
        # plain: the cached side is re-exchanged at runtime (>=1 distinct
        # exchange; AQE may reuse one exchange for both cogroup gathers);
        # part: the cache already satisfies the cogroup's distribution,
        # so NO exchange may touch it.
        assert n_plain >= 1, n_plain
        assert n_part == 0, n_part


class TestGather2Placement:
    """Gather-2 places grid cell g2 on partition g2: one cell per task.
    Under murmur3 HashPartitioning the four cells of a (2, 2) grid land
    in partitions 7, 3, 6, 3 of 8, and AQE may coalesce those further,
    so one task scored several cells."""

    def test_one_cell_per_partition(self, spark, emb):
        ids = [r_["vec_id"] for r_ in emb.select("vec_id").limit(24).collect()]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a in ids[:12] for b in ids[12:]],
            "a long, b long",
        )
        gh, r = 2, 2
        blocks = build_emb_blocks(emb, 3).repartitionById(3, "g").persist()
        cells = (
            replicate_emb_cells(build_emb_blocks(emb, gh), r)
            .repartitionById(gh * r, "g")
            .persist()
        )
        out = score_pairs_blocked(
            pairs, blocks, 3, emb_cells=cells, gh=gh, r=r
        ).select(
            # the cell _gather1_kernel routes pair (lo=a, hi=b) to
            (blk_col(F.col("b"), gh) * r + blk_col(F.col("a"), r))
            .alias("cell"),
            F.spark_partition_id().alias("pid"),
        )
        placed = {(r_["cell"], r_["pid"]) for r_ in out.collect()}
        blocks.unpersist()
        cells.unpersist()

        assert {c for c, _ in placed} == set(range(gh * r))
        per_pid: dict[int, set] = {}
        for c, pid in placed:
            per_pid.setdefault(pid, set()).add(c)
        assert all(len(cs) == 1 for cs in per_pid.values()), per_pid
