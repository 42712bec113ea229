"""Mid-scale kNN-graph build benchmark — the reference-comparable point.

The reference's published yardstick is SIFT1M: 1M x 128-d float32,
50-NN graph at ~90% recall in ~72 s on 8 threads
(/root/reference/README.md:101-103). The sf0.1 fixture (2k vectors) says
nothing at that scale — per-superstep fixed overhead dominates. This
driver builds a kNN graph over 10^5-scale synthetic vectors so the
vecs/sec figure is honestly comparable (and extrapolable) to the
reference's number.

Pipeline mirrors the reference's fastest lifecycle (rplsh driver):
LSH init (recursive CLSH buckets) -> NN-descent refinement — init does
the heavy candidate generation sub-quadratically, descent converges in
a few rounds. Recall is evaluated on a deterministic sample of queries
against exact brute-force truth (the reference's own sampled
eval_recall, src/index_graph.cpp:209-229).

Data: deterministic clustered vectors from pure JVM arithmetic
(hash-derived cluster centers + per-id noise) — no external data, no
driver-side generation, identical at any parallelism.

Usage: python tools/knn_midscale_bench.py [n_vecs] [k] [cores] [iters]
         [--init lsh|random] [--l L] [--s S] [--dim D]
``--init random --l 70 --s 10`` with k=50 reproduces the reference's
SIFT1M `test_nndescent` parameterization (K=50 L=70 iter S=10,
/root/reference/README.md:101-107) for a like-for-like vecs/sec point.
Appends a section to BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pandas as pd

DIM = 64
N_CLUSTERS = 256
N_QUERIES = 200


def _u(col, salt):
    from pyspark.sql import functions as F

    return (
        F.pmod(col * F.lit(2654435761 + salt * 97), F.lit(1 << 31))
        / F.lit(float(1 << 31))
        - F.lit(0.5)
    )


def synth_vectors(spark, n_vecs: int, parts: int, dim: int = DIM):
    """Clustered deterministic vectors: id -> cluster center + noise.

    FLAT structure: one level of overlapping clusters with isotropic
    full-dimension noise. At high dim this concentrates — all cluster
    siblings become nearly equidistant, so the within-cluster kNN
    ordering carries no descent-exploitable gradient (measured: 128-d
    1M at the reference's S=10 parameterization stalls at recall 0.017).
    Kept for continuity with round 2-3 numbers; use synth_vectors_hier
    for reference-corpus-like (SIFT-like) local structure.
    """
    from pyspark.sql import functions as F

    cid = F.pmod(F.col("id"), F.lit(N_CLUSTERS))
    return (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                # center spread ~ noise spread: clusters overlap, so the
                # kNN structure is non-trivial (recall < 1 is possible)
                lambda j: (
                    _u(cid * dim + j, 13) * F.lit(2.0)
                    + _u(F.col("id") * dim + j, 7) * F.lit(1.5)
                ).cast("float"),
            ).alias("embedding"),
        )
        .repartition(parts)
    )


def synth_vectors_hier(spark, n_vecs: int, parts: int, dim: int = DIM):
    """SIFT-like deterministic vectors: hierarchical clusters + noise
    with decaying per-dimension amplitude (low EFFECTIVE dimensionality).

    Real descriptor corpora (SIFT: 128-d with effective dim ~10-20) have
    multi-scale locality: points live in tight fine clusters inside
    coarser ones, and within-cluster distances are governed by a few
    dominant directions, so nearest-neighbor lists are transitive —
    exactly what NN-descent exploits. Two levels (fine clusters of ~64
    points, 64 fine per coarse) + 1/(1+j/4)-decaying noise reproduce
    that structure; the flat generator's isotropic high-dim noise does
    not (distance concentration kills the gradient).
    """
    from pyspark.sql import functions as F

    fine_n = max(64, n_vecs // 64)
    coarse_n = max(16, fine_n // 64)
    fine = F.pmod(F.col("id"), F.lit(fine_n))
    coarse = F.pmod(fine, F.lit(coarse_n))
    return (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    _u(coarse * dim + j, 13) * F.lit(2.0)
                    + _u(fine * dim + j, 29) * F.lit(0.8)
                    + _u(F.col("id") * dim + j, 7)
                    * (F.lit(1.5) / (F.lit(1.0) + j.cast("double") / F.lit(4.0)))
                ).cast("float"),
            ).alias("embedding"),
        )
        .repartition(parts)
    )


def sampled_truth(spark, emb, n_vecs: int, k: int):
    """Exact top-k for ~N_QUERIES sampled vectors via one broadcast scan.

    Per-partition local top-k inside mapInPandas, global re-top-k after —
    the two-stage ranking pattern (T1)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stride = max(1, n_vecs // N_QUERIES)
    qdf = emb.where(F.col("vec_id") % stride == 0).toPandas()
    qids = qdf["vec_id"].to_numpy(np.int64)
    q = np.stack(qdf["embedding"].to_numpy()).astype(np.float64)
    bq = emb.sparkSession.sparkContext.broadcast((qids, q))

    def local_topk(it):
        qids_, q_ = bq.value
        qn = (q_ * q_).sum(1)
        for pdf in it:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy(np.int64)
            d2 = qn[:, None] - 2.0 * (q_ @ x.T) + (x * x).sum(1)[None, :]
            kk = min(k + 1, d2.shape[1])
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            rows = {
                "src": np.repeat(qids_, kk),
                "dst": ids[part.ravel()],
                "dist": np.take_along_axis(d2, part, 1).ravel(),
            }
            yield pd.DataFrame(rows)

    cand = emb.mapInPandas(local_topk, schema="src long, dst long, dist double")
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        cand.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "dst")
    )


def main() -> None:
    global DIM
    ap = argparse.ArgumentParser()
    ap.add_argument("n_vecs", nargs="?", type=int, default=100_000)
    ap.add_argument("k", nargs="?", type=int, default=10)
    ap.add_argument("cores", nargs="?", type=int, default=32)
    ap.add_argument("iters", nargs="?", type=int, default=6)
    ap.add_argument("--init", choices=("lsh", "random"), default="lsh")
    ap.add_argument("--l", type=int, default=None)
    ap.add_argument("--s", type=int, default=None)
    ap.add_argument("--dim", type=int, default=DIM)
    ap.add_argument(
        "--mode", choices=("auto", "fused", "blocked"),
        default="auto",
        help="descent engine: 'blocked' forces the beyond-broadcast "
        "cogroup-gather path at any corpus size (the 100-TB shape)",
    )
    ap.add_argument(
        "--payload", choices=("fp32", "int8"), default="fp32",
        help="matrix byte-edge precision for the blocked loop: int8 "
        "cuts the gather/replica shuffle bytes ~4x (exact fp32 re-rank "
        "of the final band; forces mode=blocked)",
    )
    ap.add_argument(
        "--block-bytes", type=int, default=None,
        help="EMB_BLOCK_BYTES override for the blocked loop (per-task "
        "memory vs gather-duplication knob; the high-dim scratch-disk "
        "lever — BENCH.md high-dim section)",
    )
    ap.add_argument(
        "--min-recall", type=float, default=None,
        help="stop the descent on the reference's own convergence "
        "criterion — sampled pool recall vs exact control truth "
        "(src/index_graph.cpp:172-179 stops at 0.99); the control "
        "truth is computed BEFORE the build timer, as the reference "
        "loads its ground-truth file outside the timed build",
    )
    ap.add_argument(
        "--structure", choices=("flat", "hier"), default="flat",
        help="synthetic corpus geometry: 'hier' = SIFT-like multi-scale "
        "clusters + low-effective-dim noise (use for reference-"
        "parameterized like-for-like points)",
    )
    args = ap.parse_args()
    n_vecs, k, cores, iters = args.n_vecs, args.k, args.cores, args.iters

    from kgraph_framework_spark.operators.knn_graph import nn_descent
    from kgraph_framework_spark.operators.knn_search import lsh_init
    from kgraph_framework_spark.session import get_spark

    spark = get_spark(
        f"knn-midscale-{n_vecs}", cores=cores, shuffle_partitions=cores * 2
    )
    spark.sparkContext.setLogLevel("ERROR")

    DIM = args.dim
    gen = synth_vectors_hier if args.structure == "hier" else synth_vectors
    emb = gen(spark, n_vecs, cores * 2, dim=args.dim).persist()
    emb.count()

    ctrl = None
    if args.min_recall is not None:
        from kgraph_framework_spark.operators.knn_graph import control_truth

        ctrl = control_truth(spark, emb, k).persist()
        ctrl.count()  # materialized before the timer starts

    t0 = time.monotonic()
    init = (
        lsh_init(emb, k=k, n_tables=4, max_bucket=128, n=n_vecs)
        if args.init == "lsh"
        else None
    )
    graph, metrics = nn_descent(
        spark, emb, k=k, l=args.l, s=args.s, max_iters=iters, init=init,
        mode=args.mode, payload=args.payload,
        min_recall=args.min_recall, control=ctrl,
        block_bytes=args.block_bytes,
    )
    graph = graph.persist()
    n_edges = graph.count()
    wall = time.monotonic() - t0

    truth = sampled_truth(spark, emb, n_vecs, k)
    hits = graph.select("src", "dst").join(
        truth, ["src", "dst"], "left_semi"
    ).count()
    total = truth.count()
    recall = hits / max(total, 1)

    result = {
        "n_vecs": n_vecs,
        "dim": DIM,
        "mode": args.mode,
        "payload": args.payload,
        "min_recall": args.min_recall,
        "block_bytes": args.block_bytes,
        "structure": args.structure,
        "init": args.init,
        "l": args.l,
        "s": args.s,
        "k": k,
        "cores": cores,
        "wall_sec": round(wall, 1),
        "vecs_per_sec": round(n_vecs / wall),
        "rounds": len(metrics),
        "n_edges": n_edges,
        "sampled_recall": round(recall, 4),
        "sample_queries": total // k,
        # per-superstep breakdown; wall - sum(round walls) = init-score
        # + final top-K cut + count actions (the non-loop stages)
        "supersteps": metrics,
        "rounds_wall_sec": round(
            sum(m.get("wall_sec", 0.0) for m in metrics), 1
        ),
    }
    print(json.dumps(result))
    md = f"""
## Mid-scale kNN-graph build ({n_vecs:,} x {DIM}-d, local[{cores}])

{args.init} init + NN-descent ({result['rounds']} rounds, mode={args.mode}, payload={args.payload}), k={k}, l={args.l}, s={args.s}; sampled
recall vs exact brute-force over {result['sample_queries']} queries
(tools/knn_midscale_bench.py, deterministic {args.structure} clustered vectors).

| n_vecs | wall (s) | vecs/sec | recall |
|---|---|---|---|
| {n_vecs:,} | {result['wall_sec']} | {result['vecs_per_sec']:,} | {result['sampled_recall']} |

Reference yardstick: SIFT1M (1M x 128-d) 50-NN ~90% recall in ~72 s on
8 threads (README.md:101-103) ≈ 13.9k vecs/sec.
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as fh:
        fh.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
