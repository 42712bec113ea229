"""Approximate kNN-graph construction: random init + NN-descent.

This is the reference's core workload re-expressed Spark-first
(/root/reference/README.md:1-9): build a K-nearest-neighbor graph over a
dense vector set by iteratively refining candidate neighbor pools with
local joins.

Pipeline (reference lifecycle E1, SURVEY.md §3):

  random init (src/index_random.cpp:16-36)
    -> NN-descent supersteps (src/index_graph.cpp:139-190):
         sample S new/old neighbors per vertex   (update(), :47-137)
         reverse lists, reservoir-capped at S    (:78-113)
         candidate pairs: new x new (a<b) + new x old  (join(), :20-45,
                                                  neighbor.h:86-98)
         score pairs (vectorized numpy L2 — the distance kernel,
                                                  distance.h:23-129)
         symmetric insert into both endpoints' pools
         per-vertex top-L re-aggregation         (pool = neighbor.h:39-99)
    -> convergence when the update rate falls below a threshold
       (reference: sampled recall > 0.99, :172-173)

Determinism: forward samples are the TOP-OF-POOL S per flag, ordered by
(dist, dst) — the reference's update() scans pools in ascending distance
order (src/index_graph.cpp:62-77) — and the reverse reservoir is ordered
by a seeded portable hash (its reference counterpart is rand()-based,
the unseeded-rand hazard of SURVEY.md §4; ours is reproducible). All
pool orderings tie-break by (dist, id) exactly like the reference's
Neighbor ordering (include/commom/neighbor.h:24-34).

Scale design: ``nn_descent`` runs one superstep loop at every corpus
size (operators/nnd_blocked.nn_descent_blocked): packed per-block rows
through sample, pairgen, score and merge kernels, one Spark action per
round. Only the scoring stage depends on size. Below the measured
crossover the corpus matrix is broadcast and pairgen scores in place
against it (operators/nnd_fused); above it the matrix is sharded into
cogrouped blocks and scored by a two-stage gather. Both forms build the
same graph bit for bit, and both cap reverse lists at S, the skew bound
(J8 in SURVEY.md §2.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _hash_order(*cols):
    """Deterministic pseudo-random ordering key from integer columns.

    All intermediates stay below 2^62 (ANSI mode overflow-safe): the
    accumulator is reduced mod 2^31 before each multiply by a <2^31
    constant.
    """
    h = F.lit(146959810393)
    for c in cols:
        h = F.pmod(
            F.pmod(h, F.lit(1 << 31)) * F.lit(1_099_511_627)
            + F.pmod(c, F.lit(1 << 31)),
            F.lit(1 << 61),
        )
    return h


def id_stats(emb: DataFrame) -> tuple[int, bool]:
    """(n, contiguous): one job; contiguous = ids are exactly [0, n)."""
    n, lo, hi = emb.agg(
        F.count(F.lit(1)), F.min("vec_id"), F.max("vec_id")
    ).first()
    return int(n), (n > 0 and lo == 0 and hi == n - 1)


def id_index(emb: DataFrame) -> DataFrame:
    """(ridx, vec_id) dense 0-based index for non-contiguous id spaces.

    Synthesized pseudo-random slots are positions in [0, n); with gapped
    or non-zero-based ids they must be mapped onto REAL ids or the
    downstream embedding join silently drops them (shrinking init pools
    below k with no error).

    ridx = rank of vec_id in ascending order, computed as a RANGE
    repartition + per-partition sort + zipWithIndex: range partitioning
    guarantees partition p's ids all precede partition p+1's, so the
    concatenated per-partition order is the global sort — every task
    stays bounded (no single-task global Window, the round-2 scale
    hazard), and the mapping is independent of the sampled partition
    boundaries.
    """
    spark = emb.sparkSession
    parts = max(2, spark.sparkContext.defaultParallelism)
    rdd = (
        emb.select("vec_id")
        .repartitionByRange(parts, "vec_id")
        .sortWithinPartitions("vec_id")
        .rdd.map(lambda r: r[0])
        .zipWithIndex()
    )
    return spark.createDataFrame(rdd, "vec_id long, ridx long")


def random_init(emb: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """K distinct pseudo-random neighbors per vertex (no self-loops).

    Reference: IndexRandom::Build (/root/reference/src/index_random.cpp:
    16-36) — K+1 uniform ids per vertex, drop self. Ours derives ids by
    arithmetic on (vec_id, slot, seed) so it is reproducible and
    shuffle-free; distances are left unscored (inf) and every edge starts
    flagged new, exactly like InitializeGraph_Refine's unscored pools
    (src/index_graph.cpp:259-286 scores them lazily).
    """
    n, contiguous = id_stats(emb)
    slots = emb.select(
        F.col("vec_id").alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("slot"),
    )
    cand = slots.select(
        "src",
        F.pmod(
            _hash_order(F.col("src") * (k + 1) + F.col("slot"), F.lit(seed)),
            F.lit(n),
        ).alias("ridx"),
    )
    if contiguous:
        cand = cand.withColumnRenamed("ridx", "dst")
    else:
        cand = cand.join(
            id_index(emb).select("ridx", F.col("vec_id").alias("dst")), "ridx"
        ).drop("ridx")
    cand = cand.where(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src").orderBy("dst")
    return (
        cand.dropDuplicates(["src", "dst"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "src",
            "dst",
            F.lit(float("inf")).alias("dist"),
            F.lit(True).alias("is_new"),
        )
    )


#: corpora whose float32 matrix fits under this are broadcast to
#: executors and scored WITHOUT the two embedding joins — the Spark
#: analog of the reference holding `data_` in RAM. Above the cap the
#: matrix is sharded into cogrouped blocks instead (operators/
#: nnd_blocked) — same kernels, no single-node requirement.
SCORE_BROADCAST_BYTES = 512 << 20
#: measured broadcast-vs-gather crossover for ``nn_descent(mode="auto")``
#: (BENCH.md round 4, measured when each scoring form had its own loop):
#: at 50k x 64-d (12.8 MB matrix) broadcast scoring wins 1.26x, at
#: 200k x 64-d (51.2 MB) the cogroup gather wins 2.2x — every Python worker holds (and first unpickles) its
#: own copy of the broadcast, so the per-round cost grows with matrix
#: size while the blocked path ships each touched vector once per cell.
#: A later 2x2 interleaved A/B at the first midpoint (50k x 128-d,
#: 25.6 MB) measured blocked ahead on both pairs (39.0/45.3 s vs
#: 49.3/76.8 s, 3 fixed rounds), tightening the bracket to
#: [12.8, 25.6] MB; the cap sits at its geometric midpoint ~18 MB,
#: rounded to 16 MB.
AUTO_FUSED_MAX_BYTES = 16 << 20
#: ...and below this vector count the join path wins instead: the
#: saved embedding shuffle is tiny while the extra mapInPandas stage
#: per scoring call costs a fixed ~0.5-1 s (measured at 2k vecs:
#: broadcast 46 s vs join 38 s for a 10-round build; at 100k vecs
#: broadcast is 1.6x FASTER — BENCH.md).
SCORE_BROADCAST_MIN_VECS = 10_000


def broadcast_matrix(
    emb: DataFrame,
    limit_bytes: int = SCORE_BROADCAST_BYTES,
    min_vecs: int = SCORE_BROADCAST_MIN_VECS,
):
    """Broadcast (sorted ids, float32 matrix) when small enough, else None.

    One scan; the matrix rides to executors once per build instead of
    shuffling per candidate pair each round. Distances computed from it
    are bit-identical to the join path (same float32 storage, same
    float64 arithmetic). ``min_vecs`` keeps pure-scoring callers on the
    join path below the measured crossover; nn_descent passes
    ``min_vecs=1`` because its pairgen kernel scores in place (the fixed
    mapInPandas-stage cost that motivated the floor doesn't apply).
    """
    row = emb.select(
        F.count(F.lit(1)).alias("n"), F.min(F.size("embedding")).alias("d")
    ).first()
    n, d = int(row["n"] or 0), int(row["d"] or 0)
    if n < min_vecs or n * d * 4 > limit_bytes:
        return None
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
    order = np.argsort(ids, kind="stable")
    return emb.sparkSession.sparkContext.broadcast((ids[order], X[order]))


def _score_pairs(pairs: DataFrame, emb: DataFrame, bc=None) -> DataFrame:
    """Exact squared-L2 for (a, b) pairs via an Arrow-batched kernel.

    The distance kernel as a vectorized UDF — the Spark analog of the
    reference's pluggable Distance::compare strategy
    (/root/reference/include/commom/distance.h:17-21), with numpy/BLAS
    playing the AVX role (SURVEY.md §2.2 K1).

    With ``bc`` (a :func:`broadcast_matrix` handle) the embeddings are
    gathered locally by binary search into the broadcast matrix — a
    narrow map over the pairs, no embedding shuffle. Without it, two
    co-partitioned joins against the vector table gather the operands.
    """
    from pyspark.sql.functions import pandas_udf

    if bc is not None:

        def score_local(it):
            from kgraph_framework_spark.operators.nnd_fused import (
                l2_gathered,
            )

            ids, X = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                a = pdf["a"].to_numpy(np.int64)
                b = pdf["b"].to_numpy(np.int64)
                yield pd.DataFrame(
                    {"a": a, "b": b,
                     "dist": l2_gathered(X, ids, a, X, ids, b)}
                )

        return pairs.select("a", "b").mapInPandas(
            score_local, schema="a long, b long, dist double"
        )

    @pandas_udf("double")
    def l2sq(xa, xb):
        a = np.stack(xa.to_numpy())
        b = np.stack(xb.to_numpy())
        d = a.astype(np.float64) - b.astype(np.float64)
        return pd.Series(np.einsum("ij,ij->i", d, d))

    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        pairs.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", l2sq(F.col("ea"), F.col("eb")).alias("dist"))
    )


def nn_descent(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 10,
    l: int | None = None,
    s: int | None = None,
    max_iters: int = 6,
    min_update_rate: float = 0.001,
    seed: int = 42,
    init: DataFrame | None = None,
    exclude_pairs: DataFrame | None = None,
    mode: str = "auto",
    payload: str = "fp32",
    min_recall: float | None = None,
    control: DataFrame | None = None,
    n_control: int = 200,
    block_bytes: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Refine an initial candidate graph into a kNN graph.

    Returns (graph, metrics): graph = (src, dst, dist), top-k by squared
    L2 per src, ties by id. l = pool size (default 3k), s = sample size
    (default 1.5k) — the reference's L and S parameters
    (tests/random_buildall_and_evaluate.cpp:58). Measured on the
    fixtures: l=1.5k/s=k/2 plateaus at recall 0.82-0.87, l=2k/s=k
    reaches 0.97 on 500 vectors but only 0.87 on 2000 (pool/sample too
    shallow to escape cluster-local optima), l=3k/s=1.5k reaches 0.97
    on both in <=8 rounds. ``init`` overrides the starting
    pool (src, dst, dist, is_new) — e.g. knn_search.lsh_init for the
    reference's rplsh pipeline; default = random initializer.

    ``exclude_pairs`` (a, b) are pairs ALREADY COMPARED during init
    (co-bucketed in some LSH table) — refinement skips re-scoring them,
    the reference's cross-table inSameBucket guard carried into
    NN-descent (/root/reference/include/index/index_graph.h:39-44,
    src/index_graph.cpp:26; handed off via SetInBuckets,
    tests/rplsh_buildall_and_evaluate.cpp:112-115). Their init-time
    distances are already in the pool, so the result is unchanged —
    only redundant distance evaluations are dropped.

    ``mode`` picks how candidates are scored; the descent loop is the
    same (operators/nnd_blocked.nn_descent_blocked). "auto" scores
    against a broadcast of the corpus matrix while it is under the
    measured crossover (AUTO_FUSED_MAX_BYTES, ~16 MB), else by the
    cogroup gather over sharded matrix blocks (no broadcast: the 100-TB
    shape, and the faster one on big corpora). "fused" forces broadcast
    scoring and raises ValueError when the matrix exceeds the broadcast
    cap; "blocked" forces the gather at any size. Any other value
    raises ValueError.

    ``payload`` is "fp32" (exact) or "int8" (gather scoring only; forces
    it so the knob is never silently ignored, and raises with
    ``mode="fused"``). int8 ships
    per-vector-scaled int8 codes — ~4x fewer bytes on the dominant
    matrix shuffle edges (~0.4%-of-max rounding during the descent) —
    and finishes with an EXACT fp32 re-rank of each pool's top
    min(L, 2k) band, so the returned graph's distances and ordering
    are exact fp32 arithmetic (the quantized-retrieve / exact-rerank
    contract). It is a network lever for byte-bound clusters: local
    wall is shuffle-page-cache-bound and measured payload-insensitive
    (BENCH.md wire-payload A/Bs).

    ``min_recall`` enables the reference's OWN convergence criterion
    (src/index_graph.cpp:172-179): after each round the sampled recall
    of the pool vs exact control truth is evaluated, and the loop stops
    once ``recall >= min_recall`` (the reference uses 0.99); the round
    that stops on it carries ``recall_stop=True``. The reference checks
    strict ``recall > threshold`` BEFORE each round, the init graph
    included, so two edge cases differ: a run here always does at least
    one round, and a recall exactly at the threshold stops here but not
    there. Otherwise both stop after the same round. ``control``
    supplies the precomputed truth (src, dst) — compute it with
    :func:`control_truth` BEFORE any build timer, as the reference
    loads its ground-truth file outside the timed build; left None,
    nn_descent computes it here (one N x n_control broadcast scan).
    Per-round metrics gain ``recall`` and ``recall_eval_sec`` rows
    (eval time kept separate, like the reference's per-iter walls).
    The update-rate stop remains active; pass ``min_update_rate=0``
    for recall-only stopping. An empty control set raises
    ValueError rather than silently running to ``max_iters``.

    ``block_bytes`` (gather scoring only; default
    nnd_blocked.EMB_BLOCK_BYTES) sets the embedding-block size — the
    per-task memory vs gather-duplication knob. High-dim corpora trade
    here: per-round gather bytes ~ (corpus_bytes / block_bytes) x
    corpus, so larger blocks cut single-box scratch-disk quadratically
    at higher per-task working memory (BENCH.md high-dim section).
    Passing it to a run that scores against the broadcast warns.
    """
    if mode not in ("auto", "fused", "blocked"):
        raise ValueError(f"unknown mode {mode!r}")
    if payload not in ("fp32", "int8"):
        raise ValueError(f"unknown payload {payload!r}")
    if payload != "fp32":
        if mode == "fused":
            raise ValueError(f"payload={payload!r} needs gather scoring")
        mode = "blocked"
    if l is None:
        l = 3 * k
    if s is None:
        s = max(3, (3 * k) // 2)
    emb = emb.select("vec_id", "embedding").persist()
    control_bc = None
    control_total = 0
    if min_recall is not None:
        truth = control if control is not None else control_truth(
            spark, emb, k, n_control
        )
        control_pdf = truth.select("src", "dst").toPandas()
        control_total = len(control_pdf)
        if not control_total:
            emb.unpersist()
            raise ValueError(
                "min_recall is set but the control set is empty"
            )
        from kgraph_framework_spark.operators.nnd_fused import _pack2

        s_arr = control_pdf["src"].to_numpy(np.int64)
        d_arr = control_pdf["dst"].to_numpy(np.int64)
        control_bc = spark.sparkContext.broadcast(
            (np.unique(s_arr), np.sort(_pack2(s_arr, d_arr)))
        )
    bc = None
    if mode == "fused":
        bc = broadcast_matrix(emb, min_vecs=1)
        if bc is None:
            raise ValueError("mode='fused' but corpus exceeds broadcast cap")
    elif mode == "auto":
        # measured crossover, not the broadcast CAP: past ~16 MB gather
        # scoring beats broadcast scoring even though the matrix would
        # still broadcast (see AUTO_FUSED_MAX_BYTES)
        bc = broadcast_matrix(
            emb, limit_bytes=AUTO_FUSED_MAX_BYTES, min_vecs=1
        )
    bb = {}
    if block_bytes is not None:
        if bc is not None:
            import warnings

            warnings.warn(
                "block_bytes only sizes the gather path's embedding "
                "blocks; this run scores against the broadcast matrix "
                "and ignores it",
                stacklevel=2,
            )
        bb["block_bytes"] = block_bytes
    from kgraph_framework_spark.operators.nnd_blocked import nn_descent_blocked

    # final_k: the packed merge already leaves each block's pool per-src
    # sorted and deduped, so the loop cuts top-k in place while
    # unpacking — no extra topk shuffle
    graph, metrics = nn_descent_blocked(
        spark, emb, k=k, l=l, s=s, max_iters=max_iters,
        min_update_rate=min_update_rate, seed=seed, init=init,
        exclude_pairs=exclude_pairs, final_k=k, payload=payload,
        min_recall=min_recall, control_bc=control_bc,
        control_total=control_total, bc=bc, **bb,
    )
    for handle in (bc, control_bc):
        if handle is not None:
            handle.unpersist()
    emb.unpersist()
    return graph, metrics


def control_truth(
    spark: SparkSession, emb: DataFrame, k: int, n_control: int = 200
) -> DataFrame:
    """Exact top-k for ~``n_control`` stride-sampled control vertices.

    The reference's recall-convergence protocol evaluates each descent
    iteration against a PRECOMPUTED ground-truth set
    (src/index_graph.cpp:139-190 loads `graph_truth` from disk;
    generate_control_set :193-207 is the in-process variant) — truth
    computation is outside its timed build. This computes the same
    thing Spark-side in one broadcast scan: control vectors broadcast,
    per-partition local top-k inside mapInPandas, global re-top-k (the
    two-stage ranking pattern T1). Cost is N x n_control distance
    evals — ~the init-scoring pass. Callers that time builds should
    compute this BEFORE the timer (as the reference does) and pass it
    via ``nn_descent(control=...)``.

    Deterministic: control ids are every (n // n_control)-th vec_id in
    ascending id order. On a non-contiguous id space (offset or gapped
    ids) the stride runs over id ranks (:func:`id_index`), so the
    control set is drawn from real ids whatever their spacing.
    """
    n, contiguous = id_stats(emb)
    stride = max(1, n // n_control)
    if contiguous:
        picked = emb.where(F.col("vec_id") % stride == 0)
    else:
        picked = emb.join(
            id_index(emb).where(F.col("ridx") % stride == 0), "vec_id"
        )
    qdf = picked.select("vec_id", "embedding").toPandas()
    qids = qdf["vec_id"].to_numpy(np.int64)
    q = np.stack(qdf["embedding"].to_numpy()).astype(np.float64)
    bq = spark.sparkContext.broadcast((qids, q))

    def local_topk(it):
        qids_, q_ = bq.value
        qn = (q_ * q_).sum(1)
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy(np.int64)
            d2 = qn[:, None] - 2.0 * (q_ @ x.T) + (x * x).sum(1)[None, :]
            kk = min(k + 1, d2.shape[1])
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            yield pd.DataFrame({
                "src": np.repeat(qids_, kk),
                "dst": ids[part.ravel()],
                "dist": np.take_along_axis(d2, part, 1).ravel(),
            })

    cand = emb.mapInPandas(local_topk, schema="src long, dst long, dist double")
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        cand.where(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "dst")
    )


def knn_bruteforce_l2(emb: DataFrame, k: int = 10) -> DataFrame:
    """Exact kNN by squared L2 — the oracle (tests/bruteforce.cpp:67-91)."""
    pairs = (
        emb.select(F.col("vec_id").alias("a"))
        .crossJoin(emb.select(F.col("vec_id").alias("b")))
        .where(F.col("a") != F.col("b"))
    )
    scored = _score_pairs(pairs, emb)
    w = Window.partitionBy("a").orderBy("dist", "b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "dist")
    )


def graph_recall(approx: DataFrame, truth: DataFrame) -> float:
    """Fraction of truth edges present in the approximate graph
    (eval_recall, /root/reference/src/index_graph.cpp:209-229)."""
    hit = approx.join(truth, ["src", "dst"], "left_semi").count()
    total = truth.count()
    return hit / max(total, 1)
