"""Driver-verifiable quality gates for the approximate operators.

The LSH/IVF/NN-descent outputs are deterministic (fixed seeds) but not
SQL-reproducible — DuckDB can't re-run Gaussian projections or the
descent loop. What IS verifiable end-to-end is the reference's own
quality criterion: recall against exact brute-force truth
(eval_recall, /root/reference/src/index_graph.cpp:209-229; the build
loop's recall>0.99 convergence target :172-173).

Each gate query computes the approximate result AND the exact truth on
Spark, measures recall, and emits ONE summary row

    (algo, n_queries|n_vecs, k, floor_ppm, recall_ok)

where ``recall_ok = 1`` iff recall >= floor. The DuckDB twin computes
the data-dependent columns from the same parquet and the expected
``recall_ok = 1`` — so the driver's value-hash compare FAILS whenever
the approximate operator's quality regresses below the floor. This
promotes the three formerly rows-only queries to full gate coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# floors hold at both sf0.001 and sf0.01 (measured: lsh 0.45/0.60,
# ivf 0.70/0.80, nndescent 0.998/0.997); deterministic seeds make the
# measurements exact, so the floors catch regressions, not noise
LSH_FLOOR_PPM = 400_000
IVF_FLOOR_PPM = 500_000
NNDESCENT_FLOOR_PPM = 900_000
KDTREE_FLOOR_PPM = 950_000
EMBCOS_LSH_FLOOR_PPM = 950_000

GATE_COLS = ["algo", "n_queries", "k", "floor_ppm", "recall_ok"]


def _gate_row(
    approx: DataFrame,
    truth: DataFrame,
    join_cols: list[str],
    algo: str,
    n_queries_col,
    k: int,
    floor_ppm: int,
) -> DataFrame:
    """(hits ⋈ truth) -> one summary row; all aggregates in one pass."""
    hits = approx.join(truth.select(*join_cols), join_cols, "left_semi")
    h = hits.agg(F.count(F.lit(1)).alias("n_hit"))
    t = truth.agg(
        F.count(F.lit(1)).alias("n_truth"),
        n_queries_col.alias("n_queries"),
    )
    return (
        h.crossJoin(t)
        .select(
            F.lit(algo).alias("algo"),
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(k).cast("long").alias("k"),
            F.lit(floor_ppm).cast("long").alias("floor_ppm"),
            (
                F.col("n_hit") * F.lit(1_000_000)
                >= F.col("n_truth") * F.lit(floor_ppm)
            )
            .cast("long")
            .alias("recall_ok"),
        )
    )


def ann_lsh_gate(spark: SparkSession, emb: DataFrame, k: int = 5) -> DataFrame:
    from kgraph_framework_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        queries_from_corpus,
    )

    q = queries_from_corpus(emb)
    return _gate_row(
        ann_lsh_topk(emb, q, k=k),
        cosine_topk(emb, q, k=k),
        ["query_id", "neighbor_id"],
        "lsh",
        F.countDistinct("query_id"),
        k,
        LSH_FLOOR_PPM,
    )


def ann_ivf_gate(spark: SparkSession, emb: DataFrame, k: int = 5) -> DataFrame:
    from kgraph_framework_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        queries_from_corpus,
    )

    q = queries_from_corpus(emb)
    return _gate_row(
        ivf_topk(emb, q, k=k),
        cosine_topk(emb, q, k=k),
        ["query_id", "neighbor_id"],
        "ivf",
        F.countDistinct("query_id"),
        k,
        IVF_FLOOR_PPM,
    )


def nndescent_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 4
) -> DataFrame:
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )

    graph, _metrics = nn_descent(spark, emb, k=k, max_iters=max_iters)
    truth = knn_bruteforce_l2(emb, k=k)
    return _gate_row(
        graph.select("src", "dst"),
        truth,
        ["src", "dst"],
        "nndescent",
        F.countDistinct("src"),
        k,
        NNDESCENT_FLOOR_PPM,
    )


def stopped_on_recall(metrics: list[dict]) -> bool:
    """True iff a descent round stopped on the min_recall criterion —
    read from the loop's own ``recall_stop`` flag, so a run that reaches
    the threshold on exactly its last allowed round still counts."""
    return any(m.get("recall_stop", False) for m in metrics)


def nndescent_minrecall_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 12
) -> DataFrame:
    """Convergence-criterion parity gate: the descent runs under the
    reference's OWN stop rule — sampled pool recall vs exact control
    truth, stop past 0.99 (src/index_graph.cpp:172-179 + eval_recall
    :209-229) — instead of a fixed round count
    (nn_descent(min_recall=0.99), the update-rate stop disabled).
    recall_ok = 1 only if BOTH hold: the final graph clears the recall
    floor AND the loop actually STOPPED on the criterion (a round's
    ``recall_stop`` flag, see :func:`stopped_on_recall`) — a loop that
    merely exhausts its iteration budget fails the gate."""
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )

    graph, metrics = nn_descent(
        spark, emb, k=k, max_iters=max_iters, min_recall=0.99,
        min_update_rate=0.0,
    )
    stopped = stopped_on_recall(metrics)
    truth = knn_bruteforce_l2(emb, k=k)
    row = _gate_row(
        graph.select("src", "dst"),
        truth,
        ["src", "dst"],
        "minrecall+nndescent",
        F.countDistinct("src"),
        k,
        NNDESCENT_FLOOR_PPM,
    )
    return row.select(
        "algo", "n_queries", "k", "floor_ppm",
        (F.col("recall_ok") * F.lit(1 if stopped else 0))
        .cast("long")
        .alias("recall_ok"),
    )


def nndescent_blocked_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 4
) -> DataFrame:
    """Beyond-broadcast lifecycle gate: the SAME descent with the corpus
    matrix sharded into cogrouped blocks (operators/nnd_blocked) instead
    of broadcast — the 100-TB shape, forced at small N. Gather scoring
    is bit-identical to broadcast scoring (tests/test_nnd_blocked.py),
    so it gates at the same floor."""
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )

    graph, _metrics = nn_descent(
        spark, emb, k=k, max_iters=max_iters, mode="blocked"
    )
    truth = knn_bruteforce_l2(emb, k=k)
    return _gate_row(
        graph.select("src", "dst"),
        truth,
        ["src", "dst"],
        "blocked+nndescent",
        F.countDistinct("src"),
        k,
        NNDESCENT_FLOOR_PPM,
    )


def nndescent_int8_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 4
) -> DataFrame:
    """Quantized-wire lifecycle gate: the blocked descent with
    ``payload="int8"`` (per-vector-scaled codes, ~4x fewer matrix bytes
    on the gather edges) finished by the exact fp32 re-rank of the top
    band. Gates BOTH halves of that contract in one row: the recall
    floor (quantized search must not dent recall on the fixture) AND
    distance exactness — every returned edge that appears in the
    brute-force truth must carry the identical fp64-arithmetic distance
    (the re-rank's whole point), checked at 1e-9. recall_ok = 1 only if
    both hold."""
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )

    graph, _metrics = nn_descent(
        spark, emb, k=k, max_iters=max_iters, mode="blocked", payload="int8"
    )
    truth = knn_bruteforce_l2(emb, k=k)
    joined = graph.select("src", "dst", "dist").join(
        truth.select("src", "dst", F.col("dist").alias("ref")),
        ["src", "dst"],
        "left",
    )
    agg = joined.agg(
        F.sum(F.when(F.col("ref").isNotNull(), 1).otherwise(0)).alias("n_hit"),
        F.sum(
            F.when(
                F.col("ref").isNotNull()
                & (F.abs(F.col("dist") - F.col("ref")) > 1e-9),
                1,
            ).otherwise(0)
        ).alias("n_dist_bad"),
    )
    t = truth.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.countDistinct("src").alias("n_queries"),
    )
    return agg.crossJoin(t).select(
        F.lit("int8+rerank+nndescent").alias("algo"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.lit(NNDESCENT_FLOOR_PPM).cast("long").alias("floor_ppm"),
        (
            (
                F.col("n_hit") * F.lit(1_000_000)
                >= F.col("n_truth") * F.lit(NNDESCENT_FLOOR_PPM)
            )
            & (F.col("n_dist_bad") == 0)
        )
        .cast("long")
        .alias("recall_ok"),
    )


def embcos_lsh_gate(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Gate for the sub-quadratic embedding near-dup path: recall of the
    sign-band LSH pairs against the exact O(N^2) pair set on the planted
    dup corpus (dedup.embcos_corpus). The planted pairs sit at cosine
    ~0.998+, where the 8x8-bit band scheme misses with prob ~5e-7, so
    the 0.95 floor has huge margin yet still fails on any regression in
    the code/banding/re-rank pipeline."""
    from kgraph_framework_spark.operators.dedup import (
        EMBCOS_BANDS,
        embcos_corpus,
        embedding_cosine_lsh_pairs,
        embedding_cosine_pairs,
    )

    corpus = embcos_corpus(emb).persist()
    truth = embedding_cosine_pairs(corpus)
    approx = embedding_cosine_lsh_pairs(corpus)
    return _gate_row(
        approx.select("vec_a", "vec_b"),
        truth,
        ["vec_a", "vec_b"],
        "embcos_lsh",
        F.count(F.lit(1)),
        EMBCOS_BANDS,
        EMBCOS_LSH_FLOOR_PPM,
    )


def kdtree_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 4
) -> DataFrame:
    """KD-forest init -> NN-descent refine -> recall gate: the full
    reference `kdtree` driver lifecycle
    (/root/reference/tests/kdtree_buildall_and_evaluate.cpp:53-121),
    gated at recall >= 0.95 like its evaluate step."""
    from kgraph_framework_spark.operators.kdtree import kdtree_init
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )

    init = kdtree_init(spark, emb, k=k)
    graph, _metrics = nn_descent(spark, emb, k=k, max_iters=max_iters, init=init)
    truth = knn_bruteforce_l2(emb, k=k)
    return _gate_row(
        graph.select("src", "dst"),
        truth,
        ["src", "dst"],
        "kdtree+nndescent",
        F.countDistinct("src"),
        k,
        KDTREE_FLOOR_PPM,
    )


def lsh_nndescent_gate(
    spark: SparkSession, emb: DataFrame, k: int = 10, max_iters: int = 3
) -> DataFrame:
    """CLSH init -> NN-descent with cross-table same-bucket exclusion —
    the reference's rplsh driver lifecycle E3
    (/root/reference/tests/rplsh_buildall_and_evaluate.cpp:55-133,
    SetInBuckets handoff :112-115), gated on recall."""
    from kgraph_framework_spark.operators.knn_graph import (
        knn_bruteforce_l2,
        nn_descent,
    )
    from kgraph_framework_spark.operators.knn_search import (
        bucket_pairs,
        lsh_init,
    )

    pool, buckets = lsh_init(emb, k=k, return_buckets=True)
    # same oversized-bucket guard lsh_init itself applies (4x its
    # default max_bucket=200): depth-floor buckets stay out of the
    # quadratic pair expansion; exclusion is a work-saver, so a smaller
    # exclusion set never changes the result
    excl = bucket_pairs(buckets, max_bucket=800)
    graph, _metrics = nn_descent(
        spark, emb, k=k, max_iters=max_iters, init=pool, exclude_pairs=excl
    )
    truth = knn_bruteforce_l2(emb, k=k)
    return _gate_row(
        graph.select("src", "dst"),
        truth,
        ["src", "dst"],
        "clsh+nndescent",
        F.countDistinct("src"),
        k,
        KDTREE_FLOOR_PPM,
    )


def lsh_nndescent_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'clsh+nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({KDTREE_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def kdtree_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'kdtree+nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({KDTREE_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def lsh_gate_sql(k: int = 5, n_queries: int = 8) -> str:
    return _gate_sql("lsh", k, LSH_FLOOR_PPM, n_queries)


def ivf_gate_sql(k: int = 5, n_queries: int = 8) -> str:
    return _gate_sql("ivf", k, IVF_FLOOR_PPM, n_queries)


def nndescent_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({NNDESCENT_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def nndescent_minrecall_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'minrecall+nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({NNDESCENT_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def nndescent_blocked_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'blocked+nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({NNDESCENT_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def nndescent_int8_gate_sql(k: int = 10) -> str:
    return f"""SELECT 'int8+rerank+nndescent' AS algo,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({NNDESCENT_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings"""


def embcos_lsh_gate_sql() -> str:
    from kgraph_framework_spark.operators.dedup import EMBCOS_BANDS
    from kgraph_framework_spark.sql_oracle_docs import embcos_sql

    return f"""SELECT 'embcos_lsh' AS algo,
  CAST((SELECT COUNT(*) FROM ({embcos_sql()}) t) AS BIGINT) AS n_queries,
  CAST({EMBCOS_BANDS} AS BIGINT) AS k,
  CAST({EMBCOS_LSH_FLOOR_PPM} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok"""


def _gate_sql(algo: str, k: int, floor_ppm: int, n_queries: int) -> str:
    return f"""SELECT '{algo}' AS algo,
  CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
  CAST({k} AS BIGINT) AS k,
  CAST({floor_ppm} AS BIGINT) AS floor_ppm,
  CAST(1 AS BIGINT) AS recall_ok
FROM embeddings WHERE vec_id < {n_queries}"""
