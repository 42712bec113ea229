"""Synchronous label propagation with deterministic tie-breaking.

Semantics (shared with the DuckDB oracle and oracle.py numpy reference):
labels start as the vertex id; each synchronous round a vertex adopts the
label with the greatest total incident edge weight among its neighbors'
current labels, ties broken by SMALLEST label; vertices with no neighbors
keep their label. Weights are counts (integers), so the double sums are
exact and the (weight desc, label asc) ordering is fully deterministic —
the reference's determinism rule of breaking ties by id
(/root/reference/include/commom/neighbor.h:24-34) applied to labels.

LP does not converge in general (labels can oscillate on bipartite
structures), so the canonical invocation is a fixed round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark.plans.pregel import PregelResult, run_supersteps


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    num_iters: int = 10,
    symmetrize: bool = True,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
    resume: bool = True,
) -> PregelResult:
    """Run exactly num_iters synchronous LP rounds; state is (vertex, label)."""
    e = edges.select(
        F.col("src_vertex").alias("src"),
        F.col("dst_vertex").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    )
    if symmetrize:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
            )
        )
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = e.repartition(partitions, "src").sortWithinPartitions("src").persist()

    vertices = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .repartition(partitions, "vertex")
        .sortWithinPartitions("vertex")
        .persist()
    )
    labels0 = vertices.withColumn("label", F.col("vertex"))

    def step(labels: DataFrame, i: int):
        # Two-stage aggregation, skew-proof at hub vertices:
        #   1. groupBy(dst, label).sum(w) — Spark's partial (map-side)
        #      aggregation collapses a hub's per-neighbor vote rows to
        #      one buffer per mapper BEFORE the shuffle;
        #   2. per-vertex argmax via max_by over (wvote, -label) — again
        #      a partial+final aggregate, so no single reducer ever sees
        #      a hub's full (label, weight) list. The previous form used
        #      a row_number() Window whose partitionBy(vertex) shipped
        #      every distinct neighbor label of a hub to one task.
        # Ordering struct = (wvote, -label): max picks the greatest
        # weight, ties broken by SMALLEST label — identical semantics
        # to the window version and the DuckDB twin (weights are
        # integer counts, so double sums are exact and order-free).
        # The vertex's own row joins the second aggregation (null
        # ordering, so max_by skips it) and keeps its label when no
        # neighbour votes — no join back to the label state.
        votes = (
            e.join(labels.withColumnRenamed("vertex", "src"), "src")
            .groupBy(F.col("dst").alias("vertex"), "label")
            .agg(F.sum("w").alias("wvote"))
        )
        own = labels.select("vertex", F.col("label").alias("own"))
        new = (
            votes.unionByName(own, allowMissingColumns=True)
            .groupBy("vertex")
            .agg(
                F.max_by(
                    "label",
                    F.when(
                        F.col("wvote").isNotNull(),
                        F.struct(F.col("wvote"), (-F.col("label")).alias("nl")),
                    ),
                ).alias("best_label"),
                F.max("own").alias("own"),
            )
            .select(
                "vertex", F.coalesce(F.col("best_label"), F.col("own")).alias("label")
            )
        )
        return new, {}

    result = run_supersteps(
        spark, labels0, step, num_iters,
        checkpoint_dir=checkpoint_dir, resume=resume,
    )
    e.unpersist()
    vertices.unpersist()
    return result
