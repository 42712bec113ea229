"""PageRank as DataFrame supersteps.

Semantics (shared EXACTLY with the DuckDB oracle and the numpy reference in
kgraph_framework_spark/oracle.py):

    score_0(v)   = 1 / N
    score_t+1(v) = (1-d)/N + d * ( Σ_{(u,v) ∈ E} score_t(u) · w(u,v)/wsum(u)
                                   + dangling_mass_t / N )

where wsum(u) = Σ outgoing weight of u and dangling_mass = Σ score over
vertices with no out-edges. Convergence: max |Δscore| < tol.

Scale design (10^12 edges):
* the edge table is normalized ONCE (weight / out-degree folded into a
  ``wnorm`` column), hash-repartitioned by src_vertex and cached. Below
  ``spark.sql.autoBroadcastJoinThreshold`` the planner broadcasts that
  cache into each superstep's scatter join (the state's statistics are
  reset by the runner, so it is never the broadcast side); above it the
  join is a sort-merge join whose edge side is the cached layout and
  whose rank side is shuffled by src;
* each superstep has ONE message exchange: the messages and every
  vertex's own row (its previous score and dangling flag) meet in one
  groupBy(vertex) — Spark performs map-side partial aggregation, the
  analog of per-partition combiners — so no join goes back to the
  vertex table or the previous state;
* the dangling mass is a Pregel aggregator: observed on superstep t's
  output inside its materializing job, applied as a scalar in t + 1;
* plan lineage is truncated per superstep (localCheckpoint) via the pregel
  runner, and parquet checkpoints + lineage manifest make the loop
  resumable mid-iteration (north rule).

Reference analog: the iterate-score-until-recall>0.99 loop of NN-descent
(/root/reference/src/index_graph.cpp:139-190) with per-iteration telemetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark.plans.pregel import PregelResult, run_supersteps


#: measured crossover on local[32]: the CSR gather-scatter superstep
#: carries ~0.6 s of fixed Arrow/cogroup overhead but 35% lower
#: per-edge cost — join path wins below ~1M edges (sf0.1: join 1.06
#: s/step vs CSR 1.70 at 126k edges), CSR wins above (25M edges:
#: 5.3 vs 8.1 s/step, BENCH.md). At cluster scale CSR is always right.
CSR_CROSSOVER_EDGES = 1_000_000


def pagerank_auto(
    spark: SparkSession,
    edges: DataFrame,
    n_edges: int | None = None,
    partitions: int | None = None,
    **kw,
):
    """Cost-based physical choice between the two PageRank engines.

    Identical semantics either way (scores allclose 1e-12); the choice
    is purely physical, like Catalyst picking broadcast vs sort-merge.
    Pass ``n_edges`` if already known to avoid a count job.
    """
    if n_edges is None:
        n_edges = edges.count()
    if n_edges >= CSR_CROSSOVER_EDGES:
        from kgraph_framework_spark.operators.csr import pagerank_csr

        return pagerank_csr(spark, edges, n_parts=partitions, **kw)
    return pagerank(spark, edges, partitions=partitions, **kw)


def vertex_table(e: DataFrame, partitions: int) -> DataFrame:
    """(vertex, dangling) over every endpoint of ``e`` (src, dst), persisted.

    A vertex is dangling when it has no out-edge; its score is spread
    over all vertices as the dangling mass.
    """
    return (
        e.select(F.col("src").alias("vertex"), F.lit(False).alias("dangling"))
        .unionByName(
            e.select(F.col("dst").alias("vertex"), F.lit(True).alias("dangling"))
        )
        .groupBy("vertex")
        .agg(F.min("dangling").alias("dangling"))
        .repartition(partitions, "vertex")
        .persist()
    )


#: exact type for the observed dangling-mass sum: the runner merges the
#: per-task partial sums in task-completion order, and a double sum would
#: make that order (and so a resumed run) visible in the last bits
_MASS_TYPE = "decimal(38,30)"


def run_pagerank(
    spark: SparkSession,
    vertices: DataFrame,
    messages,
    damping: float,
    max_iters: int,
    tol: float | None,
    num_iters: int | None,
    checkpoint_dir: str | None,
    resume: bool,
) -> PregelResult:
    """The PageRank superstep loop shared by both engines.

    ``vertices`` is a persisted :func:`vertex_table` (unpersisted here);
    ``messages(ranks)`` returns the engine's (vertex, c) contributions,
    lazily. ``num_iters`` forces an exact superstep count; otherwise the
    loop stops once max|Δscore| < tol.
    """
    n, n_dangling = vertices.agg(
        F.count(F.lit(1)), F.count_if(F.col("dangling"))
    ).first()
    iters = num_iters if num_iters is not None else max_iters
    check = num_iters is None and tol is not None
    # superstep i reads the dangling mass observed on superstep i - 1's
    # output; the initial state's is seeded here
    prev = {"dangling_mass": n_dangling / n}

    def step(ranks: DataFrame, i: int):
        own = ranks.select(
            "vertex", "dangling", *([F.col("score").alias("prev")] if check else [])
        )
        agg = (
            messages(ranks)
            .unionByName(own, allowMissingColumns=True)
            .groupBy("vertex")
            .agg(
                F.sum("c").alias("contrib"),
                F.max("dangling").alias("dangling"),
                *([F.max("prev").alias("prev")] if check else []),
            )
        )
        score = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (
                F.coalesce(F.col("contrib"), F.lit(0.0))
                + F.lit(prev["dangling_mass"]) / n
            )
        ).alias("score")
        new = agg.select("vertex", score, "dangling", *(["prev"] if check else []))
        mass = F.sum(F.when(F.col("dangling"), F.col("score").cast(_MASS_TYPE)))
        info = {
            "n_vertices": n,
            "dangling_mass": F.coalesce(mass, F.lit(0)).cast("double"),
        }
        if check:
            info["max_delta"] = F.max(F.abs(F.col("score") - F.col("prev")))
        return new, info

    result = run_supersteps(
        spark, vertices.withColumn("score", F.lit(1.0 / n)), step, iters,
        converged_fn=lambda info: check and info["max_delta"] < tol,
        checkpoint_dir=checkpoint_dir, resume=resume, prev_info=prev,
    )
    result.state = result.state.select("vertex", "score")
    vertices.unpersist()
    return result


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 50,
    tol: float | None = 1e-6,
    num_iters: int | None = None,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
    resume: bool = True,
    hub_threshold: int | None = None,
) -> PregelResult:
    """Run PageRank; returns PregelResult whose state is (vertex, score).

    ``num_iters`` forces an exact superstep count (oracle-comparison mode,
    no convergence scalar); otherwise iterate until max|Δ| < tol.

    ``hub_threshold`` enables explicit skew handling: source vertices with
    out-degree above it are HUBS — their score rows are broadcast and
    their (huge) edge slices join map-side, so no shuffle partition ever
    receives a hub's full adjacency (the north-star "broadcast of
    high-degree frontiers"; AQE skew-join splitting covers the residual).
    The hub-side partial contributions re-aggregate in the same
    groupBy(vertex) — structurally the salting split-merge (the hub's rows
    are spread across ALL map partitions = maximal salt). Results are
    IDENTICAL to the plain path (physical change only, up to float
    summation order).
    """
    e = edges.select(
        F.col("src_vertex").alias("src"),
        F.col("dst_vertex").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    )
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    enorm = e.join(wsum, "src").select(
        "src", "dst", (F.col("w") / F.col("wsum")).alias("wnorm")
    )
    # pre-partition AND pre-sort the big (edge) side on the join key: in
    # the sort-merge regime the scatter join reads this layout instead of
    # exchanging and sorting the edges every superstep
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    enorm = (
        enorm.repartition(partitions, "src").sortWithinPartitions("src").persist()
    )
    vertices = vertex_table(e, partitions)
    hub_enorm = None
    if hub_threshold is not None:
        deg = enorm.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        hub_ids = deg.where(F.col("deg") > hub_threshold).select("src").persist()
        hub_enorm = enorm.join(F.broadcast(hub_ids), "src", "left_semi").persist()
        enorm = enorm.join(F.broadcast(hub_ids), "src", "left_anti").persist()

    def messages(ranks: DataFrame) -> DataFrame:
        src_scores = ranks.select(F.col("vertex").alias("src"), "score")
        scatter = enorm.join(src_scores, "src")
        if hub_enorm is not None:
            hub_ranks = src_scores.join(F.broadcast(hub_ids), "src", "left_semi")
            scatter = scatter.unionByName(
                hub_enorm.join(F.broadcast(hub_ranks), "src")
            )
        return scatter.select(
            F.col("dst").alias("vertex"), (F.col("score") * F.col("wnorm")).alias("c")
        )

    result = run_pagerank(
        spark, vertices, messages, damping, max_iters, tol, num_iters,
        checkpoint_dir, resume,
    )
    enorm.unpersist()
    if hub_enorm is not None:
        hub_enorm.unpersist()
        hub_ids.unpersist()
    return result
