"""Connected components via synchronous hash-min label exchange.

Semantics (shared with the DuckDB oracle and the union-find reference in
oracle.py): labels start as the vertex id; each superstep every vertex takes
the min of its own label and its neighbors' labels (edges treated as
undirected — callers pass a symmetrized edge table or set symmetrize=True).
Converges in O(diameter) rounds; convergence = zero label changes.

Scale notes: identical join/groupBy shape to PageRank — the symmetrized
edge table is repartitioned by src and cached once; each superstep is one
scatter join + one min-aggregation (map-side combine) over the messages
and every vertex's own row, with the changed count observed in the
materializing job. For pathological long-chain graphs the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond") halves rounds; planned as a follow-up
optimization — transcript affiliation graphs are shallow (tools/roles are
hubs), so hash-min converges in a handful of rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark.plans.pregel import PregelResult, run_supersteps


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", Alg. 3): every node links its LARGER
    neighbors to its minimum neighborhood member."""
    sym = (
        e.select("u", "v")
        .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round (Alg. 4): orient large→small, link every node's
    smaller-or-equal neighbors (and itself) to the neighborhood min."""
    orient = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = orient.groupBy("u").agg(F.min("v").alias("mv"))
    nb = orient.join(mins, "u")
    return (
        nb.where(F.col("v") != F.col("mv"))
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
        .unionByName(mins.select(F.col("u"), F.col("mv").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> PregelResult:
    """CC via alternating large-star/small-star edge rewriting.

    Alternative to hash-min label exchange (PAPERS.md:
    CC-in-logarithmic-rounds): the STATE is the shrinking edge set, not
    a label vector — each superstep rewrites edges toward component
    minima and provably converges in O(log n) rounds even on long
    paths, where plain hash-min needs O(diameter) and pointer-jumping
    hash-min O(log diameter) with a heavier per-round self-join.
    Convergence = the edge multiset reaches a fixpoint (order-free
    checksum). Labels at the fixpoint: every vertex points at its
    component's minimum id (star edges), roots label themselves —
    identical output to :func:`connected_components`.
    """
    e0 = (
        edges.select(
            F.col("src_vertex").alias("u"), F.col("dst_vertex").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    vertices = (
        edges.select(F.col("src_vertex").alias("vertex"))
        .unionByName(edges.select(F.col("dst_vertex").alias("vertex")))
        .distinct()
        .persist()
    )

    # convergence = the edge multiset repeats the previous superstep's
    # (order-free checksum, observed in the materializing job)
    prev: dict = {}

    def step(e: DataFrame, i: int):
        # reduce operands below 2^31 BEFORE multiplying: vertex ids are
        # 63-bit hashes and ANSI mode faults on long overflow; decimal
        # accumulator: the 2^61-bounded terms overflow a LONG sum under
        # ANSI mode on big edge sets
        term = F.pmod(
            F.pmod(F.col("u"), F.lit(1 << 31)) * F.lit(1_099_511_627)
            + F.pmod(F.col("v"), F.lit(1 << 31)),
            F.lit(1 << 61),
        ).cast("decimal(38,0)")
        return _small_star(_large_star(e)), {
            "n_edges": F.count(F.lit(1)),
            "checksum": F.coalesce(F.sum(term), F.lit(0)).cast("string"),
        }

    def converged(info: dict) -> bool:
        return (info["n_edges"], info["checksum"]) == (
            prev.get("n_edges"), prev.get("checksum")
        )

    result = run_supersteps(
        spark,
        e0,
        step,
        max_iters,
        converged_fn=converged,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        prev_info=prev,
    )
    star = result.state.select(
        F.greatest("u", "v").alias("child"), F.least("u", "v").alias("root")
    )
    lbl = star.groupBy("child").agg(F.min("root").alias("l"))
    labels = (
        vertices.join(lbl, vertices.vertex == lbl.child, "left")
        .select(
            "vertex", F.coalesce(F.col("l"), F.col("vertex")).alias("label")
        )
    )
    result.state = labels
    vertices.unpersist()
    return result


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iters: int = 50,
    num_iters: int | None = None,
    symmetrize: bool = True,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
    resume: bool = True,
    accelerate: bool | None = None,
) -> PregelResult:
    """Hash-min CC; result state is (vertex, label), label = min vertex id.

    ``num_iters`` runs exactly that many synchronous rounds without the
    convergence action (oracle-comparison mode, plain hash-min so the
    unrolled SQL twin matches round for round).

    ``accelerate`` (default: on unless ``num_iters`` is set) adds a
    pointer-jumping shortcut after each exchange — label(v) <-
    label(label(v)) — so convergence is O(log diameter) rounds instead of
    O(diameter). Transcript reply chains are long paths (a 300-turn
    conversation is a 300-vertex path), which plain hash-min walks one
    hop per round; with the shortcut the label graph halves each round.
    The converged fixpoint is identical either way (min reachable id).
    """
    e = edges.select(
        F.col("src_vertex").alias("src"), F.col("dst_vertex").alias("dst")
    )
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct()
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # pre-partition + pre-sort the edge side once; every superstep's SMJ
    # then reuses the layout (same rationale as plans/pagerank.py)
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
    iters = num_iters if num_iters is not None else max_iters
    check = num_iters is None
    if accelerate is None:
        accelerate = num_iters is None

    def step(labels: DataFrame, i: int):
        # one message exchange: the neighbours' labels and the vertex's
        # own row (its label, and as ``prev`` for the convergence count)
        # meet in one groupBy(vertex) — min over both is the hash-min
        msgs = e.join(labels.select(F.col("vertex").alias("src"), "label"), "src")
        own = labels.select(
            "vertex", "label", *([F.col("label").alias("prev")] if check else [])
        )
        new = (
            msgs.select(F.col("dst").alias("vertex"), "label")
            .unionByName(own, allowMissingColumns=True)
            .groupBy("vertex")
            .agg(
                F.min("label").alias("label"),
                *([F.max("prev").alias("prev")] if check else []),
            )
        )
        if accelerate:
            # pointer jumping: follow the label one hop in label space.
            # labels are always ids of live vertices, so the self-join is
            # total; distances in label space halve every application.
            hop = new.select(
                F.col("vertex").alias("label"), F.col("label").alias("label2")
            )
            new = new.join(hop, "label", "left").select(
                "vertex",
                F.least(
                    F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                ).alias("label"),
                *(["prev"] if check else []),
            )
        if not check:
            return new, {}
        return new, {"changed": F.count_if(F.col("label") != F.col("prev"))}

    result = run_supersteps(
        spark,
        labels0,
        step,
        iters,
        converged_fn=(lambda info: info["changed"] == 0) if check else None,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
    )
    result.state = result.state.select("vertex", "label")
    e.unpersist()
    vertices.unpersist()
    return result
