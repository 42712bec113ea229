"""Per-partition CSR adjacency blocks (Arrow arrays) + gather-scatter.

The north-star layout: the edge table is hash-partitioned by ``src`` and
each partition is packed into ONE row of compressed-sparse-row arrays

    csr(part_id: int,
        src_ids:   array<long>  -- unique sorted source vertices
        indptr:    array<int>   -- len(src_ids)+1 offsets into codes/wnorm
        dst_uniq:  array<long>  -- sorted distinct neighbor ids (dictionary)
        dst_codes: array<int>   -- per-edge index into dst_uniq, grouped by src
        wnorm:     array<double>)-- out-weight-normalized edge weights

    The dst column is dictionary-encoded at BUILD time (int32 code per
    edge + one small id dictionary) so each superstep's scatter is a
    ``bincount`` over static codes — the per-superstep sort/unique and
    the element-wise ``np.add.at`` are paid once, not per iteration, and
    the persisted block is smaller than an int64 id per edge.

— the Spark analog of the reference's ``CompactGraph``
(vector<vector<unsigned>>, /root/reference/include/index/index.h:16,64;
on-disk rows [K, ids...] /root/reference/src/index_graph.cpp:401-410).
Built once with ``groupBy(part_id).applyInPandas`` (numpy packing, no
per-row Python) and persisted/written to parquet; every PageRank
superstep is then a cogrouped gather-scatter:

    scores partitioned by the same part fn  ->  cogroup(csr, scores)
      -> per-block numpy gather (scores of src_ids), scatter
         (bincount over the build-time dst codes), PRE-AGGREGATED per block
      -> one shuffle of (dst, partial) rows together with every vertex's
         own row, groupBy(vertex).sum (the superstep's one message exchange)

The per-block pre-aggregation is the map-side combiner: a block emits
each distinct dst ONCE, so the superstep shuffle volume is bounded by
(distinct dsts per block), not the edge count — at 10^12 edges with hub
vertices this is the difference between shuffling edges and shuffling
vertices (plus the hub rows are split across blocks = structural
salting; the final groupBy(dst).sum merges the salted partials).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CSR_SCHEMA = (
    "part_id int, src_ids array<long>, indptr array<int>, "
    "dst_uniq array<long>, dst_codes array<int>, wnorm array<double>"
)


def part_col(col, n_parts: int):
    """Partition assignment — pmod so Python ``%`` agrees on negatives."""
    return F.pmod(col, F.lit(n_parts)).cast("int")


#: target edges per packed block — bounds one block row's array payload
#: (~100 MB at 4M edges x ~24 B) independent of corpus size
TARGET_EDGES_PER_BLOCK = 4_000_000


def auto_n_parts(spark: SparkSession, n_edges: int) -> int:
    """Block count for the packed layouts: parallelism-sized on small
    graphs, data-sized on big ones. Same rationale as
    nnd_fused.auto_n_blocks (VERDICT r3 #3): a block count tied ONLY to
    defaultParallelism means one block's arrays grow linearly with the
    corpus — at 10^12 edges a 32-block layout would put ~3x10^10 array
    elements in ONE applyInPandas row. Deriving from edge count bounds
    per-task memory at any scale; the pmod key keeps blocks uniform."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(n_edges // TARGET_EDGES_PER_BLOCK) + 1,
    )


def build_csr_blocks(edges: DataFrame, n_parts: int) -> DataFrame:
    """Pack the (src,dst,weight) edge table into per-partition CSR rows.

    Weights arrive raw; the packer folds in the 1/out-weight-sum
    normalization PageRank needs (FastL2-style precompute — do the
    division once at build, not per superstep). Out-weight sums are
    computed globally first because a vertex's out-edges land in one
    partition (partitioning is BY src), so the groupBy is co-partitioned.
    """
    e = edges.select(
        F.col("src_vertex").alias("src"),
        F.col("dst_vertex").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    )
    wsum = e.groupBy("src").agg(F.sum("w").alias("ws"))
    en = e.join(wsum, "src").select(
        "src", "dst", (F.col("w") / F.col("ws")).alias("wn")
    )
    en = en.withColumn("part_id", part_col(F.col("src"), n_parts))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        src = pdf["src"].to_numpy(np.int64)
        uniq, starts = np.unique(src, return_index=True)
        indptr = np.append(starts, len(src)).astype(np.int32)
        # dictionary-encode the dst column ONCE at build: the superstep
        # scatter is then a bincount over static int32 codes — no per-
        # superstep sort/unique, and the block stores int32 codes plus a
        # small dictionary instead of an int64 id per edge.
        dst_uniq, dst_codes = np.unique(
            pdf["dst"].to_numpy(np.int64), return_inverse=True
        )
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "src_ids": [uniq],
                "indptr": [indptr],
                "dst_uniq": [dst_uniq],
                "dst_codes": [dst_codes.astype(np.int32)],
                "wnorm": [pdf["wn"].to_numpy(np.float64)],
            }
        )

    return (
        en.repartition(n_parts, "part_id")
        .groupBy("part_id")
        .applyInPandas(pack, schema=CSR_SCHEMA)
    )


def csr_roundtrip_edges(csr: DataFrame) -> DataFrame:
    """Unpack CSR blocks back to (src, dst, wnorm) — for roundtrip tests."""

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for _, row in pdf.iterrows():
                src_ids = np.asarray(row["src_ids"], dtype=np.int64)
                indptr = np.asarray(row["indptr"], dtype=np.int64)
                counts = np.diff(indptr)
                dst_uniq = np.asarray(row["dst_uniq"], dtype=np.int64)
                codes = np.asarray(row["dst_codes"], dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "src": np.repeat(src_ids, counts),
                        "dst": dst_uniq[codes],
                        "wnorm": np.asarray(row["wnorm"], dtype=np.float64),
                    }
                )

    return csr.mapInPandas(unpack, schema="src long, dst long, wnorm double")


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 50,
    tol: float | None = 1e-6,
    num_iters: int | None = None,
    n_parts: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = True,
):
    """PageRank over CSR blocks — the superstep loop of plans/pagerank.py
    (``run_pagerank``: same update rule, init, dangling handling; scores
    allclose 1e-12, differing only by float summation order), with the
    per-superstep scatter running inside Arrow-batched numpy instead of
    a row join.
    """
    from kgraph_framework_spark.plans.pagerank import run_pagerank, vertex_table

    if n_parts is None:
        # data-sized block count: bounds per-block arrays at any corpus
        # size (one count() action at build time, amortized over the loop)
        n_parts = auto_n_parts(spark, edges.count())
    csr = build_csr_blocks(edges, n_parts).persist()
    vertices = vertex_table(
        edges.select(F.col("src_vertex").alias("src"), F.col("dst_vertex").alias("dst")),
        n_parts,
    )

    def scatter(key, blocks: pd.DataFrame, scores: pd.DataFrame) -> pd.DataFrame:
        """Per-partition gather-scatter with block-local pre-aggregation."""
        if blocks.empty or scores.empty:
            return pd.DataFrame({"vertex": [], "c": []}).astype(
                {"vertex": "int64", "c": "float64"}
            )
        # sorted-gather for the score lookup: every src in this block is
        # present in the co-partitioned score rows (srcs ⊆ vertices and
        # both sides use the same pmod), so searchsorted is exact.
        sv = scores["vertex"].to_numpy(np.int64)
        ss = scores["score"].to_numpy(np.float64)
        o = np.argsort(sv, kind="stable")
        sv, ss = sv[o], ss[o]
        outs = []
        for _, row in blocks.iterrows():
            src_ids = np.asarray(row["src_ids"], dtype=np.int64)
            indptr = np.asarray(row["indptr"], dtype=np.int64)
            du = np.asarray(row["dst_uniq"], dtype=np.int64)
            codes = np.asarray(row["dst_codes"], dtype=np.int64)
            wn = np.asarray(row["wnorm"], dtype=np.float64)
            s = ss[np.searchsorted(sv, src_ids)]
            contrib = np.repeat(s, np.diff(indptr)) * wn
            partial = np.bincount(codes, weights=contrib, minlength=du.size)
            outs.append(pd.DataFrame({"vertex": du, "c": partial}))
        return pd.concat(outs, ignore_index=True)

    def messages(ranks: DataFrame) -> DataFrame:
        rp = ranks.select(
            "vertex", "score", part_col(F.col("vertex"), n_parts).alias("part_id")
        )
        return (
            csr.groupBy("part_id")
            .cogroup(rp.groupBy("part_id"))
            .applyInPandas(scatter, schema="vertex long, c double")
        )

    result = run_pagerank(
        spark, vertices, messages, damping, max_iters, tol, num_iters,
        checkpoint_dir, resume,
    )
    csr.unpersist()
    return result
