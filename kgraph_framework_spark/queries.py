"""Query registry — the engine's public query surface.

Each entry maps a name to (a) a Spark callable ``(spark, sf_dir) ->
DataFrame`` built from the engine's operators, and (b) an equivalent
DuckDB SQL oracle (``None`` for genuinely non-SQL-expressible ops, which
the verification driver checks rows-only). Column names are aliased
identically on both sides — the comparator sorts columns by name before
hashing.

The iterative graph queries run a FIXED superstep count so the SQL twin
can unroll the loop (see sql_oracle.py); the converged variants (driven by
a convergence action, not a round count) are exercised by the pytest
oracle suite instead (tests/test_algorithms.py vs numpy/union-find).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark import quality as _quality
from kgraph_framework_spark import sql_oracle, sql_oracle_docs
from kgraph_framework_spark.operators.edges import (
    handoff_edges,
    reply_edges,
    tool_cousage_edges,
    tool_edges,
    union_graph,
)
from kgraph_framework_spark.plans.components import connected_components
from kgraph_framework_spark.plans.labelprop import label_propagation
from kgraph_framework_spark.plans.pagerank import pagerank
from kgraph_framework_spark.plans.triangles import triangles_per_vertex
from kgraph_framework_spark.session import tune_session
from kgraph_framework_spark.sources.transcripts import transcripts_from_events

PAGERANK_ITERS = 5
CC_ROUNDS = 4
LP_ROUNDS = 2

EDGE_COLS = ["src_vertex", "dst_vertex", "weight", "edge_type"]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return transcripts_from_events(spark, sf_dir)


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        # parquet ts is TIMESTAMP_NTZ; session tz is pinned to UTC, so the
        # cast is a wall-clock identity and epoch-micros match DuckDB's.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_reply_edges(spark, sf_dir):
    return reply_edges(_transcripts(spark, sf_dir)).select(*EDGE_COLS)


def q_tool_edges(spark, sf_dir):
    return tool_edges(_transcripts(spark, sf_dir)).select(*EDGE_COLS)


def q_handoff_edges(spark, sf_dir):
    return handoff_edges(_transcripts(spark, sf_dir)).select(*EDGE_COLS)


def q_union_edges(spark, sf_dir):
    return union_graph(_transcripts(spark, sf_dir)).select(*EDGE_COLS)


def q_degrees(spark, sf_dir):
    e = union_graph(_transcripts(spark, sf_dir))
    verts = (
        e.select(F.col("src_vertex").alias("vertex"))
        .unionByName(e.select(F.col("dst_vertex").alias("vertex")))
        .distinct()
    )
    outd = e.groupBy(F.col("src_vertex").alias("vertex")).agg(
        F.count(F.lit(1)).alias("o_cnt"), F.sum("weight").alias("o_w")
    )
    ind = e.groupBy(F.col("dst_vertex").alias("vertex")).agg(
        F.count(F.lit(1)).alias("i_cnt"), F.sum("weight").alias("i_w")
    )
    return (
        verts.join(outd, "vertex", "left")
        .join(ind, "vertex", "left")
        .select(
            "vertex",
            F.coalesce(F.col("o_cnt"), F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce(F.col("i_cnt"), F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce(F.col("o_w"), F.lit(0.0)).cast("double").alias("out_w"),
            F.coalesce(F.col("i_w"), F.lit(0.0)).cast("double").alias("in_w"),
        )
    )


def q_pagerank(spark, sf_dir):
    edges = union_graph(_transcripts(spark, sf_dir))
    res = pagerank(spark, edges, num_iters=PAGERANK_ITERS)
    n = res.metrics[-1].detail["n_vertices"]
    return res.state.select(
        "vertex",
        F.floor(F.col("score") * F.lit(float(n)) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("score_ppm"),
    )


def q_components(spark, sf_dir):
    edges = union_graph(_transcripts(spark, sf_dir))
    res = connected_components(spark, edges, num_iters=CC_ROUNDS, symmetrize=True)
    return res.state.select("vertex", "label")


def q_labelprop(spark, sf_dir):
    edges = union_graph(_transcripts(spark, sf_dir))
    res = label_propagation(spark, edges, num_iters=LP_ROUNDS, symmetrize=True)
    return res.state.select("vertex", "label")


def q_pagerank_csr(spark, sf_dir):
    from kgraph_framework_spark.operators.csr import pagerank_csr

    edges = union_graph(_transcripts(spark, sf_dir))
    res = pagerank_csr(spark, edges, num_iters=PAGERANK_ITERS, n_parts=8)
    n = res.metrics[-1].detail["n_vertices"]
    return res.state.select(
        "vertex",
        F.floor(F.col("score") * F.lit(float(n)) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("score_ppm"),
    )


def q_knn_graph(spark, sf_dir):
    """NN-descent quality gate: recall vs Spark brute-force truth as a
    hash-comparable summary row (zero `no_oracle` queries — the driver
    gate, not just pytest, certifies ANN quality)."""
    from kgraph_framework_spark.quality import nndescent_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return nndescent_gate(spark, emb, k=10, max_iters=4)


def q_knn_graph_minrecall(spark, sf_dir):
    """Reference convergence-criterion parity: the descent stops on the
    reference's own sampled-recall>0.99 rule (min_recall), not a fixed
    round count; the gate row fails unless the loop actually stopped on
    the criterion AND the graph clears the recall floor."""
    from kgraph_framework_spark.quality import nndescent_minrecall_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return nndescent_minrecall_gate(spark, emb, k=10)


def q_knn_graph_blocked(spark, sf_dir):
    """Beyond-broadcast descent gate: matrix sharded into cogrouped
    blocks (the 100-TB shape), forced at small N; bit-identical to
    broadcast scoring so it gates at the same recall floor."""
    from kgraph_framework_spark.quality import nndescent_blocked_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return nndescent_blocked_gate(spark, emb, k=10, max_iters=4)


def q_knn_graph_int8(spark, sf_dir):
    """Quantized-wire descent gate: blocked loop on int8+per-vector-scale
    payload (~4x fewer gather bytes) finished by the exact fp32 re-rank —
    gates the recall floor AND the exact-distance contract in one row."""
    from kgraph_framework_spark.quality import nndescent_int8_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return nndescent_int8_gate(spark, emb, k=10, max_iters=4)


def q_knn_graph_kdtree(spark, sf_dir):
    """KD-forest initializer lifecycle gate (reference kdtree driver)."""
    from kgraph_framework_spark.quality import kdtree_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return kdtree_gate(spark, emb, k=10, max_iters=4)


def q_knn_graph_lsh(spark, sf_dir):
    """CLSH initializer lifecycle gate (reference rplsh driver, E3)."""
    from kgraph_framework_spark.quality import lsh_nndescent_gate

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return lsh_nndescent_gate(spark, emb, k=10, max_iters=3)


def q_tool_cousage(spark, sf_dir):
    return tool_cousage_edges(_transcripts(spark, sf_dir)).select(
        "src_vertex", "dst_vertex", "weight"
    )


def q_triangles(spark, sf_dir):
    e = tool_cousage_edges(_transcripts(spark, sf_dir))
    return triangles_per_vertex(e).select(
        "vertex", F.col("triangles").cast("long").alias("triangles")
    )


# --- training-data pipeline queries over documents / embeddings ---

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_token_stats(spark, sf_dir):
    from kgraph_framework_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from kgraph_framework_spark.operators.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def q_langid(spark, sf_dir):
    from kgraph_framework_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    from kgraph_framework_spark.operators.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    from kgraph_framework_spark.operators.dedup import dup_corpus, exact_duplicates

    return exact_duplicates(dup_corpus(_docs(spark, sf_dir)))


def q_dedup_jaccard(spark, sf_dir):
    from kgraph_framework_spark.operators.dedup import dup_corpus, ngram_jaccard_pairs

    return ngram_jaccard_pairs(dup_corpus(_docs(spark, sf_dir)))


def q_dedup_minhash(spark, sf_dir):
    from kgraph_framework_spark.operators.dedup import dup_corpus, minhash_lsh_pairs

    return minhash_lsh_pairs(dup_corpus(_docs(spark, sf_dir)))


def q_dedup_simhash(spark, sf_dir):
    from kgraph_framework_spark.operators.dedup import dup_corpus, simhash_pairs

    return simhash_pairs(dup_corpus(_docs(spark, sf_dir)))


def q_dedup_embcos(spark, sf_dir):
    from kgraph_framework_spark.operators.dedup import (
        embcos_corpus,
        embedding_cosine_pairs,
    )

    return embedding_cosine_pairs(embcos_corpus(_emb(spark, sf_dir)))


def q_dedup_embcos_lsh(spark, sf_dir):
    from kgraph_framework_spark.quality import embcos_lsh_gate

    return embcos_lsh_gate(spark, _emb(spark, sf_dir))


def q_knn_cosine(spark, sf_dir):
    from kgraph_framework_spark.operators.similarity import (
        cosine_topk,
        queries_from_corpus,
    )

    emb = _emb(spark, sf_dir)
    return cosine_topk(emb, queries_from_corpus(emb))


def q_knn_ann(spark, sf_dir):
    from kgraph_framework_spark.quality import ann_lsh_gate

    return ann_lsh_gate(spark, _emb(spark, sf_dir))


def q_knn_ivf(spark, sf_dir):
    from kgraph_framework_spark.quality import ann_ivf_gate

    return ann_ivf_gate(spark, _emb(spark, sf_dir))


def q_doc_skyline(spark, sf_dir):
    from kgraph_framework_spark.operators.skyline import doc_quality_skyline

    return doc_quality_skyline(_docs(spark, sf_dir))


def q_multimodal(spark, sf_dir):
    from kgraph_framework_spark.operators.multimodal import (
        binary_corpus,
        extract_features,
    )

    return extract_features(binary_corpus(_docs(spark, sf_dir)))


#: name -> (spark callable, duckdb oracle SQL or None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "transcripts": (q_transcripts, sql_oracle.transcripts_sql()),
    "reply_edges": (q_reply_edges, sql_oracle.edges_sql("reply_edges")),
    "tool_edges": (q_tool_edges, sql_oracle.edges_sql("tool_edges")),
    "handoff_edges": (q_handoff_edges, sql_oracle.edges_sql("handoff_edges")),
    "union_edges": (q_union_edges, sql_oracle.edges_sql("union_edges")),
    "degrees": (q_degrees, sql_oracle.degrees_sql()),
    "pagerank_5iter": (q_pagerank, sql_oracle.pagerank_sql(PAGERANK_ITERS)),
    # CSR/Arrow gather-scatter path — same semantics, same SQL twin
    # (float sums differ only in order; ppm quantization absorbs that)
    "pagerank_csr_5iter": (q_pagerank_csr, sql_oracle.pagerank_sql(PAGERANK_ITERS)),
    # approximate + iterative: recall-vs-truth gate row (quality.py) —
    # hash-compared, so the driver certifies ANN quality
    "knn_graph_nndescent": (q_knn_graph, _quality.nndescent_gate_sql()),
    # reference convergence-criterion parity: stop on sampled pool
    # recall > 0.99 (src/index_graph.cpp:172-179) instead of a fixed
    # round count; fails unless the loop stopped ON the criterion
    "knn_graph_nnd_minrecall": (
        q_knn_graph_minrecall,
        _quality.nndescent_minrecall_gate_sql(),
    ),
    # the SAME descent with the matrix sharded into cogrouped blocks —
    # the beyond-broadcast 100-TB path, forced at small N
    "knn_graph_nnd_blocked": (
        q_knn_graph_blocked,
        _quality.nndescent_blocked_gate_sql(),
    ),
    # int8 wire payload + exact fp32 re-rank: recall floor AND
    # exact-distance contract gated in one row
    "knn_graph_nnd_int8": (
        q_knn_graph_int8,
        _quality.nndescent_int8_gate_sql(),
    ),
    # KD-forest init -> NN-descent: the reference kdtree driver (E2)
    "knn_graph_kdtree": (q_knn_graph_kdtree, _quality.kdtree_gate_sql()),
    # CLSH init -> NN-descent with same-bucket skip: rplsh driver (E3)
    "knn_graph_lsh": (q_knn_graph_lsh, _quality.lsh_nndescent_gate_sql()),
    "components_4round": (q_components, sql_oracle.cc_sql(CC_ROUNDS)),
    "labelprop_2round": (q_labelprop, sql_oracle.labelprop_sql(LP_ROUNDS)),
    "tool_cousage": (q_tool_cousage, sql_oracle.tool_cousage_sql()),
    "triangles_tools": (q_triangles, sql_oracle.triangles_sql()),
    "token_stats": (q_token_stats, sql_oracle_docs.token_stats_sql()),
    "quality_scores": (q_quality, sql_oracle_docs.quality_scores_sql()),
    "language_id": (q_langid, sql_oracle_docs.language_id_sql()),
    "fingerprints": (q_fingerprints, sql_oracle_docs.fingerprints_sql()),
    "dedup_exact": (q_dedup_exact, sql_oracle_docs.exact_dedup_sql()),
    "dedup_ngram_jaccard": (q_dedup_jaccard, sql_oracle_docs.ngram_jaccard_sql()),
    "dedup_minhash_lsh": (q_dedup_minhash, sql_oracle_docs.minhash_lsh_sql()),
    "dedup_simhash": (q_dedup_simhash, sql_oracle_docs.simhash_sql()),
    # embedding-cosine near-dup: exact O(N^2) pairs hash-verified vs the
    # DuckDB twin; the sub-quadratic sign-band LSH path is the gate row
    "dedup_embedding_cosine": (q_dedup_embcos, sql_oracle_docs.embcos_sql()),
    "dedup_embcos_lsh": (q_dedup_embcos_lsh, _quality.embcos_lsh_gate_sql()),
    "knn_cosine_bruteforce": (q_knn_cosine, sql_oracle_docs.knn_cosine_sql()),
    "knn_ann_lsh": (q_knn_ann, _quality.lsh_gate_sql()),
    "knn_ann_ivf": (q_knn_ivf, _quality.ivf_gate_sql()),
    "multimodal_features": (q_multimodal, sql_oracle_docs.multimodal_features_sql()),
    # S8 skyline/domination (reference util.h:40-72) over doc metrics
    "doc_quality_skyline": (q_doc_skyline, sql_oracle_docs.doc_skyline_sql()),
}
