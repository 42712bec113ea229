"""Seeded inputs and their expected outputs, written once per seed.

Each workload's inputs live in ``<work>/inputs/<workload>-s<seed>/``:
parquet tables the measured program reads, ``expected.npz`` with the
oracle outputs, and ``meta.json`` with sizes and an input checksum. A
``DONE`` marker makes a half-written directory count as missing.

The graph inputs need Spark (``synthesize_transcripts``), so they are
made in a child process with its own Spark application; the measured
application then starts fresh. The kNN inputs are plain numpy.

Run as a script to make the graph inputs:
``python3 perfbench/inputs.py graph <seed> <out_dir>``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

#: graph-small phase: ~38k union-graph edges, the join PageRank engine
SMALL_CONVS = 600
SMALL_PR_TOL = 1e-6
SMALL_PR_MAX_ITERS = 3
SMALL_LP_ITERS = 1
#: graph-csr phase: the same edges through the CSR PageRank engine. That
#: is below pagerank_auto's 1M-edge crossover, so it is called directly:
#: a >1M-edge input costs more time than a run has room for
CSR_PR_ITERS = 2

KNN_K = 10
#: (name, n_vecs, dim, max_iters): fused stays under the 16 MiB
#: AUTO_FUSED_MAX_BYTES crossover, blocked goes over it
KNN_CORPORA = (
    ("fused", 2_000, 64, 1),
    ("blocked", 4_200, 1_024, 1),
)
KNN_CLUSTERS = 20
#: intrinsic dimension of the mixture; noise is added in the full space
KNN_LATENT_DIM = 12
KNN_CONTROL = 500


def input_dir(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-s{seed}")


def ensure(work: str, workload: str, seed: int, repo_root: str) -> str:
    """Return the input directory for (workload, seed), making it if absent."""
    out = input_dir(work, workload, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "knn":
        make_knn(out, seed)
    else:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), workload, str(seed), out],
            check=True, cwd=repo_root, stdout=subprocess.DEVNULL,
        )
    with open(os.path.join(out, "DONE"), "w"):
        pass
    return out


def _checksum(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _sorted_edges(pdf) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    src = pdf["src_vertex"].to_numpy(np.int64)
    dst = pdf["dst_vertex"].to_numpy(np.int64)
    w = pdf["weight"].to_numpy(np.float64)
    o = np.lexsort((w, dst, src))
    return src[o], dst[o], w[o]


def edge_checksum(pdf) -> str:
    """Order-independent checksum of an (src_vertex, dst_vertex, weight) table."""
    return _checksum(*_sorted_edges(pdf))


def _dense(src, dst, w):
    """Order-preserving dense vertex ranks. kgraph_framework_spark.oracle
    holds ids in float64, exact only below 2**53, while tool vertex ids
    reach 2**62; ranks keep every min-id and tie-by-id rule intact."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(src)
    return verts, list(zip(inv[:n].tolist(), inv[n:].tolist(), w.tolist()))


def _dict_arrays(d: dict, verts: np.ndarray, dtype=np.float64):
    """Oracle output {rank: value} -> (vertex ids, values) sorted by id;
    with ``dtype`` int64 the values are ranks too and are mapped back."""
    keys = np.fromiter(d.keys(), np.int64, len(d))
    vals = np.fromiter(d.values(), dtype, len(d))
    if dtype is np.int64:
        vals = verts[vals]
    o = np.argsort(keys)
    return verts[keys[o]], vals[o]


def _pagerank_tol_steps(verts, edges, tol: float, max_iters: int) -> int:
    """Superstep count of plans/pagerank's tol mode: stop once max|Δ| < tol."""
    from kgraph_framework_spark.oracle import pagerank_ref

    prev = _dict_arrays(pagerank_ref(edges, num_iters=0), verts)[1]
    for it in range(1, max_iters + 1):
        cur = _dict_arrays(pagerank_ref(edges, num_iters=it), verts)[1]
        if np.max(np.abs(cur - prev)) < tol:
            return it
        prev = cur
    return max_iters


def transcript_seed(seed: int) -> int:
    """synthesize_transcripts adds ``seed * 97`` to 31-bit hashes, so
    nearby seeds give near-identical corpora; spread them over the range."""
    return int(np.random.default_rng(seed).integers(0, (1 << 31) // 97))


def make_graph(out: str, seed: int) -> None:
    """Transcripts for the graph workload, and the expected outputs."""
    from kgraph_framework_spark import oracle
    from kgraph_framework_spark.operators.edges import (
        tool_cousage_edges,
        union_graph,
    )
    from kgraph_framework_spark.session import get_spark
    from kgraph_framework_spark.sources.transcripts import synthesize_transcripts

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench-inputs", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tx_path = os.path.join(out, "transcripts.parquet")
        synthesize_transcripts(
            spark, SMALL_CONVS, seed=transcript_seed(seed)
        ).write.parquet(tx_path)
        tx = spark.read.parquet(tx_path)
        small = union_graph(tx).select("src_vertex", "dst_vertex", "weight").toPandas()
        cous = tool_cousage_edges(tx).toPandas()
    finally:
        spark.stop()

    s_src, s_dst, s_w = _sorted_edges(small)
    s_verts, s_edges = _dense(s_src, s_dst, s_w)
    steps = _pagerank_tol_steps(s_verts, s_edges, SMALL_PR_TOL, SMALL_PR_MAX_ITERS)
    pr_v, pr_s = _dict_arrays(oracle.pagerank_ref(s_edges, num_iters=steps), s_verts)
    sym = s_edges + [(d, s, w) for s, d, w in s_edges]
    lp_v, lp_l = _dict_arrays(
        oracle.label_propagation_ref(sym, SMALL_LP_ITERS), s_verts, np.int64
    )
    c_verts, c_edges = _dense(*_sorted_edges(cous))
    cc_v, cc_l = _dict_arrays(oracle.components_ref(c_edges), c_verts, np.int64)
    tri, _ = oracle.triangles_ref(c_edges)
    csr_v, csr_s = _dict_arrays(
        oracle.pagerank_ref(s_edges, num_iters=CSR_PR_ITERS), s_verts
    )
    np.savez(
        os.path.join(out, "expected.npz"),
        pr_small_steps=steps, pr_small_v=pr_v, pr_small_s=pr_s,
        lp_v=lp_v, lp_l=lp_l, cc_v=cc_v, cc_l=cc_l,
        triangles=tri, pr_csr_v=csr_v, pr_csr_s=csr_s,
    )
    meta = {
        "n_convs": SMALL_CONVS, "n_edges": len(small),
        "edges_checksum": _checksum(s_src, s_dst, s_w),
        "n_edges_cousage": len(cous),
    }
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def gaussian_mixture(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """A Gaussian mixture in KNN_LATENT_DIM dimensions, randomly projected
    to ``dim`` with small isotropic noise: nearest neighbours stay
    meaningful at high ``dim``, as in real embeddings."""
    centers = rng.normal(scale=3.0, size=(KNN_CLUSTERS, KNN_LATENT_DIM))
    z = centers[rng.integers(0, KNN_CLUSTERS, n)] + rng.normal(size=(n, KNN_LATENT_DIM))
    proj = rng.normal(size=(KNN_LATENT_DIM, dim)) / np.sqrt(KNN_LATENT_DIM)
    x = z @ proj + 0.1 * rng.normal(size=(n, dim))
    return x.astype(np.float32)


def exact_topk(x: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact squared-L2 top-k ids (self excluded, ties by id) for ``queries``."""
    xd = x.astype(np.float64)
    q = xd[queries]
    d = (q * q).sum(1)[:, None] - 2.0 * q @ xd.T + (xd * xd).sum(1)[None, :]
    d[np.arange(len(queries)), queries] = np.inf
    ids = np.broadcast_to(np.arange(len(x)), d.shape)
    order = np.lexsort((ids, d), axis=1)
    return order[:, :k]


def read_vectors(path: str, dim: int) -> np.ndarray:
    """The (n, dim) float32 matrix of a vector table, in vec_id order."""
    import pyarrow.parquet as pq

    table = pq.read_table(path).sort_by("vec_id")
    return table["embedding"].combine_chunks().flatten().to_numpy().reshape(-1, dim)


def make_knn(out: str, seed: int) -> None:
    """One Gaussian-mixture corpus per kNN phase, plus a seeded control set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    meta: dict = {}
    expected: dict = {}
    for name, n, dim, _ in KNN_CORPORA:
        x = gaussian_mixture(rng, n, dim)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim)
        table = pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
        })
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        queries = np.sort(rng.choice(n, size=KNN_CONTROL, replace=False))
        expected[f"{name}_queries"] = queries
        expected[f"{name}_truth"] = exact_topk(x, queries, KNN_K)
        meta[f"n_vecs_{name}"] = n
        meta[f"dim_{name}"] = dim
        meta[f"checksum_{name}"] = _checksum(x)
    np.savez(os.path.join(out, "expected.npz"), **expected)
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)


if __name__ == "__main__":
    _workload, _seed, _out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    sys.path.insert(0, os.getcwd())
    make_graph(_out, _seed)
