"""Triangle counting via degree-oriented edge joins.

Each undirected edge is oriented from the (degree, id)-smaller endpoint to
the larger; a triangle {a,b,c} is then counted exactly once as the wedge
(a→b, b→c) closed by (a→c). Degree orientation bounds every vertex's
out-degree by O(sqrt(m)) — THE skew defense: a hub vertex with 10^8
neighbors never becomes the wedge pivot (cf. the reference's work-stealing
`schedule(dynamic,100)` for skewed per-vertex cost,
/root/reference/src/index_graph.cpp:22 — ours is structural, not
scheduled). Counts are orientation-invariant, so the id-oriented DuckDB
oracle agrees exactly.

Two physical strategies, same exact counts, picked per call by
``_auto_engine`` on the oriented wedge count (``engine="auto"``):

* wedge-join — plain equi-joins that materialize every oriented wedge
  and close it; the cheap choice on sparse-wedge (chain-shaped) graphs.
* CSR-block intersection — the oriented adjacency is packed ONCE into
  per-partition CSR rows (the operators/csr.py layout) and the per-edge
  sorted-array intersection runs as a two-stage cogroup gather (the
  nnd_blocked pattern): edges key to part(a) and pick up their a-side
  adjacency from the co-grouped CSR block — each distinct vertex's list
  shipped at most once per (p, q) cell, not once per edge — then cells
  key to q = part(b), pick up the b-side lists from block q, intersect,
  and emit PRE-AGGREGATED per-cell credit rows. No per-edge
  nested-array replication ever crosses a shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges oriented small-(degree,id) → large."""
    und = (
        edges.select(
            F.least("src_vertex", "dst_vertex").alias("u"),
            F.greatest("src_vertex", "dst_vertex").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    e = und.join(du, "u").join(dv, "v")
    keep_uv = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(keep_uv, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(keep_uv, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def _triangle_rows(edges: DataFrame, oriented: DataFrame | None = None) -> DataFrame:
    """One row (a, b, c) per triangle (in oriented order)."""
    o = oriented if oriented is not None else _oriented(edges).persist()
    e1 = o.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = o.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e3 = o.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    wedges = e1.join(e2, "tb")
    tris = wedges.join(e3, ["ta", "tc"])
    return tris.select(
        F.col("ta").alias("a"), F.col("tb").alias("b"), F.col("tc").alias("c")
    )


ADJ_SCHEMA = "part_id int, src_ids array<long>, indptr array<long>, dst_ids array<long>"
CELL_SCHEMA = (
    "q int, a array<long>, b array<long>, u_ids array<long>, "
    "u_indptr array<long>, u_flat array<long>"
)


def _slice_gather(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Concatenate flat[starts[i]:starts[i]+lens[i]] — vectorized."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, flat.dtype)
    r = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    return flat[np.repeat(starts, lens) + r]


def _oriented_csr(o: DataFrame, n_parts: int) -> DataFrame:
    """Pack the oriented adjacency into per-partition CSR rows — the
    operators/csr.py layout (SURVEY §1.3 CompactGraph analog), built once
    and cogrouped into both gather stages."""
    from kgraph_framework_spark.operators.csr import part_col

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["a", "b"], kind="mergesort")
        src = pdf["a"].to_numpy(np.int64)
        uniq, starts = np.unique(src, return_index=True)
        indptr = np.append(starts, len(src)).astype(np.int64)
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "src_ids": [uniq],
                "indptr": [indptr],
                "dst_ids": [pdf["b"].to_numpy(np.int64)],
            }
        )

    return (
        o.withColumn("part_id", part_col(F.col("a"), n_parts))
        .repartition(n_parts, "part_id")
        .groupBy("part_id")
        .applyInPandas(pack, schema=ADJ_SCHEMA)
    )


def _cell_kernel(n_parts: int):
    """Stage 1: attach a-side adjacency, bucket edges by q = part(b),
    ship each distinct a's list once per (p, q) cell."""

    def fn(edges_pdf: pd.DataFrame, csr_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {"q": "int32", "a": "object", "b": "object",
                "u_ids": "object", "u_indptr": "object", "u_flat": "object"}
        if edges_pdf.empty or csr_pdf.empty:
            return pd.DataFrame({c: pd.Series(dtype=t) for c, t in cols.items()})
        src_ids = np.asarray(csr_pdf["src_ids"].iloc[0], np.int64)
        indptr = np.asarray(csr_pdf["indptr"].iloc[0], np.int64)
        dst = np.asarray(csr_pdf["dst_ids"].iloc[0], np.int64)
        a = edges_pdf["a"].to_numpy(np.int64)
        b = edges_pdf["b"].to_numpy(np.int64)
        q = (b % n_parts).astype(np.int32)
        o = np.argsort(q, kind="stable")
        a, b, q = a[o], b[o], q[o]
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        bounds = np.append(starts, q.size)
        rows: dict[str, list] = {c: [] for c in cols}
        for i in range(starts.size):  # <= n_parts cells
            lo_, hi_ = bounds[i], bounds[i + 1]
            a_, b_ = a[lo_:hi_], b[lo_:hi_]
            ua = np.unique(a_)
            ia = np.searchsorted(src_ids, ua)
            lens = indptr[ia + 1] - indptr[ia]
            rows["q"].append(int(q[lo_]))
            rows["a"].append(a_)
            rows["b"].append(b_)
            rows["u_ids"].append(ua)
            rows["u_indptr"].append(np.append(0, np.cumsum(lens)))
            rows["u_flat"].append(_slice_gather(dst, indptr[ia], lens))
        return pd.DataFrame(rows)

    return fn


def _credit_kernel():
    """Stage 2: gather b-side adjacency from block q, intersect both
    sorted lists per edge (batch lexsort, no per-edge Python), and emit
    per-cell PRE-AGGREGATED triangle credits (vertex, t): |C| to each
    endpoint, 1 to each common neighbor."""

    def fn(cells_pdf: pd.DataFrame, csr_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vertex": pd.Series(dtype="int64"), "t": pd.Series(dtype="int64")}
        )
        if cells_pdf.empty or csr_pdf.empty:
            # no out-adjacency in this block -> every nb is empty
            return empty
        src2 = np.asarray(csr_pdf["src_ids"].iloc[0], np.int64)
        iptr2 = np.asarray(csr_pdf["indptr"].iloc[0], np.int64)
        dst2 = np.asarray(csr_pdf["dst_ids"].iloc[0], np.int64)
        vs, ws = [], []
        for row in cells_pdf.itertuples(index=False):  # <= n_parts cells
            a = np.asarray(row.a, np.int64)
            b = np.asarray(row.b, np.int64)
            u_ids = np.asarray(row.u_ids, np.int64)
            u_iptr = np.asarray(row.u_indptr, np.int64)
            u_flat = np.asarray(row.u_flat, np.int64)
            n = a.size
            pa = np.searchsorted(u_ids, a)
            la = u_iptr[pa + 1] - u_iptr[pa]
            na_vals = _slice_gather(u_flat, u_iptr[pa], la)
            pb = np.searchsorted(src2, b)
            ok = pb < src2.size
            present = ok & (src2[np.where(ok, pb, 0)] == b)
            pb = np.where(present, pb, 0)
            lb = np.where(present, iptr2[pb + 1] - iptr2[pb], 0)
            nb_vals = _slice_gather(dst2, iptr2[pb], lb)
            vals = np.concatenate([na_vals, nb_vals])
            rows_ = np.concatenate(
                [np.repeat(np.arange(n, dtype=np.int64), la),
                 np.repeat(np.arange(n, dtype=np.int64), lb)]
            )
            o = np.lexsort((vals, rows_))
            ro, vo = rows_[o], vals[o]
            dup = (ro[1:] == ro[:-1]) & (vo[1:] == vo[:-1]) if ro.size else (
                np.zeros(0, bool)
            )
            hit_rows, hit_vals = ro[1:][dup], vo[1:][dup]
            cnts = np.bincount(hit_rows, minlength=n).astype(np.int64)
            vs.append(np.concatenate([a, b, hit_vals]))
            ws.append(np.concatenate([cnts, cnts,
                                      np.ones(hit_vals.size, np.int64)]))
        v = np.concatenate(vs)
        w = np.concatenate(ws)
        m = w > 0
        v, w = v[m], w[m]
        if v.size == 0:
            return empty
        uv, code = np.unique(v, return_inverse=True)
        agg = np.zeros(uv.size, np.int64)
        np.add.at(agg, code, w)
        return pd.DataFrame({"vertex": uv, "t": agg})

    return fn


def _csr_credits(
    edges: DataFrame,
    n_parts: int | None = None,
    oriented: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex triangle credits via the CSR two-stage cogroup gather."""
    from kgraph_framework_spark.operators.csr import part_col

    spark = edges.sparkSession
    # feeds both the CSR pack and the stream
    o = oriented if oriented is not None else _oriented(edges).persist()
    if n_parts is None:
        # data-sized block count (operators/csr.auto_n_parts) — bounds
        # per-block arrays at any corpus size
        from kgraph_framework_spark.operators.csr import auto_n_parts

        n_parts = auto_n_parts(spark, o.count())
    csr = _oriented_csr(o, n_parts).persist()
    keyed = o.select(part_col(F.col("a"), n_parts).alias("part_id"), "a", "b")
    cells = (
        keyed.groupBy("part_id")
        .cogroup(csr.groupBy("part_id"))
        .applyInPandas(_cell_kernel(n_parts), CELL_SCHEMA)
    )
    return (
        cells.groupBy("q")
        .cogroup(csr.groupBy("part_id"))
        .applyInPandas(_credit_kernel(), "vertex long, t long")
    )


#: auto-engine crossover: oriented wedge rows per edge. Below it the
#: plain wedge join wins — measured at 25.1M transcript edges
#: (W/E = 2.31): wedge 25.5/29.2 s vs CSR 42.1/49.5 s, interleaved
#: fresh-JVM pairs, identical counts
#: (tools/triangles_engine_ab.py; BENCH.md round-5 section). Chain-ish
#: graphs orient to tiny out-degrees, so the wedge table is ~2 rows/
#: edge of 24 B — two narrow hash joins beat the packed-CSR machinery,
#: the same lesson as the CC-over-CSC A/B (cheap kernels don't repay
#: packing). Above the cap the wedge table (Σ C(outdeg, 2) rows, up to
#: 10^3+ per edge on clustered/power-law graphs) dominates shuffle
#: volume while the CSR gather ships each adjacency list once per
#: cell — structural bound, one-sided calibration acknowledged.
WEDGE_MAX_PER_EDGE = 8.0


def _auto_engine(oriented: DataFrame) -> str:
    """Cost-based engine pick: one aggregation computes the oriented
    wedge count W = Σ C(outdeg, 2) and the edge count; wedge join when
    W/E <= WEDGE_MAX_PER_EDGE, CSR cogroup gather otherwise."""
    row = (
        oriented.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"),
            F.sum("d").alias("e"),
        )
        .first()
    )
    w, e = float(row["w"] or 0.0), float(row["e"] or 0.0)
    return "wedge" if w <= WEDGE_MAX_PER_EDGE * max(e, 1.0) else "csr"


def _check_engine(engine: str) -> None:
    if engine not in ("auto", "wedge", "csr"):
        raise ValueError(f"unknown triangle engine {engine!r}")


def count_triangles(
    edges: DataFrame, engine: str = "auto", n_parts: int | None = None
) -> int:
    """Exact global triangle count.

    ``engine="auto"`` (default) measures the oriented wedge count W =
    Σ C(outdeg, 2) with one aggregation over the (persisted, reused)
    oriented graph and picks the wedge join when W/E <=
    WEDGE_MAX_PER_EDGE (the measured-cheap regime), the CSR cogroup
    gather otherwise; ``"wedge"`` and ``"csr"`` force one engine. Both
    engines produce identical counts (test-asserted; 25M-edge A/B in
    BENCH.md).

    CSR engine: every triangle contributes exactly 3 credits (|C| to
    each endpoint of its closing edge, 1 to the common neighbor), so the
    count is sum(credits) / 3 — exact integer division by construction.
    """
    _check_engine(engine)
    oriented = None
    if engine == "auto":
        oriented = _oriented(edges).persist()
        engine = _auto_engine(oriented)
    try:
        if engine == "wedge":
            return _triangle_rows(edges, oriented=oriented).count()
        row = _csr_credits(edges, n_parts, oriented=oriented).agg(
            F.coalesce(F.sum("t"), F.lit(0)).alias("t")
        ).first()
        return int(row["t"]) // 3
    finally:
        if oriented is not None:
            oriented.unpersist()


def triangles_per_vertex(
    edges: DataFrame, engine: str = "auto", n_parts: int | None = None
) -> DataFrame:
    """(vertex, triangles) — number of triangles each vertex belongs to.

    Vertices in no triangle are omitted (join with the vertex set and
    coalesce(0) if a dense output is needed). ``engine`` picks as in
    :func:`count_triangles`: the wedge join counts each vertex's
    appearances in the triangle rows; the CSR gather credits |C| to
    both endpoints of each oriented edge (a,b) with common set C and 1
    to every c ∈ C, pre-aggregated per cell before the final sum.
    """
    _check_engine(engine)
    oriented = _oriented(edges).persist()
    if engine == "auto":
        engine = _auto_engine(oriented)
    if engine == "csr":
        credits = _csr_credits(edges, n_parts, oriented=oriented)
        return credits.groupBy("vertex").agg(
            F.sum("t").cast("long").alias("triangles")
        )
    t = _triangle_rows(edges, oriented=oriented)
    allv = (
        t.select(F.col("a").alias("vertex"))
        .unionByName(t.select(F.col("b").alias("vertex")))
        .unionByName(t.select(F.col("c").alias("vertex")))
    )
    return allv.groupBy("vertex").agg(F.count(F.lit(1)).alias("triangles"))
