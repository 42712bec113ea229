"""Fused NN-descent supersteps: three grouped Arrow kernels per round.

Reference: the NN-descent iteration (/root/reference/src/index_graph.cpp:
139-190) keeps per-vertex neighbor pools in RAM and mutates them in place.
The round-2 Spark translation ran each sub-step (sample, reverse, local
join, score, merge, re-topL, flag maintenance) as its own chain of wide
DataFrame ops — ~8 shuffles and 3 actions per superstep, measured ~24x
slower per vector than the reference's published SIFT1M build. This module
collapses one superstep into THREE ``applyInPandas`` kernels over hash
blocks of vertices (the CSR-block pattern from operators/csr.py):

  1. sample  : pool rows grouped by block(src) -> S new + S old samples
               per vertex (reference update() sampling,
               src/index_graph.cpp:62-77), each emitted twice — forward
               keyed by src, reverse keyed by dst.
  2. pairgen : samples grouped by block(key) -> reservoir-cap the reverse
               lists at S per flag (:78-113), build per-vertex new/old
               lists, generate new x new (a<b) + new x old candidate
               pairs (join(), :20-45; neighbor.h:86-98), block-dedupe
               canonical pairs, score them IN PLACE against the broadcast
               float32 matrix (no embedding join), and pre-cap candidates
               per target at L (map-side combine). One shuffle carries
               scored candidates.
  3. merge   : cogroup(pool, candidates) by block -> min-dist dedupe,
               per-vertex top-L (the nhood pool re-aggregation,
               include/commom/neighbor.h:39-99), flag maintenance
               (sampled-new entries cleared, :88-111), fresh-insert
               counting for the convergence rate (:172-173).

Every per-vertex operation is a segmented numpy op over the block's rows
(sort + boundary detection), never a per-row Python loop; scoring is
chunked einsum over gathers from the broadcast matrix — bit-identical
distances to knn_graph._score_pairs (same float32 storage, float64
arithmetic). Requires the corpus matrix to fit in a broadcast
(knn_graph.SCORE_BROADCAST_BYTES); corpora above the cap — the 100-TB
path — run the SAME kernels with the matrix sharded into cogrouped
blocks (operators/nnd_blocked, bit-identical output). Candidate volume
per round is the same N*O(S^2) either way; the reverse reservoir cap is
the skew bound.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark.plans.pregel import (
    reclaim_shuffles,
    release_state,
    truncate_state,
)

SAMPLE_SCHEMA = "blk int, key long, nbr long, is_new boolean, fwd boolean"
CAND_SCHEMA = "blk int, src long, dst long, dist double, clear boolean"
MERGE_SCHEMA = "src long, dst long, dist double, is_new boolean, fresh boolean"

#: exclusion sets (init-compared pairs) above this row count are not
#: collected/broadcast — skipping exclusion only re-scores pairs whose
#: (deterministic) distances are already in the pool, so results are
#: unchanged; the guard bounds driver memory.
EXCL_COLLECT_CAP = 5_000_000

#: scratch bytes per float64 buffer in l2_gathered's einsum chunk. The
#: chunk holds four buffers (2 x f32 gathers + 2 x f64 upcasts), ~1.5 MiB
#: in total at this budget, so they stay resident in a core's L2 cache
#: and are reused across chunks instead of streamed through memory. A
#: fixed pair count would grow them with dim: 16,384 pairs makes each
#: float64 buffer 128 MB at 1,024-d and scores ~3x slower (BENCH.md
#: "Round 6: gather-2 scoring"). Preallocating them once per call, not
#: per chunk, still matters: fresh multi-hundred-MB numpy allocations
#: are first-touch page-faulted by the kernel at ~2 s / 64 MB on the
#: virtualized hosts measured (the pathology membw_probe quantifies),
#: which made fresh-buffer scoring ~20x slower than the arithmetic.
_SCORE_CHUNK_BYTES = 512 << 10


def _score_chunk(dim: int) -> int:
    """Pairs per l2_gathered chunk: the byte budget over one float64 row,
    clamped to [16, 16384] pairs so tiny dims still amortize the
    per-chunk numpy calls and huge dims still batch."""
    return min(max(_SCORE_CHUNK_BYTES // (8 * max(dim, 1)), 16), 1 << 14)


def l2_gathered(
    Xa: np.ndarray,
    ids_a: np.ndarray,
    a: np.ndarray,
    Xb: np.ndarray,
    ids_b: np.ndarray,
    b: np.ndarray,
) -> np.ndarray:
    """Squared-L2 for id pairs gathered from two (sorted-ids, float32
    matrix) stores — THE distance kernel of the engine (reference
    Distance::compare, /root/reference/include/commom/distance.h:17-21).

    Bit-identical to ``einsum over (X[idx].astype(f64) - ...)`` — same
    float32 storage rounding, float64 subtract/accumulate — but all
    scratch buffers are preallocated once and reused across chunks:
    np.take(out=) for the gathers, np.copyto for the exact f32->f64
    upcast, in-place subtract. Measured 20x+ faster than the fresh-
    allocation idiom on page-fault-slow hosts, identical outputs.
    """
    n = a.size
    out = np.empty(n, np.float64)
    if n == 0:
        return out
    dim = Xa.shape[1]
    ch = min(_score_chunk(dim), n)
    ga = np.empty((ch, dim), Xa.dtype)
    gb = np.empty((ch, dim), Xb.dtype)
    da = np.empty((ch, dim), np.float64)
    db = np.empty((ch, dim), np.float64)
    for i in range(0, n, ch):
        j = min(i + ch, n)
        m = j - i
        np.take(Xa, np.searchsorted(ids_a, a[i:j]), axis=0, out=ga[:m])
        np.take(Xb, np.searchsorted(ids_b, b[i:j]), axis=0, out=gb[:m])
        np.copyto(da[:m], ga[:m])
        np.copyto(db[:m], gb[:m])
        np.subtract(da[:m], db[:m], out=da[:m])
        out[i:j] = np.einsum("ij,ij->i", da[:m], da[:m])
    return out

#: target pool rows per merge/sample block. ``n_blocks`` must grow with
#: the corpus, not the core count: at 10^9 vertices with L=30 a
#: defaultParallelism-sized block would hold ~10^9/B pool rows in ONE
#: applyInPandas group — an OOM cliff. Deriving B from N*L keeps every
#: block's pandas frame bounded regardless of corpus size.
POOL_ROWS_PER_BLOCK = 2_000_000


#: pool rows (N x L) below which the 4x floor reverts to a plain
#: core-count floor: with tiny pools the per-group fixed cost of 4x
#: more applyInPandas groups outweighs the hash-collision fix.
#: Measured both sides (tools/fused_floor_ab.py, 2x2 interleaved
#: fresh-JVM pairs, identical checksums): at 50k x l=30 (1.5M pool
#: rows) B=128 wins both pairs (13.0/13.3 vs 16.0/16.0 s rounds-wall);
#: at 20k x l=30 (0.6M rows) B=32 wins both (9.1/8.3 vs 9.5/10.7 s).
#: Crossover set at the ~geometric midpoint.
FLOOR4_MIN_POOL_ROWS = 1_000_000


def auto_n_blocks(default_parallelism: int, n_vecs: int, l: int) -> int:
    """Block count for the fused/blocked kernels: enough blocks that
    each holds ~POOL_ROWS_PER_BLOCK pool rows, never fewer than 4x the
    core count (plain core count below FLOOR4_MIN_POOL_ROWS — see the
    measured crossover above). The 4x floor is a hash-collision fix,
    not extra parallelism per se: B distinct blk keys hash into the
    shuffle's P partitions, and with B ~ P a large fraction of
    partitions receive zero keys (E[non-empty] = P(1-(1-1/P)^B) — e.g.
    32 keys into 64 partitions leave ~25 busy tasks on 32 cores,
    measured as a 21-task merge stage). At 4x the keys the reduce side
    fills and the per-key load evens out. Measured (BENCH.md n_blocks
    A/B, 500k x 128-d, both interleaved pairs): rounds-wall 162/209 +
    150/241 s at B=32 vs 136/155 + 95/99 s at B=128 — up to 1.6x; the
    same direction on the FUSED path at 50k (fused_floor_ab). The
    blocked loop no longer hashes its blocks into partitions: it places
    block ``b`` on partition ``b`` (repartitionById), so there the floor
    only sizes the blocks; the fused loop still hash-partitions."""
    need = -(-(n_vecs * l) // POOL_ROWS_PER_BLOCK)  # ceil div
    floor = (
        4 * default_parallelism
        if n_vecs * l >= FLOOR4_MIN_POOL_ROWS
        else default_parallelism
    )
    return int(max(floor, need))


def _hash_np(first, *rest):
    """Numpy twin of knn_graph._hash_order — MUST stay in lockstep
    (tests/test_nnd_fused.py asserts SQL/numpy equality)."""
    first = np.asarray(first, np.int64)
    h = np.full(first.shape, 146959810393, dtype=np.int64)
    for c in (first, *rest):
        c = np.asarray(c, np.int64)
        h = ((h % (1 << 31)) * 1_099_511_627 + (c % (1 << 31))) % (1 << 61)
    return h


def blk_col(col, n_blocks: int):
    """SQL-side block assignment; _blk_np is its numpy twin."""
    from kgraph_framework_spark.operators.knn_graph import _hash_order

    return F.pmod(_hash_order(col), F.lit(n_blocks)).cast("int")


def _blk_np(ids, n_blocks: int):
    return (_hash_np(ids) % n_blocks).astype(np.int32)


def _ranks(change: np.ndarray) -> np.ndarray:
    """Rank within runs; change[i]=True marks the start of a new group."""
    n = change.size
    if n == 0:
        return np.empty(0, np.int64)
    starts = np.flatnonzero(change)
    reps = np.diff(np.append(starts, n))
    return np.arange(n, dtype=np.int64) - np.repeat(starts, reps)


def _pack2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(a, b) int64 pairs as 16-byte keys whose BYTE order equals the
    numeric lexicographic order (big-endian; ids are non-negative)."""
    out = np.empty(a.size, dtype=[("a", ">i8"), ("b", ">i8")])
    out["a"], out["b"] = a, b
    return out.view("V16").ravel()


def _unpack2(pk: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    rec = pk.view([("a", ">i8"), ("b", ">i8")])
    return rec["a"].astype(np.int64), rec["b"].astype(np.int64)


def _member(sorted_pack: np.ndarray, q: np.ndarray) -> np.ndarray:
    if sorted_pack.size == 0 or q.size == 0:
        return np.zeros(q.size, bool)
    idx = np.searchsorted(sorted_pack, q)
    ok = idx < sorted_pack.size
    return ok & (sorted_pack[np.where(ok, idx, 0)] == q)


def _empty(schema_cols: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {c: pd.Series(dtype=t) for c, t in schema_cols.items()}
    )


def _order_target_dist(
    t: np.ndarray, td: np.ndarray, tn: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(t, td, tn) reordered ascending by (t, td, tn) — equivalent to
    ``np.lexsort((tn, td, t))`` but via two 1-key sorts plus a rare-tie
    fix, ~3x faster at multi-million rows of full-width 63-bit ids
    (multi-key lexsort re-ranks every key at full width; here only the
    equal-(t, td) runs — measure-zero for float64 distances of distinct
    pairs — ever pay for the third key)."""
    o = np.argsort(td)
    t1, d1, n1 = t[o], td[o], tn[o]
    o2 = np.argsort(t1, kind="stable")
    t2, d2, n2 = t1[o2], d1[o2], n1[o2]
    tie = (t2[1:] == t2[:-1]) & (d2[1:] == d2[:-1])
    if tie.any():
        ti = np.flatnonzero(np.r_[False, tie] | np.r_[tie, False])
        so = np.lexsort((n2[ti], d2[ti], t2[ti]))
        t2[ti] = t2[ti][so]
        d2[ti] = d2[ti][so]
        n2[ti] = n2[ti][so]
    return t2, d2, n2


_SAMPLE_COLS = {"blk": "int32", "key": "int64", "nbr": "int64",
                "is_new": "bool", "fwd": "bool"}
_CAND_COLS = {"blk": "int32", "src": "int64", "dst": "int64",
              "dist": "float64", "clear": "bool"}
_MERGE_COLS = {"src": "int64", "dst": "int64", "dist": "float64",
               "is_new": "bool", "fresh": "bool"}


def topk_per_src(
    df: DataFrame, k: int, n_blocks: int | None = None
) -> DataFrame:
    """Per-src top-k of (src, dst, dist) by (dist, dst) — block kernel.

    Replaces ``row_number() over (partition by src order by dist, dst)``:
    same result, but the sort is a segmented numpy lexsort inside one
    grouped-Arrow stage over hash blocks of vertices instead of a
    sort-based window over per-vertex partitions. min-dist dedupe of
    repeated (src, dst) rows is folded in (windows needed a separate
    groupBy for that).
    """
    spark = df.sparkSession
    B = n_blocks or spark.sparkContext.defaultParallelism

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(
                {"src": "int64", "dst": "int64", "dist": "float64"}
            )
        s = pdf["src"].to_numpy(np.int64)
        d = pdf["dst"].to_numpy(np.int64)
        dist = pdf["dist"].to_numpy(np.float64)
        # min-dist dedupe needs (src, dst)-sorted adjacency first
        o = np.lexsort((dist, d, s))
        s, d, dist = s[o], d[o], dist[o]
        dup = np.r_[False, (s[1:] == s[:-1]) & (d[1:] == d[:-1])]
        s, d, dist = s[~dup], d[~dup], dist[~dup]
        o = np.lexsort((d, dist, s))
        s, d, dist = s[o], d[o], dist[o]
        keep = _ranks(np.r_[True, s[1:] != s[:-1]]) < k
        return pd.DataFrame({"src": s[keep], "dst": d[keep],
                             "dist": dist[keep]})

    return (
        df.select(blk_col(F.col("src"), B).alias("blk"), "src", "dst", "dist")
        .groupBy("blk")
        .applyInPandas(lambda p: fn(p), "src long, dst long, dist double")
    )


def score_sym_topk(pairs: DataFrame, bc, k: int) -> DataFrame:
    """Score (a, b) pairs against the broadcast matrix, emit BOTH
    directions, and per-src top-k WITHIN each Arrow batch — a map-side
    combine for init pipelines (T1 two-stage ranking).

    Input pairs should keep their bucket/leaf locality (do NOT .distinct()
    them first): co-bucketed pairs share srcs within a batch, so the
    local top-k compresses a size-m bucket's ~m^2 symmetric rows to
    ~m*k before the shuffle. Duplicate pairs across tables/trees score
    to identical values and collapse in the global top-k, so skipping
    the distinct trades a little redundant (vectorized) scoring for one
    less shuffle and a much smaller one after. Feed the result to
    :func:`topk_per_src` for the global cut.
    """

    def fn(it):
        ids, X = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            a = pdf["a"].to_numpy(np.int64)
            b = pdf["b"].to_numpy(np.int64)
            dist = l2_gathered(X, ids, a, X, ids, b)
            s = np.concatenate([a, b])
            t = np.concatenate([b, a])
            dd = np.concatenate([dist, dist])
            o = np.lexsort((t, dd, s))
            s, t, dd = s[o], t[o], dd[o]
            keep = _ranks(np.r_[True, s[1:] != s[:-1]]) < k
            yield pd.DataFrame(
                {"src": s[keep], "dst": t[keep], "dist": dd[keep]}
            )

    return pairs.select("a", "b").mapInPandas(
        fn, schema="src long, dst long, dist double"
    )


def _sample_kernel(s: int, seed: int, n_blocks: int):
    """Stage 1: per-vertex S new + S old samples, emitted fwd + rev.

    Samples are TOP-OF-POOL — the S closest entries per flag, by (dist,
    dst) — matching the reference's update(), which scans each pool in
    ascending distance order and takes flagged entries until S are seen
    (/root/reference/src/index_graph.cpp:62-77). At small S (the SIFT1M
    parameterization S=10, L=70) this IS the descent gradient: joining
    the closest candidates' neighborhoods is what makes the graph
    descend; a hash-random S of a 70-pool (rounds 2-3 of this engine)
    converges only when S is a large fraction of L. ``seed`` must be
    the SAME reservoir seed the round's pairgen kernel uses
    (seed + 3*it + 2): it drives the exact sender-side reverse pre-cut
    (see _sample_np) whose per-block top-S order must match the
    receiver-side reservoir's.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(_SAMPLE_COLS)
        key, nbr, isn, fwd = _sample_np(
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["is_new"].to_numpy(bool),
            pdf["dist"].to_numpy(np.float64),
            s,
            rev_seed=seed,
        )
        return pd.DataFrame(
            {"blk": _blk_np(key, n_blocks), "key": key, "nbr": nbr,
             "is_new": isn, "fwd": fwd}
        )

    return fn


def _sample_np(
    src: np.ndarray,
    dst: np.ndarray,
    new: np.ndarray,
    dist: np.ndarray,
    s: int,
    rev_seed: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Numpy core of the sample stage, shared with the packed blocked
    loop (operators/nnd_blocked): top-of-pool S per (vertex, flag),
    emitted forward (keyed by src) and reverse (keyed by dst) as
    (key, nbr, is_new, fwd). Order-insensitive: the lexsort totally
    orders the group's entries.

    ``rev_seed`` (the pairgen round's reservoir seed) enables the
    EXACT sender-side reverse pre-cut — the map-side combine of the
    receiver's top-S-by-hash reservoir: within THIS sender block, any
    reverse row ranked >= S per (receiver, flag) by the same
    (hash(sender, rev_seed), sender) order the receiver uses can never
    enter the receiver's global top-S (global top-S is a subset of the
    union of per-sender-block top-S), so it is dropped before the
    sample->pairgen shuffle. Provably output-identical (the reservoir
    order is a strict total order — hash ties broken by sender id at
    both sites); the cut only bites for receivers drawing more than S
    reverse rows from ONE sender block, i.e. pool in-degree hubs
    (see BENCH.md reverse pre-cut section for the measured local
    effect)."""
    order = np.lexsort((dst, dist, new, src))
    src_s, dst_s, new_s = src[order], dst[order], new[order]
    change = np.empty(order.size, bool)
    if order.size:
        change[0] = True
        change[1:] = (src_s[1:] != src_s[:-1]) | (new_s[1:] != new_s[:-1])
    keep = _ranks(change) < s
    ks, kd, kn = src_s[keep], dst_s[keep], new_s[keep]
    rs, rd, rn = kd, ks, kn  # reverse rows: key=dst
    if rev_seed is not None and rs.size:
        hk = _hash_np(rd, rev_seed)
        ro = np.lexsort((rd, hk, rn, rs))
        rch = np.empty(ro.size, bool)
        rch[0] = True
        rch[1:] = (rs[ro][1:] != rs[ro][:-1]) | (rn[ro][1:] != rn[ro][:-1])
        rkeep = np.sort(ro[_ranks(rch) < s])
        rs, rd, rn = rs[rkeep], rd[rkeep], rn[rkeep]
    key = np.concatenate([ks, rs])
    nbr = np.concatenate([kd, rd])
    isn = np.concatenate([kn, rn])
    fwd = np.concatenate([np.ones(ks.size, bool), np.zeros(rs.size, bool)])
    return key, nbr, isn, fwd


def _canonical_pairs(
    key: np.ndarray,
    nbr: np.ndarray,
    new: np.ndarray,
    fwd: np.ndarray,
    s: int,
    seed: int,
    excl_bc,
) -> tuple[np.ndarray, np.ndarray]:
    """Shared candidate generation for one sample block: reverse
    reservoir cap, (vertex, nbr, flag) dedupe, per-vertex new/old lists,
    new x new (a<b) + new x old local join, block-level canonical dedupe
    and exclusion. Returns canonical (lo, hi) with lo < hi."""
    # reverse reservoir cap at S per (vertex, flag) — J8. The order is
    # (hash(sender, seed), sender): a STRICT total order (hash ties
    # broken by sender id), which makes the receiver-side cap exactly
    # the union-of-sender-block-top-S that _sample_np's pre-cut
    # computes map-side.
    ridx = np.flatnonzero(~fwd)
    kept_rev = np.empty(0, np.int64)
    if ridx.size:
        hk = _hash_np(nbr[ridx], seed)
        ro = np.lexsort((nbr[ridx], hk, new[ridx], key[ridx]))
        rs = ridx[ro]
        change = np.empty(rs.size, bool)
        change[0] = True
        change[1:] = (key[rs][1:] != key[rs][:-1]) | (
            new[rs][1:] != new[rs][:-1]
        )
        kept_rev = rs[_ranks(change) < s]
    kept = np.concatenate([np.flatnonzero(fwd), kept_rev])
    k2, n2, new2 = key[kept], nbr[kept], new[kept]

    # dedupe (vertex, nbr, flag)
    o = np.lexsort((new2, n2, k2))
    k2, n2, new2 = k2[o], n2[o], new2[o]
    if k2.size:
        dup = (
            (k2[1:] == k2[:-1]) & (n2[1:] == n2[:-1])
            & (new2[1:] == new2[:-1])
        )
        um = np.r_[True, ~dup]
        k2, n2, new2 = k2[um], n2[um], new2[um]

    verts, vcode = np.unique(k2, return_inverse=True)
    nv = verts.size

    def padded(mask: np.ndarray) -> np.ndarray:
        c, v = vcode[mask], n2[mask]
        if c.size == 0:
            return np.full((nv, 0), -1, np.int64)
        ch = np.r_[True, c[1:] != c[:-1]]
        r = _ranks(ch)
        M = np.full((nv, int(r.max()) + 1), -1, np.int64)
        M[c, r] = v
        return M

    MN, MO = padded(new2), padded(~new2)
    wn, wo = MN.shape[1], MO.shape[1]
    pa, pb = [], []
    if wn >= 2:  # new x new, a<b once via upper triangle
        iu, iv = np.triu_indices(wn, 1)
        A, B = MN[:, iu].ravel(), MN[:, iv].ravel()
        m = (A >= 0) & (B >= 0)
        pa.append(A[m])
        pb.append(B[m])
    if wn >= 1 and wo >= 1:  # new x old
        A = np.repeat(MN, wo, axis=1).ravel()
        B = np.tile(MO, (1, wn)).ravel()
        m = (A >= 0) & (B >= 0) & (A != B)
        pa.append(A[m])
        pb.append(B[m])

    if not pa:
        z = np.empty(0, np.int64)
        return z, z
    a = np.concatenate(pa)
    b = np.concatenate(pb)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    su = np.unique(_pack2(lo, hi))  # block-level canonical dedupe
    if excl_bc is not None and su.size:
        su = su[~_member(excl_bc.value, su)]
    return _unpack2(su)


def _pairgen_kernel(s: int, l: int, seed: int, n_blocks: int, bc, excl_bc):
    """Stage 2: reverse cap + local join + in-place scoring + target
    cap."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(_CAND_COLS)
        key = pdf["key"].to_numpy(np.int64)
        nbr = pdf["nbr"].to_numpy(np.int64)
        new = pdf["is_new"].to_numpy(bool)
        fwd = pdf["fwd"].to_numpy(bool)

        lo, hi = _canonical_pairs(key, nbr, new, fwd, s, seed, excl_bc)

        frames = []
        if lo.size:
            ids, X = bc.value
            dists = l2_gathered(X, ids, lo, X, ids, hi)
            # symmetric insert targets, pre-capped at L per target
            t = np.concatenate([lo, hi])
            tn = np.concatenate([hi, lo])
            td = np.concatenate([dists, dists])
            t, td, tn = _order_target_dist(t, td, tn)
            ch = np.r_[True, t[1:] != t[:-1]]
            kp = _ranks(ch) < l
            t, tn, td = t[kp], tn[kp], td[kp]
            frames.append((t, tn, td, np.zeros(t.size, bool)))

        fm = fwd & new  # sampled-new forward entries: clear their flags
        if fm.any():
            frames.append(
                (key[fm], nbr[fm], np.zeros(fm.sum()), np.ones(fm.sum(), bool))
            )
        if not frames:
            return _empty(_CAND_COLS)
        osrc = np.concatenate([f[0] for f in frames])
        odst = np.concatenate([f[1] for f in frames])
        odist = np.concatenate([f[2] for f in frames])
        oclear = np.concatenate([f[3] for f in frames])
        return pd.DataFrame(
            {"blk": _blk_np(osrc, n_blocks), "src": osrc, "dst": odst,
             "dist": odist, "clear": oclear}
        )

    return fn


def _merge_kernel(l: int):
    """Stage 3: pool ∪ candidates -> min-dedupe, top-L, flags, fresh."""

    def fn(pool_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        ps = pool_pdf["src"].to_numpy(np.int64) if len(pool_pdf) else np.empty(0, np.int64)
        pdd = pool_pdf["dst"].to_numpy(np.int64) if len(pool_pdf) else np.empty(0, np.int64)
        pdist = pool_pdf["dist"].to_numpy(np.float64) if len(pool_pdf) else np.empty(0)
        pnew = pool_pdf["is_new"].to_numpy(bool) if len(pool_pdf) else np.empty(0, bool)

        if len(cand_pdf):
            cl = cand_pdf["clear"].to_numpy(bool)
            cs = cand_pdf["src"].to_numpy(np.int64)
            cd = cand_pdf["dst"].to_numpy(np.int64)
            cdist = cand_pdf["dist"].to_numpy(np.float64)
            clears = np.sort(_pack2(cs[cl], cd[cl]))
            cs, cd, cdist = cs[~cl], cd[~cl], cdist[~cl]
        else:
            clears = np.empty(0, "V16")
            cs = cd = np.empty(0, np.int64)
            cdist = np.empty(0)

        out = _merge_np(ps, pdd, pdist, pnew, cs, cd, cdist, clears, l)
        if out is None:
            return _empty(_MERGE_COLS)
        s2, d2, dist2, is_new, fresh = out
        return pd.DataFrame(
            {"src": s2, "dst": d2, "dist": dist2,
             "is_new": is_new, "fresh": fresh}
        )

    return fn


def _merge_np(
    ps: np.ndarray,
    pdd: np.ndarray,
    pdist: np.ndarray,
    pnew: np.ndarray,
    cs: np.ndarray,
    cd: np.ndarray,
    cdist: np.ndarray,
    clears: np.ndarray,
    l: int,
):
    """Numpy core of the merge stage, shared with the packed blocked
    loop: pool ∪ candidates -> min-dist dedupe, per-src top-L by
    (dist, dst), flag maintenance against the sorted ``clears`` packed
    pairs, fresh-insert marking. Returns (src, dst, dist, is_new,
    fresh) with src grouped and each group (dist, dst)-ascending, or
    None when the union is empty."""
    ppk = _pack2(ps, pdd)
    po = np.argsort(ppk, kind="stable")
    ppk_s, pflag_s = ppk[po], pnew[po]

    s_all = np.concatenate([ps, cs])
    d_all = np.concatenate([pdd, cd])
    dist_all = np.concatenate([pdist, cdist])
    if s_all.size == 0:
        return None
    # min-dist dedupe per (src, dst) + top-L order. The previous two
    # 3-key lexsorts over full-width 63-bit ids dominated this kernel's
    # wall; the same result comes from three 1-key sorts (measured ~1.6x
    # faster at the 6M-row block size):
    #   1. unstable argsort by dist — equal dists of the same (s, d) are
    #      identical rows, so instability is value-invisible there;
    #   2. STABLE argsort of the packed (s, d) keys — first-in-group is
    #      then the minimal dist, i.e. the old sort-and-mark-first
    #      dedupe; np.sort of the kept positions restores dist order;
    #   3. stable argsort by src — per-src entries stay dist-ascending.
    # Equal-dist ties between DIFFERENT dsts of one src are then the
    # only rows whose (dist, dst) order step 1 didn't fix; the tie pass
    # below re-sorts exactly those (rare) runs, so the output is
    # bit-identical to the old double-lexsort at every input.
    o = np.argsort(dist_all)
    s_a, d_a, dist_a = s_all[o], d_all[o], dist_all[o]
    pk_a = _pack2(s_a, d_a)
    po = np.argsort(pk_a, kind="stable")
    pk_po = pk_a[po]
    first = np.r_[True, pk_po[1:] != pk_po[:-1]]
    keep_idx = np.sort(po[first])
    s_u, d_u, dist_u = s_a[keep_idx], d_a[keep_idx], dist_a[keep_idx]
    o2 = np.argsort(s_u, kind="stable")
    s2, d2, dist2 = s_u[o2], d_u[o2], dist_u[o2]
    tie = (s2[1:] == s2[:-1]) & (dist2[1:] == dist2[:-1])
    if tie.any():
        t_idx = np.flatnonzero(np.r_[False, tie] | np.r_[tie, False])
        so = np.lexsort((d2[t_idx], dist2[t_idx], s2[t_idx]))
        s2[t_idx] = s2[t_idx][so]
        d2[t_idx] = d2[t_idx][so]
        dist2[t_idx] = dist2[t_idx][so]
    keep = _ranks(np.r_[True, s2[1:] != s2[:-1]]) < l
    s2, d2, dist2 = s2[keep], d2[keep], dist2[keep]

    pk2 = _pack2(s2, d2)
    idx = np.searchsorted(ppk_s, pk2)
    ok = idx < ppk_s.size
    in_pool = ok & (ppk_s[np.where(ok, idx, 0)] == pk2)
    old_flag = np.where(in_pool, pflag_s[np.where(ok, idx, 0)], False)
    cleared = _member(clears, pk2)
    is_new = np.where(in_pool, old_flag & ~cleared, True)
    return s2, d2, dist2, is_new, ~in_pool


def collect_exclusion(exclude_pairs: DataFrame, spark: SparkSession):
    """Broadcast the init-compared pair set as sorted packed keys.

    Returns None when the set exceeds EXCL_COLLECT_CAP — skipping the
    exclusion re-scores those pairs to identical distances, so the graph
    is unchanged; only redundant distance evaluations are added (the
    reference's inSameBucket skip is likewise a pure work-saver,
    /root/reference/include/index/index_graph.h:39-44).
    """
    canon = (
        exclude_pairs.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .limit(EXCL_COLLECT_CAP + 1)
        .toPandas()
    )
    if len(canon) > EXCL_COLLECT_CAP:
        return None
    pk = np.sort(
        _pack2(canon["a"].to_numpy(np.int64), canon["b"].to_numpy(np.int64))
    )
    return spark.sparkContext.broadcast(pk)


def nn_descent_fused(
    spark: SparkSession,
    emb: DataFrame,
    bc,
    k: int,
    l: int,
    s: int,
    max_iters: int,
    min_update_rate: float,
    seed: int,
    init: DataFrame | None = None,
    exclude_pairs: DataFrame | None = None,
    n_blocks: int | None = None,
    min_recall: float | None = None,
    control_df: DataFrame | None = None,
    control_total: int = 0,
) -> tuple[DataFrame, list[dict]]:
    """Fused superstep loop. ``bc`` is a knn_graph.broadcast_matrix handle
    (required — callers take the blocked loop without one). Returns
    (pool, metrics); the caller applies the final top-K cut.

    ``min_recall`` + ``control_df``/``control_total`` (prepared by
    nn_descent) enable the reference's sampled-recall stop criterion
    (src/index_graph.cpp:172-179): pool membership of exact control
    truth, a broadcast semi-join per round here. The update-rate stop
    stays active alongside."""
    from kgraph_framework_spark.operators.knn_graph import (
        _score_pairs,
        random_init,
    )

    B = n_blocks or auto_n_blocks(
        spark.sparkContext.defaultParallelism, len(bc.value[0]), l
    )
    excl_bc = None
    if exclude_pairs is not None:
        excl_bc = collect_exclusion(exclude_pairs, spark)

    pool = init if init is not None else random_init(emb, k, seed)
    scored = _score_pairs(
        pool.select(F.col("src").alias("a"), F.col("dst").alias("b")), emb, bc
    )
    pool = scored.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "dist",
        F.lit(True).alias("is_new"),
    )
    pool = truncate_state(spark, pool)

    metrics: list[dict] = []
    n_edges_target = None
    for it in range(max_iters):
        t_round = time.monotonic()
        pool_b = pool.select(
            blk_col(F.col("src"), B).alias("blk"), "src", "dst", "dist",
            "is_new",
        )
        samples = pool_b.groupBy("blk").applyInPandas(
            # sample seed == this round's pairgen reservoir seed, so the
            # sender-side reverse pre-cut ranks exactly like the
            # receiver-side reservoir (see _sample_np)
            _sample_kernel(s, seed + 3 * it + 2, B),
            SAMPLE_SCHEMA,
        )
        cands = samples.groupBy("blk").applyInPandas(
            _pairgen_kernel(s, l, seed + 3 * it + 2, B, bc, excl_bc),
            CAND_SCHEMA,
        )
        merged = (
            pool_b.groupBy("blk")
            .cogroup(cands.groupBy("blk"))
            .applyInPandas(
                lambda kp, cp: _merge_kernel(l)(kp, cp), MERGE_SCHEMA
            )
        )
        new_pool = truncate_state(spark, merged)
        fresh = new_pool.where(F.col("fresh")).count()
        release_state(pool)
        reclaim_shuffles(spark, len(bc.value[0]))
        if n_edges_target is None:
            n_edges_target = new_pool.count()
        rate = fresh / max(n_edges_target, 1)
        row_m = {"superstep": it, "new_entries": int(fresh),
                 "update_rate": rate,
                 "wall_sec": round(time.monotonic() - t_round, 2)}
        pool = new_pool.select("src", "dst", "dist", "is_new")
        recall_stop = False
        if min_recall is not None and control_df is not None:
            # timed separately, mirroring the reference's protocol (its
            # per-iter wall excludes eval_recall)
            t_ev = time.monotonic()
            hits = pool.join(
                F.broadcast(control_df), ["src", "dst"], "left_semi"
            ).count()
            rec = hits / max(control_total, 1)
            row_m["recall"] = round(rec, 4)
            row_m["recall_eval_sec"] = round(time.monotonic() - t_ev, 2)
            recall_stop = rec >= min_recall
        row_m["recall_stop"] = recall_stop
        metrics.append(row_m)
        if recall_stop or rate < min_update_rate:
            break

    if excl_bc is not None:
        excl_bc.unpersist()
    return pool, metrics
