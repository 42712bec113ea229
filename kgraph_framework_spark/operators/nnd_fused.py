"""Shared numpy cores of the NN-descent round, and broadcast scoring.

Reference: the NN-descent iteration (/root/reference/src/index_graph.cpp:
139-190) keeps per-vertex neighbor pools in RAM and mutates them in
place. The engine runs it as ONE loop over packed per-block rows,
operators/nnd_blocked.nn_descent_blocked; this module holds what each of
that loop's stages computes on one block's entries:

  _sample_np       : S new + S old top-of-pool samples per vertex
                     (update(), src/index_graph.cpp:62-77), emitted
                     forward (keyed by src) and reverse (keyed by dst),
                     with the exact sender-side reverse pre-cut.
  _canonical_pairs : reverse reservoir cap at S per flag (:78-113),
                     per-vertex new/old lists, new x new (a<b) + new x
                     old local join (join(), :20-45; neighbor.h:86-98),
                     block-level canonical dedupe and exclusion.
  _sampled_new     : the flag clears — the forward sample's new entries,
                     derived again from the round-start pool by the merge.
  _merge_np        : min-dist dedupe, per-vertex top-L (the nhood pool
                     re-aggregation, include/commom/neighbor.h:39-99),
                     flag maintenance (sampled-new entries cleared,
                     :88-111), fresh-insert marking for the convergence
                     rate (:172-173).
  l2_gathered      : THE distance kernel — chunked einsum over gathers
                     from (sorted ids, float32 matrix) stores.

Every per-vertex operation is a segmented numpy op over the block's rows
(sort + boundary detection), never a per-row Python loop, and every core
totally orders its group's entries before acting, so results do not
depend on block count or row order.

Broadcast scoring: when the corpus matrix fits a driver broadcast
(knn_graph.broadcast_matrix), the loop's pairgen scores its canonical
pairs IN PLACE with l2_gathered against the handle instead of through the
cogroup gather — same float32 storage, same float64 arithmetic, so both
scoring paths build the bit-identical graph. score_sym_topk and
topk_per_src serve the init pipelines (kdtree, LSH) that score against
the same handle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# not called here: the descent loop's truncation runs in nnd_blocked, but
# tracers patch truncate_state by (module, name) at both operator modules
from kgraph_framework_spark.plans.pregel import truncate_state  # noqa: F401

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
#: Measured both sides on the broadcast-scored loop (BENCH.md
#: "Fused-path 4x-floor A/B", 2x2 interleaved fresh-JVM pairs,
#: identical checksums): at 50k x l=30 (1.5M pool rows) B=128 wins both
#: pairs (13.0/13.3 vs 16.0/16.0 s rounds-wall); at 20k x l=30 (0.6M
#: rows) B=32 wins both (9.1/8.3 vs 9.5/10.7 s). Crossover set at the
#: ~geometric midpoint.
FLOOR4_MIN_POOL_ROWS = 1_000_000


def auto_n_blocks(default_parallelism: int, n_vecs: int, l: int) -> int:
    """Merge/sample block count B of the descent loop: enough blocks
    that each holds ~POOL_ROWS_PER_BLOCK pool rows, never fewer than 4x
    the core count (plain core count below FLOOR4_MIN_POOL_ROWS — see
    the measured crossover above). The 4x floor was measured as a
    hash-collision fix: B distinct blk keys hashed into the shuffle's P
    partitions, and with B ~ P a large fraction of partitions received
    zero keys (E[non-empty] = P(1-(1-1/P)^B) — e.g. 32 keys into 64
    partitions leave ~25 busy tasks on 32 cores, measured as a 21-task
    merge stage). Measured (BENCH.md n_blocks A/B, 500k x 128-d, both
    interleaved pairs): rounds-wall 162/209 + 150/241 s at B=32 vs
    136/155 + 95/99 s at B=128 — up to 1.6x; the same direction on the
    broadcast-scored loop at 50k. The loop now places block ``b`` on
    partition ``b`` (repartitionById), so the floor only sizes the
    blocks; those measurements are why it stays."""
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


def _sample_np(
    src: np.ndarray,
    dst: np.ndarray,
    new: np.ndarray,
    dist: np.ndarray,
    s: int,
    rev_seed: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Numpy core of the sample stage: top-of-pool S per (vertex, flag)
    — the S closest entries by (dist, dst), as the reference's update()
    scans each pool in ascending distance order and takes flagged
    entries until S are seen (src/index_graph.cpp:62-77) — emitted
    forward (keyed by src) and reverse (keyed by dst) as (key, nbr,
    is_new, fwd). Order-insensitive: the lexsort totally orders the
    group's entries.

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


def _sampled_new(
    src: np.ndarray,
    dst: np.ndarray,
    new: np.ndarray,
    dist: np.ndarray,
    s: int,
) -> np.ndarray:
    """Sorted _pack2(src, dst) keys of the entries whose new flag the
    round clears (src/index_graph.cpp:88-111): the forward sample's new
    entries, i.e. the top-S new entries per src by (dist, dst) — the
    same order and cap _sample_np applies to the same round-start pool.
    The merge holds that pool, so it derives them itself instead of
    receiving them from the sample stage."""
    m = np.flatnonzero(new)
    if m.size == 0:
        return np.empty(0, "V16")
    o = m[np.lexsort((dst[m], dist[m], src[m]))]
    so = src[o]
    keep = o[_ranks(np.r_[True, so[1:] != so[:-1]]) < s]
    return np.sort(_pack2(src[keep], dst[keep]))


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
    """Numpy core of the merge stage: pool ∪ candidates -> min-dist dedupe, per-src top-L by
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
