"""The NN-descent superstep loop, over a PACKED-BUFFER dataflow.

Reference behavior to match: the NN-descent kernel has ONE shape at any
corpus size that fits RAM (/root/reference/src/index_graph.cpp:139-190)
— there is no algorithmic cliff between "small" and "large" N. So the
engine has one loop, nn_descent_blocked, at every size; only the scoring
stage has two forms. While the float32 matrix fits a driver broadcast
(knn_graph.broadcast_matrix), pairgen scores its pairs in place against
it. Beyond that, the matrix is partitioned into G hash blocks and
scored by a two-stage cogroup gather (the CSR cogroup pattern,
operators/csr.py); nothing is broadcast.

The round-4 measured bottleneck was not arithmetic but ROW MACHINERY: a
1M-vector round moved ~500M five-column rows through 5 chained
shuffle/Arrow boundaries at ~2M rows/s (scoring the same round's 190M
pairs takes ~25 s of CPU). So every inter-kernel edge here is PACKED:
one row per (group key, producing block) whose cells are raw little-
endian numpy buffers (int64 ids, float64 dists, uint8 flags, 16-byte
canonical pair keys). A superstep shuffles a few thousand such rows —
the same bytes, none of the per-row serialization. This is the north
star's own prescription ("adjacency as per-partition CSR blocks: Arrow
arrays of offsets + packed neighbor ids") applied to the descent loop's
transient state as well as the adjacency itself.

Superstep dataflow (B merge blocks; the numpy cores are in nnd_fused):

  sample  : narrow map over the packed pool rows -> S new + S old per
            vertex (_sample_np), re-segmented by blk(key) and emitted
            as <= B packed rows per pool row.
  pairgen : sample rows grouped by blk(key) -> reverse reservoir cap +
            local join + canonical dedupe (_canonical_pairs), then
            scoring in one of two forms:
    broadcast: score the pairs in place (l2_gathered against the
            broadcast matrix) and emit the capped candidates
            (_emit_candidates) as <= B packed rows keyed by merge block.
    gather  : emit <= G packed rows of 16-byte pair keys, keyed by
            g = blk(lo), into two cogroups with the sharded matrix:
      gather-1: cogroup(pairs by g, emb_blocks by g) — global pair
            dedupe for the block, then ONE packed row per destination
            grid cell g2 = blk(hi, gh) * r + blk(lo, r): the pair keys
            plus the UNIQUE lo vectors gathered from block g (each
            distinct lo vector ships once per cell, never once per
            pair — and because the stripe is a function of lo, at most
            gh cells total; see grid_dims for why gh ~ sqrt(tasks)).
      gather-2: cogroup(cells by g2, replicated coarse emb cells) —
            gather hi vectors, score with l2_gathered, emit the capped
            candidates (_emit_candidates) keyed by merge block.
  merge   : cogroup(packed pool, packed candidates) by blk -> _merge_np
            (min-dist dedupe, top-L, flag clears, fresh marking), ONE
            packed pool row out per block plus its entry/fresh counts.
            The flag clears are the forward sample's new entries, which
            the merge re-derives from the round-start pool it holds
            (_sampled_new), so nothing but candidates crosses into it.

One Spark action per round: the truncate that materializes the merged
pool; the entry/fresh counts are observed inside that job.

Placement: every packed exchange groups by a small dense integer key
(blk in [0, B), g in [0, G), g2 in [0, gh*r)), so each grouping side is
placed with ``repartitionById(n_keys, key)`` (PySpark >= 4.1): key k on
partition k, one key per task. Spark's murmur3 HashPartitioning
collides on so few keys (g2 = 0..3 lands in partitions 7, 3, 6, 3 of
8, so one task scores two cells while other cores idle), and AQE
coalesces the byte-small but CPU-heavy exchanges into a single task;
neither happens to an id-placed exchange. The static cogroup sides are
cached placed the same way, and a cogroup of two id-placed sides with
equal key counts needs no exchange over the cache. Both sides must be
placed: against a hash-placed fresh side Spark re-shuffles the cache.

Scale accounting per superstep (N vertices, sample S, pool L, dim d):
candidate volume is the reference's N*O(S^2) in both scoring forms. On
the gather path the gathered-vector duplication is bounded by
min(pairs, touched-rows x G) x 4d — it GROWS with the embedding block count G, while gather-task parallelism
EQUALS G, so G balances the two (see n_emb_blocks: matrix bytes /
EMB_BLOCK_BYTES and a pair-buffer floor for memory, a core-count floor
capped at the candidate fan-out for CPU). On a real cluster
EMB_BLOCK_BYTES is the per-task memory knob: G grows linearly with
corpus bytes, so per-task memory stays constant at any N. Nothing is
broadcast, collected, or required to fit on one node.

Bit-identity: sampling hashes and scoring arithmetic are shared by both
scoring forms (nnd_fused._sample_np/_canonical_pairs/_merge_np/
l2_gathered), and every kernel totally orders its group's entries
before acting, so broadcast and gather scoring build BIT-IDENTICAL
graphs round for round (asserted in tests/test_nnd_blocked.py).

Wire payloads (network levers for byte-bound clusters; local wall is
page-cache-bound and measured payload-insensitive, BENCH.md): the
packed matrix buffers ship as fp32 (default, bit-exact) or int8 +
per-vector scales (~4x fewer bytes, ~0.4%-of-max rounding, finished by
an exact fp32 re-rank of the top band so the RETURNED graph is exact).
The wire format is length-inferred per buffer (_wire_split) — no
schema change, and the gather packs re-ship slices at the stored width.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgraph_framework_spark.operators.nnd_fused import (
    _blk_np,
    _canonical_pairs,
    _empty,
    _merge_np,
    _order_target_dist,
    _pack2,
    _ranks,
    _sample_np,
    _sampled_new,
    _unpack2,
    auto_n_blocks,
    blk_col,
    collect_exclusion,
    l2_gathered,
)
from kgraph_framework_spark.plans.pregel import (
    reclaim_shuffles,
    release_state,
    truncate_state,
)

EMB_BLOCK_SCHEMA = "g int, c int, ids array<long>, mat binary, dim int"

#: target bytes per embedding block. Gathered-vector duplication per
#: round is bounded by touched-rows x G x 4d, so FEWER, LARGER blocks
#: ship fewer bytes; per-task memory (one block + one cell pack) is the
#: opposing constraint. 128 MB keeps both comfortable on executor-sized
#: tasks; G grows linearly with corpus bytes so the bound holds at any N.
EMB_BLOCK_BYTES = 128 << 20

#: hard cap on any single packed matrix buffer (one DataFrame row).
#: A logical emb block / gather pack is split into ``c``-ordered chunk
#: ROWS of at most this many matrix bytes. Distinct knob from
#: EMB_BLOCK_BYTES on purpose: block size sets per-TASK working memory
#: and gather duplication (a measured optimum), row size sets what the
#: JVM row machinery must hold CONTIGUOUSLY per row. Unbounded rows OOM
#: the cache-read -> sort -> cogroup path at high dim: each cached
#: 128 MB binary is re-extracted into an UnsafeRow (BufferHolder doubles
#: to ~2x row bytes) inside the cogroup's SortExec on every concurrent
#: task — measured: a 500k x 960-d build (1.92 GB corpus, 128 MB cells,
#: r=3 replicas) OOMs a 48 GB heap in round 1; the same build with
#: 32 MB chunk rows completes (BENCH.md). Kernels concatenate chunks
#: in c order, so results are bit-identical at any chunk size.
PACK_ROW_BYTES = 32 << 20

#: target bytes of 16-byte pair keys per gather-1 group (all pairs whose
#: lo falls in one block land in one task) — the second lower bound on G.
PAIR_GROUP_BYTES = 1 << 30

#: scoring-task target for the gather-2 grid (multiplies defaultParallelism)
GRID_TASKS_PER_CORE = 1

#: engage the emit-site tau filter (F5) once the previous round's
#: update rate drops below this. The filter is EXACT whenever applied
#: (see _tau_packed_map), so gating it is purely a cost call: in early
#: rounds nearly every candidate beats a still-loose pool worst, so the
#: threshold lookups/masks over ~N*2S^2 pairs cost more than the few
#: dropped bytes save (same-window A/B in BENCH.md); once the update
#: rate decays the drop fraction is large and the filter wins (round 3
#: of the 500k probe: 75 vs 104 s). 0.5 puts engagement right at the
#: measured crossover.
TAU_ENGAGE_RATE = 0.5

# packed-row schemas: buffers are little-endian numpy bytes
POOL_P_SCHEMA = (
    "blk int, src binary, dst binary, dist binary, is_new binary"
)
SAMPLE_P_SCHEMA = "blk int, key binary, nbr binary, is_new binary, fwd binary"
PAIR_P_SCHEMA = "g int, pk binary"
#: gather-1 input: pair-key rows (pk set) unioned with per-vertex tau
#: threshold rows (t_ids/t_tau set) — see _tau_packed_map
PAIRT_P_SCHEMA = "g int, pk binary, t_ids binary, t_tau binary"
PACK_P_SCHEMA = (
    "g2 int, pk binary, u_ids binary, u_mat binary, dim int, "
    "u_tau binary, t_ids binary, t_tau binary"
)
TAU_P_SCHEMA = "g int, t_ids binary, t_tau binary"
CAND_P_SCHEMA = "blk int, src binary, dst binary, dist binary"
MERGE_P_SCHEMA = POOL_P_SCHEMA + ", n_entries long, n_fresh long"

_POOL_P_COLS = {"blk": "int32", "src": "object", "dst": "object",
                "dist": "object", "is_new": "object"}
_SAMPLE_P_COLS = {"blk": "int32", "key": "object", "nbr": "object",
                  "is_new": "object", "fwd": "object"}
_PAIR_P_COLS = {"g": "int32", "pk": "object"}
_PACK_P_COLS = {"g2": "int32", "pk": "object", "u_ids": "object",
                "u_mat": "object", "dim": "int32", "u_tau": "object",
                "t_ids": "object", "t_tau": "object"}
_TAU_P_COLS = {"g": "int32", "t_ids": "object", "t_tau": "object"}
_CAND_P_COLS = {"blk": "int32", "src": "object", "dst": "object",
                "dist": "object"}
_MERGE_P_COLS = dict(_POOL_P_COLS, n_entries="int64", n_fresh="int64")


def _cat(pdf: pd.DataFrame, col: str, dtype) -> np.ndarray:
    """Concatenate a packed column's per-row buffers into one array."""
    bufs = [np.frombuffer(b, dtype) for b in pdf[col] if len(b)]
    if not bufs:
        return np.empty(0, dtype)
    return np.concatenate(bufs) if len(bufs) > 1 else bufs[0]


def _segment_rows(key_blk: np.ndarray, cols: dict[str, np.ndarray],
                  blk_name: str = "blk") -> pd.DataFrame:
    """Segment entry arrays by block id into one packed row per block."""
    if key_blk.size == 0:
        return pd.DataFrame(
            {blk_name: pd.Series(dtype="int32"),
             **{c: pd.Series(dtype="object") for c in cols}}
        )
    o = np.argsort(key_blk, kind="stable")
    kb = key_blk[o]
    starts = np.flatnonzero(np.r_[True, kb[1:] != kb[:-1]])
    bounds = np.append(starts, kb.size)
    rows: dict[str, list] = {blk_name: []}
    for c in cols:
        rows[c] = []
    for i in range(starts.size):
        a, b = bounds[i], bounds[i + 1]
        rows[blk_name].append(int(kb[a]))
        for c, arr in cols.items():
            rows[c].append(arr[o[a:b]].tobytes())
    return pd.DataFrame(rows)


def _emb_concat(emb_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """Reassemble a logical embedding block from its chunk rows: sort by
    c, concatenate ids and decoded matrices. Chunks are contiguous
    slices of the block's sorted id range (build_emb_blocks), so the
    result is the globally id-sorted (ids, X) at any chunk size."""
    dim = int(emb_pdf["dim"].iloc[0])
    if len(emb_pdf) > 1:
        emb_pdf = emb_pdf.sort_values("c")
    id_bufs = [np.asarray(a, np.int64) for a in emb_pdf["ids"]]
    mats = [_mat_decode(b, a.size, dim)
            for a, b in zip(id_bufs, emb_pdf["mat"])]
    if len(id_bufs) == 1:
        return id_bufs[0], mats[0], dim
    return np.concatenate(id_bufs), np.concatenate(mats), dim


def _wire_split(buf, n_rows: int, dim: int):
    """Split a packed matrix buffer into its wire parts WITHOUT decoding:
    (kind, arr, scales) where kind is "f32" (arr = float32 matrix,
    scales None) or "q8" (arr = int8 code matrix, scales = per-row
    float32 dequant factors appended after the codes). The layout is
    inferred from the byte length — n*dim*4 or n*(dim+4), which differ
    at every integer dim — so the int8 payload needs no schema change."""
    if n_rows == 0:
        return "f32", np.empty((0, dim), np.float32), None
    if len(buf) // n_rows == dim + 4:
        codes = np.frombuffer(buf, np.int8, n_rows * dim).reshape(-1, dim)
        scales = np.frombuffer(buf, np.float32, n_rows, n_rows * dim)
        return "q8", codes, scales
    return "f32", np.frombuffer(buf, np.float32).reshape(-1, dim), None


def _wire_dequant(kind: str, arr: np.ndarray, scales) -> np.ndarray:
    """Materialize the float matrix for a wire triple (identity for
    f32; codes * per-row scale for q8). One allocation, not
    two: the astype buffer is scaled in place — fresh big buffers are
    the expensive resource on page-fault-bound hosts (see l2_gathered)."""
    if kind != "q8":
        return arr
    out = arr.astype(np.float32)
    out *= scales[:, None]
    return out


def _mat_decode(buf, n_rows: int, dim: int) -> np.ndarray:
    """Decode a packed matrix buffer to a float32 matrix. The wire
    format (float32, or int8+scales under ``payload="int8"``) is
    inferred from the byte length (_wire_split), so mixed-payload
    blocks can coexist in one plan — ACROSS blocks;
    within one logical block every chunk carries the block's single
    payload kind (build_emb_blocks packs uniformly; _emb_concat_wire
    asserts it)."""
    return _wire_dequant(*_wire_split(buf, n_rows, dim))


def _emb_concat_wire(emb_pdf: pd.DataFrame):
    """_emb_concat at the WIRE level: reassemble a logical embedding
    block keeping its stored payload (no dequantization), so gather-1
    can re-ship slices at wire width. Returns (ids, kind, arr, scales,
    dim, wire_row_bytes): arr rows parallel ids; scales is None for
    f32."""
    dim = int(emb_pdf["dim"].iloc[0])
    if len(emb_pdf) > 1:
        emb_pdf = emb_pdf.sort_values("c")
    id_bufs = [np.asarray(a, np.int64) for a in emb_pdf["ids"]]
    parts = [_wire_split(b, a.size, dim)
             for a, b in zip(id_bufs, emb_pdf["mat"])]
    kind = parts[0][0]
    # chunks of one logical block must share a payload kind: a silent
    # q8+f32 np.concatenate would cast and ship bytes inconsistent with
    # the declared kind (len(parts) is small, the check is free)
    assert all(p[0] == kind for p in parts), (
        "mixed payload kinds within one logical block: "
        f"{sorted({p[0] for p in parts})}"
    )
    arrs = [p[1] for p in parts]
    scls = [p[2] for p in parts]
    ids = id_bufs[0] if len(id_bufs) == 1 else np.concatenate(id_bufs)
    arr = arrs[0] if len(arrs) == 1 else np.concatenate(arrs)
    scales = None
    if kind == "q8":
        scales = scls[0] if len(scls) == 1 else np.concatenate(scls)
        wire_row = dim + 4
    else:
        wire_row = dim * 4
    return ids, kind, arr, scales, dim, wire_row


def _wire_pack_rows(kind: str, arr: np.ndarray, scales, rows) -> bytes:
    """Serialize the selected rows of a wire matrix in the same
    length-inferable layout _wire_split reads (codes then scales for
    q8; raw float32 bytes otherwise)."""
    sl = np.ascontiguousarray(arr[rows])
    if kind != "q8":
        return sl.tobytes()
    return sl.tobytes() + np.ascontiguousarray(scales[rows]).tobytes()


def build_emb_blocks(
    emb: DataFrame,
    g_blocks: int,
    payload: str = "fp32",
    row_bytes: int = PACK_ROW_BYTES,
) -> DataFrame:
    """Pack the vector table into per-hash-block rows: (sorted ids,
    contiguous matrix bytes), split into ``c``-ordered chunk rows of at
    most ``row_bytes`` matrix bytes each (see PACK_ROW_BYTES — chunks
    are contiguous slices of the block's sorted id range, so c-order
    concatenation reconstructs the sorted block exactly). The
    distributed analog of the reference's in-RAM `data_` matrix
    (include/index/index.h:57-60) — sharded, not replicated.

    ``payload="int8"`` cuts every downstream matrix byte-edge (the block
    shuffle, the r-fold replicated hi cells, the gathered u_mat packs)
    ~4x: each vector is stored as int8 codes with a per-vector float32
    dequant scale (max|x|/127, symmetric — the classic per-row
    affine-free quantization), decoded only at the scoring sites.
    ~0.4%-of-max per-component rounding; the descent loop pairs it with
    an exact fp32 re-rank of the final top-k band (nn_descent_blocked)
    so the RETURNED graph distances are exact."""
    q8 = payload == "int8"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty({"g": "int32", "c": "int32", "ids": "object",
                           "mat": "object", "dim": "int32"})
        ids = pdf["vec_id"].to_numpy(np.int64)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        o = np.argsort(ids, kind="stable")
        ids, X = ids[o], np.ascontiguousarray(X[o])
        g = int(pdf["g"].iloc[0])
        dim = int(X.shape[1])
        scales = None
        if q8:
            scales = (np.maximum(np.abs(X).max(axis=1), 1e-30) / 127.0
                      ).astype(np.float32)
            X = np.clip(np.rint(X / scales[:, None]), -127, 127
                        ).astype(np.int8)
        per_row = dim + 4 if q8 else dim * 4
        m = max(1, row_bytes // per_row)
        rows = {"g": [], "c": [], "ids": [], "mat": [], "dim": []}
        for c, a in enumerate(range(0, ids.size, m)):
            rows["g"].append(g)
            rows["c"].append(c)
            rows["ids"].append(ids[a:a + m])
            buf = np.ascontiguousarray(X[a:a + m]).tobytes()
            if q8:
                buf += np.ascontiguousarray(scales[a:a + m]).tobytes()
            rows["mat"].append(buf)
            rows["dim"].append(dim)
        return pd.DataFrame(rows)

    return (
        emb.select(
            blk_col(F.col("vec_id"), g_blocks).alias("g"),
            "vec_id",
            "embedding",
        )
        .groupBy("g")
        .applyInPandas(pack, EMB_BLOCK_SCHEMA)
    )


def n_emb_blocks(
    n: int,
    dim: int,
    s: int = 10,
    block_bytes: int = EMB_BLOCK_BYTES,
    pair_group_bytes: int = PAIR_GROUP_BYTES,
    parallelism: int = 1,
) -> int:
    """Embedding block count G — three competing bounds, measured on the
    200k x 64-d corpus (rounds at G=32/8/2: 25.7 / 44.8 / 70.4 s):

    - matrix bytes / ``block_bytes``: per-task memory, the bound that
      grows with corpus size (the 100-TB knob).
    - pair-buffer floor: one gather-1 group holds ~N*2S^2*16/G bytes of
      pair keys; keep it under ``pair_group_bytes``.
    - ``parallelism``: gather tasks = G, so G below the core count
      serializes the scoring/cap CPU — the dominant cost at small
      corpora where the other bounds collapse to 1-2. Capped at the
      candidate fan-out per vertex (~2S^2) / 4: past that, every cell
      holds fewer pairs per distinct lo than vectors, gathered-vector
      duplication approaches the per-pair regime (each of the N*O(S^2)
      pairs ships its own vector copy) and more tasks only move bytes.
    """
    by_matrix = -(-(n * dim * 4) // block_bytes)
    by_pairs = -(-(n * 2 * s * s * 16) // pair_group_bytes)
    fanout_cap = max(2, (s * s) // 2)
    return int(max(2, min(parallelism, fanout_cap), by_matrix, by_pairs))


def grid_dims(
    n: int,
    dim: int,
    parallelism: int,
    block_bytes: int = EMB_BLOCK_BYTES,
) -> tuple[int, int]:
    """Scoring-grid shape (gh, r) for gather-2: cells are keyed by
    (hi-block, lo-stripe), decoupling VECTOR DUPLICATION from TASK
    PARALLELISM.

    With a flat G-cell gather (gh=G, r=1) every touched lo vector ships
    to up to G cells, so gather bytes are ~N*G*4d while scoring tasks
    also equal G — the two are welded together (the round-4 G-sweep
    showed parallelism must reach the core count, paying the byte bill).
    The grid splits them: each lo's pairs land in <= gh cells (its
    lo-stripe is a function of lo, so stripes add NO duplication), and
    the hi-side matrix — packed blocks of n*4d/gh bytes — is replicated
    r times instead, costing r*corpus bytes. Total gather traffic is
    ~N*gh*4d + r*N*4d, minimized at gh ~ sqrt(tasks) for fixed
    gh*r = tasks (vs gh = tasks flat): ~2*sqrt(T)/T of the flat bill.

    Bounds: gh must keep one hi block under ``block_bytes`` per task
    (the 100-TB memory knob — gh grows with corpus bytes, r shrinks to
    1, and the grid degrades gracefully to the flat layout exactly when
    duplication is already bounded by memory-sized blocks).
    """
    t = max(1, parallelism * GRID_TASKS_PER_CORE)
    by_matrix = -(-(n * dim * 4) // block_bytes)
    gh = int(max(by_matrix, round(t ** 0.5), 1))
    r = max(1, -(-t // gh))
    return gh, r


def replicate_emb_cells(emb_hi: DataFrame, r: int) -> DataFrame:
    """Explode gh coarse embedding blocks into gh*r grid cells keyed
    g = g_hi * r + stripe. Narrow op over the persisted coarse packing —
    the r-fold duplication is paid only in the cogroup shuffle, which is
    exactly where it buys r-fold scoring parallelism."""
    if r == 1:
        return emb_hi
    return emb_hi.select(
        "g", "c", "ids", "mat", "dim",
        F.explode(F.array(*[F.lit(i) for i in range(r)])).alias("stripe"),
    ).select(
        (F.col("g").cast("long") * r + F.col("stripe"))
        .cast("int")
        .alias("g"),
        "c",
        "ids",
        "mat",
        "dim",
    )


def pack_pool(pool: DataFrame, n_blocks: int) -> DataFrame:
    """Pack a (src, dst, dist, is_new) row pool into per-block rows."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(_POOL_P_COLS)
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "src": [pdf["src"].to_numpy(np.int64).tobytes()],
                "dst": [pdf["dst"].to_numpy(np.int64).tobytes()],
                "dist": [pdf["dist"].to_numpy(np.float64).tobytes()],
                "is_new": [
                    pdf["is_new"].to_numpy(bool).astype(np.uint8).tobytes()
                ],
            }
        )

    return (
        pool.select(
            blk_col(F.col("src"), n_blocks).alias("blk"),
            "src", "dst", "dist", "is_new",
        )
        .repartitionById(n_blocks, "blk")
        .groupBy("blk")
        .applyInPandas(fn, POOL_P_SCHEMA)
    )


def unpack_pool_topk(pool_p: DataFrame, k: int | None) -> DataFrame:
    """Unpack packed pool rows to (src, dst, dist) rows, optionally
    cutting to per-src top-k in place. Merge output is already (src
    grouped, (dist, dst)-ascending within src, unique (src, dst)), so
    the in-place rank filter equals nnd_fused.topk_per_src."""

    def fn(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                s = np.frombuffer(row.src, np.int64)
                d = np.frombuffer(row.dst, np.int64)
                dist = np.frombuffer(row.dist, np.float64)
                if k is not None and s.size:
                    keep = _ranks(np.r_[True, s[1:] != s[:-1]]) < k
                    s, d, dist = s[keep], d[keep], dist[keep]
                yield pd.DataFrame({"src": s, "dst": d, "dist": dist})

    return pool_p.mapInPandas(fn, "src long, dst long, dist double")


def packed_pool_recall(pool_p: DataFrame, control_bc, control_total: int) -> float:
    """Sampled-recall convergence eval over the PACKED pool.

    The reference's NNDescent stop criterion checks each control
    point's truth neighbors for membership in the current POOL (size L,
    not the top-k cut) and stops past a recall threshold
    (src/index_graph.cpp:172-179 + eval_recall :209-229). This is the
    same check against the packed pool rows: a narrow mapInPandas that
    filters each block's src buffer to control ids and counts packed
    (src, dst) membership in the broadcast truth set — no unpack
    shuffle, one pass over cached packed rows.

    ``control_bc`` broadcasts (sorted control ids, sorted _pack2(src,
    dst) truth keys); ``control_total`` is the truth row count
    (n_control x k), the reference's cnt * K denominator.
    """
    from kgraph_framework_spark.operators.nnd_fused import _member, _pack2

    def fn(it):
        ctrl_ids, packed = control_bc.value
        hits = 0
        for pdf in it:
            for row in pdf.itertuples(index=False):
                s = np.frombuffer(row.src, np.int64)
                if s.size == 0:
                    continue
                m = _member(ctrl_ids, s)
                if not m.any():
                    continue
                d = np.frombuffer(row.dst, np.int64)
                pk = _pack2(s[m], d[m])
                hits += int(_member(packed, pk).sum())
        yield pd.DataFrame({"hits": [hits]})

    row = pool_p.mapInPandas(fn, "hits long").agg(F.sum("hits")).first()
    return int(row[0] or 0) / max(control_total, 1)


def _tau_lookup(t_ids: np.ndarray, t_tau: np.ndarray,
                q: np.ndarray) -> np.ndarray:
    """tau for each queried vertex id; +inf where the id has no finite
    threshold (unsaturated pool), so the insertion filter keeps every
    candidate for it (dist <= tau)."""
    if t_ids.size == 0:
        return np.full(q.size, np.inf)
    idx = np.searchsorted(t_ids, q)
    ok = idx < t_ids.size
    idx0 = np.where(ok, idx, 0)
    hit = ok & (t_ids[idx0] == q)
    return np.where(hit, t_tau[idx0], np.inf)


def _pool_tau_np(src: np.ndarray, dist: np.ndarray,
                 l: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-vertex pool-worst thresholds: (sorted ids, max dist) for the
    SATURATED vertices only (pool holds >= l entries). Unsaturated
    vertices are omitted — their conceptual worst is +inf (any insert
    accepted), which _tau_lookup reports as "no threshold"."""
    if src.size == 0:
        z = np.empty(0, np.int64)
        return z, np.empty(0, np.float64)
    o = np.argsort(src, kind="stable")
    s_s, d_s = src[o], dist[o]
    starts = np.flatnonzero(np.r_[True, s_s[1:] != s_s[:-1]])
    ids = s_s[starts]
    cnt = np.diff(np.append(starts, s_s.size))
    tau = np.maximum.reduceat(d_s, starts)
    m = cnt >= l
    return ids[m], tau[m]


def _tau_packed_map(l: int, out_blocks: int, r: int = 1):
    """Per-vertex round-start insertion thresholds — the reference's
    threshold-vs-worst predicate F5 (src/index_graph.cpp:29-39) applied
    at the candidate EMIT site instead of the heap-insert site.

    tau(v) = the worst (max) dist in v's round-start pool when the pool
    already holds >= L entries, else +inf. A candidate (t, n, d) with
    d > tau(t) can never enter t's merged top-L — all L round-start
    entries rank strictly before it under the (dist, dst) order and
    min-dist dedupe only lowers dists — so dropping it before the
    candidates->merge shuffle is EXACT: the merge output is
    bit-identical (asserted in tests/test_nnd_blocked.py).

    Narrow map over packed pool rows; emits only the FINITE entries,
    packed (g, ids, tau) keyed by blk(src, out_blocks), replicated
    across the r grid stripes when r > 1 (g = blk * r + stripe), so
    round 0 (unsaturated pools) costs nothing."""

    def it_fn(it):
        for pdf in it:
            for row in pdf.itertuples(index=False):
                s = np.frombuffer(row.src, np.int64)
                if s.size == 0:
                    continue
                dist = np.frombuffer(row.dist, np.float64)
                ids, tau = _pool_tau_np(s, dist, l)
                if ids.size == 0:
                    continue
                out = _segment_rows(
                    _blk_np(ids, out_blocks),
                    {"t_ids": ids, "t_tau": tau},
                    blk_name="g",
                )
                if r > 1:
                    out = pd.concat(
                        [out.assign(g=(out["g"] * r + i).astype("int32"))
                         for i in range(r)],
                        ignore_index=True,
                    )
                yield out

    return it_fn


def _sample_packed_kernel(s: int, n_blocks: int, rev_seed: int):
    """Stage 1 (packed): top-of-pool S per (vertex, flag), fwd + rev,
    re-segmented into one packed row per destination block.
    ``rev_seed`` (the round's pairgen reservoir seed) drives the exact
    sender-side reverse pre-cut (nnd_fused._sample_np)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(_SAMPLE_P_COLS)
        key, nbr, isn, fwd = _sample_np(
            _cat(pdf, "src", np.int64),
            _cat(pdf, "dst", np.int64),
            _cat(pdf, "is_new", np.uint8).astype(bool),
            _cat(pdf, "dist", np.float64),
            s,
            rev_seed=rev_seed,
        )
        return _segment_rows(
            _blk_np(key, n_blocks),
            {"key": key, "nbr": nbr, "is_new": isn.astype(np.uint8),
             "fwd": fwd.astype(np.uint8)},
        )

    return fn


def _sample_packed_map(s: int, n_blocks: int, rev_seed: int):
    """Stage 1 as a NARROW map: the pool invariant is one packed row per
    block (pack_pool at init, _merge_packed_kernel every round), so each
    Arrow batch already holds complete per-vertex pools — rows are
    atomic and a vertex's pool lives entirely in its block's row — and
    _sample_np is order-insensitive (total lexsort). Sampling therefore
    needs no regroup: this replaces a full pool shuffle per round
    (~N*L*25 bytes) with mapInPandas; the blk(key) re-segmentation that
    follows pairs forward samples with reverse samples from OTHER
    blocks, so the sample->pairgen exchange stays the one semantically
    required pool-sized shuffle."""
    fn = _sample_packed_kernel(s, n_blocks, rev_seed)

    def it_fn(it):
        for pdf in it:
            # one call per pool row (= one block): an Arrow batch may
            # carry several ~50 MB rows, and concatenating them would
            # multiply peak task memory; row-at-a-time keeps the exact
            # per-group profile of the former groupBy at any scale
            for i in range(len(pdf)):
                out = fn(pdf.iloc[i : i + 1])
                if len(out):
                    yield out

    return it_fn


def _pairgen_packed_kernel(s: int, seed: int, excl_bc, n_out: int,
                           bc=None, l: int = 0):
    """Stage 2 (packed): reverse reservoir cap + local join + canonical
    dedupe. Without ``bc`` it emits 16-byte pair keys segmented by
    g = blk(lo, n_out) for the cogroup gather. With a broadcast-matrix
    handle it scores the pairs in place (l2_gathered) and emits the
    candidates straight to the merge: capped at ``l`` per target,
    packed by merge block blk(target, n_out)."""
    empty = _PAIR_P_COLS if bc is None else _CAND_P_COLS

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(empty)
        lo, hi = _canonical_pairs(
            _cat(pdf, "key", np.int64),
            _cat(pdf, "nbr", np.int64),
            _cat(pdf, "is_new", np.uint8).astype(bool),
            _cat(pdf, "fwd", np.uint8).astype(bool),
            s, seed, excl_bc,
        )
        if lo.size == 0:
            return _empty(empty)
        if bc is None:
            return _segment_rows(
                _blk_np(lo, n_out), {"pk": _pack2(lo, hi)}, blk_name="g"
            )
        ids, X = bc.value
        return _emit_candidates(
            lo, hi, l2_gathered(X, ids, lo, X, ids, hi), l, n_out
        )

    return fn


def _gather1_kernel(gh: int, r: int = 1, row_bytes: int = PACK_ROW_BYTES):
    """Stage 2b: cogroup pairs with their lo-side embedding block; emit
    packed rows per destination grid cell g2 = blk(hi, gh) * r +
    blk(lo, r) carrying the pair keys and the gathered UNIQUE lo
    vectors. The stripe term blk(lo, r) is a function of lo, so each lo
    vector still ships to at most gh distinct cells — r adds scoring
    parallelism without adding duplication (see grid_dims). A cell
    whose gathered u_mat would exceed ``row_bytes`` is emitted as
    several self-contained rows (pairs split at unique-lo boundaries,
    in lo order) — _score_cells scores rows independently and the
    gather-2 tail totally re-orders, so the split is semantics-free."""

    def fn(pairs_pdf: pd.DataFrame, emb_pdf: pd.DataFrame) -> pd.DataFrame:
        if pairs_pdf.empty or emb_pdf.empty:
            return _empty(_PACK_P_COLS)
        t_ids = np.empty(0, np.int64)
        t_tau = np.empty(0, np.float64)
        if "t_ids" in pairs_pdf.columns:
            is_tau = pairs_pdf["pk"].isna()
            tau_pdf = pairs_pdf[is_tau]
            pairs_pdf = pairs_pdf[~is_tau]
            if pairs_pdf.empty:
                return _empty(_PACK_P_COLS)
            if len(tau_pdf):
                # several pool blocks contribute interleaved id ranges
                t_ids = _cat(tau_pdf, "t_ids", np.int64)
                t_tau = _cat(tau_pdf, "t_tau", np.float64)
                to = np.argsort(t_ids, kind="stable")
                t_ids, t_tau = t_ids[to], t_tau[to]
        ids, kind, X, scales, dim, wire_row = _emb_concat_wire(emb_pdf)
        mu = max(1, row_bytes // wire_row)

        # cross-merge-block duplicates of the same canonical pair land in
        # the same g (keyed by lo) — collapse them before shipping vectors
        pk = np.unique(_cat(pairs_pdf, "pk", "V16"))
        lo, hi = _unpack2(pk)

        g2 = _blk_np(hi, gh).astype(np.int32) * np.int32(r)
        if r > 1:
            g2 = g2 + _blk_np(lo, r)
        o = np.argsort(g2, kind="stable")
        pk, lo, g2 = pk[o], lo[o], g2[o]
        starts = np.flatnonzero(np.r_[True, g2[1:] != g2[:-1]])
        bounds = np.append(starts, g2.size)
        rows: dict[str, list] = {c: [] for c in _PACK_P_COLS}
        for i in range(starts.size):  # <= G cells, not per-pair
            a, b = bounds[i], bounds[i + 1]
            u = np.unique(lo[a:b])
            # pk within the cell is (lo, hi)-byte-sorted, i.e. grouped
            # by lo — split oversize cells at unique-lo boundaries so no
            # row's u_mat exceeds row_bytes (self-contained sub-cells)
            for ua in range(0, u.size, mu):
                uc = u[ua:ua + mu]
                pa = a + np.searchsorted(lo[a:b], uc[0])
                pb = a + np.searchsorted(lo[a:b], uc[-1], side="right")
                rows["g2"].append(int(g2[a]))
                rows["pk"].append(pk[pa:pb].tobytes())
                rows["u_ids"].append(uc.tobytes())
                rows["u_mat"].append(
                    _wire_pack_rows(kind, X, scales, np.searchsorted(ids, uc))
                )
                rows["dim"].append(dim)
                rows["u_tau"].append(
                    _tau_lookup(t_ids, t_tau, uc).tobytes()
                )
                rows["t_ids"].append(None)
                rows["t_tau"].append(None)
        return pd.DataFrame(rows)

    return fn


def _score_cells(packs_pdf: pd.DataFrame, emb_pdf: pd.DataFrame):
    """Score every pair in the group's cells: gather hi vectors from the
    co-grouped embedding block, lo vectors from the shipped packs.
    Returns (lo, hi, dist, tau_lo) concatenated over cells, or None;
    tau_lo is the lo-side insertion threshold shipped with the pack
    (+inf when the producing gather-1 had no tau rows)."""
    ids2, X2, dim = _emb_concat(emb_pdf)
    los, his, dists, taus = [], [], [], []
    for row in packs_pdf.itertuples(index=False):  # <= G cells
        lo, hi = _unpack2(np.frombuffer(row.pk, "V16"))
        u_ids = np.frombuffer(row.u_ids, np.int64)
        U = _mat_decode(row.u_mat, u_ids.size, dim)
        d = l2_gathered(U, u_ids, lo, X2, ids2, hi)
        ut = getattr(row, "u_tau", None)
        if ut is not None and len(ut):
            taus.append(np.frombuffer(ut, np.float64)[
                np.searchsorted(u_ids, lo)])
        else:
            taus.append(np.full(lo.size, np.inf))
        los.append(lo)
        his.append(hi)
        dists.append(d)
    if not los:
        return None
    return (np.concatenate(los), np.concatenate(his),
            np.concatenate(dists), np.concatenate(taus))


def _emit_candidates(lo: np.ndarray, hi: np.ndarray, dists: np.ndarray,
                     l: int, n_blocks: int,
                     keep_lo=slice(None), keep_hi=slice(None)) -> pd.DataFrame:
    """Symmetric insert candidates of scored pairs, pre-capped at L per
    target (a map-side combine of the merge's top-L), packed per merge
    block. ``keep_lo``/``keep_hi`` drop the lo-/hi-target direction of
    pairs whose dist exceeds that target's tau (see _tau_packed_map)."""
    t = np.concatenate([lo[keep_lo], hi[keep_hi]])
    tn = np.concatenate([hi[keep_lo], lo[keep_hi]])
    td = np.concatenate([dists[keep_lo], dists[keep_hi]])
    t, td, tn = _order_target_dist(t, td, tn)
    kp = _ranks(np.r_[True, t[1:] != t[:-1]]) < l
    t, tn, td = t[kp], tn[kp], td[kp]
    return _segment_rows(
        _blk_np(t, n_blocks), {"src": t, "dst": tn, "dist": td}
    )


def _gather2_kernel(l: int, n_blocks: int):
    """Stage 2c: score cells against the hi-side block and emit the
    capped candidates per merge block (_emit_candidates). A
    candidate is dropped at the emit site when its dist exceeds the
    target's round-start insertion threshold (F5; see _tau_packed_map —
    provably merge-identical): lo-side thresholds ride the packs
    (u_tau), hi-side thresholds arrive as tau rows unioned into this
    cogroup's packs side, keyed by the same grid cell as the hi block."""

    def fn(packs_pdf: pd.DataFrame, emb_pdf: pd.DataFrame) -> pd.DataFrame:
        if packs_pdf.empty or emb_pdf.empty:
            return _empty(_CAND_P_COLS)
        th_ids = np.empty(0, np.int64)
        th_tau = np.empty(0, np.float64)
        if "t_ids" in packs_pdf.columns:
            is_tau = packs_pdf["pk"].isna()
            tau_pdf = packs_pdf[is_tau]
            packs_pdf = packs_pdf[~is_tau]
            if packs_pdf.empty:
                return _empty(_CAND_P_COLS)
            if len(tau_pdf):
                th_ids = _cat(tau_pdf, "t_ids", np.int64)
                th_tau = _cat(tau_pdf, "t_tau", np.float64)
                to = np.argsort(th_ids, kind="stable")
                th_ids, th_tau = th_ids[to], th_tau[to]
        scored = _score_cells(packs_pdf, emb_pdf)
        if scored is None:
            return _empty(_CAND_P_COLS)
        lo, hi, dists, tau_lo = scored
        return _emit_candidates(
            lo, hi, dists, l, n_blocks,
            keep_lo=dists <= tau_lo,
            keep_hi=dists <= _tau_lookup(th_ids, th_tau, hi),
        )

    return fn


def _merge_packed_kernel(l: int, s: int):
    """Stage 3 (packed): pool ∪ candidates -> min-dedupe, top-L, flags,
    fresh; ONE packed pool row out per block plus its counts. The flag
    clears are the forward sample's new entries, which this kernel
    re-derives from the round-start pool it already holds
    (nnd_fused._sampled_new) — no clear rows cross the exchange."""

    def fn(pool_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        if pool_pdf.empty and cand_pdf.empty:
            return _empty(_MERGE_P_COLS)
        ps = _cat(pool_pdf, "src", np.int64)
        pdd = _cat(pool_pdf, "dst", np.int64)
        pdist = _cat(pool_pdf, "dist", np.float64)
        pnew = _cat(pool_pdf, "is_new", np.uint8).astype(bool)
        out = _merge_np(
            ps, pdd, pdist, pnew,
            _cat(cand_pdf, "src", np.int64),
            _cat(cand_pdf, "dst", np.int64),
            _cat(cand_pdf, "dist", np.float64),
            _sampled_new(ps, pdd, pnew, pdist, s),
            l,
        )
        if out is None:
            return _empty(_MERGE_P_COLS)
        s2, d2, dist2, is_new, fresh = out
        blk = int(
            pool_pdf["blk"].iloc[0] if len(pool_pdf)
            else cand_pdf["blk"].iloc[0]
        )
        return pd.DataFrame(
            {"blk": [blk], "src": [s2.tobytes()], "dst": [d2.tobytes()],
             "dist": [dist2.tobytes()],
             "is_new": [is_new.astype(np.uint8).tobytes()],
             "n_entries": [int(s2.size)], "n_fresh": [int(fresh.sum())]}
        )

    return fn


def score_pairs_blocked(
    pairs: DataFrame,
    emb_blocks: DataFrame,
    g_blocks: int,
    emb_cells: DataFrame | None = None,
    gh: int | None = None,
    r: int = 1,
    row_bytes: int = PACK_ROW_BYTES,
) -> DataFrame:
    """Exact squared-L2 for directed (a, b) pairs via the two-stage
    cogroup gather — no broadcast, no embedding join. Distances are
    bit-identical to knn_graph._score_pairs (same float32 storage,
    float64 arithmetic). Duplicate (a, b) rows collapse to one.

    Default layout is flat (cells = the g_blocks emb packing itself);
    pass ``emb_cells``/``gh``/``r`` to score on a gather grid instead
    (see grid_dims) — results are identical either way. Both gathers
    place their fresh side by key id (module docstring, "Placement"); a
    static side cached as ``repartitionById(g_blocks, "g")`` (emb_blocks)
    and ``repartitionById(gh * r, "g")`` (emb_cells) is then read
    without an exchange, any other one is re-shuffled."""
    if emb_cells is None:
        emb_cells, gh, r = emb_blocks, g_blocks, 1

    def to_packed(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return _empty(_PAIR_P_COLS)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        return pd.DataFrame(
            {"g": [int(pdf["g"].iloc[0])], "pk": [_pack2(a, b).tobytes()]}
        )

    def unpack_scored(packs_pdf, emb_pdf):
        if packs_pdf.empty or emb_pdf.empty:
            return _empty({"a": "int64", "b": "int64", "dist": "float64"})
        scored = _score_cells(packs_pdf, emb_pdf)
        if scored is None:
            return _empty({"a": "int64", "b": "int64", "dist": "float64"})
        lo, hi, dists, _tau = scored
        return pd.DataFrame({"a": lo, "b": hi, "dist": dists})

    keyed = (
        pairs.select(
            blk_col(F.col("a"), g_blocks).alias("g"), "a", "b"
        )
        .repartitionById(g_blocks, "g")
        .groupBy("g")
        .applyInPandas(to_packed, PAIR_P_SCHEMA)
    )
    packs = (
        keyed.repartitionById(g_blocks, "g")
        .groupBy("g")
        .cogroup(emb_blocks.groupBy("g"))
        .applyInPandas(_gather1_kernel(gh, r, row_bytes), PACK_P_SCHEMA)
    )
    return (
        packs.repartitionById(gh * r, "g2")
        .groupBy("g2")
        .cogroup(emb_cells.groupBy("g"))
        .applyInPandas(unpack_scored, "a long, b long, dist double")
    )


def nn_descent_blocked(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    l: int,
    s: int,
    max_iters: int,
    min_update_rate: float,
    seed: int,
    init: DataFrame | None = None,
    exclude_pairs: DataFrame | None = None,
    n_blocks: int | None = None,
    g_blocks: int | None = None,
    block_bytes: int = EMB_BLOCK_BYTES,
    row_bytes: int = PACK_ROW_BYTES,
    final_k: int | None = None,
    grid: tuple[int, int] | None = None,
    tau_filter: bool = True,
    tau_engage_rate: float = TAU_ENGAGE_RATE,
    payload: str = "fp32",
    min_recall: float | None = None,
    control_bc=None,
    control_total: int = 0,
    bc=None,
) -> tuple[DataFrame, list[dict]]:
    """The NN-descent superstep loop. Returns (pool, metrics); with
    ``final_k`` set the returned DataFrame is the finished graph
    (per-src top-k, equal to topk_per_src of the pool).

    Scoring is the one stage with two forms (module docstring). With
    ``bc``, a knn_graph.broadcast_matrix handle, pairgen scores in place
    against the broadcast matrix: no embedding caches, no gathers, no
    tau rows, and ``g_blocks``/``grid``/``block_bytes``/``row_bytes``/
    ``tau_filter`` (which size and drive the gather) do not act.
    Without it the matrix is sharded into cogrouped blocks and nothing
    is broadcast. The fp32 forms are bit-identical.

    The exact-distance contract for ``payload="int8"`` holds only via
    the ``final_k`` re-rank below (the nn_descent front door always
    sets it): without ``final_k`` the returned POOL carries quantized
    distances, so direct callers get a warning.

    Each round runs one Spark action: the truncate that materializes the
    merged pool, which also carries the round's entry and fresh counts
    (``DataFrame.observe``). ``min_recall`` + ``control_bc``/
    ``control_total`` (prepared by nn_descent) add the reference's
    sampled-recall criterion (src/index_graph.cpp:172-179): recall of
    the pool vs exact control truth, evaluated after each round
    (packed_pool_recall, one more action), stopping once it is
    >= ``min_recall``. The update-rate stop stays active alongside;
    pass min_update_rate=0 for recall-only stopping."""
    from kgraph_framework_spark.operators.knn_graph import (
        _score_pairs,
        random_init,
    )

    if payload == "int8" and bc is not None:
        raise ValueError("payload='int8' needs the gather path (bc=None)")
    if payload == "int8" and final_k is None:
        import warnings

        warnings.warn(
            "payload='int8' without final_k returns QUANTIZED distances "
            "(~0.4%-of-max rounding); the exact fp32 re-rank only runs "
            "when final_k is set (as nn_descent does)",
            stacklevel=2,
        )

    dp = spark.sparkContext.defaultParallelism
    pool = init if init is not None else random_init(emb, k, seed)
    init_pairs = pool.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    emb_blocks = emb_cells = None
    if bc is not None:
        n = len(bc.value[0])
        scored = _score_pairs(init_pairs, emb, bc)
    else:
        row = emb.select(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("embedding")).alias("d"),
        ).first()
        n, dim = int(row["n"] or 0), int(row["d"] or 0)
        G = g_blocks or n_emb_blocks(n, dim, s, block_bytes, parallelism=dp)
        gh, r = grid or grid_dims(n, dim, dp, block_bytes)
        # The corpus-derived cogroup sides never change between rounds,
        # so cache them ALREADY PLACED by key id: block g on partition g
        # of G, cell g on partition g of gh*r. Every round places its
        # fresh pair and pack sides the same way, so the two sides of
        # each gather are co-partitioned and EnsureRequirements adds no
        # exchange over the cache. That elides the per-round re-ship of
        # the sharded matrix (~corpus bytes) and of the r-replicated
        # grid cells (~r*corpus bytes) — the two static byte-edges the
        # round-4 stage attribution measured at ~1.5 GB/round on a
        # 256 MB corpus — and gives every block and cell its own task
        # (module docstring, "Placement").
        emb_blocks = (
            build_emb_blocks(emb, G, payload, row_bytes)
            .repartitionById(G, "g")
            .persist()
        )
        emb_blocks.count()
        if (gh, r) == (G, 1):
            emb_cells = emb_blocks
        else:
            emb_cells = (
                replicate_emb_cells(
                    build_emb_blocks(emb, gh, payload, row_bytes), r
                )
                .repartitionById(gh * r, "g")
                .persist()
            )
            emb_cells.count()
        scored = score_pairs_blocked(
            init_pairs, emb_blocks, G, emb_cells=emb_cells, gh=gh, r=r,
            row_bytes=row_bytes,
        )
    B = n_blocks or auto_n_blocks(dp, n, l)
    excl_bc = None
    if exclude_pairs is not None:
        excl_bc = collect_exclusion(exclude_pairs, spark)

    pool_rows = scored.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "dist",
        F.lit(True).alias("is_new"),
    )
    pool_p = truncate_state(spark, pack_pool(pool_rows, B))

    def gather_scored(pool_p, samples, rseed: int, engage_tau: bool):
        """Gather-path scoring: pair keys -> gather-1 -> gather-2."""
        upairs = samples.groupBy("blk").applyInPandas(
            _pairgen_packed_kernel(s, rseed, excl_bc, G), PAIR_P_SCHEMA
        )
        nb = F.lit(None).cast("binary")
        pairs_in = upairs.select("g", "pk", nb.alias("t_ids"),
                                 nb.alias("t_tau"))
        if engage_tau:
            # round-start thresholds, derived from the packed pool by a
            # narrow map — a few KB..MB of (id, tau) rows per round,
            # empty until pools saturate at L
            tau_lo = pool_p.mapInPandas(
                _tau_packed_map(l, G), TAU_P_SCHEMA
            )
            pairs_in = pairs_in.unionByName(
                tau_lo.select("g", nb.alias("pk"), "t_ids", "t_tau")
            )
        packs = (
            pairs_in.repartitionById(G, "g")
            .groupBy("g")
            .cogroup(emb_blocks.groupBy("g"))
            .applyInPandas(_gather1_kernel(gh, r, row_bytes), PACK_P_SCHEMA)
        )
        if engage_tau:
            tau_hi = pool_p.mapInPandas(
                _tau_packed_map(l, gh, r), TAU_P_SCHEMA
            )
            packs = packs.unionByName(
                tau_hi.select(
                    F.col("g").alias("g2"), nb.alias("pk"),
                    nb.alias("u_ids"), nb.alias("u_mat"),
                    F.lit(0).alias("dim"), nb.alias("u_tau"),
                    "t_ids", "t_tau",
                )
            )
        return (
            packs.repartitionById(gh * r, "g2")
            .groupBy("g2")
            .cogroup(emb_cells.groupBy("g"))
            .applyInPandas(_gather2_kernel(l, B), CAND_P_SCHEMA)
        )

    metrics: list[dict] = []
    n_edges_target = None
    prev_rate = 1.0
    for it in range(max_iters):
        t_round = time.monotonic()
        # one reservoir seed per round: the sample's sender-side pre-cut
        # must rank exactly like pairgen's receiver-side reservoir
        rseed = seed + 3 * it + 2
        engage_tau = (
            bc is None and tau_filter and prev_rate < tau_engage_rate
        )
        samples = pool_p.mapInPandas(
            _sample_packed_map(s, B, rev_seed=rseed), SAMPLE_P_SCHEMA
        ).repartitionById(B, "blk")
        if bc is not None:
            cands = samples.groupBy("blk").applyInPandas(
                _pairgen_packed_kernel(s, rseed, excl_bc, B, bc=bc, l=l),
                CAND_P_SCHEMA,
            )
        else:
            cands = gather_scored(pool_p, samples, rseed, engage_tau)
        merged = (
            pool_p.repartitionById(B, "blk")
            .groupBy("blk")
            .cogroup(cands.repartitionById(B, "blk").groupBy("blk"))
            .applyInPandas(_merge_packed_kernel(l, s), MERGE_P_SCHEMA)
        )
        # the round's counts ride the job that materializes the pool
        obs = Observation()
        new_pool = truncate_state(spark, merged.observe(
            obs, F.sum("n_entries").alias("ne"), F.sum("n_fresh").alias("nf")
        ))
        counts = obs.get
        fresh = int(counts["nf"] or 0)
        release_state(pool_p)
        # a blocked round at 1M vecs writes tens of GB of shuffle; force
        # the superseded round's files off disk before the next one starts
        reclaim_shuffles(spark, n)
        if n_edges_target is None:
            n_edges_target = int(counts["ne"] or 0)
        rate = fresh / max(n_edges_target, 1)
        row_m = {"superstep": it, "new_entries": fresh,
                 "update_rate": rate, "tau_engaged": engage_tau,
                 "wall_sec": round(time.monotonic() - t_round, 2)}
        prev_rate = rate
        pool_p = new_pool.select("blk", "src", "dst", "dist", "is_new")
        recall_stop = False
        if min_recall is not None and control_bc is not None:
            # timed separately — the reference's per-iter wall excludes
            # eval_recall too (timmer e_descent precedes the eval)
            t_ev = time.monotonic()
            rec = packed_pool_recall(pool_p, control_bc, control_total)
            row_m["recall"] = round(rec, 4)
            row_m["recall_eval_sec"] = round(time.monotonic() - t_ev, 2)
            recall_stop = rec >= min_recall
        row_m["recall_stop"] = recall_stop
        metrics.append(row_m)
        if recall_stop or rate < min_update_rate:
            break

    if excl_bc is not None:
        excl_bc.unpersist()
    if emb_cells is not emb_blocks:
        emb_cells.unpersist()
    if emb_blocks is not None:
        emb_blocks.unpersist()
    if payload == "int8" and final_k is not None:
        # exact re-rank of the top band: the loop ran on quantized wire
        # vectors (~0.4%-of-max rounding), so re-score the top
        # min(L, 2k) band of each pool against a temporary fp32 packing
        # and cut the FINAL top-k on exact distances — the returned
        # graph's (ordering, dist) are bit-exact fp32 arithmetic, the
        # standard quantized-retrieve / exact-rerank contract. One extra
        # scoring pass (~N*band pairs ≈ the init scoring), no residency
        # requirement (same cogroup gather).
        from kgraph_framework_spark.operators.nnd_fused import topk_per_src

        t_rr = time.monotonic()
        band = min(l, 2 * final_k)
        exact_blocks = (
            build_emb_blocks(emb, G, "fp32", row_bytes)
            .repartitionById(G, "g")
            .persist()
        )
        exact = score_pairs_blocked(
            unpack_pool_topk(pool_p, band).select(
                F.col("src").alias("a"), F.col("dst").alias("b")
            ),
            exact_blocks,
            G,
            row_bytes=row_bytes,
        )
        graph = truncate_state(spark, topk_per_src(
            exact.select(
                F.col("a").alias("src"), F.col("b").alias("dst"), "dist"
            ),
            final_k,
            B,
        ))
        graph.count()
        exact_blocks.unpersist()
        release_state(pool_p)  # graph no longer references the pool
        metrics.append({
            "stage": "rerank", "band": band,
            "wall_sec": round(time.monotonic() - t_rr, 2),
        })
        return graph, metrics
    return unpack_pool_topk(pool_p, final_k), metrics
