"""Batch best-first beam search — SURVEY.md §2.10 Q1 / §2.3 J2.

``SearchRoarGraph`` (src/index_bipartite.cpp:2311-2420) per query: seed the
bounded queue with the medoid, repeatedly expand the closest unexpanded
node's adjacency, tag visited, stop when the top-L queue has no unexpanded
entry; emit top-k (ids, dists) plus (cmps, hops) cost counters.

Spark shape (broadcast path): the index — CSR adjacency + the base matrix
— is staged ONCE to Parquet by a distributed write and loaded lazily by
each Python worker (sources/staging.py; no driver collect round-trip);
queries stream through ``mapInPandas`` and run the lockstep beam loop in
numpy (per-round distance computation is one vectorized kernel call over
every live query's neighbor batch — the Arrow/numpy stand-in for the AVX
loop + prefetch). Visited tracking is one structure per lockstep chunk
over (query, row) composite keys, in place of the reference's epoch
visited-array pool (visited_list_pool.h): a dense bitmap while the
chunk's key space fits ``_VISITED_BITMAP_BYTES``, an LSM of sorted key
arrays beyond it (``_visited_set``; crossover measured in SCALE.md
"Beam-search visited set: dense bitmap below the budget").

Scale: this path assumes the index fits in executor memory — the same
assumption the single-node reference makes for its whole lifetime. The
query side is unbounded: 10^9 queries shard into partitions with zero
shuffle (output is already per-query). For indexes beyond executor RAM
the Pregel-style frontier-join rendering in
``operators/search_distributed.py`` is the fallback (SURVEY §3.2),
bit-parity-tested against this path in tests/test_graph.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mysteryann_spark.functions.vector import np_pair_distances
from mysteryann_spark.sources.staging import (
    load_staged,
    load_staged_graph,
    read_staged,
    read_staged_multi,
    stage_parquet,
    staged_matrix,
    table_csr,
    table_matrix,
)


def stage_graph_index(
    base_df: DataFrame,
    adj_df: DataFrame,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    storage_dir: str | None = None,
) -> tuple[str, str]:
    """Stage the (base vectors, adjacency) index pair to Parquet once via
    distributed writes; callers running several searches over one index
    (sweeps, repeated queries) pass the result to ``search_graph`` so the
    write and the per-worker load both happen once."""
    return (
        stage_parquet(base_df.select(base_id, vec_col), storage_dir),
        stage_parquet(adj_df, storage_dir),
    )

# lockstep batch width for the shared-distance-call beam search: big
# enough that one einsum round amortizes numpy call overhead, small
# enough that per-chunk state stays cheap — the (chunk, L) pools and the
# visited set, whose dense-bitmap form is chunk x n_rows bytes
_BATCH_CHUNK = 256

# largest (query, row) key space, in bytes (one bool per key), that a
# lockstep chunk tracks with a dense visited bitmap; larger key spaces
# use the LSM. At 256-query chunks and L=64 the bitmap costs 0.58x the
# LSM's CPU at 10^4 rows and ties it at 4x10^5 rows (98 MB per chunk);
# 32 MB covers graphs up to ~1.3x10^5 rows and keeps four workers'
# bitmaps near 128 MB (SCALE.md "Beam-search visited set: dense bitmap
# below the budget", reproduced by tools/scale_beam_kernel.py)
_VISITED_BITMAP_BYTES = 32 << 20

_RESULT_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("nn_id", LongType(), False),
        StructField("dist", DoubleType(), False),
        StructField("rank", IntegerType(), False),
        StructField("cmps", IntegerType(), False),
        StructField("hops", IntegerType(), False),
    ]
)


class _VisitedBitmap:
    """Batch visited-set over (query, row) composite keys as one dense
    bool array of the chunk's whole key space: membership is one gather,
    marking one scatter. This is the lockstep form of the reference's
    per-query visited arrays (visited_list_pool.h) — one row of flags
    per query, so concurrent queries in a chunk never share a mark. Its
    cost is the n_keys bytes, which is why ``_visited_set`` hands key
    spaces beyond ``_VISITED_BITMAP_BYTES`` to ``_VisitedLSM``."""

    def __init__(self, n_keys: int, init_keys: np.ndarray):
        self.bits = np.zeros(n_keys, dtype=bool)
        self.bits[init_keys] = True

    def contains(self, keys: np.ndarray) -> np.ndarray:
        return self.bits[keys]

    def add_sorted(self, keys: np.ndarray) -> None:
        self.bits[keys] = True


class _VisitedLSM:
    """Batch visited-set over (query, row) composite keys: a few sorted
    int64 arrays (LSM levels), membership = one vectorized searchsorted
    per level, insertion = append a sorted level and merge when the level
    count passes the fanout. Memory follows the keys actually visited,
    not the key space, so it serves the graphs whose chunk bitmap would
    pass ``_VISITED_BITMAP_BYTES`` (~1.3x10^5 rows at 256-query chunks;
    the 10^7-row regime). Below that the bitmap is faster: SCALE.md
    measured 0.51 vs 0.30 CPU-s at 10^4 rows, a tie at 4x10^5 rows and
    the LSM ahead at 10^6 (0.75 vs 1.15 CPU-s), where faulting in a
    fresh 244 MB bitmap per chunk costs more than the probes save."""

    _FANOUT = 8

    def __init__(self, init_keys: np.ndarray):
        self.levels = [np.sort(init_keys)]

    def contains(self, keys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(keys), dtype=bool)
        for lv in self.levels:
            if not len(lv):  # seedless init (e.g. every seed list empty)
                continue
            idx = np.searchsorted(lv, keys)
            idxc = np.minimum(idx, len(lv) - 1)
            out |= (idx < len(lv)) & (lv[idxc] == keys)
        return out

    def add_sorted(self, keys: np.ndarray) -> None:
        if not len(keys):
            return
        self.levels.append(keys)
        # geometric merge policy (the logarithmic method): merge runs of
        # similar size so total merge work is O(N log N) over the whole
        # search, not O(N^2 / fanout) — the naive merge-all-every-K
        # profile showed THIS as the top cost at large L (95 s of a
        # 210 s run re-sorting the full visited set every K rounds)
        while (
            len(self.levels) > 1
            and len(self.levels[-2]) <= 2 * len(self.levels[-1])
        ):
            b = self.levels.pop()
            a = self.levels.pop()
            self.levels.append(np.sort(np.concatenate([a, b])))


def _visited_set(
    n_keys: int, init_keys: np.ndarray
) -> _VisitedBitmap | _VisitedLSM:
    """The visited set for one lockstep chunk over a key space of
    ``n_keys`` (query, row) composite keys, pre-marked with
    ``init_keys``: the dense bitmap when its n_keys bytes fit
    ``_VISITED_BITMAP_BYTES``, the LSM otherwise. Both mark and report
    the same keys, so the choice never changes a search's results."""
    if n_keys <= _VISITED_BITMAP_BYTES:
        return _VisitedBitmap(n_keys, init_keys)
    return _VisitedLSM(init_keys)


def _merge_pools(
    pool_d: np.ndarray,
    pool_r: np.ndarray,
    pool_e: np.ndarray,
    live_n: int,
    orow: np.ndarray,
    dists: np.ndarray,
    nbr: np.ndarray,
    L: int,
) -> None:
    """Insert candidates into (dist, row)-sorted bounded pools WITHOUT
    sorting the pools: candidate insertion positions come from a
    vectorized binary search over all candidates at once (exact (d, r)
    comparisons — no packed-key approximations), old entries shift right
    by a per-column cumulative candidate count, and both sides scatter
    into a padded buffer whose spill past column L is the eviction.
    O(K log L) search + O(n_aff x L) memcpy-grade scatters per call,
    versus the O(n_aff x (L+C) log(L+C)) row sorts this replaced —
    the difference is the whole win at large L (SCALE.md r7)."""
    K = len(orow)
    if K == 0:  # e.g. seed-merge with every seed list empty
        return
    o = np.lexsort((nbr, dists, orow))
    orow, dists, nbr = orow[o], dists[o], nbr[o]
    # branch-free binary search over flat row offsets: pos accumulates
    # power-of-two steps past entries that sort before the candidate;
    # probes past column L-1 re-read the row's last entry, which keeps
    # the row sorted, so pos only overshoots L when every entry is less
    flat_d, flat_r = pool_d.reshape(-1), pool_r.reshape(-1)
    row0 = orow * np.int64(L)
    last = row0 + (L - 1)
    pos = np.zeros(K, dtype=np.int64)
    step = 1 << (int(L).bit_length() - 1)
    while step:
        idx = np.minimum(row0 + pos + (step - 1), last)
        vd, vr = flat_d[idx], flat_r[idx]
        pos += ((vd < dists) | ((vd == dists) & (vr < nbr))) * step
        step >>= 1
    np.minimum(pos, L, out=pos)
    seg = np.bincount(orow, minlength=live_n)
    aff = np.nonzero(seg)[0]
    seg_aff = seg[aff]
    ends_q = np.cumsum(seg_aff)
    k_within = np.arange(K, dtype=np.int64) - np.repeat(ends_q - seg_aff, seg_aff)
    la = len(aff)
    aff_row_of = np.empty(live_n, dtype=np.int64)
    aff_row_of[aff] = np.arange(la)
    r_idx = aff_row_of[orow]
    cmax = int(seg_aff.max())
    cnt = np.bincount(
        r_idx * np.int64(L + 1) + pos, minlength=la * (L + 1)
    ).reshape(la, L + 1)
    shift = np.cumsum(cnt[:, :L], axis=1)
    dest_old = np.arange(L, dtype=np.int64)[None, :] + shift
    W = L + cmax
    new_d = np.empty((la, W))
    new_r = np.empty((la, W), dtype=np.int64)
    new_e = np.empty((la, W), dtype=bool)
    # scatter through flat offsets into the (la, W) buffers, computed
    # once for the three old-entry scatters and once for the candidates
    flat_old = (dest_old + (np.arange(la, dtype=np.int64) * W)[:, None]).reshape(-1)
    new_d.reshape(-1)[flat_old] = pool_d[aff].reshape(-1)
    new_r.reshape(-1)[flat_old] = pool_r[aff].reshape(-1)
    new_e.reshape(-1)[flat_old] = pool_e[aff].reshape(-1)
    flat_c = r_idx * W + pos + k_within
    new_d.reshape(-1)[flat_c] = dists
    new_r.reshape(-1)[flat_c] = nbr
    new_e.reshape(-1)[flat_c] = False
    pool_d[aff] = new_d[:, :L]
    pool_r[aff] = new_r[:, :L]
    pool_e[aff] = new_e[:, :L]


def _beam_search_batch(
    qmat: np.ndarray,
    ep_row: int,
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
    exclude_rows: np.ndarray,
    expand_width: int = 1,
    return_arrays: bool = False,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """Vectorized lockstep best-first search for a BATCH of queries —
    bit-identical state evolution to the scalar per-query loop
    (``beam_search_batch_ref`` in tests/beam_ref.py: pools ordered by the
    same (dist, row) total order, same visited-first-occurrence
    semantics, same cmps/hops counters; parity-gated in
    tests/test_graph.py under both visited sets), with the per-round
    per-query Python bookkeeping that dominated small-batch throughput
    (pool scans, per-neighbor set ops, insort) replaced by whole-batch
    numpy:

    * pools live in (n_live, L) arrays kept (dist, row)-sorted and
      COMPACTED to live queries (a finished query's row is emitted and
      dropped), so no per-round full-width gathers;
    * frontier selection: strict best-first (width 1) is a row argmin
      over the expanded flags; wider is a masked cumsum — padding slots
      carry expanded=True so no validity mask is needed;
    * candidates that cannot beat their pool's current worst are dropped
      up front (the scalar insertion test), and the survivors merge via
      sort-free batched scatter (``_merge_pools``);
    * visited tracking is over (query, row) composite keys in the
      key space n_q x n_rows (``_visited_set``): a dense bitmap, one
      gather to probe and one scatter to mark, while that space fits
      ``_VISITED_BITMAP_BYTES``, else an LSM of sorted key arrays
      (``_VisitedLSM``) — either way vectorized over the whole round's
      candidates at once;
    * within-round first-occurrence dedup is one np.unique over the same
      composite keys, preserving the scalar loop's mark-as-you-go order.

    ``expand_width`` > 1 expands up to that many unexpanded pool entries
    per round instead of the strict best-first one: the round count
    drops ~width-fold, at the cost of scoring some neighbors a strict
    order would have pruned. Width 1 is the reference's loop; wider is
    the standard batched-greedy relaxation, recall-gated where used.
    cmps counts post-seed distance evaluations only — the reference
    zeroes its counter after scoring the entry point (SearchRoarGraph,
    src/index_bipartite.cpp:2311-2420).

    SCALE.md's r6 finding motivates this: at 1k queries the per-round
    Python loop was the wall (threads 16->32 bought nothing); the
    distance kernel was already batched. Measured single-thread on a
    2x10^5-node degree-32 graph, 256 queries: 1.25-2.8x over the scalar
    loop across (L, width) in {100,400,1600} x {1,4,8}.
    """
    n_q, L = qmat.shape[0], l_search
    n_rows = bmat.shape[0]
    sent = n_rows  # sentinel row id: sorts after every real row
    d0 = np_pair_distances(metric, qmat, np.broadcast_to(bmat[ep_row], qmat.shape))
    # pools are compacted to live queries; padding slots are (inf, sent)
    # and PRE-MARKED expanded so frontier scans need no validity mask
    pool_d = np.full((n_q, L), np.inf)
    pool_r = np.full((n_q, L), sent, dtype=np.int64)
    pool_e = np.ones((n_q, L), dtype=bool)
    pool_d[:, 0] = d0
    pool_r[:, 0] = ep_row
    pool_e[:, 0] = False
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    out_d = np.empty((n_q, L))
    out_r = np.empty((n_q, L), dtype=np.int64)

    nr64 = np.int64(n_rows)
    visited = _visited_set(
        n_q * n_rows, np.arange(n_q, dtype=np.int64) * nr64 + np.int64(ep_row)
    )
    live = np.arange(n_q, dtype=np.int64)  # global qid of each pool row
    row_of = np.arange(n_q, dtype=np.int64)  # global qid -> pool row
    while len(live):
        lq = len(live)
        if expand_width == 1:
            # strict best-first: first unexpanded column per row
            col = np.argmin(pool_e, axis=1)
            has = ~pool_e[np.arange(lq), col]
            qi_l = np.nonzero(has)[0]
            col = col[qi_l]
        else:
            unexp = ~pool_e
            pick = unexp & (np.cumsum(unexp, axis=1) <= expand_width)
            has = pick.any(axis=1)
            qi_l, col = np.nonzero(pick)
        if not has.all():
            # emit finished queries and compact the pool arrays; picks
            # are re-derived against the compacted rows (compaction is
            # rare — once per finished query)
            done = np.nonzero(~has)[0]
            out_d[live[done]] = pool_d[done]
            out_r[live[done]] = pool_r[done]
            keep = np.nonzero(has)[0]
            pool_d, pool_r, pool_e = pool_d[keep], pool_r[keep], pool_e[keep]
            live = live[keep]
            if not len(live):
                break
            row_of[live] = np.arange(len(live))
            if expand_width == 1:
                qi_l = np.arange(len(live))
                col = np.argmin(pool_e, axis=1)
            else:
                unexp = ~pool_e
                pick = unexp & (np.cumsum(unexp, axis=1) <= expand_width)
                qi_l, col = np.nonzero(pick)
        qi = live[qi_l]  # global qids, one per expansion
        pool_e[qi_l, col] = True
        hops += np.bincount(qi, minlength=n_q)
        rows = pool_r[qi_l, col]

        # gather the expanded rows' neighbor lists (ragged -> flat)
        starts = indptr[rows]
        lens = indptr[rows + 1] - starts
        total = int(lens.sum())
        if total == 0:
            continue
        ends = np.cumsum(lens)
        flat_pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(ends - lens, lens)
            + np.repeat(starts, lens)
        )
        nbr = indices[flat_pos]
        owner = np.repeat(qi, lens)

        # visited / self-exclusion filter + within-round first-occurrence
        # dedup, both preserving the scalar loop's mark-as-you-go order
        key = owner * nr64 + nbr
        fresh = ~visited.contains(key) & (nbr != exclude_rows[owner])
        nbr, owner, key = nbr[fresh], owner[fresh], key[fresh]
        if len(nbr):
            ukey, first = np.unique(key, return_index=True)
            first.sort()
            nbr, owner = nbr[first], owner[first]
            visited.add_sorted(ukey)
        if not len(nbr):
            continue
        dists = np_pair_distances(metric, qmat[owner], bmat[nbr])
        cmps += np.bincount(owner, minlength=n_q)

        # the scalar insertion test, applied up front: a candidate that
        # does not beat its pool's current worst (by the (d, r) order,
        # full pools only) can never enter — dropping it here means late
        # rounds touch only the pools that actually change
        orow = row_of[owner]
        wd, wr = pool_d[orow, L - 1], pool_r[orow, L - 1]
        beat = (dists < wd) | ((dists == wd) & (nbr < wr)) | (wr == sent)
        if not beat.any():
            continue
        _merge_pools(
            pool_d, pool_r, pool_e, len(live),
            orow[beat], dists[beat], nbr[beat], L,
        )

    if return_arrays:
        # the raw (dist, row) pool arrays, sentinel-padded — the
        # mapInPandas wrappers consume these directly and build their
        # output columns with whole-batch numpy instead of the O(n_q x L)
        # per-entry tuple conversion below (same values, same order)
        return out_d, out_r, cmps, hops
    pools = [
        [
            (float(out_d[i, j]), int(out_r[i, j]))
            for j in range(L)
            if out_r[i, j] != sent
        ]
        for i in range(n_q)
    ]
    return pools, cmps, hops


def _beam_search_bipartite_batch(
    qmat: np.ndarray,
    seed_rows_list: list[list[int]],
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
    return_arrays: bool = False,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """Vectorized 2-hop best-first search over the bipartite graph
    (SearchBipartiteGraph, src/index_bipartite.cpp:282-356) for a BATCH
    of queries — bit-identical state evolution to the scalar loop
    (``beam_search_bipartite_batch_ref`` in tests/beam_ref.py;
    parity-gated in tests/test_graph.py under both visited sets), built
    from the same parts as the projection-graph kernel: compacted
    (n_live, L) sorted pools, sort-free scatter merges (_merge_pools),
    a visited set over the n_q x total key space (``_visited_set``:
    dense bitmap within ``_VISITED_BITMAP_BYTES``, LSM beyond), and
    strict best-first frontier selection. The
    only structural difference is the 2-hop expansion (base ->
    query-node -> base: two chained CSR gathers) and multi-seed pool
    initialization (seeds merge into an empty pool; their scoring is
    excluded from cmps, the reference's counter convention)."""
    n_q, L = qmat.shape[0], l_search
    total = len(indptr) - 1  # base + query nodes; pool rows are base-only
    sent = total
    pool_d = np.full((n_q, L), np.inf)
    pool_r = np.full((n_q, L), sent, dtype=np.int64)
    pool_e = np.ones((n_q, L), dtype=bool)
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    out_d = np.empty((n_q, L))
    out_r = np.empty((n_q, L), dtype=np.int64)

    t64 = np.int64(total)
    s_counts = np.fromiter(
        (len(s) for s in seed_rows_list), dtype=np.int64, count=n_q
    )
    s_qidx = np.repeat(np.arange(n_q, dtype=np.int64), s_counts)
    s_rows = np.fromiter(
        (r for s in seed_rows_list for r in s), dtype=np.int64,
        count=int(s_counts.sum()),
    )
    skey, first = np.unique(s_qidx * t64 + s_rows, return_index=True)
    first.sort()
    s_qidx, s_rows = s_qidx[first], s_rows[first]
    visited = _visited_set(n_q * total, skey)
    s_d = np_pair_distances(metric, qmat[s_qidx], bmat[s_rows])
    _merge_pools(pool_d, pool_r, pool_e, n_q, s_qidx, s_d, s_rows, L)

    live = np.arange(n_q, dtype=np.int64)
    row_of = np.arange(n_q, dtype=np.int64)
    while len(live):
        col = np.argmin(pool_e, axis=1)
        has = ~pool_e[np.arange(len(live)), col]
        qi_l = np.nonzero(has)[0]
        col = col[qi_l]
        if not has.all():
            done = np.nonzero(~has)[0]
            out_d[live[done]] = pool_d[done]
            out_r[live[done]] = pool_r[done]
            keep = np.nonzero(has)[0]
            pool_d, pool_r, pool_e = pool_d[keep], pool_r[keep], pool_e[keep]
            live = live[keep]
            if not len(live):
                break
            row_of[live] = np.arange(len(live))
            qi_l = np.arange(len(live))
            col = np.argmin(pool_e, axis=1)
        qi = live[qi_l]
        pool_e[qi_l, col] = True
        hops += np.bincount(qi, minlength=n_q)
        rows = pool_r[qi_l, col]

        # 2-hop gather: base -> query-node (hop 1) -> base (hop 2), flat
        # order matching the scalar loop's nested CSR iteration exactly
        st1 = indptr[rows]
        l1 = indptr[rows + 1] - st1
        tot1 = int(l1.sum())
        if tot1 == 0:
            continue
        e1 = np.cumsum(l1)
        h1 = indices[
            np.arange(tot1, dtype=np.int64)
            - np.repeat(e1 - l1, l1)
            + np.repeat(st1, l1)
        ]
        own1 = np.repeat(qi, l1)
        st2 = indptr[h1]
        l2 = indptr[h1 + 1] - st2
        tot2 = int(l2.sum())
        if tot2 == 0:
            continue
        e2 = np.cumsum(l2)
        nbr = indices[
            np.arange(tot2, dtype=np.int64)
            - np.repeat(e2 - l2, l2)
            + np.repeat(st2, l2)
        ]
        owner = np.repeat(own1, l2)

        key = owner * t64 + nbr
        fresh = ~visited.contains(key)
        nbr, owner, key = nbr[fresh], owner[fresh], key[fresh]
        if len(nbr):
            ukey, first2 = np.unique(key, return_index=True)
            first2.sort()
            nbr, owner = nbr[first2], owner[first2]
            visited.add_sorted(ukey)
        if not len(nbr):
            continue
        dists = np_pair_distances(metric, qmat[owner], bmat[nbr])
        cmps += np.bincount(owner, minlength=n_q)

        orow = row_of[owner]
        wd, wr = pool_d[orow, L - 1], pool_r[orow, L - 1]
        beat = (dists < wd) | ((dists == wd) & (nbr < wr)) | (wr == sent)
        if not beat.any():
            continue
        _merge_pools(
            pool_d, pool_r, pool_e, len(live),
            orow[beat], dists[beat], nbr[beat], L,
        )

    if return_arrays:
        return out_d, out_r, cmps, hops
    pools = [
        [
            (float(out_d[i, j]), int(out_r[i, j]))
            for j in range(L)
            if out_r[i, j] != sent
        ]
        for i in range(n_q)
    ]
    return pools, cmps, hops


def search_bipartite(
    queries_df: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    base_count: int,
    k: int,
    l_search: int,
    metric: str = "l2",
    n_seeds: int = 10,
    seed: int = 42,
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search over a bipartite adjacency (build_bipartite output,
    global ID space: base [0, base_count), query nodes above). The
    reference draws its 10 seeds from random_device — nondeterministic by
    design; here they're drawn from a (seed, qid)-keyed generator so runs
    are reproducible (SURVEY.md §5 determinism stance). The index stages
    to Parquet and loads executor-side (sources/staging.py)."""
    base_path = stage_parquet(base_df.select(base_id, vec_col))
    adj_path = stage_parquet(adj_df)

    def _build():
        ids, bmat = table_matrix(read_staged(base_path), base_id, vec_col)
        if len(ids) != base_count or ids[0] != 0 or ids[-1] != base_count - 1:
            raise ValueError("bipartite search requires dense base ids [0, base_count)")
        adj_tbl = read_staged(adj_path)
        node_ids = adj_tbl["node"].combine_chunks().to_numpy(zero_copy_only=False)
        total = max(base_count, int(node_ids.max()) + 1 if len(node_ids) else 0)
        # the bipartite graph's id space is dense [0, total): align the CSR
        # to the identity id vector (vectorized — no per-node Python loop)
        indptr, indices = table_csr(adj_tbl, np.arange(total, dtype=np.int64))
        return bmat, indptr, indices

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_mat, b_indptr, b_indices = load_staged(base_path + "|" + adj_path, _build)
        sent = len(b_indptr) - 1  # the kernel's sentinel row id
        for pdf in batches:
            if pdf.empty:
                continue
            cols: dict[str, list] = {
                c: [] for c in ("qid", "nn_id", "dist", "rank", "cmps", "hops")
            }
            for s in range(0, len(pdf), _BATCH_CHUNK):
                sub = pdf.iloc[s : s + _BATCH_CHUNK]
                qids = sub[query_id].to_numpy()
                qmat = np.stack([np.asarray(v, dtype=b_mat.dtype) for v in sub[vec_col]])
                seeds = [
                    [int(x) for x in np.random.default_rng([seed, int(qid)]).integers(
                        0, base_count, size=n_seeds)]
                    for qid in qids
                ]
                od, orr, cmps, hops = _beam_search_bipartite_batch(
                    qmat, seeds, b_indptr, b_indices, b_mat, l_search, metric,
                    return_arrays=True,
                )
                # whole-batch output assembly (same rows, same order as
                # the per-entry loop this replaces — guide §4.2: no
                # per-row Python on the hot path)
                valid = orr != sent
                rnk = np.cumsum(valid, axis=1)
                keep = valid & (rnk <= k)
                qi, ci = np.nonzero(keep)
                cols["qid"].append(qids[qi])
                cols["nn_id"].append(orr[qi, ci])
                cols["dist"].append(od[qi, ci])
                cols["rank"].append(rnk[qi, ci].astype(np.int32))
                cols["cmps"].append(cmps[qi].astype(np.int32))
                cols["hops"].append(hops[qi].astype(np.int32))
            yield pd.DataFrame(
                {c: np.concatenate(v) if v else np.empty(0) for c, v in cols.items()}
            )

    return queries_df.select(query_id, vec_col).mapInPandas(run, _RESULT_SCHEMA)


def search_graph(
    queries_df: DataFrame,
    base_df: DataFrame,
    adj_df: DataFrame,
    entry_point: int,
    k: int,
    l_search: int,
    metric: str = "l2",
    query_id: str = "qid",
    base_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    staged: tuple[str | list[str], str | list[str]] | None = None,
    expand_width: int = 1,
) -> DataFrame:
    """Top-k ANN for every query row; returns
    ``(qid, nn_id, dist, rank, cmps, hops)``.

    ``staged``: optional ``(base_path(s), adj_path(s))`` from
    ``stage_graph_index`` — repeated searches over one index (sweeps)
    stage once and reuse. EITHER side may be a LIST of staged paths
    (StagedBase incremental form: concatenated, later paths override
    duplicate ids/nodes; a base superset of the live graph is allowed —
    extra rows are never reachable). The adjacency delta form is the
    maintenance loop's path to per-batch staging cost ∝ |batch|: the
    full graph stages once, each batch appends only its changed rows
    (``read_staged_multi`` merges worker-side). ``expand_width``: beam
    entries expanded per lockstep round (1 = reference-strict
    best-first; see _beam_search_batch).
    """
    if staged is None:
        staged = stage_graph_index(base_df, adj_df, base_id=base_id, vec_col=vec_col)
    base_path, adj_path = staged
    base_paths = [base_path] if isinstance(base_path, str) else list(base_path)
    adj_paths = [adj_path] if isinstance(adj_path, str) else list(adj_path)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # incremental worker artifact: a previously-built chain prefix is
        # PATCHED with the suffix deltas instead of re-reading the whole
        # chain from parquet (sources/staging.load_staged_graph) — the
        # per-batch maintenance refresh follows the batch, not the graph
        b_ids, b_mat, b_indptr, b_indices = load_staged_graph(
            base_paths, adj_paths, base_id, vec_col
        )
        b_ep = int(np.searchsorted(b_ids, entry_point))
        sent = b_mat.shape[0]  # the kernel's sentinel row id
        for pdf in batches:
            if pdf.empty:
                continue
            cols: dict[str, list] = {
                c: [] for c in ("qid", "nn_id", "dist", "rank", "cmps", "hops")
            }
            # lockstep chunks bound per-round state while keeping the
            # shared distance call large enough to amortize
            for s in range(0, len(pdf), _BATCH_CHUNK):
                sub = pdf.iloc[s : s + _BATCH_CHUNK]
                qids = sub[query_id].to_numpy()
                qmat = np.stack([np.asarray(v, dtype=b_mat.dtype) for v in sub[vec_col]])
                if exclude_self:
                    excl = np.searchsorted(b_ids, qids)
                    in_range = excl < len(b_ids)
                    excl = np.where(
                        in_range & (b_ids[np.minimum(excl, len(b_ids) - 1)] == qids),
                        excl,
                        -1,
                    )
                else:
                    excl = np.full(len(sub), -1, dtype=np.int64)
                od, orr, cmps, hops = _beam_search_batch(
                    qmat, b_ep, b_indptr, b_indices, b_mat, l_search, metric, excl,
                    expand_width=expand_width, return_arrays=True,
                )
                # whole-batch output assembly — same rows, same order as
                # the per-entry loop this replaces (guide §4.2). The
                # entry point always seeds the pool, so when the query IS
                # the medoid its row still drops here via the excl mask.
                valid = (orr != sent) & (orr != excl[:, None])
                rnk = np.cumsum(valid, axis=1)
                keep = valid & (rnk <= k)
                qi, ci = np.nonzero(keep)
                cols["qid"].append(qids[qi])
                cols["nn_id"].append(b_ids[orr[qi, ci]])
                cols["dist"].append(od[qi, ci])
                cols["rank"].append(rnk[qi, ci].astype(np.int32))
                cols["cmps"].append(cmps[qi].astype(np.int32))
                cols["hops"].append(hops[qi].astype(np.int32))
            yield pd.DataFrame(
                {c: np.concatenate(v) if v else np.empty(0) for c, v in cols.items()}
            )

    return queries_df.select(query_id, vec_col).mapInPandas(run, _RESULT_SCHEMA)
