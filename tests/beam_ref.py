"""Scalar reference beam searches: the parity oracles for the lockstep
kernels in ``mysteryann_spark.operators.search``.

Plain per-query Python loops (sorted-list pools, per-query visited and
expanded sets, ``insort``) that follow ``SearchRoarGraph`` and
``SearchBipartiteGraph`` (src/index_bipartite.cpp) step by step. They are
too slow to serve, so they live with the tests that compare the
vectorized kernels against them: pools, cmps and hops must be equal.
"""

from __future__ import annotations

from bisect import insort

import numpy as np

from mysteryann_spark.functions.vector import np_pair_distances


def beam_search_batch_ref(
    qmat: np.ndarray,
    ep_row: int,
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
    exclude_rows: np.ndarray,
    expand_width: int = 1,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """Best-first loop for a BATCH of queries in lockstep. Per query the
    state evolution is identical to running the sequential loop alone —
    pool entries are (dist, row) kept sorted, expanded rows tracked
    separately: NeighborPriorityQueue semantics (neighbor.h:138-223) with
    the (dist, id) total order. Lockstep exists purely to amortize the
    distance kernel: each round gathers every live query's one frontier
    expansion and scores all (query, neighbor) pairs with a single
    row-wise einsum call, instead of one numpy call per (query, hop) —
    the per-call overhead was the #1 cost of the graph build's
    connectivity phase.

    ``expand_width`` > 1 expands up to that many unexpanded pool entries
    per round INSTEAD of the strict best-first one: round count (and with
    it the per-round Python bookkeeping that dominates long searches at
    large L) drops ~width-fold, at the cost of scoring some neighbors a
    strict order would have pruned. Width 1 (default) is bit-identical
    to the reference's loop; wider is the standard batched-greedy
    relaxation, recall-gated where used (the 10^5-node rehearsal).

    cmps counts post-seed distance evaluations only — the reference
    zeroes its comparison counter after scoring the entry point
    (SearchRoarGraph, src/index_bipartite.cpp:2311-2420).

    Returns (pools, cmps, hops) with one entry per query row.
    """
    n_q = qmat.shape[0]
    d0 = np_pair_distances(metric, qmat, np.broadcast_to(bmat[ep_row], qmat.shape))
    pools: list[list[tuple[float, int]]] = [[(float(d0[i]), int(ep_row))] for i in range(n_q)]
    expanded: list[set[int]] = [set() for _ in range(n_q)]
    visited: list[set[int]] = [{int(ep_row)} for _ in range(n_q)]
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    live = list(range(n_q))
    while live:
        nxt: list[int] = []
        owners: list[tuple[int, int]] = []  # (query idx, n fresh)
        fresh_all: list[int] = []
        for i in live:
            pool, exp = pools[i], expanded[i]
            curs = []
            for d, r in pool:
                if r not in exp:
                    curs.append(r)
                    if len(curs) >= expand_width:
                        break
            if not curs:
                continue  # pool fully expanded -> query done
            nxt.append(i)
            vis, ex = visited[i], exclude_rows[i]
            fresh: list[int] = []
            for r in curs:
                exp.add(r)
                hops[i] += 1
                for n in indices[indptr[r] : indptr[r + 1]]:
                    if n not in vis and n != ex:
                        vis.add(n)
                        fresh.append(n)
            if fresh:
                owners.append((i, len(fresh)))
                fresh_all.extend(fresh)
        live = nxt
        if not fresh_all:
            continue
        rows = np.asarray(fresh_all, dtype=np.int64)
        qidx = np.repeat(
            np.fromiter((i for i, _ in owners), dtype=np.int64, count=len(owners)),
            np.fromiter((nf for _, nf in owners), dtype=np.int64, count=len(owners)),
        )
        dists = np_pair_distances(metric, qmat[qidx], bmat[rows])
        off = 0
        for i, nf in owners:
            ds, rs = dists[off : off + nf], rows[off : off + nf]
            off += nf
            cmps[i] += nf
            pool = pools[i]
            # boundary test uses the FULL (dist, id) tuple order — a
            # candidate tied on distance with a smaller row id at a full
            # pool's boundary replaces the boundary entry, matching
            # NeighborPriorityQueue's total order (neighbor.h:138-223)
            # and the vectorized kernel's merge
            worst = pool[-1] if len(pool) >= l_search else (np.inf, -1)
            for d, r in zip(ds, rs):
                cand = (float(d), int(r))
                if cand < worst or len(pool) < l_search:
                    insort(pool, cand)
                    if len(pool) > l_search:
                        pool.pop()
                        worst = pool[-1]
    return pools, cmps, hops


def beam_search_bipartite_batch_ref(
    qmat: np.ndarray,
    seed_rows_list: list[list[int]],
    indptr: np.ndarray,
    indices: np.ndarray,
    bmat: np.ndarray,
    l_search: int,
    metric: str,
) -> tuple[list[list[tuple[float, int]]], np.ndarray, np.ndarray]:
    """2-hop best-first loop over the bipartite graph for a BATCH of
    queries in lockstep (SearchBipartiteGraph,
    src/index_bipartite.cpp:282-356): expanding a base node walks
    base -> query-node -> base, so only base nodes are ever scored.
    Seeds are pre-drawn random base rows; per query the state evolution
    is identical to running its loop alone — lockstep only shares the
    per-round distance kernel call (see
    mysteryann_spark.operators.search._beam_search_batch).

    cmps excludes seed scoring — the reference's counter convention.
    """
    n_q = qmat.shape[0]
    uniq_list = [list(dict.fromkeys(s)) for s in seed_rows_list]
    seed_qidx = np.repeat(
        np.arange(n_q, dtype=np.int64),
        np.fromiter((len(u) for u in uniq_list), dtype=np.int64, count=n_q),
    )
    seed_flat = np.fromiter(
        (r for u in uniq_list for r in u), dtype=np.int64, count=len(seed_qidx)
    )
    seed_d = np_pair_distances(metric, qmat[seed_qidx], bmat[seed_flat])
    pools: list[list[tuple[float, int]]] = []
    off = 0
    for u in uniq_list:
        ds = seed_d[off : off + len(u)]
        off += len(u)
        pools.append(sorted((float(d), int(r)) for d, r in zip(ds, u))[:l_search])
    visited: list[set[int]] = [set(u) for u in uniq_list]
    expanded: list[set[int]] = [set() for _ in range(n_q)]
    cmps = np.zeros(n_q, dtype=np.int64)
    hops = np.zeros(n_q, dtype=np.int64)
    live = list(range(n_q))
    while live:
        nxt: list[int] = []
        owners: list[tuple[int, int]] = []
        fresh_all: list[int] = []
        for i in live:
            pool, exp = pools[i], expanded[i]
            cur = next(((d, r) for d, r in pool if r not in exp), None)
            if cur is None:
                continue
            nxt.append(i)
            exp.add(cur[1])
            hops[i] += 1
            vis = visited[i]
            fresh: list[int] = []
            for nbr in indices[indptr[cur[1]] : indptr[cur[1] + 1]]:
                for nn2 in indices[indptr[nbr] : indptr[nbr + 1]]:
                    if nn2 not in vis:
                        vis.add(nn2)
                        fresh.append(int(nn2))
            if fresh:
                owners.append((i, len(fresh)))
                fresh_all.extend(fresh)
        live = nxt
        if not fresh_all:
            continue
        rows = np.asarray(fresh_all, dtype=np.int64)
        qidx = np.repeat(
            np.fromiter((i for i, _ in owners), dtype=np.int64, count=len(owners)),
            np.fromiter((nf for _, nf in owners), dtype=np.int64, count=len(owners)),
        )
        dists = np_pair_distances(metric, qmat[qidx], bmat[rows])
        off = 0
        for i, nf in owners:
            ds, rs = dists[off : off + nf], rows[off : off + nf]
            off += nf
            cmps[i] += nf
            pool = pools[i]
            # full (dist, id) tuple order at the pool boundary — see
            # beam_search_batch_ref
            worst = pool[-1] if len(pool) >= l_search else (np.inf, -1)
            for d, r in zip(ds, rs):
                cand = (float(d), int(r))
                if cand < worst or len(pool) < l_search:
                    insort(pool, cand)
                    if len(pool) > l_search:
                        pool.pop()
                        worst = pool[-1]
    return pools, cmps, hops
