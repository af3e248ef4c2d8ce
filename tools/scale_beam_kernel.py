"""Visited-set crossover for the lockstep beam kernel, without Spark.

Builds a seeded clustered graph at N rows, runs
``operators.search._beam_search_batch`` over the same queries once with
every chunk on the dense visited bitmap and once with every chunk on the
LSM, asserts the two outputs are bit-identical (pools, cmps, hops), and
prints the CPU seconds of each path. This reproduces SCALE.md's
"Beam-search visited set: dense bitmap below the budget" crossover rows
and is the evidence behind ``search._VISITED_BITMAP_BYTES``.

The graph: rows drawn from a Gaussian mixture (one center per ~500 rows,
so density stays fixed as N grows), each row linked to its exact
nearest neighbours inside its own cluster plus a few random rows
anywhere (long links keep the graph navigable across clusters). Queries
come from the same mixture; the entry point is the row nearest the mean.

Run:
  python tools/scale_beam_kernel.py N [--queries 512] [--L 64]
      [--width 1] [--chunk 256] [--reps 3] [--seed 1]

One JSON line per run with the median CPU-s of each path over --reps
alternating repetitions, the bitmap bytes of one chunk, and the mean
cmps/hops per query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from mysteryann_spark.operators import search  # noqa: E402

DIM = 32
ROWS_PER_CENTER = 500
LOCAL_DEGREE = 14
LONG_LINKS = 2


def clustered_graph(n: int, seed: int):
    """(base, indptr, indices, centers) of the seeded clustered graph."""
    rng = np.random.default_rng(seed)
    n_centers = max(1, n // ROWS_PER_CENTER)
    centers = rng.standard_normal((n_centers, DIM)) * 3.0
    label = rng.integers(0, n_centers, size=n)
    base = (centers[label] + rng.standard_normal((n, DIM))).astype(np.float32)
    nbrs = np.empty((n, LOCAL_DEGREE + LONG_LINKS), dtype=np.int64)
    for c in range(n_centers):
        members = np.nonzero(label == c)[0]
        x = base[members]
        sq = np.einsum("ij,ij->i", x, x)
        d = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
        np.fill_diagonal(d, np.inf)
        k = min(LOCAL_DEGREE, len(members) - 1)
        local = np.argsort(d, axis=1, kind="stable")[:, :k]
        if k < LOCAL_DEGREE:  # tiny cluster: pad with random rows
            pad = rng.integers(0, n, size=(len(members), LOCAL_DEGREE - k))
            local = np.concatenate([members[local], pad], axis=1)
        else:
            local = members[local]
        nbrs[members, :LOCAL_DEGREE] = local
    nbrs[:, LOCAL_DEGREE:] = rng.integers(0, n, size=(n, LONG_LINKS))
    indptr = np.arange(n + 1, dtype=np.int64) * nbrs.shape[1]
    return base, indptr, nbrs.ravel(), centers


def run_path(budget, qmat, ep, indptr, indices, base, L, width, chunk):
    """Search every query chunk under one visited-set budget; returns
    (cpu_s, out_d, out_r, cmps, hops)."""
    search._VISITED_BITMAP_BYTES = budget
    excl = np.full(len(qmat), -1, dtype=np.int64)
    t0 = time.process_time()
    parts = [
        search._beam_search_batch(
            qmat[s : s + chunk], ep, indptr, indices, base, L, "l2",
            excl[s : s + chunk], expand_width=width, return_arrays=True,
        )
        for s in range(0, len(qmat), chunk)
    ]
    cpu = time.process_time() - t0
    return (cpu, *(np.concatenate([p[j] for p in parts]) for j in range(4)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", type=int)
    ap.add_argument("--queries", type=int, default=512)
    ap.add_argument("--L", type=int, default=64)
    ap.add_argument("--width", type=int, default=1)
    ap.add_argument("--chunk", type=int, default=search._BATCH_CHUNK)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()

    base, indptr, indices, centers = clustered_graph(a.n, a.seed)
    rng = np.random.default_rng(a.seed + 1)
    qmat = (
        centers[rng.integers(0, len(centers), size=a.queries)]
        + rng.standard_normal((a.queries, DIM))
    ).astype(np.float32)
    ep = int(np.argmin(((base - base.mean(axis=0)) ** 2).sum(axis=1)))

    paths = {"bitmap": 1 << 62, "lsm": 0}
    cpu = {p: [] for p in paths}
    outs = {}
    for rep in range(a.reps):
        order = list(paths) if rep % 2 == 0 else list(paths)[::-1]
        for p in order:
            res = run_path(paths[p], qmat, ep, indptr, indices, base, a.L, a.width, a.chunk)
            cpu[p].append(res[0])
            outs.setdefault(p, res[1:])
    for name, x, y in zip(("out_d", "out_r", "cmps", "hops"), outs["bitmap"], outs["lsm"]):
        assert np.array_equal(x, y), f"bitmap and LSM paths differ in {name}"

    print(json.dumps({
        "n": a.n, "queries": a.queries, "L": a.L, "width": a.width,
        "chunk": a.chunk, "reps": a.reps,
        "chunk_bitmap_mb": round(min(a.chunk, a.queries) * a.n / 2**20, 1),
        "bitmap_cpu_s": round(float(np.median(cpu["bitmap"])), 3),
        "lsm_cpu_s": round(float(np.median(cpu["lsm"])), 3),
        "mean_cmps": round(float(outs["lsm"][2].mean()), 1),
        "mean_hops": round(float(outs["lsm"][3].mean()), 1),
        "identical": True,
    }))


if __name__ == "__main__":
    main()
