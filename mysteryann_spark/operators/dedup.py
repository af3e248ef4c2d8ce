"""Deduplication operators for the LLM-data-pipeline surface.

Not present in the reference (it is an ANN library), but core to the
north-star extension set (BASELINE.json): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup — each designed so
the shuffle-heavy step touches candidate pairs, never the full cross
product.

Scale notes per operator:
- exact/fingerprint dedup: one hash-groupBy — the canonical 100 TB dedup
  pass (map-side md5, shuffle only (hash, doc_id) pairs).
- MinHash-LSH: signatures are per-row expressions (no shuffle); banding
  shuffles (band_id, band_hash, doc_id) tuples; only same-bucket pairs are
  verified. Hot buckets (boilerplate docs) would skew — cap bucket size /
  salt in a production run; here bucket sizes are logged by the caller.
- SimHash: signatures fully per-row (one 64-bit signature per doc, no
  shuffle); pair generation is exact pigeonhole banding — equi-join on
  (band, chunk), XOR-popcount verify, never a cartesian.
- embedding near-dup: blocked GEMM against a broadcast normalized matrix —
  one pass, no pair shuffle; for bases beyond broadcast size this becomes
  an LSH/IVF-bucketed pair generation (similarity.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mysteryann_spark.functions.text import tokens_col
from mysteryann_spark.functions.vector import np_normalize

# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, key_expr=None) -> DataFrame:
    """Group documents by content hash; mark the min-doc_id canonical row.

    Returns (doc_id, group_size, is_canonical). ``key_expr`` defaults to
    md5 of the raw text (byte-exact duplicates); pass e.g.
    ``doc_fingerprint`` output for bag-of-words duplicates.
    """
    key = key_expr if key_expr is not None else F.md5("text")
    w = Window.partitionBy("grp")
    return (
        docs.select("doc_id", key.alias("grp"))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.min("doc_id").over(w)).cast("int"),
        )
        .select("doc_id", "group_size", "is_canonical")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_perm: int = 16, seed: int = 42
) -> DataFrame:
    """Per-doc MinHash signature over the distinct-token (unigram shingle)
    set. Each permutation is xxhash64(perm_seed, xxhash64(token)) minimized
    over the shingle set — a pure Catalyst expression, zero shuffle, and
    the same signature family ``minhash_lsh_pairs`` bands over."""
    htok = F.array_distinct(F.transform(tokens_col("text"), lambda t: F.xxhash64(t)))
    sig = F.array(
        *[
            F.array_min(F.transform(htok, lambda h: F.xxhash64(F.lit(seed + i), h)))
            for i in range(num_perm)
        ]
    )
    return docs.select("doc_id", sig.alias("sig"))


_VERIFY_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("est_jaccard", DoubleType(), False),
        StructField("jaccard", DoubleType(), False),
    ]
)

_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix64(x: np.ndarray | np.uint64) -> np.ndarray | np.uint64:
    """splitmix64 finalizer — a public-domain full-avalanche 64-bit mixer
    (Steele et al., "Fast Splittable Pseudorandom Number Generators").
    Vectorizes over uint64 numpy arrays; the minhash family below is
    h_i(t) = mix(t ^ mix(seed + i))."""
    with np.errstate(over="ignore"):  # mod-2^64 wraparound is the point
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _U64_MAX
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _U64_MAX
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _U64_MAX
        return x ^ (x >> np.uint64(31))


def _minhash_mat(
    indptr: np.ndarray, flat: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(n_reps, num_perm) uint64 MinHash matrix over CSR token sets —
    one vectorized mix + segment-min per permutation, no per-row loop.
    Empty token sets get the identity (all-max) signature."""
    n = len(indptr) - 1
    widths = np.diff(indptr)
    nonempty = widths > 0
    toks = flat.view(np.uint64)
    out = np.full((n, num_perm), _U64_MAX, dtype=np.uint64)
    starts = indptr[:-1][nonempty]
    for i in range(num_perm):
        h = _mix64(toks ^ _mix64(np.uint64(seed + i)))
        # reduceat misreads empty segments (returns the element AT the
        # offset), so reduce over nonempty segment starts only
        if len(starts):
            out[nonempty, i] = np.minimum.reduceat(h, starts)
    return out


def _band_buckets(sigmat: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """(n_reps, bands) int64 bucket ids: iterated splitmix combine of the
    band's signature rows (the numpy twin of the SQL xxhash64(rows...)
    bucket key)."""
    n = sigmat.shape[0]
    out = np.empty((n, bands), dtype=np.uint64)
    for b in range(bands):
        acc = np.full(n, np.uint64(0x8B5F0A5C9D3E7F11), dtype=np.uint64)
        for r in range(rows_per_band):
            acc = _mix64(acc ^ sigmat[:, b * rows_per_band + r])
        out[:, b] = acc
    return out.view(np.int64)


# Row cap of one doc-pair frame out of the MinHash verify kernel. A rep
# pair expands to members_a x members_b doc pairs, so a 512k-pair input
# chunk over two boilerplate groups of 10^5 copies each would otherwise
# allocate 10^10 rows at once; frames hold ~80 bytes of transient arrays
# per row, so a frame peaks near 40 MB.
_PAIR_FRAME_ROWS = 1 << 19


def _expand_doc_pairs(
    ka: np.ndarray,
    kb: np.ndarray,
    est: np.ndarray,
    jac: np.ndarray,
    mind: np.ndarray,
    mflat: np.ndarray,
) -> Iterator[pd.DataFrame]:
    """Expand surviving rep pairs ``(ka[i], kb[i])`` (indices into the CSR
    member lists ``mind``/``mflat``) to their members_a x members_b doc
    pairs, in frames of at most ``_PAIR_FRAME_ROWS`` rows.

    Row ``r`` of the full expansion is pair ``p`` with ``starts[p] <= r <
    ends[p]`` at offset ``off = r - starts[p]``, i.e. members
    ``(off // lb, off % lb)``; each frame is one ``[r0, r1)`` slice of
    those rows, so a rep pair over the cap is split by its offset range
    and the frames concatenate to the unframed expansion, in order.
    Member sets of distinct reps are disjoint, so x != y always and
    min/max is the id_a < id_b orientation.
    """
    la = mind[ka + 1] - mind[ka]
    lb = mind[kb + 1] - mind[kb]
    cnt = la * lb
    ends = np.cumsum(cnt)
    starts = ends - cnt
    total = int(ends[-1]) if len(ends) else 0
    for r0 in range(0, total, _PAIR_FRAME_ROWS):
        r1 = min(r0 + _PAIR_FRAME_ROWS, total)
        # pairs overlapping [r0, r1), and each one's row count inside it
        p0 = int(np.searchsorted(ends, r0, side="right"))
        p1 = int(np.searchsorted(ends, r1 - 1, side="right")) + 1
        seg = np.minimum(ends[p0:p1], r1) - np.maximum(starts[p0:p1], r0)
        pidx = np.repeat(np.arange(p0, p1, dtype=np.int64), seg)
        off = np.arange(r0, r1, dtype=np.int64) - starts[pidx]
        lb_p = np.maximum(lb[pidx], 1)
        x = mflat[mind[ka[pidx]] + off // lb_p]
        y = mflat[mind[kb[pidx]] + off % lb_p]
        yield pd.DataFrame(
            {
                "id_a": np.minimum(x, y),
                "id_b": np.maximum(x, y),
                "est_jaccard": est[pidx],
                "jaccard": jac[pidx],
            }
        )


def _verify_pairs_staged(
    cand: DataFrame, staged: str, num_perm: int, threshold: float, seed: int
) -> DataFrame:
    """Exact-Jaccard verification of (rep_a, rep_b) candidate pairs
    against STAGED per-rep payloads (token-hash set + member list),
    expanded to DOC pairs in the same kernel.

    ``staged`` is the Parquet artifact written by ``minhash_lsh_pairs``
    (one row per distinct token set: rep, htok, members, buckets); it is
    loaded per worker process as CSR numpy arrays — no driver collect,
    no per-pair array shipping (only the columns the kernel uses are
    decoded; the buckets column never leaves the parquet). The kernel
    computes the signature estimate as one vectorized matrix compare and
    the exact intersection per pair via searchsorted over the two sorted
    token arrays — the exact-Jaccard arithmetic (inter / (na + nb -
    inter)) is identical double math to the SQL join path, so the
    jaccard VALUES and the >=threshold verdicts agree bit-for-bit for
    any pair both paths consider. The CANDIDATE sets and est_jaccard may
    differ between the two paths: this path signs/bands with the
    splitmix64 family while the SQL path uses xxhash64, so band buckets
    (and thus which sub-threshold pairs get examined at all) are drawn
    from different hash families. tests/test_pipeline.py compares the
    two paths' final outputs on the test corpus.

    Surviving rep pairs expand to (id_a, id_b) doc pairs HERE — a
    vectorized members_a x members_b cross product over the worker's CSR
    member lists — instead of through two broadcast member joins plus
    two JVM explodes: the member lists already sit next to the kernel,
    so the expansion costs zero broadcast builds, zero join stages, and
    two fewer driver jobs per query (measured r13; values identical —
    same pairs, least/greatest orientation, est/jaccard constant across
    a rep pair's expansion). Intra-group (jaccard = 1.0) pairs remain
    the caller's separate JVM leg.
    """
    from mysteryann_spark.sources.staging import load_staged, table_ragged

    def build():
        import pyarrow.parquet as pq

        tbl = pq.read_table(staged, columns=["rep", "htok", "members"])
        reps, indptr, flat = table_ragged(tbl, "rep", "htok")
        flat = np.ascontiguousarray(flat)
        # member lists in the SAME rep order (table_ragged id-sorts both)
        _, mind, mflat = table_ragged(tbl, "rep", "members")
        # recompute the splitmix64 MinHash matrix once per worker from the
        # CSR token sets (cheaper than shipping num_perm longs per rep)
        sigmat = _minhash_mat(indptr, flat, num_perm, seed)
        # Global (rep_index, token_rank) key table for the intersection
        # kernel: token values are full-range int64 hashes, so they are
        # RANKED against the worker's token vocabulary and packed with
        # the rep index into one int64 key. Each rep's htok segment is
        # sorted and distinct, so the packed keys are globally ascending
        # — membership of (rep b, token t) is ONE searchsorted, and a
        # whole chunk of pairs intersects in a single vectorized call
        # (the per-distinct-rep Python loop this replaces measured ~10x
        # the kernel's single-thread cost in per-group numpy-call
        # overhead once the pair set was split over 32 tasks).
        vocab = np.unique(flat)
        v = max(1, len(vocab))
        if len(reps) and v > (2**62) // max(1, len(reps)):
            raise ValueError(
                "minhash verify key space overflow: "
                f"{len(reps)} reps x {v} distinct tokens"
            )
        frank = np.searchsorted(vocab, flat)
        rep_of = np.repeat(np.arange(len(reps), dtype=np.int64), np.diff(indptr))
        keys_b = rep_of * v + frank
        return reps, indptr, sigmat, mind, mflat, frank, keys_b, v

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        reps, indptr, sigmat, mind, mflat, frank, keys_b, v = load_staged(
            staged, build
        )
        n_keys = len(keys_b)

        def chunk_out(ra: np.ndarray, rb: np.ndarray) -> Iterator[pd.DataFrame]:
            n = len(ra)
            ia = np.searchsorted(reps, ra)
            ib = np.searchsorted(reps, rb)
            # Exact |A ∩ B| per pair, fully vectorized: every token of
            # every pair's A set is packed as (right-rep index, token
            # rank) and membership-tested against the worker's global
            # sorted key table in ONE searchsorted per token slice — no
            # per-pair or per-rep Python loop at all. Intersection counts
            # are exact integers, so jaccard values and >= threshold
            # verdicts are unchanged to the bit.
            na = indptr[ia + 1] - indptr[ia]
            nb = indptr[ib + 1] - indptr[ib]
            inter = np.zeros(n, dtype=np.int64)
            cum = np.cumsum(na)
            # bound the transient per-token key arrays (a chunk's pairs
            # can reference arbitrarily deep token sets at scale)
            tok_cap = 1 << 23
            p0 = 0
            base = 0
            while p0 < n:
                p1 = int(np.searchsorted(cum, base + tok_cap, side="left")) + 1
                p1 = min(max(p1, p0 + 1), n)
                sl = slice(p0, p1)
                lens = na[sl]
                tot = int(lens.sum())
                if tot:
                    ends = np.cumsum(lens)
                    pos = (
                        np.arange(tot, dtype=np.int64)
                        - np.repeat(ends - lens, lens)
                        + np.repeat(indptr[ia[sl]], lens)
                    )
                    keys = np.repeat(ib[sl], lens) * v + frank[pos]
                    idx = np.searchsorted(keys_b, keys)
                    idxc = np.minimum(idx, n_keys - 1)
                    hit = (idx < n_keys) & (keys_b[idxc] == keys)
                    csum = np.concatenate(
                        [np.zeros(1, dtype=np.int64), np.cumsum(hit)]
                    )
                    inter[sl] = csum[ends] - csum[ends - lens]
                base = int(cum[p1 - 1])
                p0 = p1
            union = na + nb - inter
            with np.errstate(invalid="ignore", divide="ignore"):
                jac = np.where(
                    (na == 0) | (nb == 0) | (union == 0),
                    np.nan,
                    inter / np.maximum(union, 1),
                )
            keep = jac >= threshold  # NaN compares False
            # signature estimate only for the SURVIVORS: est_jaccard is
            # an output column, never a filter, and each pair's estimate
            # is independent — computing it over all candidates cost two
            # (n_pairs x num_perm) fancy-index copies (~16 s in-process
            # over the sf0.1 pair set, the verify stage's top cost) for
            # values that were then thrown away for >98% of pairs
            ka, kb = ia[keep], ib[keep]
            est = (sigmat[ka] == sigmat[kb]).mean(axis=1)
            yield from _expand_doc_pairs(ka, kb, est, jac[keep], mind, mflat)

        # Accumulate Arrow batches into bounded chunks before grouping:
        # the group loop runs once per (distinct right rep x CHUNK), so
        # default-size 10k-row batches multiplied its Python iteration
        # count ~chunks-per-task-fold (measured r13: the 32-task verify
        # stage summed 33.6 s of executor run for ~3 s of single-thread
        # kernel work — per-group numpy-call overhead on tiny groups, not
        # compute). 512k-pair chunks keep the loop near one pass per
        # distinct rep per task while bounding peak chunk memory (~8 MB
        # of ids) at any scale; values are chunk-size-independent (each
        # pair's verdict is computed from its own two token sets alone).
        acc: list[pd.DataFrame] = []
        acc_rows = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            acc.append(pdf)
            acc_rows += len(pdf)
            if acc_rows >= 524288:
                ra = np.concatenate([p["rep_a"].to_numpy() for p in acc])
                rb = np.concatenate([p["rep_b"].to_numpy() for p in acc])
                acc, acc_rows = [], 0
                yield from chunk_out(ra, rb)
        if acc:
            ra = np.concatenate([p["rep_a"].to_numpy() for p in acc])
            rb = np.concatenate([p["rep_b"].to_numpy() for p in acc])
            yield from chunk_out(ra, rb)

    # The caller repartitions the pair set explicitly (see
    # minhash_lsh_pairs) so the kernel chains into the dedup stage with
    # no extra shuffle and full parallelism.
    return cand.mapInPandas(verify, _VERIFY_SCHEMA)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = None,
    assume_broadcastable: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, with both the signature
    estimate and the exact token-set Jaccard for verification.

    Returns (id_a, id_b, est_jaccard, jaccard) for same-bucket pairs with
    exact jaccard >= threshold, id_a < id_b.

    Both the unigram Jaccard and the MinHash signature are functions of
    the DISTINCT-TOKEN SET alone, so documents with identical token sets
    are collapsed to one representative before signatures are computed:
    LSH banding, candidate dedup, and exact verification all run over
    distinct sets only, then verified rep pairs expand back to doc pairs
    with an id-equi join (members_a x members_b carries the rep pair's
    jaccard; intra-group pairs are exactly 1.0). On boilerplate-heavy
    corpora this cuts per-pair verification work by the mean squared
    duplicate-group size while producing the IDENTICAL pair set — same
    buckets, same candidates, same verdicts (tests/test_pipeline.py).

    ``bucket_cap`` (optional) drops band buckets holding more than that
    many DISTINCT sets — the standard guard against adversarially hot
    buckets (a boilerplate shingle-set shared by millions of docs). It
    trades completeness for a hard bound on candidate fan-out, so it is
    off by default and the registry entry runs exact.

    ``assume_broadcastable`` (default True) places broadcast hints on the
    per-rep side tables (banded reps, signature/token payloads, member
    lists) — the right plan while distinct token sets fit executor RAM
    (~10^7 reps). Hints bypass ``autoBroadcastJoinThreshold``, so beyond
    that scale pass False and the SAME plan runs every one of those
    joins as a shuffled equi-join instead of OOMing (mirrors the
    ``bucket_cap`` opt-in pattern).
    """
    maybe_bc = F.broadcast if assume_broadcastable else (lambda df: df)
    rows_per_band = num_perm // bands
    htok = F.array_sort(
        F.array_distinct(F.transform(tokens_col("text"), lambda t: F.xxhash64(t)))
    )
    # Exact-Jaccard verification runs over xxhash64-hashed token sets
    # (sorted long arrays), not string arrays: identical Jaccard values
    # (a 64-bit collision would need ~2^32 distinct tokens in ONE doc)
    # at ~2x the throughput, and the per-pair payload shrinks from
    # ~2x300 B of strings to 8 B/token.
    grouped = docs.select("doc_id", htok.alias("htok")).groupBy("htok").agg(
        F.min("doc_id").alias("rep"),
        F.sort_array(F.collect_list("doc_id")).alias("members"),
    )
    # MinHash over the hashed token set: permutation i is
    # min(xxhash64(seed + i, token_hash)) — a pure Catalyst expression.
    sig = F.array(
        *[
            F.array_min(
                F.transform("htok", lambda h: F.xxhash64(F.lit(seed + i), h))
            )
            for i in range(num_perm)
        ]
    )
    if assume_broadcastable:
        # Tokenize + group + BAND exactly ONCE: the per-rep table (a few
        # hundred bytes per distinct token set) is staged as Parquet by a
        # single job, and every consumer — banding, the verify kernel,
        # both member-expansion joins — reads the staged copy instead of
        # re-deriving the lineage. Signing and banding happen in numpy
        # (splitmix64 family) inside Arrow kernels: the Catalyst
        # num_perm-pass xxhash64 expression cost more in codegen compile
        # than the whole query's execution. Band buckets are computed IN
        # the staging pass (one Arrow kernel fused into the write job)
        # and stored as a per-rep array column, so downstream banding is
        # a pure-JVM posexplode — previously the band kernel ran as a
        # separate Python stage on BOTH sides of the bucket self-join
        # (probe + broadcast build), re-shipping every token set through
        # Arrow twice and paying the fixed Python-stage floor twice.
        import pyarrow as pa

        from mysteryann_spark.sources.staging import stage_parquet

        def band_stage_kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                htok_arr = rb.column(rb.schema.get_field_index("htok"))
                # raw list offsets index the child values buffer even for
                # sliced arrays; normalize to a batch-local CSR
                off = htok_arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                vals = htok_arr.values.to_numpy(zero_copy_only=False)
                indptr = off - off[0]
                flat = np.ascontiguousarray(vals[off[0] : off[-1]]).astype(
                    np.int64, copy=False
                )
                sigmat = _minhash_mat(indptr, flat, num_perm, seed)
                buckets = _band_buckets(sigmat, bands, rows_per_band)
                # int32 list offsets cap one batch at 2^31 bucket cells;
                # reachable only if arrow.maxRecordsPerBatch is raised/
                # disabled — fail loudly instead of silently wrapping
                # (r12 ADVICE)
                if (n + 1) * bands >= 2**31:
                    raise ValueError(
                        f"band-bucket batch too large for int32 list "
                        f"offsets: {n} rows x {bands} bands; lower "
                        "spark.sql.execution.arrow.maxRecordsPerBatch"
                    )
                bucket_col = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (n + 1) * bands, bands, dtype=np.int32)
                    ),
                    pa.array(buckets.reshape(-1)),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(rb.schema.get_field_index("rep")),
                        htok_arr,
                        rb.column(rb.schema.get_field_index("members")),
                        bucket_col,
                    ],
                    names=["rep", "htok", "members", "buckets"],
                )

        staged_schema = (
            "rep bigint, htok array<bigint>, members array<bigint>, "
            "buckets array<bigint>"
        )
        staged = stage_parquet(
            grouped.select("rep", "htok", "members").mapInArrow(
                band_stage_kernel, staged_schema
            )
        )
        # explicit schema: the staged layout is statically known, so the
        # read skips the schema-inference footer job (one driver job per
        # query invocation; at scale, a footer read per staged part file)
        groups = docs.sparkSession.read.schema(staged_schema).parquet(staged)
        sigs = None
    else:
        staged = None
        groups = grouped.withColumn("sig", sig).localCheckpoint(eager=True)
        sigs = groups.select("rep", "htok", F.size("htok").alias("ntok"), "sig")
    # Band the signatures but shuffle ONLY (band, bucket, rep) triples —
    # carrying the sig arrays through the bucket self-join and the pair
    # dedup would multiply shuffle volume by num_perm; the per-rep payload
    # (signature + token-hash set) re-attaches after the candidate pair
    # set is deduplicated (and so minimal).
    if assume_broadcastable:
        # Buckets were computed in the staging pass; posexplode's position
        # column IS the band index (the fused kernel emits buckets in band
        # order), so the (rep, band, bucket) triples are identical to the
        # ones the standalone band kernel produced.
        banded = groups.select(
            "rep", F.posexplode("buckets").alias("band", "bucket")
        )
    else:
        banded = sigs.select(
            "rep",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast("long").alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ]
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("rep", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if bucket_cap is not None:
        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("bsz", F.count("*").over(w))
            .where(F.col("bsz") <= bucket_cap)
            .drop("bsz")
        )

    # The bucket self-join fans out quadratically inside hot buckets while
    # its INPUT is tiny (one row per rep per band) — AQE sizes partitions
    # by input bytes and would run the explosion nearly serial. Spread the
    # PROBE side across the cluster first; the pair dedup below re-hashes.
    # The build side stays unspread: under the broadcast hint a
    # repartition there is a pure extra exchange (the broadcast flattens
    # partitioning anyway), and under the shuffled fallback the join's own
    # exchange supersedes it.
    from mysteryann_spark.session import spread

    a = spread(banded).select("band", "bucket", F.col("rep").alias("rep_a"))
    b = banded.select("band", "bucket", F.col("rep").alias("rep_b"))
    # Broadcasting the build side keeps the probe side's spread
    # partitioning, so a hot bucket's pair explosion parallelizes over
    # every core instead of landing on the one task that owns its join
    # key (AQE's skew split keys on shuffle BYTES and never fires here —
    # the input is KBs, the blowup is in the output). The build side is
    # one (band, bucket) row per distinct token set; beyond broadcast
    # range (~10^7 sets) drop the hint and the same plan runs as a
    # shuffled equi-join.
    # One explicit hash shuffle serves BOTH the pair dedup and the verify
    # kernel's parallelism: repartition-by-num on the pair key satisfies
    # dropDuplicates' distribution requirement (no second shuffle) and is
    # exempt from AQE's bytes-based coalescing, which would otherwise fold
    # the ~16 B/row pair set onto one core right before the CPU-bound
    # verify.
    target = docs.sparkSession.sparkContext.defaultParallelism
    cand = (
        a.join(maybe_bc(b), ["band", "bucket"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .repartition(target, "rep_a", "rep_b")
        .dropDuplicates(["rep_a", "rep_b"])
    )
    if assume_broadcastable:
        # Staged Arrow verify: each rep's token set crosses the wire ONCE
        # (one staged-Parquet read per worker process), instead of once
        # per candidate pair. The SQL join form below ships every token
        # array ~pair-degree times through the verify projection — on a
        # template-heavy corpus (sf0.1: 1.6M candidate pairs over 3.9k
        # distinct sets, mean pair degree ~420) that is GBs of array
        # movement plus an interpreted array_intersect per pair; the
        # staged kernel moves 16 B/pair and intersects with vectorized
        # searchsorted over worker-cached CSR arrays. Same regime gate as
        # the broadcast hints: per-rep payloads fit worker RAM. The
        # kernel also expands surviving rep pairs to doc pairs in place
        # (member lists are already worker-resident), so this path has
        # NO member joins at all — two broadcast builds and two driver
        # jobs fewer per query than the join form below.
        cross = _verify_pairs_staged(cand, staged, num_perm, threshold, seed)
    else:
        est = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            ).cast("double")
            / F.lit(float(num_perm))
        )
        # |A ∪ B| = |A| + |B| - |A ∩ B| — one array_intersect per pair, no
        # materialized union array (the per-pair verify is the cost center)
        inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
        jac = inter / (F.col("na") + F.col("nb") - inter)
        verified = (
            cand.join(
                sigs.select(
                    F.col("rep").alias("rep_a"),
                    F.col("htok").alias("tok_a"),
                    F.col("ntok").cast("double").alias("na"),
                    F.col("sig").alias("sig_a"),
                ),
                "rep_a",
            )
            .join(
                sigs.select(
                    F.col("rep").alias("rep_b"),
                    F.col("htok").alias("tok_b"),
                    F.col("ntok").cast("double").alias("nb"),
                    F.col("sig").alias("sig_b"),
                ),
                "rep_b",
            )
            .withColumn("est_jaccard", est)
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("rep_a", "rep_b", "est_jaccard", "jaccard")
        )
        # Expand verified rep pairs to doc pairs (join form: the staged
        # path expands inside the verify kernel instead). est/jaccard are
        # constant across a group pair (identical token sets => identical
        # signatures).
        mem = groups.select("rep", "members")
        cross = (
            verified.join(
                maybe_bc(
                    mem.select(F.col("rep").alias("rep_a"), F.col("members").alias("ma"))
                ),
                "rep_a",
            )
            .join(
                maybe_bc(
                    mem.select(F.col("rep").alias("rep_b"), F.col("members").alias("mb"))
                ),
                "rep_b",
            )
            .select(F.explode("ma").alias("x"), "mb", "est_jaccard", "jaccard")
            .select("x", F.explode("mb").alias("y"), "est_jaccard", "jaccard")
            .select(
                F.least("x", "y").alias("id_a"),
                F.greatest("x", "y").alias("id_b"),
                "est_jaccard",
                "jaccard",
            )
        )
    members = groups.select("rep", "members")
    intra = (
        members.where(F.size("members") >= 2)
        .select(F.explode("members").alias("id_a"), "members")
        .select("id_a", F.explode("members").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.lit(1.0).alias("est_jaccard"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = cross.unionByName(intra)
    return out.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_sign_matrix(
    arrs: pd.Series, num_bits: int
) -> np.ndarray:
    """(n_docs, num_bits) bool sign matrix of per-bit signed counters over
    each doc's token-hash BAG (multiplicity counts — SimHash weights by
    occurrence). One vectorized bit-unpack + segment-sum per batch;
    arithmetic >> matches Spark's shiftright, so signs are bit-identical
    to the previous Catalyst rendering."""
    n = len(arrs)
    widths = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    indptr = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(widths, dtype=np.int64)]
    )
    counts = np.zeros((n, num_bits), dtype=np.int64)
    if indptr[-1]:
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
        shifts = np.arange(num_bits, dtype=np.int64)
        bits = ((flat[:, None] >> shifts) & 1) * 2 - 1
        nonempty = widths > 0
        counts[nonempty] = np.add.reduceat(bits, indptr[:-1][nonempty], axis=0)
    return counts > 0


def _md5_token_hash(t):
    """64-bit token hash from the first 16 hex chars of md5(token),
    assembled from two 32-bit halves with BIT ops only (shiftleft /
    bitwiseOR never overflow-check, so this is ANSI-safe; a direct
    16-hex-char conv -> bigint cast nulls out above 2^63). md5 is the one
    hash family Spark and DuckDB share, which is what lets the simhash
    entries carry a full DuckDB value-hash oracle."""
    m = F.md5(t)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _hashed_tokens(docs: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, ht) with ht = a 64-bit hash of every token (bag, not
    set) — the one cheap JVM pass; the per-bit arithmetic runs in Arrow
    kernels (the nested aggregate/zip_with Catalyst form was
    interpreted per element and dominated the simhash entries).

    ``hash_fn``: "xxhash64" (default; fastest, JVM-native) or "md5"
    (DuckDB-reproducible — the oracled registry entries use it)."""
    if hash_fn == "md5":
        ht = F.transform(tokens_col("text"), _md5_token_hash)
    elif hash_fn == "xxhash64":
        ht = F.transform(tokens_col("text"), lambda t: F.xxhash64(t))
    else:
        raise ValueError(f"unknown simhash token hash_fn: {hash_fn!r}")
    return docs.select("doc_id", ht.alias("ht"))


def simhash_bits(
    docs: DataFrame, num_bits: int = 64, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per doc as a bit string (sign of per-bit weighted
    sums of token hashes; char 0 = bit 0, LSB-first)."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("simhash", StringType(), False),
        ]
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sign = _simhash_sign_matrix(pdf["ht"], num_bits)
            chars = np.where(sign, "1", "0")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "simhash": ["".join(row) for row in chars],
                }
            )

    return _hashed_tokens(docs, hash_fn).mapInPandas(kern, schema)


def simhash_chunks(
    docs: DataFrame, bands: int = 4, num_bits: int = 64, hash_fn: str = "xxhash64"
) -> DataFrame:
    """SimHash as ``bands`` integer chunks — the banding-friendly
    rendering: chunk equality is the pigeonhole bucket key, and Hamming
    distance is the summed popcount of per-chunk XORs.

    Chunk b holds bits [b*w, b*w + width_b) with w = num_bits // bands;
    the LAST chunk absorbs the remainder bits so every signature bit
    participates for any ``bands`` value (64 bits / 5 bands = four
    12-bit chunks + one 16-bit chunk — never silently truncated)."""
    w = num_bits // bands
    if w == 0:
        raise ValueError(f"bands={bands} exceeds num_bits={num_bits}")
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("chunks", ArrayType(LongType(), False), False),
        ]
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sign = _simhash_sign_matrix(pdf["ht"], num_bits)
            out = np.zeros((len(pdf), bands), dtype=np.uint64)
            for b in range(bands):
                width = (num_bits - b * w) if b == bands - 1 else w
                for j in range(width):
                    out[:, b] |= sign[:, b * w + j].astype(np.uint64) << np.uint64(j)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "chunks": list(out.view(np.int64)),
                }
            )

    return _hashed_tokens(docs, hash_fn).mapInPandas(kern, schema)


def simhash_hamming_pairs(
    docs: DataFrame, max_hamming: int = 8, hash_fn: str = "xxhash64"
) -> DataFrame:
    """All pairs within the given Hamming distance via an ALL-PAIRS join —
    the exact slice-sized baseline the pigeonhole path is gated against in
    tests (tests/test_pipeline.py). The scale path is
    ``simhash_pigeonhole_pairs``."""
    s = simhash_bits(docs, hash_fn=hash_fn)
    a = s.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    split_bits = lambda c: F.split(c, "")  # noqa: E731
    hamming = F.size(
        F.filter(
            F.zip_with(split_bits("h_a"), split_bits("h_b"), lambda x, y: (x != y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pigeonhole_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    assume_broadcastable: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """All (id_a < id_b, hamming) pairs within ``max_hamming`` via
    pigeonhole banding — EXACT, no cartesian anywhere in the plan.

    Split the 64-bit signature into ``bands`` chunks (default
    max_hamming + 1). Two signatures within Hamming distance h < bands
    must agree on at least one whole chunk (pigeonhole), so an equi-join
    on (band, chunk_value) generates a candidate superset, and a cheap
    XOR-popcount verifies. Identical signatures collapse to one
    representative first (same trick as minhash_lsh_pairs): banding,
    candidate dedup, and verification run per distinct signature, then
    verified rep pairs expand back through a members join — intra-group
    pairs are Hamming 0 by construction.

    ``assume_broadcastable`` (default True) places broadcast hints on
    the per-rep side tables (banded chunks, signature payloads, member
    lists) — right while distinct signatures fit executor RAM. Hints
    bypass ``autoBroadcastJoinThreshold``, so beyond that scale pass
    False and every one of those joins degrades to a shuffled equi-join
    instead of OOMing (same opt-out as minhash_lsh_pairs).
    """
    bands = bands if bands is not None else max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"pigeonhole needs bands > max_hamming, got {bands} <= {max_hamming}"
        )
    from mysteryann_spark.session import spread

    maybe_bc = F.broadcast if assume_broadcastable else (lambda df: df)

    groups = (
        simhash_chunks(docs, bands=bands, hash_fn=hash_fn)
        .groupBy("chunks")
        .agg(
            F.min("doc_id").alias("rep"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .localCheckpoint(eager=True)  # reused by banding + expansion joins
    )
    banded = spread(
        groups.select(
            "rep",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.element_at("chunks", b + 1).alias("chunk"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("rep", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    )
    a = banded.select("band", "chunk", F.col("rep").alias("rep_a"))
    b = banded.select("band", "chunk", F.col("rep").alias("rep_b"))
    # broadcast keeps the hot-chunk pair explosion on the spread probe
    # side (see minhash_lsh_pairs for the AQE-bytes rationale)
    cand = (
        a.join(maybe_bc(b), ["band", "chunk"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .dropDuplicates(["rep_a", "rep_b"])
    )
    ham = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda s, v: s + v,
    ).cast("int")
    sides = groups.select("rep", "chunks")
    verified = (
        cand.join(
            maybe_bc(sides.select(F.col("rep").alias("rep_a"), F.col("chunks").alias("ca"))),
            "rep_a",
        )
        .join(
            maybe_bc(sides.select(F.col("rep").alias("rep_b"), F.col("chunks").alias("cb"))),
            "rep_b",
        )
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("rep_a", "rep_b", "hamming")
    )
    members = groups.select("rep", "members")
    cross = (
        verified.join(
            maybe_bc(members.select(F.col("rep").alias("rep_a"), F.col("members").alias("ma"))),
            "rep_a",
        )
        .join(
            maybe_bc(members.select(F.col("rep").alias("rep_b"), F.col("members").alias("mb"))),
            "rep_b",
        )
        .select(F.explode("ma").alias("x"), "mb", "hamming")
        .select("x", F.explode("mb").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        members.where(F.size("members") >= 2)
        .select(F.explode("members").alias("id_a"), "members")
        .select("id_a", F.explode("members").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, n: int = 2, threshold: float = 0.1) -> DataFrame:
    """Exact word-n-gram Jaccard over all doc pairs (callers pre-slice;
    the scalable candidate generator is minhash_lsh_pairs)."""
    w = tokens_col("text")
    grams = F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
            )
        )
    )
    g = docs.select("doc_id", grams.alias("grams"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
    jac = F.size(F.array_intersect("g_a", "g_b")).cast("double") / F.size(
        F.array_union("g_a", "g_b")
    ).cast("double")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ann_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    params=None,
    k: int = 10,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via the RoarGraph ANN index instead of the
    O(N^2) GEMM sweep — the path that survives 100 TB: build once, then
    each vector's near-dups come from a top-k graph search (cost ~
    N * k * degree distance evaluations, not N^2).

    Returns (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= threshold.
    Approximate: pair recall vs the exact sweep is gated in tests (the
    same contract the reference accepts for its own search, SURVEY §5).
    """
    from mysteryann_spark.operators.projection import build_roargraph_from_table
    from mysteryann_spark.operators.search import search_graph
    from mysteryann_spark.params import IndexParams
    from mysteryann_spark.session import spread

    params = params or IndexParams(
        M_sq=20, M_pjbp=8, L_pjpq=40, k=k, L_pq=40, metric="cosine"
    )
    adj, ep = build_roargraph_from_table(emb.sparkSession, emb, params)
    q = spread(emb.select(F.col(base_id).alias("qid"), vec_col))
    res = search_graph(
        q, emb, adj.localCheckpoint(), ep,
        k=k, l_search=params.L_pq, metric="cosine",
        base_id=base_id, vec_col=vec_col, exclude_self=True,
    )
    # cosine distance is the negated normalized IP (reference convention)
    sim = -F.col("dist")
    return (
        res.where(sim >= threshold)
        .select(
            F.least("qid", "nn_id").alias("id_a"),
            F.greatest("qid", "nn_id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# connected components (near-dup pair graph -> dedup groups)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 30,
) -> DataFrame:
    """Undirected connected components by min-label propagation: every
    node's label starts as its own id and each round takes the min over
    its neighborhood; fixpoint = per-component min id.

    This is the canonical dedup-grouping step (near-dup PAIRS -> disjoint
    GROUPS with one canonical representative). edges: ``(src, dst)``;
    nodes: ``(id)``. Returns ``(id, component)``.

    Scale: each round is one shuffle on node id over the (label) state —
    rounds = graph diameter, and near-dup graphs are unions of small
    dense clusters, so diameter stays tiny even at 100 TB. (For adversarial
    long-chain graphs the two-phase large-star/small-star variant
    [Kiveris et al., "Connected Components in MapReduce"] halves diameter
    per round; not needed for dedup-shaped graphs.) State is cut per round
    with localCheckpoint, convergence is one count per round.
    """
    # Catalyst's Union constraint propagation can throw
    # `NoSuchElementException: key not found: <attr>` when a child's
    # lineage carries equality constraints (e.g. least/greatest aliases
    # from an upstream pair generator) through a localCheckpoint whose
    # LogicalRDD preserves origin constraints with stale expression ids
    # (UnionBase.rewriteConstraints maps child constraints through child
    # outputs and misses). Constraints buy nothing in this loop — every
    # round is join + union + agg with no inferable filters — so switch
    # propagation off for the duration and restore the caller's setting.
    spark = edges.sparkSession
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        # materialize the symmetric edge set once — it's referenced by every
        # propagation round, and recomputing an expensive upstream pair
        # generator (all-pairs jaccard, LSH verify) per round would dominate
        sym = (
            edges.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
            .unionByName(edges.select(F.col("dst").alias("id"), F.col("src").alias("nbr")))
            .localCheckpoint(eager=True)
        )
        lab = nodes.select(F.col("id"), F.col("id").alias("comp")).localCheckpoint(eager=True)
        changed = -1
        for _ in range(max_iters):
            prop = (
                lab.join(sym, "id")
                .select(F.col("nbr").alias("id"), "comp")
                .unionByName(lab.select("id", "comp"))
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            new = prop.localCheckpoint(eager=True)
            changed = (
                new.alias("n")
                .join(lab.alias("o"), "id")
                .where(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            lab = new
            if changed == 0:
                break
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev)
    if changed != 0:
        # silently returning partial labels would hand dedup_groups
        # multiple "canonical survivors" for one true group — refuse
        # (dedup-shaped graphs converge in a handful of rounds; hitting
        # this means the input is not one, or max_iters is mis-set)
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters for "
            f"long-chain graphs (diameter > max_iters)"
        )
    return lab


def lsh_params_for(
    threshold: float, miss_bound: float = 1e-15, max_perm: int = 192
) -> tuple[int, int] | None:
    """(num_perm, bands) sized so an LSH candidate pair AT the Jaccard
    threshold is missed with probability <= ``miss_bound``: with bands of
    r rows, miss = (1 - t^r)^bands. Prefers 2-row bands (today's shape,
    fewer false candidates); falls back to 1-row bands when low
    thresholds would need too many permutations; returns None when even
    1-row bands exceed ``max_perm`` (threshold ~<0.16 at the defaults) —
    callers should use an exact generator there."""
    import math

    t = min(max(threshold, 1e-9), 1.0 - 1e-9)
    for rows in (2, 1):
        bands = max(1, math.ceil(math.log(miss_bound) / math.log(1.0 - t**rows)))
        if rows * bands <= max_perm:
            return rows * bands, bands
    return None


def dedup_groups(
    docs: DataFrame, threshold: float = 0.9, n: int = 1
) -> DataFrame:
    """End-to-end text dedup grouping: n-gram Jaccard pairs >= threshold
    -> connected components. Returns (doc_id, component) with component =
    min doc_id of the group (the canonical survivor).

    For unigram grouping (n=1, the standard near-dup configuration) the
    pair candidates come from MinHash-LSH banding with exact-Jaccard
    verification — no all-pairs join anywhere in the plan. The banding is
    sized FROM the threshold (lsh_params_for) so a borderline pair is
    missed with probability <= 1e-15 at ANY supported threshold — not
    just the 0.9 the old fixed 64/32 config was tuned for (at t=0.3 that
    config missed ~5% of borderline pairs) — keeping the verified pair
    set equal to the all-pairs set (the recursive-CTE oracle hash-checks
    exactly that at 0.9). Below the supported range (~0.16), and for
    n > 1, the exact quadratic generator runs instead — slice first.
    """
    if n == 1 and (params := lsh_params_for(threshold)) is not None:
        num_perm, bands = params
        pairs = minhash_lsh_pairs(
            docs, num_perm=num_perm, bands=bands, threshold=threshold
        )
    else:
        pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("id"))
    return connected_components(edges, nodes).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ]
)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a < b) pairs with cosine similarity >= threshold.

    Blocked GEMM: the normalized matrix stages to Parquet once (a
    distributed write — no driver collect; sources/staging.py) and each
    worker loads it lazily; every partition multiplies its block against
    it and emits only threshold-passing pairs — O(n^2) flops but
    O(pairs_found) rows, never a pair shuffle. The flop count still caps
    this operator at oracle-baseline scales; the 100 TB path is
    ``ann_neardup_pairs``."""
    from mysteryann_spark.sources.staging import load_staged, read_staged, stage_parquet, table_matrix

    path = stage_parquet(emb.select(base_id, vec_col))

    def _build():
        ids, mat = table_matrix(read_staged(path), base_id, vec_col)
        return ids, np_normalize(mat)

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = load_staged(path, _build)
        for pdf in batches:
            if pdf.empty:
                continue
            bids = pdf[base_id].to_numpy(dtype=np.int64)
            bmat = np_normalize(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            )
            sims = bmat @ all_mat.T
            ii, jj = np.nonzero((sims >= threshold) & (bids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": bids[ii], "id_b": all_ids[jj], "cos_sim": sims[ii, jj]}
            )

    return emb.select(base_id, vec_col).mapInPandas(block, _PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    max_iter: int = 5,
    seed: int = 42,
    train_sample: int = 4096,
    base_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding space, find
    within-cluster cosine near-duplicates, keep one canonical
    representative (min id) per duplicate group.

    Returns (vec_id, cluster_id, component, keep) — keep=1 marks the
    survivor of its semantic group; singleton groups survive trivially.

    Scale shape: the clustering bounds the pairwise work — candidate
    pairs come from ONE equi-shuffle on centroid id and a per-cluster
    GEMM (cluster size ~ N/k rows), never a global cross product; the
    grouping is the same min-label-propagation connected components the
    text dedup path uses. At 100 TB you'd raise n_clusters so clusters
    stay executor-sized — the partitioning key is the model, the plan is
    unchanged.
    """
    from mysteryann_spark.operators.similarity import (
        nearest_centroids_udf,
        train_centroids,
    )

    bc = train_centroids(
        emb, n_clusters, max_iter, seed, train_sample, base_id, vec_col
    )
    assigned = emb.select(
        F.col(base_id).alias("id"),
        F.col(vec_col).alias("vec"),
        F.element_at(nearest_centroids_udf(bc, 1)(F.col(vec_col)), 1).alias("cid"),
    )

    pair_schema = StructType(
        [
            StructField("src", LongType(), False),
            StructField("dst", LongType(), False),
        ]
    )

    def cluster_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        mat = np_normalize(mat)
        sims = mat @ mat.T
        ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"src": ids[ii], "dst": ids[jj]})

    pairs = assigned.groupBy("cid").applyInPandas(cluster_pairs, pair_schema)
    nodes = assigned.select("id")
    comps = connected_components(pairs, nodes)
    return (
        assigned.select("id", "cid")
        .join(comps, "id")
        .select(
            F.col("id").alias(base_id),
            F.col("cid").alias("cluster_id"),
            F.col("comp").alias("component"),
            (F.col("id") == F.col("comp")).cast("int").alias("keep"),
        )
    )
