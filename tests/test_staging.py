"""Unit tests for the Arrow-offsets CSR builder (sources/staging.py) —
pure pyarrow/numpy, no Spark session needed."""

import numpy as np
import pyarrow as pa

from mysteryann_spark.sources.staging import table_csr


def _tbl(nodes, nbrs):
    return pa.table(
        {
            "node": pa.array(nodes, type=pa.int64()),
            "nbrs": pa.array(nbrs, type=pa.list_(pa.int64())),
        }
    )


def test_csr_aligned_to_sorted_ids():
    ids = np.array([10, 20, 30], dtype=np.int64)
    # table rows deliberately out of id order; CSR must align to ids order
    tbl = _tbl([30, 10], [[10, 20], [30]])
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 1, 1, 3]  # 10 -> [30]; 20 -> []; 30 -> [10, 20]
    assert indices.tolist() == [2, 0, 1]


def test_csr_drops_unknown_nodes_and_neighbors():
    ids = np.array([1, 2], dtype=np.int64)
    tbl = _tbl([1, 99], [[2, 77, 1], [1]])  # node 99 and neighbor 77 unknown
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 2, 2]
    assert indices.tolist() == [1, 0]  # within-list order preserved


def test_csr_empty_adjacency():
    ids = np.array([5], dtype=np.int64)
    indptr, indices = table_csr(_tbl([], []), ids)
    assert indptr.tolist() == [0, 0]
    assert len(indices) == 0


def test_csr_dense_identity_ids():
    ids = np.arange(4, dtype=np.int64)
    tbl = _tbl([0, 3], [[1, 2], [0]])
    indptr, indices = table_csr(tbl, ids)
    assert indptr.tolist() == [0, 2, 2, 2, 3]
    assert indices.tolist() == [1, 2, 0]


def test_table_ragged_reorders_and_handles_empties():
    """CSR loader must id-sort rows, preserve within-list order through
    the reordering gather, and represent empty lists as zero-width
    segments."""
    import numpy as np
    import pyarrow as pa

    from mysteryann_spark.sources.staging import table_ragged

    tbl = pa.table(
        {
            "rep": pa.array([30, 10, 20, 40], type=pa.int64()),
            "htok": pa.array(
                [[7, 8, 9], [1, 2], [], [5]], type=pa.list_(pa.int64())
            ),
        }
    )
    ids, indptr, flat = table_ragged(tbl, "rep", "htok")
    assert list(ids) == [10, 20, 30, 40]
    assert list(indptr) == [0, 2, 2, 5, 6]
    assert list(flat) == [1, 2, 7, 8, 9, 5]
    # chunked input (multiple record batches) must behave identically
    tbl2 = pa.concat_tables([tbl.slice(0, 2), tbl.slice(2)])
    ids2, indptr2, flat2 = table_ragged(tbl2, "rep", "htok")
    assert list(ids2) == list(ids)
    assert list(indptr2) == list(indptr)
    assert list(flat2) == list(flat)
    with np.errstate(all="raise"):  # empty table edge
        e = pa.table({"rep": pa.array([], type=pa.int64()),
                      "htok": pa.array([], type=pa.list_(pa.int64()))})
        ids3, indptr3, flat3 = table_ragged(e, "rep", "htok")
        assert len(ids3) == 0 and list(indptr3) == [0] and len(flat3) == 0


def test_staged_matrix_later_paths_override(spark):
    """StagedBase incremental semantics: the concatenated matrix resolves
    duplicate ids to the LATEST path's row (delete-then-reinsert update),
    keeps superset rows, and stays id-sorted."""
    import numpy as np

    from mysteryann_spark.sources.staging import StagedBase, staged_matrix

    d0 = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [2.0, 2.0]), (3, [3.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    sb = StagedBase.of(d0)
    sb.append(
        spark.createDataFrame(
            [(2, [9.0, 9.0]), (4, [4.0, 4.0])],
            "vec_id long, embedding array<float>",
        )
    )
    ids, mat = staged_matrix(sb.paths, "vec_id", "embedding")
    assert ids.tolist() == [1, 2, 3, 4]
    np.testing.assert_allclose(mat[1], [9.0, 9.0])  # later path wins
    np.testing.assert_allclose(mat[3], [4.0, 4.0])


def test_shared_build_roundtrip_and_noshare(tmp_path, monkeypatch):
    """SPARK_GRAFT_SHARED_STAGE host-sharing: a tuple-of-ndarrays artifact
    is materialized once as .npy files and handed back memory-mapped
    (second load never calls build again); non-shareable artifacts fall
    through to a private build with a NOSHARE marker so waiting workers
    don't block."""
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return np.arange(6, dtype=np.int64), np.ones((3, 2), dtype=np.float32)

    got = staging._shared_build("k1", lambda: build())
    assert calls["n"] == 1
    assert isinstance(got[1], np.memmap) and got[1].dtype == np.float32
    np.testing.assert_array_equal(got[0], np.arange(6))
    # a second worker (fresh process would have an empty _CACHE): build not re-run
    got2 = staging._shared_build("k1", lambda: build())
    assert calls["n"] == 1
    np.testing.assert_array_equal(np.asarray(got2[1]), np.ones((3, 2)))

    # non-shareable (None / dict-bearing) artifacts: private build + NOSHARE
    assert staging._shared_build("k2", lambda: None) is None
    assert (tmp_path / "mysteryann-shared-" ).parent  # path sanity
    assert staging._shared_build("k2", lambda: {"x": 1}) == {"x": 1}

    # object-dtype arrays must not be mmap-shared (np.load can't map them)
    obj_arr = (np.array(["a", None], dtype=object),)
    out = staging._shared_build("k3", lambda: obj_arr)
    assert out[0].dtype == object

    # a build that raises RELEASES the lock instead of poisoning the key
    # with a permanent NOSHARE (one transient failure must not route every
    # later worker on the host to private multi-GB builds): the next
    # caller retries the SHARED build and, succeeding, publishes it
    import os

    import pytest

    with pytest.raises(RuntimeError):
        staging._shared_build("k4", lambda: (_ for _ in ()).throw(RuntimeError("boom")))
    assert not os.path.exists(os.path.join(staging._shared_dir("k4"), "NOSHARE"))
    assert not os.path.exists(staging._shared_dir("k4") + ".lock")
    calls2 = {"n": 0}

    def b4():
        calls2["n"] += 1
        return (np.zeros(2),)

    out4 = staging._shared_build("k4", b4)
    assert calls2["n"] == 1  # retry wins the released lock and shares
    assert isinstance(out4[0], np.memmap)


def test_heartbeat_missing_judged_by_lockdir_age(tmp_path):
    """A missing heartbeat under a FRESH lockdir must NOT read as a dead
    winner: between mkdir(lock) and the beat thread's first write there
    is a scheduling window, and waiters that presumed death rmtree'd the
    fresh winner's lock and adopted the build — cascading into concurrent
    winners (r10: four parallel 7.4 GB private builds of one artifact,
    30 GB of scratch, ENOSPC). A lockdir older than the stale threshold
    with still no heartbeat IS a dead winner."""
    import os
    import time

    from mysteryann_spark.sources import staging

    lock = tmp_path / "mysteryann-shared-deadbeef.lock"
    lock.mkdir()
    hb = str(lock / "HEARTBEAT")
    # fresh acquire, beat thread not yet scheduled: NOT stale
    assert not staging._heartbeat_stale(hb)
    # winner died before its first beat: stale once the lockdir ages out
    old = time.time() - staging._STALE_S - 5
    os.utime(lock, (old, old))
    assert staging._heartbeat_stale(hb)
    # a written heartbeat still wins over the lockdir age
    with open(hb, "w") as f:
        f.write("1")
    assert not staging._heartbeat_stale(hb)
    # no lockdir at all (caller saw it a moment ago): stale -> contend
    assert staging._heartbeat_stale(str(tmp_path / "gone.lock" / "HEARTBEAT"))


def test_shared_save_prunes_superseded_token_sets(tmp_path):
    """Re-publishing a key must not accumulate AGED npy sets: files older
    than the stale threshold that the freshly-landed manifest does not
    name are unlinked (r10: racing publishes left four complete 7.4 GB
    sets in ONE key dir — 30 GB for a 7.4 GB artifact). FRESH unnamed
    files are spared — they may be a live racer's in-flight write whose
    manifest is about to land (deleting them left that manifest pointing
    at nothing and spun every waiter). Non-artifact markers (FAILED-n,
    NOSHARE, PREV) always stay."""
    import json
    import os
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    d = str(tmp_path / "mysteryann-shared-cafe")
    staging._shared_save(d, (np.arange(3), np.ones(2)))
    first = set(json.load(open(os.path.join(d, "MANIFEST.json")))["files"])
    # markers that must survive a later publish
    for marker in ("FAILED-1", "PREV"):
        with open(os.path.join(d, marker), "w") as f:
            f.write("x")
    # a live racer's in-flight (manifest-less) fresh file
    racer = os.path.join(d, "a0-feedfacecafe.npy")
    np.save(racer, np.arange(2))
    # age the first set past the stale threshold; the racer stays fresh
    old = time.time() - staging._STALE_S - 5
    for f in first:
        os.utime(os.path.join(d, f), (old, old))
    staging._shared_save(d, (np.arange(4), np.zeros(2)))
    second = set(json.load(open(os.path.join(d, "MANIFEST.json")))["files"])
    assert first.isdisjoint(second)
    left = set(os.listdir(d))
    assert second <= left
    assert first.isdisjoint(left), "aged superseded token set not pruned"
    assert os.path.exists(racer), "fresh in-flight racer file must be spared"
    assert {"FAILED-1", "PREV", "MANIFEST.json"} <= left
    # and the surviving set loads
    out = staging._shared_load(d)
    np.testing.assert_array_equal(np.asarray(out[0]), np.arange(4))


def test_shared_build_recovers_from_broken_manifest(tmp_path, monkeypatch):
    """A manifest that persistently names missing files (racing publish
    pruned them / partial rmtree) must not spin waiters forever: the
    manifest-exists branch never reaches the acquire path, so after a
    bounded run of failed reads the waiter unlinks the broken manifest
    and contends to REBUILD (r10: this exact spin hung a 10^7
    maintenance batch 28 min until killed)."""
    import json
    import os
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    d = staging._shared_dir("broken")
    os.makedirs(d)
    with open(os.path.join(d, "MANIFEST.json"), "w") as f:
        json.dump({"files": ["a0-deadbeef0000.npy"]}, f)  # names nothing

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.arange(5, dtype=np.int64),)

    out = staging._shared_build("broken", build)
    assert calls["n"] == 1, "waiter must rebuild, not spin"
    np.testing.assert_array_equal(np.asarray(out[0]), np.arange(5))
    # the rebuilt publish landed a valid manifest
    got = staging._shared_load(d)
    np.testing.assert_array_equal(np.asarray(got[0]), np.arange(5))


def test_shared_build_deterministic_failure_bounded(tmp_path, monkeypatch):
    """A deterministically failing build is retried at most
    _MAX_SHARED_FAILURES times across takeovers, then the key falls back
    to NOSHARE: later workers build privately instead of looping on the
    0.5 s poll + lock-takeover churn until Spark exhausts task retries."""
    import os
    import tempfile

    import numpy as np
    import pytest

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    boom = {"n": 0}

    def bad():
        boom["n"] += 1
        raise RuntimeError("deterministic boom")

    d = staging._shared_dir("kfail")
    for i in range(staging._MAX_SHARED_FAILURES):
        with pytest.raises(RuntimeError):
            staging._shared_build("kfail", bad)
        markers = [f for f in os.listdir(d) if f.startswith("FAILED-")]
        assert len(markers) == i + 1
    # cap reached: key is NOSHARE'd, lock released
    assert os.path.exists(os.path.join(d, "NOSHARE"))
    assert not os.path.exists(d + ".lock")
    # later workers take the private-build path (no more winner retries
    # of the shared build — build() runs per caller, NOT under the lock)
    calls = {"n": 0}

    def good():
        calls["n"] += 1
        return (np.zeros(2),)

    out = staging._shared_build("kfail", good)
    assert calls["n"] == 1
    assert not isinstance(out[0], np.memmap)  # private, not mmap-shared
    # a failure below the cap never NOSHAREs (transient-retry preserved)
    d2 = staging._shared_dir("kfail2")
    with pytest.raises(RuntimeError):
        staging._shared_build("kfail2", bad)
    assert not os.path.exists(os.path.join(d2, "NOSHARE"))


def test_shared_build_async_publish(tmp_path, monkeypatch):
    """SPARK_GRAFT_ASYNC_PUBLISH=1: the winner returns its private copy
    immediately (no memmap — the write happens in the background), the
    manifest lands shortly after, and a second caller then gets the
    mapped copy without rebuilding."""
    import os
    import tempfile
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setenv("SPARK_GRAFT_ASYNC_PUBLISH", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.arange(8, dtype=np.int64), np.full((4, 2), 7.0))

    got = staging._shared_build("kasync", build)
    assert calls["n"] == 1
    # winner path: private anon arrays, not memmaps
    assert not isinstance(got[0], np.memmap)
    np.testing.assert_array_equal(got[0], np.arange(8))
    d = staging._shared_dir("kasync")
    deadline = time.time() + 10
    while not os.path.exists(os.path.join(d, "MANIFEST.json")):
        assert time.time() < deadline, "async publish never landed"
        time.sleep(0.05)
    got2 = staging._shared_build("kasync", build)
    assert calls["n"] == 1  # no rebuild
    assert isinstance(got2[1], np.memmap)
    np.testing.assert_array_equal(np.asarray(got2[1]), np.full((4, 2), 7.0))


def test_shared_scratch_gc_bounded_across_compactions(tmp_path, monkeypatch):
    """Publish-time scratch GC: a maintenance chain that keeps stepping
    (and periodically COMPACTS — new chain, lineage break) must leave a
    BOUNDED number of mysteryann-shared-* generations on host scratch,
    not one ~5 GB npy set per step (the r7 SCALE.md manual-clean debt).
    Lineage unlinks the grandparent each publish (keep exactly one
    prior); the host LRU cap ages out chains retired wholesale."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_MAX_GENERATIONS", 3)
    staging._CACHE.clear()

    part_n = 0

    def write_part(lo):
        nonlocal part_n
        ids = list(range(lo, lo + 5))
        tbl = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(i), 1.0] for i in ids], pa.list_(pa.float32())
                ),
            }
        )
        p = str(tmp_path / f"part{part_n}.parquet")
        part_n += 1
        pq.write_table(tbl, p)
        return p

    def n_generations():
        return sum(
            1
            for n in os.listdir(tmp_path)
            if n.startswith("mysteryann-shared-")
            and not n.endswith(".lock")
            and os.path.exists(os.path.join(tmp_path, n, "MANIFEST.json"))
        )

    for _compaction in range(3):
        paths = [write_part(0)]  # compaction: fresh chain, lineage break
        staging.load_staged_matrix(list(paths), "vec_id", "embedding")
        for step in range(4):
            paths.append(write_part(5 * (step + 1)))
            ids, mat = staging.load_staged_matrix(
                list(paths), "vec_id", "embedding"
            )
            assert n_generations() <= 3, (
                f"scratch grew unbounded: {n_generations()} generations"
            )
        # the churned chain still resolves to the right merged artifact
        assert len(ids) == 25 and mat.shape == (25, 2)
    assert n_generations() <= 3


def test_load_staged_shared_mode_through_kernel_ops(tmp_path, monkeypatch):
    """The mapped arrays must behave under the kernels' access patterns:
    fancy indexing, searchsorted, GEMM — all read-only."""
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    staging._CACHE.clear()

    ids = np.array([3, 7, 9], dtype=np.int64)
    mat = np.arange(12, dtype=np.float64).reshape(3, 4)
    got_ids, got_mat = staging.load_staged("kk", lambda: (ids, mat))
    assert int(np.searchsorted(got_ids, 7)) == 1
    np.testing.assert_allclose(got_mat[[2, 0]] @ got_mat.T, mat[[2, 0]] @ mat.T)
    staging._CACHE.clear()


def test_shared_build_stale_winner_takeover(tmp_path, monkeypatch):
    """A waiter that finds the lock held but the heartbeat stale (dead
    winner: killed worker, dead JVM) must TAKE OVER the build instead of
    falling back to a private copy. The old fixed-deadline fallback is a
    measured scale hazard: when a 10^7-row build overran the deadline
    under CPU contention, every waiter started a private ~6 GB build in
    the same second and the herd global-OOM-killed the run."""
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    # simulate a winner that died mid-build: lockdir exists, heartbeat
    # file old (or absent entirely)
    d = staging._shared_dir("takeover")
    import os
    import time

    os.mkdir(d + ".lock")  # no HEARTBEAT file inside -> stale
    # ... once the lockdir ages past the stale threshold
    old = time.time() - staging._STALE_S - 5
    os.utime(d + ".lock", (old, old))

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.arange(4, dtype=np.int64),)

    got = staging._shared_build("takeover", build)
    assert calls["n"] == 1
    # the takeover produced a SHARED artifact (mmap), not a private copy
    assert isinstance(got[0], np.memmap)
    assert os.path.exists(os.path.join(d, "MANIFEST.json"))

    # and a second worker now loads without building at all
    got2 = staging._shared_build("takeover", lambda: (_ for _ in ()).throw(AssertionError("must not build")))
    np.testing.assert_array_equal(np.asarray(got2[0]), np.arange(4))


def test_shared_build_fresh_heartbeat_blocks_takeover(tmp_path, monkeypatch):
    """While the winner's heartbeat is FRESH, waiters keep waiting (no
    takeover, no private build) until the manifest appears."""
    import os
    import tempfile
    import threading
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    d = staging._shared_dir("slowwin")
    lock = d + ".lock"
    os.mkdir(lock)
    hb = os.path.join(lock, "HEARTBEAT")
    with open(hb, "w") as f:
        f.write("x")

    def publish_late():
        time.sleep(1.5)
        staging._shared_save(d, (np.full(3, 7, dtype=np.int64),))

    t = threading.Thread(target=publish_late)
    t.start()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.zeros(3, dtype=np.int64),)

    got = staging._shared_build("slowwin", build)
    t.join()
    # waiter never built: it waited out the live winner and mapped the
    # published artifact
    assert calls["n"] == 0
    np.testing.assert_array_equal(np.asarray(got[0]), np.full(3, 7))


def test_shared_save_concurrent_builders_intact(tmp_path, monkeypatch):
    """Two builders racing _shared_save must leave a manifest that names
    an INTACT file set (token-suffixed files, manifest-last)."""
    import os
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    d = staging._shared_dir("race")
    staging._shared_save(d, (np.arange(5),))
    staging._shared_save(d, (np.arange(6),))  # later builder wins
    got = staging._shared_load(d)
    np.testing.assert_array_equal(np.asarray(got[0]), np.arange(6))
    # both token sets exist on disk (FRESH sets are never pruned — they
    # may be a live racer's in-flight write); the manifest points at the
    # last. Aged-out superseded sets are pruned by the next publish —
    # test_shared_save_prunes_superseded_token_sets.
    assert len([f for f in os.listdir(d) if f.endswith(".npy")]) == 2


def test_shared_build_async_publish_failure_bounded(tmp_path, monkeypatch):
    """A deterministic ASYNC publish crash (ENOSPC is the realistic one
    for a 25 GB write) must hit the same FAILED-n / NOSHARE bound as a
    blocking-path crash — without it every waiter takes over, re-runs the
    full build, crashes in publish, goes stale, forever."""
    import os
    import tempfile
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setenv("SPARK_GRAFT_ASYNC_PUBLISH", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    def boom(d, obj):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(staging, "_shared_save", boom)

    arr = (np.arange(4, dtype=np.float64),)
    d = staging._shared_dir("kpubfail")
    for i in range(staging._MAX_SHARED_FAILURES):
        # winner still gets its private copy back — only the publish dies
        got = staging._shared_build("kpubfail", lambda: arr)
        np.testing.assert_array_equal(got[0], arr[0])
        deadline = time.time() + 10
        markers = []
        while time.time() < deadline:
            markers = (
                [f for f in os.listdir(d) if f.startswith("FAILED-")]
                if os.path.isdir(d)
                else []
            )
            if len(markers) >= i + 1:
                break
            time.sleep(0.05)
        assert len(markers) == i + 1, f"attempt {i}: markers={markers}"
        # the failed publisher released the lock so a retry can win it
        deadline = time.time() + 10
        while os.path.isdir(d + ".lock"):
            assert time.time() < deadline, "failed publish left the lock held"
            time.sleep(0.05)
    assert os.path.exists(os.path.join(d, "NOSHARE"))
    assert not os.path.exists(os.path.join(d, "MANIFEST.json"))
    # capped: later callers build privately instead of churning
    got2 = staging._shared_build("kpubfail", lambda: arr)
    np.testing.assert_array_equal(got2[0], arr[0])


def test_shared_build_waiter_survives_gc_between_check_and_load(
    tmp_path, monkeypatch
):
    """The host-wide LRU GC spans all shared dirs across keys, so a
    concurrent publish can rmtree a manifest-bearing dir between a
    waiter's manifest-exists check and its np.load. The waiter must loop
    back and rebuild — never surface the race as a task failure (local
    mode runs with task retries = 1)."""
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    arr = (np.arange(6, dtype=np.int64),)
    first = staging._shared_build("kgcrace", lambda: arr)
    np.testing.assert_array_equal(first[0], arr[0])

    real = staging._shared_load
    calls = {"n": 0}

    def gc_raced(d):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(f"{d}/a0.npy vanished under the GC")
        return real(d)

    monkeypatch.setattr(staging, "_shared_load", gc_raced)
    got = staging._shared_build("kgcrace", lambda: arr)
    assert calls["n"] >= 2  # first load raced, retry succeeded
    np.testing.assert_array_equal(np.asarray(got[0]), arr[0])


def test_shared_save_ages_token_set_by_newest_member(tmp_path, monkeypatch):
    """The publish-time prune must age a token SET by its NEWEST member,
    not per file: a slow racer's multi-GB sequential publish takes
    minutes, so its EARLIEST npy ages past the stale cutoff while the
    set is still being written — pruning it lands the racer's manifest
    naming missing files (r11 ADVICE on the r10 age-gate). A set whose
    newest member is fresh survives wholesale; a set aged wholesale is
    pruned."""
    import json
    import os
    import tempfile
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    d = str(tmp_path / "mysteryann-shared-slowracer")
    os.makedirs(d)
    old = time.time() - staging._STALE_S - 5

    # slow racer mid-publish: a0 finished minutes ago, a1 written just now
    np.save(os.path.join(d, "a0-slowracer000.npy"), np.arange(3))
    os.utime(os.path.join(d, "a0-slowracer000.npy"), (old, old))
    np.save(os.path.join(d, "a1-slowracer000.npy"), np.arange(2))

    # a fully superseded set: every member aged out
    for name in ("a0-supersede000.npy", "a1-supersede000.npy"):
        np.save(os.path.join(d, name), np.arange(2))
        os.utime(os.path.join(d, name), (old, old))

    staging._shared_save(d, (np.arange(4),))
    left = set(os.listdir(d))
    assert "a0-slowracer000.npy" in left, (
        "slow racer's aged-but-in-flight member pruned — its manifest "
        "would land naming a missing file"
    )
    assert "a1-slowracer000.npy" in left
    assert not any(f.startswith("a0-supersede") or f.startswith("a1-supersede")
                   for f in left), "wholly aged superseded set must be pruned"
    names = json.load(open(os.path.join(d, "MANIFEST.json")))["files"]
    assert all(n in left for n in names)


def test_takeover_capture_restores_fresh_lock(tmp_path, monkeypatch):
    """The stale-winner takeover captures the lockdir by atomic rename and
    RE-JUDGES the corpse: a waiter that stalled between judging the old
    lock stale and renaming may have captured a concurrent takeover's
    FRESH lock — it must restore it (rename back) rather than destroy a
    live winner's liveness signal, which previously produced two
    concurrent winners and duplicate multi-GB builds (r11 ADVICE)."""
    import os
    import tempfile
    import threading
    import time

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    d = staging._shared_dir("freshcapture")
    lock = d + ".lock"
    os.mkdir(lock)
    with open(os.path.join(lock, "HEARTBEAT"), "w") as f:
        f.write("x")  # a LIVE winner elsewhere

    # waiter's FIRST staleness judgment is stale (it read the heartbeat
    # long ago and stalled); every later judgment is real
    real_stale = staging._heartbeat_stale
    judged = {"n": 0}

    def lagged_stale(hb):
        judged["n"] += 1
        return True if judged["n"] == 1 else real_stale(hb)

    monkeypatch.setattr(staging, "_heartbeat_stale", lagged_stale)

    def publish_late():
        time.sleep(1.5)
        staging._shared_save(d, (np.full(3, 9, dtype=np.int64),))

    t = threading.Thread(target=publish_late)
    t.start()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (np.zeros(3, dtype=np.int64),)

    got = staging._shared_build("freshcapture", build)
    t.join()
    assert calls["n"] == 0, "waiter must not duplicate a live winner's build"
    np.testing.assert_array_equal(np.asarray(got[0]), np.full(3, 9))
    assert judged["n"] >= 2  # the capture was re-judged on the corpse
    assert os.path.isdir(lock), "captured fresh lock must be restored"
    assert not [f for f in os.listdir(str(tmp_path)) if ".dead-" in f]


def test_broken_manifest_heal_spares_healthy_set_under_flaky_reads(
    tmp_path, monkeypatch
):
    """The bounded broken-manifest recovery must only unlink a manifest
    instance that is PROVABLY broken (names an absent file): a healthy
    generation whose reads fail transiently (fs hiccup, stat storm) must
    NOT be unlinked — that discards a just-published multi-GB set and
    forces every waiter into a redundant rebuild (r10 verdict 'What's
    wrong' #2 / r11 ADVICE)."""
    import os
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    d = staging._shared_dir("flaky")
    staging._shared_save(d, (np.arange(7, dtype=np.int64),))
    manifest = os.path.join(d, "MANIFEST.json")
    ino_before = os.stat(manifest).st_ino

    real = staging._shared_load
    calls = {"n": 0}

    def flaky_load(dd):
        calls["n"] += 1
        if calls["n"] <= 30:  # past the 25-read heal trigger
            raise OSError("transient read failure on a healthy set")
        return real(dd)

    monkeypatch.setattr(staging, "_shared_load", flaky_load)
    got = staging._shared_build(
        "flaky", lambda: (_ for _ in ()).throw(AssertionError("must not rebuild"))
    )
    np.testing.assert_array_equal(np.asarray(got[0]), np.arange(7))
    assert calls["n"] >= 31
    assert os.stat(manifest).st_ino == ino_before, (
        "healthy manifest instance was unlinked under transient read noise"
    )


def test_broken_manifest_heal_escalates_when_same_instance_keeps_failing(
    tmp_path, monkeypatch
):
    """Liveness escape: when the SAME manifest instance keeps failing past
    the stale threshold even though its named files exist (present but
    unreadable), the waiter must still eventually unlink it and rebuild —
    the absence check alone would reintroduce the 28-min r10 hang for
    that failure shape."""
    import os
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_STALE_S", 1.5)

    d = staging._shared_dir("unreadable")
    staging._shared_save(d, (np.arange(5, dtype=np.int64),))

    state = {"broken": True}
    real = staging._shared_load

    def sick_load(dd):
        if state["broken"]:
            raise OSError("persistently unreadable (files present)")
        return real(dd)

    monkeypatch.setattr(staging, "_shared_load", sick_load)
    calls = {"n": 0}

    def build():
        state["broken"] = False  # the rebuild heals the pathology
        calls["n"] += 1
        return (np.full(5, 3, dtype=np.int64),)

    got = staging._shared_build("unreadable", build)
    assert calls["n"] == 1, "waiter must escalate to a rebuild, not spin"
    np.testing.assert_array_equal(np.asarray(got[0]), np.full(5, 3))


def test_winner_post_save_load_retry(tmp_path, monkeypatch):
    """The winner's post-save map-back must survive its fresh token set
    being pruned or GC'd between save and load (a save slower than the
    stale gate, or a cross-key LRU sweep): re-land a fresh set and retry
    instead of surfacing a task failure (r11 ADVICE)."""
    import tempfile

    import numpy as np

    from mysteryann_spark.sources import staging

    monkeypatch.setenv("SPARK_GRAFT_SHARED_STAGE", "1")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    real_load = staging._shared_load
    real_save = staging._shared_save
    n = {"load": 0, "save": 0}

    def pruned_once(dd):
        n["load"] += 1
        if n["load"] == 1:
            raise FileNotFoundError("token set pruned by a racing publish")
        return real_load(dd)

    def counting_save(dd, obj):
        n["save"] += 1
        return real_save(dd, obj)

    monkeypatch.setattr(staging, "_shared_load", pruned_once)
    monkeypatch.setattr(staging, "_shared_save", counting_save)
    got = staging._shared_build("postsave", lambda: (np.arange(4, dtype=np.int64),))
    assert n["save"] == 2 and n["load"] == 2
    assert isinstance(got[0], np.memmap)
    np.testing.assert_array_equal(np.asarray(got[0]), np.arange(4))


def test_stage_scratch_owner_root_and_sweep(tmp_path, monkeypatch):
    """Cross-session stage-scratch lifecycle (measured r11: 4,791 leaked
    mysteryann-stage-* dirs / 45 GB from OOM-killed sessions — atexit
    never runs under SIGKILL). All staged artifacts share ONE per-process
    root carrying an OWNER record; the startup sweep reclaims roots whose
    exact owner process (pid AND kernel start ticks) is dead, TTLs
    ownerless legacy dirs, and never touches a live session's scratch."""
    import json
    import os
    import subprocess
    import sys
    import tempfile
    import time

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_STAGE_ROOT", None)

    # this process's root: OWNER names us, sweep must spare it
    mine = staging._stage_root()
    assert os.path.isfile(os.path.join(mine, "OWNER"))
    rec = json.load(open(os.path.join(mine, "OWNER")))
    assert rec["pid"] == os.getpid()

    # a DEAD session's root: real pid + real start ticks of a process
    # that has exited
    child = subprocess.Popen([sys.executable, "-c", "import os; print(os.getpid())"],
                             stdout=subprocess.PIPE)
    dead_pid = int(child.stdout.read())
    child.wait()
    dead = tmp_path / "mysteryann-stage-deadsession"
    dead.mkdir()
    (dead / "OWNER").write_text(json.dumps({"pid": dead_pid, "start_ticks": 12345}))
    (dead / "artifact").mkdir()

    # a LIVE foreign session (pid 1 is always alive): spared even if old
    live = tmp_path / "mysteryann-stage-livesession"
    live.mkdir()
    (live / "OWNER").write_text(json.dumps(
        {"pid": 1, "start_ticks": staging._proc_start_ticks(1)}
    ))
    old = time.time() - 10 * 3600
    os.utime(live, (old, old))

    # pid-reuse guard: pid alive but start ticks DIFFER -> that process
    # is not the owner; the root is dead
    reused = tmp_path / "mysteryann-stage-reusedpid"
    reused.mkdir()
    (reused / "OWNER").write_text(json.dumps({"pid": 1, "start_ticks": -999}))

    # legacy ownerless dirs: TTL'd only
    legacy_old = tmp_path / "mysteryann-stage-legacyold"
    legacy_old.mkdir()
    os.utime(legacy_old, (old, old))
    legacy_new = tmp_path / "mysteryann-stage-legacynew"
    legacy_new.mkdir()

    removed = staging.sweep_stage_scratch()
    assert removed == 3, f"expected dead+reused+legacyold, removed {removed}"
    assert os.path.isdir(mine)
    assert live.is_dir()
    assert legacy_new.is_dir()
    assert not dead.exists() and not reused.exists() and not legacy_old.exists()


def test_stage_parquet_uses_shared_owner_root(spark, tmp_path, monkeypatch):
    """Every stage_parquet artifact lands under the ONE per-process OWNER
    root (not a fresh top-level mkdtemp per call), so a dead session's
    whole scratch is one sweep away."""
    import os
    import tempfile

    from mysteryann_spark.sources import staging

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_STAGE_ROOT", None)
    df = spark.range(5)
    p1 = staging.stage_parquet(df)
    p2 = staging.stage_parquet(df)
    assert os.path.dirname(p1) == os.path.dirname(p2) == staging._stage_root()
    roots = [d for d in os.listdir(str(tmp_path)) if d.startswith("mysteryann-stage-")]
    assert len(roots) == 1
    # explicit storage_dir still honored (the cluster contract)
    p3 = staging.stage_parquet(df, storage_dir=str(tmp_path / "explicit"))
    assert p3.startswith(str(tmp_path / "explicit"))
