"""Executor-side staging of in-memory index artifacts — no driver collect.

The broadcast search path needs the whole index (base matrix + CSR
adjacency) resident next to every kernel. Round 1 built that by
``collect()``-ing the tables at the driver and broadcasting — the
reference's single-node regime, but the driver is the one node that
cannot scale: a 10^8-row base would round-trip through driver memory.

Staging replaces the round-trip with storage: the artifact tables are
written ONCE as Parquet by a distributed Spark job, and each Python
worker process lazily reads them back with pyarrow on first use and
caches the built artifact (workers are reused across tasks, so the cost
amortizes across the whole query stream). This is the Spark ML model
pattern: artifacts live on shared storage, not in the driver heap.

Locally the temp dir is process-shared; on a cluster callers pass
``storage_dir`` on cluster-visible storage (HDFS/S3) — the same contract
every Spark ML writer has.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections import OrderedDict
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame

# per-Python-worker artifact cache; bounded so repeated stagings of
# throwaway indexes (tests, sweeps with fresh builds) can't accumulate.
# 8 entries suit test/sf-scale artifacts (MBs each). At rehearsal scale a
# staged base matrix is GBs; host-shared staging then caches read-only
# maps of the one host copy, not a private matrix per worker.
_CACHE: "OrderedDict[str, object]" = OrderedDict()
_CACHE_MAX = 8


def _shared_enabled() -> bool:
    """SPARK_GRAFT_SHARED_STAGE=1 opts a run into HOST-shared staged
    artifacts: the first worker to need an artifact materializes it once
    as flat ``.npy`` files on node-local scratch and every worker (this
    one included) maps them read-only (``np.load(mmap_mode="r")``), so
    the OS page cache holds ONE copy per host instead of one anonymous
    copy per worker process. At 10^7 x 64-d the private-copy regime is
    ~2.6 GB x n_workers just for the base matrix — 16 workers of that
    (plus the phase-0 query matrix) global-OOM-killed the 10M rehearsal;
    shared, the host pays ~2.6 GB total. On a cluster this is the
    standard per-node artifact cache (executors on one node share
    local scratch); default off to keep the correctness-scale entries
    bit-identical to the long-tested private path."""
    return os.environ.get("SPARK_GRAFT_SHARED_STAGE") == "1"


# how often the winner's background thread touches the heartbeat file,
# and how stale the heartbeat may be before waiters declare the winner
# dead and contend to take over the build (one at a time — never a herd)
_HEARTBEAT_S = 5.0
_STALE_S = 60.0

# consecutive winner failures tolerated before the key falls back to
# NOSHARE (private builds): transient failures (OOM, FS blip) get a
# bounded serial retry via lock takeover; a deterministically failing
# build must not be retried by every waiter until Spark exhausts task
# retries (0.5 s poll + takeover churn with no bound)
_MAX_SHARED_FAILURES = 3

# scratch budget for host-shared generations: each maintenance-chain step
# publishes a fresh mysteryann-shared-* npy set (~5 GB at 10^7 x 64-d),
# and before r8 every superseded generation stayed on scratch until a
# manual /tmp clean (SCALE.md). Publish-time GC now (a) unlinks the
# generation BEFORE the one just superseded (lineage PREV links — the
# immediate prior is kept for readers mid-open; already-mapped readers
# are unaffected by unlink, POSIX keeps their pages), and (b) applies
# this host-wide LRU cap so chains RETIRED wholesale (compaction starts
# a new lineage; the old chain's tail would otherwise linger forever)
# age out as later publishes land. Deleting a still-wanted artifact is
# a rebuild, never a wrong answer (_peek misses rebuild from parquet).
_MAX_GENERATIONS = 8

# winner-process lineage: artifact key -> the prior-prefix key it was
# incrementally patched from (set by load_staged_matrix/_graph builders,
# consumed by _gc_scratch right after the publish)
_LINEAGE: dict[str, str] = {}


def staging_mode() -> dict[str, bool]:
    """Public view of the run's staging configuration — what the scale
    tools print so an A/B's two runs are distinguishable on the page.
    Stable API: tools should read this, not the underscore helpers."""
    return {"shared_stage": _shared_enabled()}


def _shared_dir(key: str) -> str:
    import hashlib

    digest = hashlib.sha1(key.encode()).hexdigest()[:20]
    return os.path.join(tempfile.gettempdir(), f"mysteryann-shared-{digest}")


def _publish_token(fname: str) -> str:
    """Builder token of a publish-set member: ``a{i}-{token}.npy`` or
    ``MANIFEST.{token}.tmp``. Legacy un-tokened names (``a0.npy``) fall
    back to the filename itself — a one-file group, aged individually."""
    if fname.endswith(".npy"):
        stem = fname[: -len(".npy")]
        return stem.rsplit("-", 1)[-1]
    if fname.startswith("MANIFEST.") and fname.endswith(".tmp"):
        return fname[len("MANIFEST.") : -len(".tmp")]
    return fname


def _shared_save(d: str, obj: tuple) -> None:
    """Winner side: write each array under a builder-unique token, then
    publish a manifest NAMING those files, last and atomically (tmp +
    rename). Readers only ever see a complete, self-consistent set —
    even if a presumed-dead winner was actually alive and two builders
    raced, each writes its own token files and whichever manifest lands
    last points at an intact set.

    After the manifest lands, token sets it does NOT name are unlinked —
    but only sets whose NEWEST member is older than the stale threshold:
    superseded same-key publishes otherwise accumulate forever inside one
    dir (measured r10: four racing 7.4 GB sets = 30 GB in a single key
    dir, ENOSPC at 10^7 maintenance scale), while a concurrent racer's
    IN-FLIGHT files must survive the prune — deleting them lands that
    racer's manifest pointing at nothing (measured r10 under a takeover
    from a winner presumed dead: a broken manifest spun every waiter in
    the manifest-exists loop — the reader side now also self-heals, see
    _shared_build). Aging PER FILE was the r10 ADVICE hazard: a multi-GB
    sequential publish takes minutes, so a slow racer's EARLIEST file
    ages past the cutoff mid-write; grouping by token and aging the set
    by its newest member keeps any actively-writing set fresh (the file
    currently being written has a current mtime). Readers mid-open on a
    pruned set are unaffected (POSIX unlink); a reader holding the old
    manifest gets OSError and _shared_build re-reads the fresh one."""
    import json
    import time as _time

    token = uuid.uuid4().hex[:12]
    os.makedirs(d, exist_ok=True)
    names = []
    for i, a in enumerate(obj):
        name = f"a{i}-{token}.npy"
        np.save(os.path.join(d, name), np.ascontiguousarray(a))
        names.append(name)
    tmp = os.path.join(d, f"MANIFEST.{token}.tmp")
    with open(tmp, "w") as f:
        json.dump({"files": names}, f)
    os.replace(tmp, os.path.join(d, "MANIFEST.json"))
    keep = set(names)
    cutoff = _time.time() - _STALE_S
    groups: dict[str, list[str]] = {}
    newest: dict[str, float] = {}
    for f in os.listdir(d):
        if f in keep:
            continue
        if (f.startswith("a") and f.endswith(".npy")) or (
            f.startswith("MANIFEST.") and f.endswith(".tmp")
        ):
            p = os.path.join(d, f)
            try:
                mt = os.path.getmtime(p)
            except OSError:
                continue
            tok = _publish_token(f)
            groups.setdefault(tok, []).append(p)
            newest[tok] = max(newest.get(tok, 0.0), mt)
    for tok, paths in groups.items():
        if newest[tok] >= cutoff:
            continue
        for p in paths:
            try:
                os.unlink(p)
            except OSError:
                pass


def _shared_load(d: str) -> tuple:
    import json

    with open(os.path.join(d, "MANIFEST.json")) as f:
        meta = json.load(f)
    # legacy manifests ({"n": k}) name files a{i}.npy
    names = meta.get("files") or [f"a{i}.npy" for i in range(meta["n"])]
    out = tuple(
        np.load(os.path.join(d, name), mmap_mode="r") for name in names
    )
    try:
        os.utime(d)  # refresh LRU recency so _gc_scratch spares live dirs
    except OSError:
        pass
    return out


def _gc_scratch(key: str, d: str) -> None:
    """Publish-time scratch GC (see _MAX_GENERATIONS). Runs in the
    winner right after its manifest lands; best-effort throughout —
    scratch GC must never fail a build. Two mechanisms:

    * lineage: the new artifact records the generation it was patched
      from (``PREV``); the generation BEFORE that one is unlinked. The
      immediate prior survives one more step for readers that read its
      manifest just before ours landed (keep-exactly-one-prior).
    * host LRU cap: every other manifest-bearing shared dir beyond
      ``_MAX_GENERATIONS`` (oldest mtime first) is removed — the path
      by which chains retired WHOLESALE (compaction, index drop) age
      out. Dirs with a live lockdir (build in progress) are never
      touched; neither are the new artifact and its PREV."""
    import shutil

    prev_key = _LINEAGE.pop(key, None)
    d_prev = _shared_dir(prev_key) if prev_key else None
    try:
        if d_prev:
            with open(os.path.join(d, "PREV"), "w") as f:
                f.write(d_prev)
            gp = None
            pf = os.path.join(d_prev, "PREV")
            if os.path.exists(pf):
                with open(pf) as f:
                    gp = f.read().strip()
            if (
                gp
                and gp not in (d, d_prev)
                and os.path.basename(gp).startswith("mysteryann-shared-")
                and os.path.isdir(gp)
            ):
                shutil.rmtree(gp, ignore_errors=True)
                shutil.rmtree(gp + ".lock", ignore_errors=True)
        root = tempfile.gettempdir()
        gens = []
        for name in os.listdir(root):
            if not name.startswith("mysteryann-shared-") or name.endswith(".lock"):
                continue
            p = os.path.join(root, name)
            if p in (d, d_prev) or not os.path.isdir(p):
                continue
            # only PUBLISHED generations are eligible: a dir without a
            # manifest is a build in progress (winner holds the lockdir)
            # or small failure residue — never touch either. A dir WITH
            # a manifest is complete; its lockdir is success residue
            # (winners don't remove it), removed along with the dir.
            if not os.path.exists(os.path.join(p, "MANIFEST.json")):
                continue
            try:
                gens.append((os.path.getmtime(p), p))
            except OSError:
                pass
        keep = max(0, _MAX_GENERATIONS - (2 if d_prev else 1))
        doomed = sorted(gens)[:-keep] if keep else sorted(gens)
        for _, p in doomed:
            shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(p + ".lock", ignore_errors=True)
    except OSError:
        pass


def _heartbeat_stale(hb: str) -> bool:
    """True when the winner's heartbeat is old enough that the winner is
    presumed dead (killed worker / dead JVM).

    A MISSING heartbeat is judged by the LOCKDIR's age instead of being
    presumed dead outright: between a winner's mkdir(lock) and its beat
    thread's first write there is a scheduling window, and waiters that
    treated it as stale rmtree'd the fresh winner's lock and adopted the
    build — cascading under load into concurrent winners (measured r10:
    24 workers hitting a new key at batch start produced FOUR parallel
    7.4 GB private builds of the same artifact, 4x host residency and
    30 GB of scratch, exactly the herd shared staging exists to kill).
    A lockdir younger than _STALE_S is a live acquire; one older with
    still no heartbeat is a winner that died pre-beat — genuinely
    stale."""
    import time as _time

    try:
        return (_time.time() - os.path.getmtime(hb)) > _STALE_S
    except OSError:
        try:
            return (
                _time.time() - os.path.getmtime(os.path.dirname(hb))
            ) > _STALE_S
        except OSError:
            return True


def _shared_build(key: str, build: Callable[[], object]) -> object:
    """Build-once-per-host: one worker wins the lockdir and materializes,
    the rest wait for the manifest and mmap. Artifacts that are not a
    tuple of ndarrays (e.g. a None empty-input marker) stay private —
    the winner leaves a NOSHARE marker so waiters stop waiting.

    Liveness, not timeouts: the winner touches a heartbeat file from a
    daemon thread for the whole build, and waiters wait on the MANIFEST
    for as long as that heartbeat stays fresh. A fixed waiter deadline
    with a private-build fallback is a scale hazard, measured the hard
    way: under CPU contention a 10^7-row artifact build overran the old
    30-minute deadline, at which point all 15 waiting workers fell back
    to PRIVATE ~6 GB builds in the same second — the thundering herd
    global-OOM-killed the run (dmesg: 16 workers at 6-7 GB anon each).
    Now a waiter that sees a stale heartbeat contends to TAKE OVER the
    lock — exactly one succeeds and rebuilds; nobody builds privately
    unless the artifact is marked NOSHARE."""
    import shutil
    import threading
    import time as _time

    d = _shared_dir(key)
    manifest = os.path.join(d, "MANIFEST.json")
    noshare = os.path.join(d, "NOSHARE")
    lock = d + ".lock"
    hb = os.path.join(lock, "HEARTBEAT")

    def _acquire() -> bool:
        try:
            os.mkdir(lock)
        except FileExistsError:
            return False
        # seed the heartbeat synchronously: shortens the no-heartbeat
        # window the beat thread leaves (waiters judge that window by
        # the lockdir's age — see _heartbeat_stale)
        try:
            with open(hb, "w") as f:
                f.write(str(os.getpid()))
        except OSError:
            pass
        return True

    def _record_failure() -> None:
        # FAILED-<n> marker (writes serialized by the lock, so the count
        # is race-free); after _MAX_SHARED_FAILURES consecutive winner
        # failures the build is presumed deterministic -> NOSHARE. Also
        # drop this attempt's GC lineage: a later retry may take the
        # FULL-rebuild path, and a stale PREV recorded from the failed
        # attempt could unlink a prior generation the new artifact was
        # never patched from (breaking keep-one-prior for its readers).
        _LINEAGE.pop(key, None)
        try:
            os.makedirs(d, exist_ok=True)
            n_failed = 1 + sum(
                1 for f in os.listdir(d) if f.startswith("FAILED-")
            )
            with open(os.path.join(d, f"FAILED-{n_failed}"), "w"):
                pass
            if n_failed >= _MAX_SHARED_FAILURES:
                with open(noshare, "w"):
                    pass
        except OSError:
            pass

    def _manifest_ident():
        # identity of the manifest INSTANCE (atomic-rename publishes give
        # each a fresh inode) — the heal below may only delete the
        # instance it actually observed broken
        try:
            st = os.stat(manifest)
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            return None

    def _provably_broken(ident) -> bool:
        # True only when the SAME manifest instance names a file that is
        # genuinely ABSENT (or the JSON itself is unreadable — atomic
        # renames make that a real corpse, not a torn write). A named
        # file that exists but momentarily fails to read (fs hiccup,
        # stat storm on slow NFS) is NOT proof — unlinking a healthy
        # generation forces a redundant multi-GB rebuild (r10 ADVICE).
        import json

        if _manifest_ident() != ident:
            return False  # a new publish landed — re-read it instead
        try:
            with open(manifest) as f:
                meta = json.load(f)
            names = meta.get("files") or [f"a{i}.npy" for i in range(meta["n"])]
        except (OSError, ValueError, KeyError):
            return True
        for name in names:
            try:
                os.stat(os.path.join(d, name))
            except FileNotFoundError:
                return True
            except OSError:
                pass
        return False

    broken_reads = 0
    broken_ident = None
    broken_since = 0.0
    while True:
        if os.path.exists(manifest):
            ident = _manifest_ident()
            try:
                return _shared_load(d)
            except OSError:
                # the host-wide LRU GC spans ALL shared dirs across keys:
                # a concurrent publish can rmtree this dir between the
                # manifest-exists check and np.load. Loop back to the
                # acquire/wait state and REBUILD — a GC'd generation must
                # never surface as a task failure (local mode runs with
                # task retries = 1).
                #
                # BOUNDED: a manifest that PERSISTENTLY names missing
                # files (a racing publish pruned them, or a partial
                # rmtree) would otherwise spin every waiter here forever
                # — nobody reaches the acquire path while the manifest
                # exists (measured r10: a publish/takeover race hung a
                # 10^7 maintenance batch for 28 min). After ~5 s
                # of consecutive misses against the SAME manifest
                # instance, unlink it and contend to rebuild — but only
                # when provably broken (a named file ABSENT), or as a
                # liveness escape when the same instance keeps failing
                # past the stale threshold (unreadable-but-present
                # files). A manifest REPLACED mid-count restarts the
                # count: deleting a publish that landed between the
                # failed read and the unlink discards a healthy
                # multi-GB set (r10 ADVICE).
                now = _time.time()
                if ident is None or ident != broken_ident:
                    broken_ident = ident
                    broken_since = now
                    broken_reads = 0
                broken_reads += 1
                if broken_reads >= 25:
                    if _provably_broken(ident) or (
                        now - broken_since > _STALE_S
                    ):
                        if _manifest_ident() == ident:
                            try:
                                os.unlink(manifest)
                            except OSError:
                                pass
                        broken_ident = None
                    broken_reads = 0
                _time.sleep(0.2)
                continue
        broken_reads = 0
        broken_ident = None
        if os.path.exists(noshare):
            return build()
        won = _acquire()
        if not won and _heartbeat_stale(hb):
            # presumed-dead winner: capture the lockdir EXCLUSIVELY
            # before destroying it. rmtree of the live path raced a
            # concurrent takeover — waiter A judges the old lock stale,
            # waiter B adopts and mkdirs a FRESH lock, then A's rmtree
            # deletes B's lock and A acquires too: two winners, two
            # concurrent multi-GB builds (r10 ADVICE). os.rename is
            # atomic — exactly one waiter owns the corpse; the rest see
            # ENOENT and loop back to waiting. The corpse is RE-JUDGED
            # after capture (rename preserves the dir's own mtime and
            # its HEARTBEAT): a waiter that stalled between judging the
            # OLD lock stale and renaming may have captured a takeover's
            # FRESH lock — restore it instead of destroying a live
            # winner's liveness signal.
            dead = lock + ".dead-" + uuid.uuid4().hex[:8]
            try:
                os.rename(lock, dead)
            except OSError:
                pass
            else:
                if not _heartbeat_stale(os.path.join(dead, "HEARTBEAT")):
                    try:
                        os.rename(dead, lock)
                    except OSError:
                        # yet another waiter re-acquired meanwhile; the
                        # displaced fresh winner finishes headless (its
                        # publish still lands) — drop the corpse
                        shutil.rmtree(dead, ignore_errors=True)
                else:
                    shutil.rmtree(dead, ignore_errors=True)
                    won = _acquire()
        if not won:
            _time.sleep(0.5)
            continue

        # winner: publish liveness from a daemon thread so waiters can
        # distinguish "slow build under contention" from "dead builder"
        stop = threading.Event()

        def _beat() -> None:
            while not stop.is_set():
                try:
                    with open(hb, "w") as f:
                        f.write(str(os.getpid()))
                except OSError:
                    pass
                stop.wait(_HEARTBEAT_S)

        t = threading.Thread(target=_beat, daemon=True)
        t.start()
        try:
            obj = build()
            if (
                isinstance(obj, tuple)
                and obj
                and all(
                    isinstance(a, np.ndarray) and a.dtype != object for a in obj
                )
            ):
                _shared_save(d, obj)
                # the manifest landed, so the failure streak is over: the
                # next winner failure counts from FAILED-1 again instead
                # of reaching NOSHARE on markers from before this publish
                for f in os.listdir(d):
                    if f.startswith("FAILED-"):
                        try:
                            os.unlink(os.path.join(d, f))
                        except OSError:
                            pass
                # map the just-published set back; a concurrent same-key
                # publish may have pruned this token set (a save slower
                # than _STALE_S ages past even the newest-member gate) or
                # a cross-key LRU GC removed the dir — re-land a fresh
                # token set and retry instead of surfacing a task failure
                # (r10 ADVICE). The private copy is dropped only once the
                # mapped one is in hand.
                out = None
                for _ in range(3):
                    try:
                        out = _shared_load(d)
                        break
                    except OSError:
                        _shared_save(d, obj)
                if out is None:
                    out = _shared_load(d)
                del obj  # drop the private copy; hand back the mapped one
                _gc_scratch(key, d)
                return out
            os.makedirs(d, exist_ok=True)
            with open(noshare, "w"):
                pass
            _LINEAGE.pop(key, None)
            return obj
        except BaseException:
            # a FAILED build must not strand waiters, but it must not
            # poison the host either: a permanent NOSHARE after one
            # transient failure (OOM, FS blip) would route every later
            # worker to private multi-GB builds — recreating exactly the
            # n_workers× residency regime shared staging exists to kill.
            # Instead record the failure (FAILED-<n> marker — writes are
            # serialized by the lock, so the count is race-free) and
            # RELEASE the lock: the stale heartbeat lets the next waiter
            # take over and retry. After _MAX_SHARED_FAILURES consecutive
            # winner failures the build is presumed deterministic and the
            # key falls back to NOSHARE, bounding the takeover/retry
            # churn instead of looping until Spark exhausts task retries.
            stop.set()
            t.join(timeout=2)
            _record_failure()
            shutil.rmtree(lock, ignore_errors=True)
            raise
        finally:
            stop.set()
            t.join(timeout=2)


_STAGE_ROOT: str | None = None


def _proc_start_ticks(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot, /proc/<pid>/stat field
    22) of a pid — the (pid, start_ticks) pair survives pid reuse, so a
    recycled pid never keeps a dead session's scratch alive. None where
    /proc isn't available (the sweep then falls back to pid liveness)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
        # comm (field 2) may contain spaces/parens — split after the
        # LAST ')' so fields 3+ parse positionally
        rest = data[data.rindex(b")") + 2 :].split()
        return int(rest[19])
    except (OSError, ValueError, IndexError):
        return None


def _stage_root() -> str:
    """One scratch ROOT per driver process for every staged artifact,
    with an OWNER record (pid + kernel start ticks) and an atexit
    rmtree. Before r11 each ``stage_parquet`` call mkdtemp'd its own
    top-level dir with NO lifecycle at all — measured on this box as
    4,791 leaked dirs / 45 GB accumulated across dead sessions (atexit
    never runs under OOM-kill; nothing else knew the dirs were dead).
    One root per process means one OWNER check reclaims everything a
    dead session staged — see ``sweep_stage_scratch``."""
    global _STAGE_ROOT
    if _STAGE_ROOT is None or not os.path.isdir(_STAGE_ROOT):
        import atexit
        import json
        import shutil

        root = tempfile.mkdtemp(prefix="mysteryann-stage-")
        try:
            with open(os.path.join(root, "OWNER"), "w") as f:
                json.dump(
                    {
                        "pid": os.getpid(),
                        "start_ticks": _proc_start_ticks(os.getpid()),
                    },
                    f,
                )
        except OSError:
            pass
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _STAGE_ROOT = root
    return _STAGE_ROOT


def sweep_stage_scratch(max_age_s: float = 6 * 3600.0) -> int:
    """Best-effort cross-session GC of leaked stage scratch; returns the
    number of dirs removed. Roots with an OWNER record are removed when
    that exact process (pid AND start ticks) is dead — safe against pid
    reuse, and a live session's scratch is never touched regardless of
    age. Ownerless dirs (pre-r11 sessions, or an OWNER write that lost a
    race with the kill) fall back to the ``max_age_s`` TTL. Called from
    ``session.get_spark`` so every new session reclaims what dead ones
    leaked; failures are swallowed — scratch GC must never fail a
    session start."""
    import json
    import shutil
    import time as _time

    removed = 0
    now = _time.time()
    root = tempfile.gettempdir()
    try:
        names = os.listdir(root)
    except OSError:
        return 0
    for name in names:
        if not name.startswith("mysteryann-stage-"):
            continue
        p = os.path.join(root, name)
        if not os.path.isdir(p):
            continue
        dead = False
        try:
            with open(os.path.join(p, "OWNER")) as f:
                rec = json.load(f)
            pid = int(rec["pid"])
            if pid == os.getpid():
                continue  # never self-reap
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True
            if alive and rec.get("start_ticks") is not None:
                alive = _proc_start_ticks(pid) == rec["start_ticks"]
            dead = not alive
        except (OSError, ValueError, KeyError, TypeError):
            try:
                dead = (now - os.path.getmtime(p)) > max_age_s
            except OSError:
                dead = False
        if dead:
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
    return removed


def stage_parquet(df: DataFrame, storage_dir: str | None = None) -> str:
    """Write ``df`` once via a distributed job; returns the artifact path.
    Default scratch lives under the per-process OWNER root (reclaimed by
    ``sweep_stage_scratch`` when this process dies uncleanly); callers on
    a cluster pass ``storage_dir`` on cluster-visible storage."""
    base = storage_dir or _stage_root()
    path = os.path.join(base, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    return path


def list_staged_files(path: str) -> list[str]:
    """Part-file URIs of a staged Parquet artifact, listed driver-side
    through pyarrow's filesystem layer. The previous route —
    ``spark.read.parquet(path).inputFiles()`` — plans a scan relation
    with schema inference, which costs 1-2 driver jobs (parquet-footer
    reads) on EVERY kNN/range/IVF join invocation; a directory listing
    needs none (guide §1.2: remove work, then tune). Returns sorted
    ``scheme://``-qualified URIs, the same shape ``inputFiles`` produced,
    so the executor-side block readers are unchanged."""
    import pyarrow.fs as pafs

    uri = path if ":/" in path else "file://" + os.path.abspath(path)
    fs, rel = pafs.FileSystem.from_uri(uri)
    scheme = uri.split(":", 1)[0]
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(rel, recursive=False)):
        name = fi.base_name
        if fi.type == pafs.FileType.File and not name.startswith(("_", ".")):
            out.append(f"{scheme}://{fi.path}")
    return sorted(out)


def staged_row_count(paths: list[str]) -> int:
    """Total parquet-footer row count of staged artifacts, read
    driver-side (pyarrow metadata; no Spark job, no data read). Chained
    incremental sets count overridden duplicate ids twice — callers use
    this as a SIZING ESTIMATE (e.g. kernel-stage partition counts), not
    as an exact row count."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        for uri in list_staged_files(p):
            fs, rel = pafs.FileSystem.from_uri(uri)
            with fs.open_input_file(rel) as f:
                total += pq.ParquetFile(f).metadata.num_rows
    return total


class StagedBase:
    """Append-only staged vector set shared across index-maintenance calls.

    Holds an ordered list of staged Parquet paths whose executor-side form
    is their concatenation with LATER paths overriding earlier rows that
    share an id (``staged_matrix``) — the delete-then-reinsert update case.
    The streaming maintenance loop creates one of these for the initial
    base and each micro-batch appends only its delta, so per-batch staging
    cost is ∝ |batch|, not ∝ |graph| (previously every micro-batch's two
    prune calls each re-staged the FULL base to a fresh path, paying an
    O(|graph|) write + per-worker matrix rebuild twice per batch).

    A staged set may be a SUPERSET of the live base (deleted ids keep
    their rows): the prune/search kernels look vectors up by id, so
    unreferenced rows are dead weight only. Compact by re-staging when
    churn makes the overhang material."""

    def __init__(self, paths: list[str]):
        self.paths = list(paths)

    @classmethod
    def of(cls, df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        return cls([stage_parquet(df, storage_dir)])

    def append(self, df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        self.paths.append(stage_parquet(df, storage_dir))
        return self

    def compact(self, live_df: DataFrame, storage_dir: str | None = None) -> "StagedBase":
        """Re-stage the LIVE vector set as a single artifact and reset the
        chain — reclaims the delete-churn overhang (tombstoned ids keep
        rows in the chain form) and bounds the per-path parquet open cost
        of cold worker rebuilds. Call when `len(paths)` or measured
        overhang crosses a budget (the maintenance loops use the same
        cadence as their adjacency chain, maintain._ADJ_COMPACT_EVERY)."""
        self.paths = [stage_parquet(live_df, storage_dir)]
        return self


def staged_matrix(
    paths: list[str], id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) over the CONCATENATION of several staged
    artifacts, id-sorted, duplicate ids resolved to the LAST path's row
    (StagedBase update semantics). One path degenerates to table_matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbls = [pq.read_table(p, columns=[id_col, vec_col]) for p in paths]
    tbl = tbls[0] if len(tbls) == 1 else pa.concat_tables(
        tbls, promote_options="default"
    )
    ids, mat = table_matrix(tbl, id_col, vec_col)
    if len(tbls) > 1:
        # stable id-sort preserved concat order within equal ids, so the
        # run-end of each equal-id run is the latest path's row
        keep = np.append(ids[1:] != ids[:-1], True)
        ids, mat = ids[keep], mat[keep]
    return ids, mat


def load_staged(key: str, build: Callable[[], object]) -> object:
    """Executor-side: build an artifact's in-memory form once per worker
    process. ``build`` reads the staged Parquet itself (``read_staged``);
    ``key`` is usually the staged path (or a composite of several).

    Eviction happens BEFORE the build: at rehearsal scale one artifact is
    multiple GB, and building the new matrix while the evictee still sat
    in the cache doubled worker peak memory exactly at stage boundaries —
    when every worker transitions at once."""
    obj = _CACHE.get(key)
    if obj is None:
        while _CACHE and len(_CACHE) >= _CACHE_MAX:
            _CACHE.popitem(last=False)
        obj = _shared_build(key, build) if _shared_enabled() else build()
        _CACHE[key] = obj
    return obj


def _peek_artifact(key: str):
    """Return an ALREADY-BUILT artifact for ``key`` without triggering a
    build: the worker's LRU first, then (shared mode) the host-shared
    manifest. The incremental-patch path probes prior chain prefixes with
    this — a miss means 'rebuild from parquet', never 'wait'."""
    obj = _CACHE.get(key)
    if obj is not None:
        return obj
    if _shared_enabled():
        d = _shared_dir(key)
        if os.path.exists(os.path.join(d, "MANIFEST.json")):
            try:
                return _shared_load(d)
            except Exception:
                return None
    return None


def _seg_offsets(lengths: np.ndarray) -> np.ndarray:
    """Intra-segment offsets: for segments of the given lengths laid out
    consecutively, the 0..len-1 position of every element within its own
    segment (the vectorized-scatter helper table_ragged also uses)."""
    total = int(lengths.sum())
    ends = np.cumsum(lengths)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - lengths, lengths)


def _patch_matrix(
    ids: np.ndarray, mat: np.ndarray, d_ids: np.ndarray, d_mat: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Apply a (sorted, unique) delta to a (sorted, unique) id-aligned
    matrix: delta rows override matching ids and insert new ones in id
    order. Returns ``(ids2, mat2, old_dest)`` where ``old_dest[i]`` is
    the new row of prior row ``i`` — the remap the CSR patch needs.
    O(n + |delta|) numpy; never mutates the (possibly mmap'd) prior."""
    n = len(ids)
    if len(d_ids) == 0:
        return ids, mat, np.arange(n, dtype=np.int64)
    pos = np.searchsorted(ids, d_ids)
    posc = np.minimum(pos, n - 1)
    over = (pos < n) & (ids[posc] == d_ids)
    ins_pos = pos[~over]
    ins_ids, ins_mat = d_ids[~over], d_mat[~over]
    n2 = n + len(ins_ids)
    old_dest = np.arange(n, dtype=np.int64) + np.searchsorted(
        ins_pos, np.arange(n, dtype=np.int64), side="right"
    )
    ins_dest = ins_pos + np.arange(len(ins_ids), dtype=np.int64)
    ids2 = np.empty(n2, dtype=np.int64)
    mat2 = np.empty((n2, mat.shape[1]), dtype=mat.dtype)
    ids2[old_dest] = ids
    mat2[old_dest] = mat
    ids2[ins_dest] = ins_ids
    mat2[ins_dest] = ins_mat
    if over.any():
        mat2[old_dest[pos[over]]] = d_mat[over]
    return ids2, mat2, old_dest


def _delta_lists(tbl, ids2: np.ndarray):
    """Delta adjacency table -> (rows, lengths, flat_rows) in ids2 row
    space, table order, with nodes/neighbors absent from ``ids2`` dropped
    (identical semantics to ``table_csr``'s full rebuild)."""
    nodes = tbl["node"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    arr = tbl["nbrs"].combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    widths = np.diff(offsets)
    n2 = len(ids2)
    nrows = np.searchsorted(ids2, nodes)
    node_ok = (nrows < n2) & (ids2[np.minimum(nrows, n2 - 1)] == nodes)
    owner = np.repeat(np.arange(len(nodes), dtype=np.int64), widths)
    frows = np.searchsorted(ids2, flat)
    f_ok = (frows < n2) & (ids2[np.minimum(frows, n2 - 1)] == flat)
    keep = f_ok & node_ok[owner]
    owner_k, frows_k = owner[keep], frows[keep]
    new_w = np.bincount(owner_k, minlength=len(nodes))
    return nrows[node_ok], new_w[node_ok], frows_k


def _patch_csr(
    old_dest: np.ndarray,
    n2: int,
    indptr: np.ndarray,
    indices: np.ndarray,
    dn_rows: np.ndarray,
    d_len: np.ndarray,
    d_flat_rows: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Rebuild a CSR after a base patch + adjacency delta: prior edges are
    remapped through ``old_dest`` (row positions shifted by inserts),
    delta rows replace their prior lists wholesale (an empty delta list
    is a tombstone), new rows without a delta list stay empty. O(E)
    vectorized scatters; no per-node loop."""
    old_len = np.diff(indptr)
    remapped = old_dest[indices]
    row_len = np.zeros(n2, dtype=np.int64)
    row_len[old_dest] = old_len
    replaced = np.zeros(n2, dtype=bool)
    replaced[dn_rows] = True
    row_len[dn_rows] = d_len
    new_indptr = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(row_len, dtype=np.int64)]
    )
    out = np.empty(int(new_indptr[-1]), dtype=np.int64)
    keep_old = ~replaced[old_dest]
    seg_rows, seg_len = old_dest[keep_old], old_len[keep_old]
    dest = np.repeat(new_indptr[seg_rows], seg_len) + _seg_offsets(seg_len)
    out[dest] = remapped[np.repeat(keep_old, old_len)]
    dest_d = np.repeat(new_indptr[dn_rows], d_len) + _seg_offsets(d_len)
    out[dest_d] = d_flat_rows
    return new_indptr, out


def _matrix_key(paths: list[str], id_col: str, vec_col: str) -> str:
    return f"stagedmat|{id_col}|{vec_col}|" + ";".join(paths)


def load_staged_matrix(
    paths: list[str], id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Worker-side (ids, matrix) over a staged-path CHAIN, incremental:
    when an artifact for a PREFIX of ``paths`` was already built (this
    worker's LRU, or the host-shared store), only the suffix deltas are
    read from parquet and PATCHED in — O(n) memcpy + O(|delta|) parquet
    instead of re-reading the whole chain. This is the maintenance-loop
    payoff: per-batch artifact refresh cost follows the batch, and in
    shared mode the winner publishes the patched npy in seconds (a
    sequential O(n) write) instead of minutes of full parquet decode.
    Falls back to the full ``staged_matrix`` read when no prefix exists."""
    key = _matrix_key(paths, id_col, vec_col)

    def _build():
        for cut in range(len(paths) - 1, 0, -1):
            prior_key = _matrix_key(paths[:cut], id_col, vec_col)
            prior = _peek_artifact(prior_key)
            if prior is None:
                continue
            if _shared_enabled():
                _LINEAGE[key] = prior_key  # publish-time GC lineage
            ids, mat = prior
            d_ids, d_mat = staged_matrix(paths[cut:], id_col, vec_col)
            ids2, mat2, _ = _patch_matrix(ids, mat, d_ids, d_mat.astype(mat.dtype, copy=False))
            return ids2, mat2
        return staged_matrix(paths, id_col, vec_col)

    return load_staged(key, _build)


def _graph_key(base_paths: list[str], adj_paths: list[str],
               id_col: str, vec_col: str) -> str:
    # ';'/'#' separators keep (base, adj) splits unambiguous — the old
    # '|'.join of both lists collided across different splits
    return (
        f"stagedgraph|{id_col}|{vec_col}|"
        + ";".join(base_paths) + "#" + ";".join(adj_paths)
    )


def load_staged_graph(
    base_paths: list[str],
    adj_paths: list[str],
    base_id: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Worker-side search-index artifact (ids, base matrix, CSR indptr,
    CSR indices) over staged-path CHAINS, incremental like
    ``load_staged_matrix``: the longest previously-built (base-prefix,
    adj-prefix) artifact is patched with the suffix deltas — base rows
    merged in id order (``_patch_matrix``), prior edges remapped, delta
    adjacency rows replacing their nodes' lists (``_patch_csr``). An
    empty delta list tombstones a deleted node: it keeps a row (the
    staged base is a superset) but nothing links to it, so it is
    unreachable. Bit-parity with the full rebuild is gated in
    tests/test_staging_delta.py."""
    key = _graph_key(base_paths, adj_paths, base_id, vec_col)

    def _full():
        ids, bmat = staged_matrix(base_paths, base_id, vec_col)
        indptr, indices = table_csr(read_staged_multi(adj_paths), ids)
        return ids, bmat, indptr, indices

    def _build():
        best = None
        for bi in range(len(base_paths), 0, -1):
            for ai in range(len(adj_paths), 0, -1):
                if bi == len(base_paths) and ai == len(adj_paths):
                    continue
                prior = _peek_artifact(
                    _graph_key(base_paths[:bi], adj_paths[:ai], base_id, vec_col)
                )
                if prior is not None:
                    best = (bi, ai, prior)
                    break
            if best:
                break
        if best is None:
            return _full()
        bi, ai, (ids, bmat, indptr, indices) = best
        if _shared_enabled():
            _LINEAGE[key] = _graph_key(  # publish-time GC lineage
                base_paths[:bi], adj_paths[:ai], base_id, vec_col
            )
        if bi < len(base_paths):
            d_ids, d_mat = staged_matrix(base_paths[bi:], base_id, vec_col)
            ids2, bmat2, old_dest = _patch_matrix(
                ids, bmat, d_ids, d_mat.astype(bmat.dtype, copy=False)
            )
        else:
            ids2, bmat2 = ids, bmat
            old_dest = np.arange(len(ids), dtype=np.int64)
        if ai < len(adj_paths):
            dn_rows, d_len, d_flat_rows = _delta_lists(
                read_staged_multi(adj_paths[ai:]), ids2
            )
        else:
            dn_rows = d_len = d_flat_rows = np.empty(0, dtype=np.int64)
        indptr2, indices2 = _patch_csr(
            old_dest, len(ids2), indptr, indices, dn_rows, d_len, d_flat_rows
        )
        return ids2, bmat2, indptr2, indices2

    return load_staged(key, _build)


def read_staged(path: str):
    """Read a staged Parquet artifact as one Arrow table (executor-side;
    pyarrow skips the _SUCCESS marker)."""
    import pyarrow.parquet as pq

    return pq.read_table(path)


def read_staged_multi(paths: "list[str] | str", key_col: str = "node"):
    """One Arrow table over several staged artifacts with LATER paths
    overriding earlier rows that share ``key_col`` — the adjacency twin
    of ``staged_matrix``'s update semantics (the StagedBase delta form).
    A maintenance loop stages the full adjacency ONCE and each batch
    appends only its changed rows (new nodes + reverse-touched re-pruned
    nodes, ∝ batch × degree); the merged view is materialized worker-side
    here instead of re-writing the whole graph per batch. One path (or a
    plain string) degenerates to ``read_staged``. Row order of the
    surviving rows follows the concatenation order; consumers
    (``table_csr``) align by id, not position."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(paths, str):
        return pq.read_table(paths)
    tbls = [pq.read_table(p) for p in paths]
    if len(tbls) == 1:
        return tbls[0]
    tbl = pa.concat_tables(tbls, promote_options="default")
    keys = tbl[key_col].combine_chunks().to_numpy(zero_copy_only=False)
    # last occurrence per key wins: first occurrence in the reversed
    # array IS the last in the original
    _, rev_first = np.unique(keys[::-1], return_index=True)
    keep = np.sort(len(keys) - 1 - rev_first)
    return tbl.take(pa.array(keep))


def stage_dtype() -> np.dtype:
    """Element dtype of staged matrices. float64 by default (bit-parity
    with the DuckDB oracles); ``SPARK_GRAFT_STAGE_DTYPE=float32`` opts a
    RUN into the reference's own fp32 precision (distance.h operates on
    float*) — halves per-worker matrix residency and doubles GEMM rate,
    the regime the 10^7 rehearsal needs. The distance kernels follow the
    operand dtype (functions/vector._pair_dtype)."""
    return np.dtype(
        np.float32
        if os.environ.get("SPARK_GRAFT_STAGE_DTYPE") == "float32"
        else np.float64
    )


def table_matrix(tbl, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float matrix — see stage_dtype) from an Arrow table,
    id-sorted. The list column is flattened through its offsets — one
    buffer copy, no per-row Python objects. Already-sorted ids (the
    common case: staged writes of range-partitioned sources) skip the
    gather, saving a full matrix copy at the moment of peak residency."""
    ids = tbl[id_col].combine_chunks().to_numpy(zero_copy_only=False)
    arr = tbl[vec_col].combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offsets)
    if len(widths) == 0:
        raise ValueError("staged base table is empty")
    if not np.all(widths == widths[0]):
        raise ValueError("staged vectors are ragged; expected fixed dim")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(stage_dtype())
    mat = flat.reshape(len(ids), int(widths[0]))
    if len(ids) > 1 and np.all(ids[1:] >= ids[:-1]):
        return ids.astype(np.int64), mat
    order = np.argsort(ids, kind="stable")
    return ids[order].astype(np.int64), mat[order]


def table_ragged(tbl, id_col: str, list_col: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, indptr, flat) from an Arrow table with a ragged list column,
    id-sorted — the CSR shape for variable-length per-id payloads (token
    sets, signatures of varying width). Built from Arrow list offsets +
    vectorized gathers only; no ``to_pylist``, no per-row Python loop."""
    ids = tbl[id_col].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    arr = tbl[list_col].combine_chunks()
    if arr.null_count:
        raise ValueError(f"staged {list_col} column must not contain nulls")
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    widths = np.diff(offsets)
    order = np.argsort(ids, kind="stable")
    starts, l = offsets[:-1][order], widths[order]
    indptr = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(l, dtype=np.int64)])
    # vectorized gather of the reordered segments: position k inside
    # segment j maps to starts[j] + k
    pos = np.arange(int(l.sum()), dtype=np.int64) - np.repeat(indptr[:-1], l) + np.repeat(starts, l)
    return ids[order], indptr, flat[pos]


def table_csr(
    tbl, ids: np.ndarray, node_col: str = "node", nbrs_col: str = "nbrs"
) -> tuple[np.ndarray, np.ndarray]:
    """CSR (indptr, indices) aligned to the sorted ``ids`` row order,
    built from Arrow list offsets + numpy vector ops only — no
    ``to_pylist`` and no per-node Python loop (that path cost minutes of
    single-threaded Python per worker at 10^8 nodes). Nodes and
    neighbors absent from ``ids`` are dropped, matching the previous
    Python builder's semantics."""
    nodes = (
        tbl[node_col].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
    )
    arr = tbl[nbrs_col].combine_chunks()
    if arr.null_count:
        raise ValueError("adjacency nbrs column must not contain nulls")
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    n = len(ids)
    widths = np.diff(offsets)

    node_rows = np.searchsorted(ids, nodes)
    node_ok = (node_rows < n) & (ids[np.minimum(node_rows, n - 1)] == nodes)
    owner = np.repeat(node_rows, widths)
    owner_ok = np.repeat(node_ok, widths)
    nbr_rows = np.searchsorted(ids, flat)
    nbr_ok = (nbr_rows < n) & (ids[np.minimum(nbr_rows, n - 1)] == flat)

    keep = owner_ok & nbr_ok
    owner, nbr_rows = owner[keep], nbr_rows[keep]
    order = np.argsort(owner, kind="stable")  # stable: keep within-list order
    indices = nbr_rows[order]
    counts = np.bincount(owner, minlength=n)
    indptr = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(counts, dtype=np.int64)]
    )
    return indptr, indices
