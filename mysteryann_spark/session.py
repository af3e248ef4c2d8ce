"""SparkSession factory tuned for the local[32] test rig but shaped for a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (pandas-UDF hot paths), UTC session time
(matches the DuckDB oracle's naive-UTC timestamps).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def install_zipimport_guard() -> bool:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged
    zip archives; returns whether the guard is in place.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before Python 3.13
    each cached ``zipimporter`` then re-reads its archive's whole central
    directory — ~16 importers over pyspark.zip's 1,328 entries, 0.15-0.2
    CPU-s per task, about half the in-task Python CPU of a graph build
    (SCALE.md). The replacement stats the archive first and re-reads only
    when ``(st_mtime_ns, st_size)`` differs from the importer's last
    read, so a rewritten archive is still seen. Python 3.13 reads the
    directory lazily and is left alone.

    Called from the package import, so every Python worker that runs one
    of the package's kernels installs it; gated on the version only —
    a process that imports the package before any task exists (a worker
    daemon) must install it too.
    """
    if sys.version_info >= (3, 13):
        return False
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            # stat BEFORE the read: an archive rewritten mid-read leaves
            # an older stamp, so the next call re-reads again
            stamp = (st.st_mtime_ns, st.st_size)
            if stamp == getattr(self, "_read_stamp", None):
                return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def get_spark(
    app_name: str = "mysteryann-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # One BLAS thread per Python worker: the numpy kernels (GEMM in the
    # kNN join, einsum in the beam search) run in ~cpus parallel workers
    # already — letting each spawn its own cpu-wide OpenBLAS pool
    # oversubscribes cores ~cpus-fold and makes wall time erratic
    # (measured 5x swings on the graph build). Workers inherit the
    # driver's env in local mode; spark.executorEnv covers cluster mode.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # local[N] pins spark.task.maxFailures to 1 — one Python-worker flake
    # (a fork hiccup, a transient OOM kill) aborts the whole job, which at
    # rehearsal walls means losing an hour of build to one lost task
    # (measured: a 47-min 10^8 IVF-PQ build died to a single worker crash).
    # A cluster allows 4 ATTEMPTS by default (spark.task.maxFailures=4);
    # local[N,F]'s F is that same max-attempts count, NOT a retry count —
    # SPARK_GRAFT_TASK_RETRIES is therefore "max attempts" and defaults to
    # 4 to match the cluster posture (F=2 would give only one retry).
    # Retries re-run the same deterministic task, so results are unchanged;
    # a DETERMINISTIC worker crash still fails after F attempts.
    retries = int(os.environ.get("SPARK_GRAFT_TASK_RETRIES", "4"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus},{retries}]"))
        # At cluster scale shuffle_partitions is sized to data volume; locally
        # ~cores avoids 200-way over-parallelism on tiny inputs.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_SPARK_CONF="k=v;k=v" — run-scoped config without code
    # changes. The scale rehearsals use it for spark.io.compression.codec=
    # zstd (the candidate shuffles are sorted-int-heavy: zstd roughly
    # halves their on-disk size vs lz4, and single-host disk is the
    # rehearsal's binding constraint) and a tighter
    # spark.cleaner.periodicGC.interval so finished shuffles actually get
    # deleted during a multi-phase build instead of at the default
    # 30-minute tick.
    for pair in os.environ.get("SPARK_GRAFT_SPARK_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    # Reclaim stage scratch leaked by DEAD sessions (OOM-killed drivers
    # never run atexit; measured on this box: 4,791 leaked dirs / 45 GB).
    # OWNER-checked — a live session's scratch is never touched. Failures
    # are swallowed: scratch GC must never fail a session start.
    try:
        from mysteryann_spark.sources.staging import sweep_stage_scratch

        sweep_stage_scratch()
    except Exception:
        pass
    return spark


def spread(df, min_partitions: int | None = None):
    """Repartition a frame UP to the cluster's parallelism if it arrives
    under-partitioned — a small parquet file reads as one partition, which
    would serialize every downstream mapInPandas kernel onto one core. At
    real scale inputs already have >= cores partitions and this is a
    no-op; the check costs plan analysis only, no job.

    Measured note (sf0.1, local[32]): applying this inside the vector
    operators REGRESSED the bench ~20% — the repartition shuffle plus
    extra Python workers cost more than the single-task GEMM it
    parallelized. Callers should invoke it only when per-partition kernel
    work is large enough to amortize a shuffle (rule of thumb: >= seconds
    of compute per partition), which is the 100 TB regime, not the test
    rig's.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Ceiling for FORCED broadcast hints sized by a caller-side estimate.
# Spark hard-fails any broadcast over 8 GB ("Cannot broadcast the table
# that is larger than 8GB"), and a driver/executor must also hold the
# built hash relation — so the default stays well under the hard limit.
_BCAST_CEILING_BYTES = int(
    os.environ.get("SPARK_GRAFT_BCAST_CEILING_MB", "2048")
) * 1024 * 1024


def broadcast_if_under(df, est_bytes: float):
    """``F.broadcast`` hint gated on a caller-side size ESTIMATE.

    The iterative operators hint their per-round small sides explicitly
    because the planner only sees stats estimates for checkpointed loop
    state (scale hazard #9: a sort-merge pick re-shuffles the full static
    side every round). But a forced hint bypasses the planner's own size
    guard, and past ~8 GB the job hard-fails where the unhinted plan was
    merely slow — so every forced hint routes through this gate: above
    the ceiling the caller's conservative upper-bound estimate says the
    "small" side isn't, and the planner keeps the (correct) exchange."""
    from pyspark.sql import functions as F

    if est_bytes <= _BCAST_CEILING_BYTES:
        return F.broadcast(df)
    return df


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC on an externally-created session.

    ``spark.sql.session.timeZone`` is a runtime conf, so this is safe on a
    session we didn't build (the driver's verify harness creates its own).
    Timestamp-bucketing queries call this so string renderings match the
    DuckDB oracle, which reads parquet timestamps as naive UTC.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
