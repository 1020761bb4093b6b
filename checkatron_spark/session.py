"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
logical plans scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) — the
  diff operator's full-outer join inherits skew handling for free.
- shuffle.partitions sized for the local harness; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
  ``CACHED_PLAN_CONF`` lets AQE coalesce the final shuffle of a plan behind
  ``persist()`` as well, so a cached frame's width follows its runtime size
  instead of always equalling ``spark.sql.shuffle.partitions``.
- Arrow enabled for the Pandas-UDF extension operators (similarity search,
  multimodal decode) so Python exchange is columnar-batched, not per-row.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# AQE coalesces the final shuffle of a persisted plan too. Spark's default
# keeps a cached plan's output partitioning, so a small cached shuffle
# output would keep every spark.sql.shuffle.partitions partition and each
# scan of it would run that many tasks. The cost Spark documents, one more
# exchange for a consumer that relied on a cached frame's hash partitioning,
# shows at one consumer: ivf_topk(exact=True) ranks a union with a cached
# branch and so shuffles it on query_id (SCALE.md).
CACHED_PLAN_CONF = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "true",
)

# /dev/shm is RAM shared with everything else on the host: stream scratch
# goes there only while at least this much of it is free. Measured on the
# four scratch_tempdir users (stream_ivm_totals, stream_patch_apply,
# stream_ivm_join, stream_ann_ivf_admission), one pass of all four peaks at
# 12.8 MB on disk at sf0.1 (2.1 MB at sf0.01, so growth is below linear),
# and one drain adds at most 8.8 MB (stream_ivm_join). A linear sf1 pass
# would be 128 MB; the floor is twice that.
SHM_SCRATCH_FLOOR_B = 256 << 20


def get_spark(app_name: str = "checkatron_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    master = f"local[{cpus or DEFAULT_CPUS}]"
    # scale-adaptive shuffle width (guide §2.2): the local default tracks
    # the harness core count; a cluster deployment overrides via
    # $SPARK_GRAFT_SHUFFLE_PARTITIONS (set it high — e.g. 2-3x total
    # cores — and let AQE coalesce down to ~advisory-sized partitions).
    # AQE coalescing is ON below, cached plans included, so the value is
    # an upper bound on post-shuffle width, not a tuned constant.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(*CACHED_PLAN_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # events.parquet stores TIMESTAMP(NANOS): read as long, loader
        # converts to microsecond timestamps (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the loader's TIMESTAMP_NTZ -> TIMESTAMP normalization and the
        # DuckDB oracles both assume UTC wall-clock; pin it rather than
        # inherit whatever TZ the host happens to run in
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# Scratch-cache registry: operators persist intermediate frames that are
# consumed several times WITHIN one query's DAG (shingle tables, LSH
# features, funnel stages), and iterative operators cut lineage with
# localCheckpoint.  The frames have no terminal action inside the
# operator — the caller collects — so the operator can't free them
# itself.  Left alone they accumulate in the CacheManager (persists) or
# the block manager (checkpoints) across a long Spark session (150
# queries, one JVM).  Operators register through scratch_persist() and
# scratch_checkpoint(); release_scratch() frees everything registered so
# far and is invoked at the START of every __spark_entry__ queries() call
# — the previous query has been collected by then, the current one hasn't
# registered anything yet.
# ---------------------------------------------------------------------------

_SCRATCH: list = []


def scratch_persist(df, level=None):
    """persist() + register for release before the next contract query."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _SCRATCH.append(df)
    return df


def scratch_checkpoint(df, eager: bool = True):
    """localCheckpoint() + register for release before the next contract
    query. A checkpoint cannot recompute: read it only before its release."""
    df = df.localCheckpoint(eager)
    _SCRATCH.append(df)
    return df


def release(df) -> bool:
    """Free one registered scratch frame now; True when it was freed.

    The one release routine: a persisted frame drops its cache entry, a
    scratch_checkpoint frame its RDD's blocks. An iterative operator
    calls it on each superseded checkpoint as soon as the next one has
    materialized, instead of leaving the blocks to the JVM's GC-paced
    ContextCleaner."""
    _SCRATCH[:] = [d for d in _SCRATCH if d is not df]
    try:
        if df.is_cached:
            df.unpersist(blocking=False)
        else:  # the checkpoint's RDD rides Spark's LogicalRDD internals
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        return True
    except Exception:  # noqa: BLE001 — dead session or moved internals:
        return False  # the ContextCleaner frees it at GC


def scratch_tempdir(prefix: str) -> str:
    """``mkdtemp`` that self-cleans at interpreter exit.

    The dir holds ephemeral stream scratch (checkpoint WAL, the LSM
    store's log/epoch parquet, the replayed feed) whose per-micro-batch
    commit I/O is the floor under the streaming operators. Exit is the
    cleanup point: per-query deletion would defeat the per-app feed/store
    caches that make repeat runs cheap; only a SIGKILLed process leaks.

    ``$SPARK_GRAFT_STREAM_SCRATCH`` sets the parent dir; a production
    deployment points it at durable storage, since resumability across
    machine loss is its contract. Unset, the dir goes on the ``/dev/shm``
    tmpfs when it is writable and has ``SHM_SCRATCH_FLOOR_B`` free, else
    in the default temp dir. The trade-off: RAM-speed commits suit scratch
    that never outlives the process, but tmpfs pages are host memory, so a
    nearly full ``/dev/shm`` would turn a large drain into ENOSPC or
    memory pressure on every other process; below the floor the default
    temp dir is the safe choice. The check runs once per call, i.e. once
    per drain, and the floor is many times what one drain writes; other
    processes filling ``/dev/shm`` during a drain can still cause ENOSPC."""
    import atexit
    import shutil
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if not base:
        shm = "/dev/shm"
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= SHM_SCRATCH_FLOOR_B:
                base = shm
    work = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


def release_scratch() -> int:
    """Free every registered scratch frame; returns how many."""
    return sum(release(df) for df in list(_SCRATCH))


@contextmanager
def scratch_cache():
    """Sanctioned release point for LIBRARY callers: operators
    composed outside the ``__spark_entry__`` contract wrapper (which drains
    the registry per ``queries()`` call) would otherwise accumulate
    persisted frames without bound in a long-lived session.  Wrap each
    logical unit of work::

        with scratch_cache():
            result = dedup_corpus(docs, ...).collect()

    Frames registered inside the block are freed on exit (collect first —
    a later action recomputes a released persist, but fails on a released
    checkpoint, e.g. ``connected_components`` labels).
    Blocks release EVERYTHING registered so far, matching the contract
    wrapper's previous-query-is-done semantics; nesting therefore releases
    the outer block's frames early — safe for a persist, which recomputes,
    not for a checkpoint the outer block still reads."""
    try:
        yield
    finally:
        release_scratch()
