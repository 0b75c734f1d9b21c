"""Pluggable materialization seam for iterative and multi-consumer plans.

Iterative DataFrame algorithms (connected components, PageRank, LPA) and
multi-consumer pipelines (LSH candidate sets feeding several joins) must
cut lineage / force computation mid-plan, or the logical plan grows with
the iteration count and re-executes shared stages per consumer. The
engine funnels every such point through :func:`materialize` so the
strategy is a deployment choice, not a hard-coded one:

- ``local_checkpoint`` (default): fastest — blocks live in executor
  storage with NO lineage to recompute them. Fine on a single node or
  for short jobs; at 100 TB on a 1000-executor cluster, one lost
  executor kills the job mid-pass because the blocks cannot be rebuilt.
- ``reliable_checkpoint``: writes to the SparkContext checkpoint
  directory (HDFS/S3; set via ``sc.setCheckpointDir``). Survives
  executor loss AND cuts lineage — the scale-safe choice for long
  curation passes.
- ``persist_disk``: ``persist(StorageLevel.DISK_ONLY)`` + a forcing
  ``count()``. Lost blocks are recomputed from lineage (fault-tolerant
  without a checkpoint dir), but the logical plan keeps growing across
  iterations, so analysis/codegen time creeps up in long loops — prefer
  ``reliable_checkpoint`` there.

Select globally with :func:`set_materializer` (e.g. once at job start)
or scoped with :func:`using_materializer`; operators never need to know
which is active.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

Materializer = Callable[[DataFrame], DataFrame]


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager executor-local checkpoint (fast; not fault-tolerant)."""
    return df.localCheckpoint()


def reliable_checkpoint(df: DataFrame) -> DataFrame:
    """Eager reliable checkpoint to the configured checkpoint dir.

    Requires ``spark.sparkContext.setCheckpointDir(...)`` to point at
    durable storage (HDFS/S3) — raises Spark's own error otherwise.
    """
    return df.checkpoint(eager=True)


def persist_disk(df: DataFrame) -> DataFrame:
    """DISK_ONLY persist, forced with a count so downstream consumers
    hit the cache instead of racing to compute it independently."""
    out = df.persist(StorageLevel.DISK_ONLY)
    out.count()
    return out


_materializer: Materializer = local_checkpoint

#: deferred-release state (r15). ``release(blocking=False)`` no longer
#: unpersists immediately: the frame is queued with a ticket and its
#: blocks are dropped only after a LATER ``materialize()`` call — one
#: that STARTED after the release — has run its forcing job to
#: completion. See :func:`release` for why.
_release_lock = threading.Lock()
_release_ticket = 0
_pending_release: list[tuple[int, DataFrame]] = []


def set_materializer(fn: Materializer) -> None:
    """Install ``fn`` as the process-wide materialization strategy."""
    global _materializer
    _materializer = fn


def get_materializer() -> Materializer:
    return _materializer


def materialize(df: DataFrame) -> DataFrame:
    """Force ``df`` using the active strategy; returns the materialized
    frame. Every operator-internal lineage cut goes through here.

    After the forcing job completes, drains deferred releases that were
    enqueued BEFORE this call started (the one-generation grace of
    :func:`release`): those frames' last legitimate reader finished
    before this job began, and a full job has since run to completion,
    so nothing scheduled can still be holding their blocks — which is
    also why the drain can block until the blocks are really gone."""
    with _release_lock:
        entry_ticket = _release_ticket
    out = _materializer(df)
    _drain_releases(entry_ticket, blocking=True)
    return out


def _unpersist_now(df: DataFrame, blocking: bool) -> None:
    df.unpersist(blocking)
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        # non-py4j backends (e.g. Spark Connect) have no _jdf; storage
        # release then falls back to the ContextCleaner, the pre-seam
        # behavior
        pass


def _drain_releases(up_to_ticket: int, blocking: bool = False) -> None:
    """Unpersist every queued frame whose release ticket is at or below
    ``up_to_ticket`` (i.e. released before the draining materialize
    STARTED); later entries stay queued for the next drain. Every due
    frame is attempted even when one ``unpersist`` raises; the first
    error re-raises after the loop."""
    with _release_lock:
        due = [df for t, df in _pending_release if t <= up_to_ticket]
        _pending_release[:] = [
            (t, df) for t, df in _pending_release if t > up_to_ticket
        ]
    first: Exception | None = None
    for df in due:
        try:
            _unpersist_now(df, blocking)
        except Exception as exc:
            first = first or exc
    if first is not None:
        raise first


def flush_releases(blocking: bool = True) -> None:
    """Drain ALL deferred releases now (tests, memory probes, end of a
    job). Pipelines normally never need this — the next materialize()
    drains superseded generations — but a test asserting storage
    dropped, or a long-lived process at a pipeline boundary, can force
    the queue empty."""
    with _release_lock:
        ticket = _release_ticket
    _drain_releases(ticket, blocking=blocking)


def release(df: DataFrame, blocking: bool = False) -> None:
    """Strategy-aware storage release for a frame previously returned by
    :func:`materialize`, for when a pipeline supersedes it (the next
    stage/iteration is materialized and the old blocks are dead weight).

    ``Dataset.unpersist()`` alone is NOT enough: it only drops
    CacheManager entries (the ``persist_disk`` case). A
    ``localCheckpoint`` frame's blocks are RDD-level persisted on the
    internal RDD of its ``LogicalRDD`` plan, invisible to the
    CacheManager, so they'd otherwise sit in executor storage until the
    ContextCleaner happens to GC the RDD handle — one corpus copy per
    superseded stage. ``_unpersist_now`` unpersists that internal RDD
    directly (verified empirically: MemoryStore usage drops to ~0).

    ``reliable_checkpoint`` frames are file-backed; the LogicalRDD branch
    is a harmless no-op on their unpersisted checkpoint RDD and the
    files stay readable — releasing a frame never invalidates it for a
    consumer that re-reads it, EXCEPT under ``local_checkpoint``/
    ``persist_disk`` where the blocks are the only copy; callers must
    therefore only release frames no longer referenced by any
    unexecuted plan.

    DEFERRED BY ONE GENERATION (r15): with ``blocking=False`` (the
    pipeline default) the unpersist does not happen here. A
    ``localCheckpoint`` block that disappears while ANY task attempt
    still wants it is unrecoverable by construction ("checkpoint block
    not found" kills the job — the lineage was truncated), and the
    driver returning from the forcing action does not prove the cluster
    is quiescent: a zombie attempt from a completed stage, an AQE
    stage-job finishing just behind the result stage, or the async
    RemoveRdd itself can overlap the next job's start. Round 14 shipped
    with exactly one such stage failure inside a ``Dataset.checkpoint``
    (driver verify, ``test_incremental_near_dedup_store_semantics``) —
    rare locally, but at cluster scale this class of race kills whole
    curation passes. So ``release`` now only QUEUES the frame; the
    blocks are dropped after the next :func:`materialize` that started
    after this call has run its forcing job to completion. Anything in
    flight at release time gets a full job's wall-clock to finish, and
    any plan forced in the SAME generation still finds the blocks
    alive. Storage cost: at most one extra superseded generation stays
    resident (bounded, measured by ``test_iterative_release_bounds_
    storage``).

    ``blocking=True`` keeps the old immediate, synchronous behavior —
    for tests and memory probes that assert the blocks are gone, where
    the caller KNOWS nothing is in flight.
    """
    if blocking:
        _unpersist_now(df, True)
        return
    global _release_ticket
    with _release_lock:
        _release_ticket += 1
        _pending_release.append((_release_ticket, df))


@contextmanager
def using_materializer(fn: Materializer) -> Iterator[None]:
    """Scoped override (tests, or a single durable curation pass inside
    an otherwise-fast job)."""
    global _materializer
    prev = _materializer
    _materializer = fn
    try:
        yield
    finally:
        _materializer = prev
