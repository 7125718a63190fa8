"""Scoped cache lifecycle for operator-internal persists.

Several operators persist an intermediate frame that is consumed more
than once within one logical query (LSH band keys, Jaccard shingle
arrays, IVF cell lists). The operator cannot unpersist it itself — the
returned DataFrame is still lazy and the cached frame is only read when
the CALLER materializes the result. Leaving the persist unreleased is
fine for one-shot jobs but pins executor storage across a long-lived
session (bench loops, registry sweeps, notebooks).

``pin(df)`` is therefore persist-with-ambient-ownership:

* inside a ``cache_scope()`` block the persist is registered with the
  scope and released (blocking) when the block exits — scopes nest
  (LIFO) and live in a ``contextvars.ContextVar``, so concurrent driver
  threads (streaming ``foreachBatch`` callbacks, parallel query
  submission) and async hops each see their own stack; a pin in thread A
  can never be torn down by thread B's scope exit mid-query.
* outside any scope the pin lands in a process-wide *unscoped* pool that
  :func:`release_unscoped` drains. The sequential harnesses (driver
  correctness gate, bench, check_local) call it between queries via
  ``registry.query``, so on those paths operator-internal persists are
  bounded to one query's worth instead of accumulating forever.

Releasing a pin early is always safe — every pinned frame here is
deterministic (md5 hashing, fixed-seed k-means), so an unpersisted frame
recomputes identically; the cost is time, never correctness.

At 100 TB the same discipline matters more, not less: a leaked
MEMORY_AND_DISK frame evicts useful shuffle/broadcast blocks long after
its query finished.

``checkpoint(df)`` is the other kind of pin: an eager
``localCheckpoint``, for a frame that must be read as one snapshot. A
persist is matched by Spark's CacheManager to any later plan over the
same source, so a file rewritten in place outside Spark (a daily CSV
feed) and read again would return the cached rows; a checkpoint is a
lineage cut that no later plan matches. It cannot recompute either, so
its ownership differs: inside a ``cache_scope()`` the scope releases it on exit;
outside any scope it is left to Spark's ContextCleaner, which frees it
once nothing references the frame. It never joins the unscoped pool —
draining that between queries would break a frame the caller still
holds (a load's state passed on as the next load's prior).
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: Per-execution-context stack of active scopes (tuple = immutable view;
#: the per-scope lists are appended to in place by ``pin``).
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "cache_scopes", default=()
)

#: Pins made outside any scope, drained by :func:`release_unscoped`.
_UNSCOPED: list[DataFrame] = []
_UNSCOPED_LOCK = threading.Lock()


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK), handing ownership to
    the innermost active :func:`cache_scope` of THIS execution context,
    or to the unscoped pool if no scope is active."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    else:
        with _UNSCOPED_LOCK:
            _UNSCOPED.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now as an eager ``localCheckpoint``, owned by
    the innermost :func:`cache_scope` of this execution context, or by
    Spark's ContextCleaner if no scope is active (see the module
    docstring for why it is not a persist)."""
    df = df.localCheckpoint(eager=True)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    return df


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a checkpointed frame's blocks."""
    return df._jdf.queryExecution().analyzed().rdd()


def _release(frames: list[DataFrame], blocking: bool) -> None:
    for df in frames:
        try:
            if df.is_cached:
                df.unpersist(blocking=blocking)
            else:  # a checkpoint: drop its RDD's blocks
                _checkpoint_rdd(df).unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release


@contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Release every ``pin()`` and ``checkpoint()`` made inside the
    block on exit (also on error). Unpersist is blocking so tests can
    assert storage is clean immediately after the block."""
    held: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + (held,))
    try:
        yield held
    finally:
        _SCOPES.reset(token)
        _release(held, blocking=True)


def release_unscoped(blocking: bool = False) -> int:
    """Drain the unscoped pin pool (harness hook, called between queries).
    Returns the number of frames released."""
    with _UNSCOPED_LOCK:
        drained, _UNSCOPED[:] = _UNSCOPED[:], []
    _release(drained, blocking=blocking)
    return len(drained)


def cached_rdd_count(spark) -> int:
    """Number of RDDs currently marked persistent in the context —
    the assertion hook for cache-hygiene tests."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()
