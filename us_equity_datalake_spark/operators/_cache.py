"""Tracked lazy persists for exactly-once kernel materialization.

Several operators persist() an Arrow-kernel output before feeding it to both
sides of a self-join: AQE's BroadcastExchange is never reused against a
shuffle, so without the cache the mapInPandas kernel would re-execute once
per join side (accumulator-measured 2-4x corpus re-reads — see
operators/dedup.py).  The persist is LAZY and keeps lineage, but the storage
blocks outlive the returned plan's terminal action; in a long-lived session
repeated operator calls accumulate cached frames until the caller releases
them (r5 ADVICE).

Caller contract: after the terminal action on an operator's result, release
storage with either ``spark.catalog.clearCache()`` (global) or
:func:`release_caches` (only the frames this package cached).  Every
operator that persists internally says so in its docstring and registers the
frame here via :func:`track`.
"""

from __future__ import annotations

# Strong references on purpose: the caller only holds the RESULT plan, not
# the internally-persisted frame, so a weakref would die the moment the
# operator returns while the JVM cache blocks live on.  The Python-side cost
# is one small object per tracked frame until release.
_TRACKED: list = []


def track(df):
    """Register an internally-persisted DataFrame so :func:`release_caches`
    can unpersist it later; returns ``df`` unchanged."""
    _TRACKED.append(df)
    return df


def materialize_once(df):
    """Materialize a small multi-consumer frame EXACTLY ONCE through the
    normal AQE path, returning a frame whose consumers read the
    materialized blocks instead of re-running the pipeline.

    Why not plain ``persist()``: the cache manager compiles cached plans
    WITHOUT AQE partition coalescing
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false``,
    the default), so a day/delta-sized frame materializes at full shuffle
    width — measured in r12 as 32-task multi-second cache-fill stages on
    20-row batches (and a LAZY persist additionally lets racing sibling
    consumers each compute the cold cache).  Why not the global conf: r12
    measured ``=true`` collapsing the iterative kernels' deliberately-wide
    caches to 1 partition (pagerank 4.8→18.9 s).

    The materialization is an eager ``localCheckpoint``.  ``get_spark``
    builds ``local[N]`` only, where the blocks live on the one executor
    that IS the driver's process, so the usual durability caveat
    (unreplicated blocks + truncated lineage → an executor loss mid-query
    fails the job instead of recomputing, the reason operators/dedup.py:500
    chose persist) is vacuous.  (NOT a substitute for the feed folds'
    localCheckpoint in snapshots.py: those exist to BOUND PLAN DEPTH for the
    analyzer.)

    Blocks are freed by the ContextCleaner when the frame is collected, or
    deterministically via ``unpersist()`` — long-running streaming callers
    should unpersist at end of batch (ADVICE r12)."""
    return df.localCheckpoint(eager=True)


def release_caches() -> int:
    """Unpersist every DataFrame that this package's operators persisted
    internally.  Safe to call at any time (lazy plans re-derive from lineage
    on the next action).  Returns the number released."""
    global _TRACKED
    released = 0
    for df in _TRACKED:
        df.unpersist()
        released += 1
    _TRACKED = []
    return released
