"""The one release path for every ``persist`` and ``localCheckpoint`` an
operator makes (KeystoneML's single cache-ownership rule, AutoCacheRule).

An operator whose result still reads a cache records it on the result;
the caller frees everything with ``release(result)`` once the result is
materialized. A DataFrame derived from such a result (projection, sort,
aggregate) takes the caches over with ``attach(new, result)``: the record
lives on the Python object, not in the plan. Private to this module are
the record's format, the persist-once ownership rule and how a
checkpoint is freed (``unpersist``/``clearCache`` match cached plans and
never reach checkpoint blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_ATTR = "_keystone_caches"


def persist(df: DataFrame, owned: list,
            level: StorageLevel | None = None) -> DataFrame:
    """``persist()`` (at ``level``, else Spark's default) only when this
    plan is not already cached, and add the cache to ``owned`` only when
    this call created it.

    Callers (bench warmup+timed loops, the verify harness) rebuild the
    SAME deterministic plan several times per process; re-persisting it
    re-enters the previous CacheManager entry and churns the block
    manager (the storage-level probe is a metadata lookup, not a job).
    The CacheManager unpersists by PLAN equality, so a call that skipped
    the persist must never free it — that would pull the cache from
    under its owner. Free only what landed in ``owned``."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap):
        df.persist() if level is None else df.persist(level)
        owned.append(df)
    return df


class _Checkpoint:
    """Frees a local checkpoint's blocks through the checkpointed RDD
    (the LogicalRDD under its analyzed plan), the only way to reach them."""

    def __init__(self, df: DataFrame):
        self._rdd = df._jdf.queryExecution().analyzed().rdd()

    def unpersist(self, blocking: bool = False) -> None:
        self._rdd.unpersist(blocking)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` whose result owns the checkpoint's
    blocks. Two tradeoffs: the checkpoint is computed here, not at the
    caller's first action, and losing the executor that holds one of
    its blocks loses it, so plans reading it cannot be recomputed."""
    out = df.localCheckpoint(eager=True)
    setattr(out, _ATTR, [_Checkpoint(out)])
    return out


def _owned(src) -> list:
    return src if isinstance(src, list) else getattr(src, _ATTR, [])


def attach(out: DataFrame, *sources) -> DataFrame:
    """Make ``out`` also own each source's caches — a source is a list
    filled by ``persist`` or a DataFrame that owns caches. Returns
    ``out``."""
    setattr(out, _ATTR, _owned(out) + [c for s in sources for c in _owned(s)])
    return out


def release(df) -> None:
    """Free the caches ``df`` owns, after ``df`` has been materialized.
    ``df`` may also be a list filled by ``persist``, for caches an
    operator frees before it returns."""
    for c in _owned(df):
        c.unpersist()
