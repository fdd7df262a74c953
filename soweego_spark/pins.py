"""The one pin lifecycle: every persist and localCheckpoint in the package.

``with scope():`` releases every frame pinned inside it on exit, also when
the body raises; ``persist(df)`` / ``checkpoint(df, eager=True)`` pin a
frame into the innermost open scope; ``release(df)`` drops one pin now
(convergence loops). ``StageCheckpointer.stage`` wraps each stage's
compute + save in a scope. Outside any scope a pin lives as before (until
the session ends, or GC for an unreferenced checkpoint), so gate queries
and benchmarks keep their plans and pins.
The registry is one process-wide stack under a lock, not a contextvar:
exact-mode dedup pins from ``ThreadPoolExecutor`` workers, which do not
inherit one.

When to pin (r7, measured both ways, fresh-JVM interleaved): inside ONE
query execution AQE's runtime exchange reuse already computes identical
subtree EXCHANGES once, so pinning them is a pure loss (minhash band
table ~1.3x, conservative incremental dedup 1.6x). Pin ONLY when (a) the
reused subtree has no exchange below it (narrow scan -> transform
pipelines: winnowing fingerprints, substring grams — 1.5-1.6x wins), (b)
the expensive work sits ABOVE the reusable exchange (simhash's 60-column
bit-sum aggregate — 2x), or (c) the consumers span separate EAGER
actions (exact-mode band table and id-only edge frames). ``explain()``
shows no ReusedExchange; it appears only at runtime. Never pin wide
map/array rows: serializing them costs more than recomputing them. And
never use a frame derived from a released checkpoint: recomputing it
throws.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame

_lock = threading.Lock()
_scopes: list[list[DataFrame]] = []
_checkpoints: weakref.WeakSet[DataFrame] = weakref.WeakSet()


@contextmanager
def scope():
    pinned: list[DataFrame] = []
    with _lock:
        _scopes.append(pinned)
    try:
        yield
    finally:
        with _lock:
            del _scopes[next(i for i, s in enumerate(_scopes) if s is pinned)]
        for df in reversed(pinned):
            _unpin(df)


def persist(df: DataFrame) -> DataFrame:
    return _register(df.persist(), is_checkpoint=False)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    return _register(df.localCheckpoint(eager=eager), is_checkpoint=True)


def release(df: DataFrame) -> None:
    with _lock:
        for pinned in _scopes:
            if any(p is df for p in pinned):
                pinned[:] = [p for p in pinned if p is not df]
    _unpin(df)


def _register(df: DataFrame, is_checkpoint: bool) -> DataFrame:
    with _lock:
        if is_checkpoint:
            _checkpoints.add(df)
        if _scopes:
            _scopes[-1].append(df)
    return df


def _unpin(df: DataFrame) -> None:
    if df in _checkpoints:
        # localCheckpoint persists its internal RDD; ``df.rdd.unpersist()``
        # misses it (a derived deserialization RDD). The persisted one is
        # the plan's LogicalRDD.rdd, reachable only through the JVM plan.
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    else:
        df.unpersist()
