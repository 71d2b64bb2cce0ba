"""Registry for session-transient operator caches.

Several operators ``cache()`` a kernel intermediate (packed shingle
sets, window hashes, token frames) that a handful of subtrees inside
the SAME query action re-read.  Spark's CacheManager deduplicates by
logical plan, so two DIFFERENT queries that build the identical
intermediate (e.g. ``dedup_minhash_lsh`` and ``decontam_minhash_fuzzy``
both calling ``doc_shingle_sets``) silently share one cache entry —
great for a long-lived session, but it makes per-query benchmark
numbers order-dependent (the second query measures a cache hit, not
its plan) and stacks corpus-sized entries across a many-query run.

Operators therefore register these caches here via
:func:`cache_tracked`; harnesses that need isolation or bounded
memory (bench.py between queries, tools/check_oracle.py between
oracle comparisons) call :func:`release_tracked_caches`.  Callers
that WANT cross-query reuse (a notebook session) simply never
release.  The registry is thread-safe: a pipeline's lanes register
from several driver threads at once.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()


def _still_cached(df: DataFrame) -> bool:
    try:
        lvl = df.storageLevel
        return bool(lvl.useMemory or lvl.useDisk)
    except Exception:  # session gone — nothing left to track
        return False


def cache_tracked(df: DataFrame) -> DataFrame:
    """``df.cache()`` + remember the handle for central release.

    Self-pruning: handles whose cache was already released at the
    call site (streaming ingests register one frame per micro-batch
    and unpersist in their own ``finally``) are dropped on the next
    registration — a long-running stream that never calls
    :func:`release_tracked_caches` would otherwise accrete one
    logical-plan tree per trigger in driver memory.  The probe is a
    driver-local storageLevel read, no job."""
    cached = df.cache()
    with _LOCK:
        _TRACKED[:] = [d for d in _TRACKED if _still_cached(d)]
        _TRACKED.append(cached)
    return cached


def release_tracked_caches() -> None:
    """Unpersist every tracked cache (idempotent, never raises)."""
    with _LOCK:
        held = _TRACKED[:]
        _TRACKED.clear()
    for df in reversed(held):
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
