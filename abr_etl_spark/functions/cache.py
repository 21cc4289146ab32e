"""Ownership of the engine's cached intermediates: three pieces.

1. **Family registry.**  Several operators (the pair-dedup families,
   embedding_dup_pairs, incremental_agg, ...) persist a small result or
   index so their large intermediates can be dropped at once.
   ``materialize_result`` (persist + count now) and ``register_cache``
   (persist lazily) record every such frame under a FAMILY tag, and
   ``release_result_caches(*families)`` unpersists one family's frames
   once its last consumer is done, or every frame with no argument.
   A long benchmark needs this: with ~150 keys in one JVM, never
   releasing piles every family into the unified memory region until
   execution memory evicts the cache the running key re-reads (the r16
   32-core minhash_perm_sweep 1.0 s -> 11.7 s cliff), while releasing
   everything between keys would throw away the cross-key reuse.
   CacheManager dedups identical canonical plans, so the registry holds
   at most one JVM cache per distinct (operator, input), and
   ``unpersist`` is idempotent.  Caveat: two call sites that cache the
   SAME canonical plan under different families share one JVM entry, so
   releasing either family drops it for both; keep such sites on one
   family.  Each ``queries()`` key declares the families it touches in
   its plan module's ``CACHE_FAMILIES``, and bench.py releases each
   family after its last consumer.

2. **Session memo.**  Some intermediates cannot be shared through
   CacheManager: a connected-components fixpoint or a power iteration
   localCheckpoints every round, so each invocation's plan is unique,
   and a collected k-means codebook is not a plan at all.
   ``session_memo(spark, family, key, build)`` keeps one value per
   (applicationId, family, key) for as long as that SparkContext lives.
   A hit on a DataFrame that a release unpersisted re-registers it
   under its family, so every memoized frame has an owner.

3. **Count memo.**  ``materialize_result`` stashes the result's row
   count on the frame.  A repeat registration whose cache is still
   populated reuses the count instead of launching a job.  The memo is
   keyed on the live cache entry itself -- the id of the cached RDD --
   so a release (which drops the entry) or a re-persist (which builds
   a new RDD) can never be served a stale count.
"""

from __future__ import annotations

import threading
import weakref
from typing import Callable, Hashable, Optional, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

#: every registered cache, in registration order, tagged with its
#: owning family.
_RESULT_CACHES: list[tuple[str, DataFrame]] = []

#: probe hook (tests/test_cache_families.py, perfbench's tracer): called
#: as ``observer(family, already_cached, eager)`` on every registration
#: and on every session-memo hit on a frame.  None in production -- the
#: JVM cache lookup is only paid when a probe installs an observer.
_OBSERVER: Optional[Callable[[str, bool, bool], None]] = None


def set_cache_observer(fn: Optional[Callable[[str, bool, bool], None]]) -> None:
    global _OBSERVER
    _OBSERVER = fn


def _cached_data(df: DataFrame):
    """df's CacheManager entry (a Scala Option[CachedData])."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf)


def _already_cached(df: DataFrame) -> bool:
    """True if df's canonical plan already has a JVM cache entry (i.e.
    this registration is a CacheManager dedup hit, not a new build)."""
    try:
        return _cached_data(df).isDefined()
    except Exception:
        return False


def register_cache(df: DataFrame, family: str = "misc") -> DataFrame:
    """Persist ``df`` LAZILY and register it for family-scoped release.

    For intermediates that are populated on first downstream use (no
    eager count); gives plain ``.persist()`` call sites an owner so a
    benchmark can reclaim them (the r16 32-core eviction cliff was driven
    by exactly such unowned frames)."""
    if _OBSERVER is not None:
        _OBSERVER(family, _already_cached(df), False)
    out = df.persist()
    _RESULT_CACHES.append((family, out))
    return out


#: (applicationId, family, key) -> (value, weakref to its SparkContext)
_SESSION_MEMO: dict[tuple[str, str, Hashable], tuple[object, weakref.ref]] = {}
#: guards _SESSION_MEMO and _BUILD_LOCKS; never held across a build
_MEMO_LOCK = threading.Lock()
#: one lock per memo key: a build runs under its own key's lock only
_BUILD_LOCKS: dict[tuple[str, str, Hashable], threading.Lock] = {}


def _context_stopped(ref: weakref.ref) -> bool:
    sc = ref()
    return sc is None or getattr(sc, "_jsc", None) is None


def session_memo(
    spark: SparkSession, family: str, key: Hashable, build: Callable[[], T]
) -> T:
    """The value memoized under (spark's applicationId, family, key),
    or ``build()``'s result, stored there.

    applicationId is never reused by a later session in-process (unlike
    id(spark)), so a new session can never be served a value bound to a
    dead JVM context.  Builds of one key are serialized; different keys
    build concurrently (the registry sweeps run keys on a thread pool).
    A miss evicts every entry whose SparkContext is gone or stopped --
    its blocks died with the JVM state, so dropping the entry is the
    whole cleanup -- and keeps entries of live sibling sessions.

    A hit on a DataFrame reports the consumer to the observer; if a
    family-scoped release unpersisted the frame, the hit re-registers
    it under ``family`` instead, so the next consumer pays one rebuild
    and a later release frees it again.  Other values (collected rows,
    counts, lists of checkpointed frames) own no cache and are returned
    as they are."""
    sc = spark.sparkContext
    full = (sc.applicationId, family, key)
    with _MEMO_LOCK:
        lock = _BUILD_LOCKS.setdefault(full, threading.Lock())
    with lock:
        with _MEMO_LOCK:
            entry = _SESSION_MEMO.get(full)
        if entry is not None:
            value = entry[0]
            if isinstance(value, DataFrame):
                if not _already_cached(value):
                    register_cache(value, family)
                elif _OBSERVER is not None:
                    _OBSERVER(family, True, False)
            return value
        with _MEMO_LOCK:
            for k, (_, ref) in list(_SESSION_MEMO.items()):
                if _context_stopped(ref):
                    del _SESSION_MEMO[k]
                    _BUILD_LOCKS.pop(k, None)
        value = build()
        with _MEMO_LOCK:
            _SESSION_MEMO[full] = (value, weakref.ref(sc))
        return value


#: (applicationId, id of the cached RDD) -> row count, recorded by the
#: materializing count.  Only a POPULATED cache entry is looked up or
#: stored: count() over it is served from those same blocks, so the
#: memoized value is exact.  A release drops the entry and a re-persist
#: builds a new RDD with a new id, so neither can match an old count.
_COUNT_MEMO: dict[tuple[str, int], int] = {}


def _loaded_cache_key(df: DataFrame) -> tuple[str, int] | None:
    """(applicationId, cached RDD id) of df's cache entry if its column
    buffers are fully loaded, else None.  The loaded check comes first:
    ``cachedColumnBuffers()`` on a builder that is not loaded builds
    the buffers (and under AQE launches a stage)."""
    try:
        cached = _cached_data(df)
        if not cached.isDefined():
            return None
        builder = cached.get().cachedRepresentation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return None
        return (
            df.sparkSession.sparkContext.applicationId,
            builder.cachedColumnBuffers().id(),
        )
    except Exception:
        return None


def materialize_result(df: DataFrame, family: str = "misc") -> DataFrame:
    """Persist ``df``, force materialization NOW (so callers may unpersist
    the lineage's intermediate caches), and register the result cache for
    ``release_result_caches``.

    The materializing ``count()`` is stashed on the returned frame as
    ``_abr_result_count`` so consumers that need the result's size (e.g.
    dedup_weighted_jaccard's broadcast guard) read it for free instead of
    launching a second count job over the cache.  A repeat registration
    of a plan whose cache is still populated reuses the count memo (r17):
    at 32 local cores even a cached-frame count job costs ~0.1-0.3 s of
    pure stage latency, paid per rep by every consumer of a shared
    family."""
    if _OBSERVER is not None:
        _OBSERVER(family, _already_cached(df), True)
    out = df.persist()
    key = _loaded_cache_key(out)
    if key is not None and key in _COUNT_MEMO:
        out._abr_result_count = _COUNT_MEMO[key]
    else:
        out._abr_result_count = out.count()
        key = _loaded_cache_key(out)
        if key is not None:
            _COUNT_MEMO[key] = out._abr_result_count
    _RESULT_CACHES.append((family, out))
    return out


def release_result_caches(*families: str) -> int:
    """Unpersist registered result caches; returns how many released.

    With no arguments releases EVERY cache (the pre-r17 behaviour every
    tool relies on); with family names releases only those families'
    frames, leaving other families' warm-reuse contract intact.

    Safe to call at any time, from any session: caches belonging to an
    already-stopped session are simply dropped (their blocks died with the
    session's JVM context)."""
    global _RESULT_CACHES
    if families:
        keep = [(f, df) for (f, df) in _RESULT_CACHES if f not in families]
        drop = [(f, df) for (f, df) in _RESULT_CACHES if f in families]
    else:
        keep, drop = [], _RESULT_CACHES
    _RESULT_CACHES = keep
    n = 0
    for _f, df in drop:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session stopped: the cache is already gone
    return n
