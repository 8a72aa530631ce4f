"""Session memos: probed localCheckpoint pins and per-session frames.

``session_frame_cache`` (bottom of this module) memoizes a function of
(session, sf_dir, ...) for the session's lifetime: the engine's shared
helper frames and the source-table frames of ``sources.catalog``. It lives
here, below both layers, so either can import it.

``memoize_checkpoint`` is the probed localCheckpoint memo — one
registry, three consumer families: the streaming drains
(``streaming.stream.run_to_memory`` and the drain-and-stage queries of
``plans.queries_models``), the report family's ``canonical_legs_frame``
(``plans.queries_trades``) and the two near-duplicate frames,
``neardup_verified`` and ``neardup_labels`` (``plans.queries_llmdata``).

A deterministic expensive frame (a drained stream, the report family's
canonical legs superset) is built once per (application, name,
cache_key) and pinned with ``localCheckpoint``. Reuse is PROBED with a
FULL scan — ``count()`` touches every cached partition — because
localCheckpoint is non-reliable: after an executor loss some or all
blocks are gone and every consumer would fail for the rest of the
application. A first-block-only probe (``take(1)``) passes on PARTIAL
block loss (possible on any multi-executor cluster; invisible on
single-executor local where loss is all-or-nothing), which is exactly
the failure the probe exists to prevent — so the probe is the full
no-Python-worker scan. Entries from dead SparkSessions are evicted so
the registry stays bounded to the live application's keys.

The registry is shared by concurrent callers (the streaming family
prefetches six drains from daemon threads), so every read/evict/insert
holds a module lock; ``build()`` and the probe run OUTSIDE the lock
(they launch Spark jobs), and per-key in-flight events make concurrent
misses on the SAME key build once and share the result.
"""

from __future__ import annotations

import functools
import glob
import os
import threading

from pyspark.sql import DataFrame

_CHECKPOINT_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_INFLIGHT: dict[tuple[str, str, str], threading.Event] = {}
# per-name invalidation generation: a build records the generation when
# it starts; an insert is skipped when invalidate_name bumped it since,
# so a build that raced an input rewrite cannot pin its stale frame
_NAME_GEN: dict[str, int] = {}
_LOCK = threading.Lock()


def _probe(df: DataFrame) -> bool:
    """True iff EVERY cached partition is still alive. ``count()`` is a
    JVM-only full scan of the checkpointed blocks (no Python workers),
    cheap on local blocks, and fails on partial loss where ``take(1)``
    would pass."""
    try:
        df.count()
        return True
    except Exception:
        return False


def invalidate_name(name: str) -> None:
    """Drop every cached entry for ``name`` across applications and cache
    keys — for callers whose inputs changed under a live session (e.g. a
    test regenerating the parquet a memoized frame was derived from).
    Also FENCES in-flight builds: a build that started before the
    invalidation (and so may have read the old inputs) finds the
    generation bumped and skips its cache insert — its waiters re-enter,
    miss, and rebuild against the new inputs."""
    with _LOCK:
        _NAME_GEN[name] = _NAME_GEN.get(name, 0) + 1
        for k in [k for k in _CHECKPOINT_CACHE if k[1] == name]:
            _CHECKPOINT_CACHE.pop(k, None)


def memoize_checkpoint(spark, name: str, cache_key: str, build) -> DataFrame:
    """Run ``build()`` once per (application, name, cache_key); return
    the pinned (eager ``localCheckpoint``) result on every later call,
    probing validity (full scan) and rebuilding on any block loss."""
    key = (spark.sparkContext.applicationId, name, cache_key)
    while True:
        with _LOCK:
            for stale in [k for k in _CHECKPOINT_CACHE if k[0] != key[0]]:
                _CHECKPOINT_CACHE.pop(stale, None)
            hit = _CHECKPOINT_CACHE.get(key)
            pending = None if hit is not None else _INFLIGHT.get(key)
            if hit is None and pending is None:
                pending = threading.Event()
                _INFLIGHT[key] = pending
                gen = _NAME_GEN.get(name, 0)
                break  # this thread builds
        if hit is not None:
            if _probe(hit):
                return hit
            with _LOCK:  # blocks lost: drop only if nobody replaced it
                if _CHECKPOINT_CACHE.get(key) is hit:
                    _CHECKPOINT_CACHE.pop(key, None)
            continue
        pending.wait()
        continue  # builder finished (or failed) — re-read the registry
    try:
        out = build().localCheckpoint(eager=True)
        with _LOCK:
            # skip the insert when invalidate_name fenced this build:
            # the frame may derive from since-rewritten inputs. The
            # builder still returns it (the race resolves as if the
            # invalidation happened a moment later), but nothing pins it.
            if _NAME_GEN.get(name, 0) == gen:
                _CHECKPOINT_CACHE[key] = out
        return out
    finally:
        with _LOCK:
            _INFLIGHT.pop(key, None)
        pending.set()


def data_fingerprint(sf_dir: str) -> tuple:
    """(file name, size, mtime_ns) of every parquet input under ``sf_dir``:
    a rewritten input changes it, so memos keyed on it never serve frames
    of data that is gone."""
    return tuple(
        (os.path.basename(p), os.path.getsize(p), os.stat(p).st_mtime_ns)
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    )


#: per-session memo of ``session_frame_cache`` results. A key holds its
#: SparkSession object, which pins it (so no later session can reuse its
#: identity) until the entry is pruned: entries of stopped sessions go on
#: the next miss.
_FRAME_CACHE: dict = {}
_FRAME_CACHE_LOCK = threading.Lock()


def session_frame_cache(fn):
    """Memoize ``fn(spark, sf_dir, *args)`` for the lifetime of the session.

    The first call builds; later calls with the same session, sf_dir,
    args and DATA FINGERPRINT return the same object without touching the
    JVM. A new session (a child from ``newSession()`` with its own SQL
    conf, or any session of a new application) builds its own, so a frame
    never runs under another session's conf; a session that REWRITES the
    parquet under an unchanged sf_dir rebuilds instead of serving a stale
    frame. ``fn`` must be a pure function of (code, data, args).

    A concurrent miss on the same key may build twice; the builds are
    value-identical and the first insert wins."""

    @functools.wraps(fn)
    def wrap(spark, sf_dir: str, *args):
        key = (spark, fn.__module__, fn.__qualname__, sf_dir, args, data_fingerprint(sf_dir))
        with _FRAME_CACHE_LOCK:
            if key in _FRAME_CACHE:
                return _FRAME_CACHE[key]
        # build OUTSIDE the lock: concurrent prefetch threads must not
        # serialize on an unrelated multi-second build
        built = fn(spark, sf_dir, *args)
        with _FRAME_CACHE_LOCK:
            # prune stopped sessions AND stale fingerprints of this same
            # call: a rewritten dataset's old frame must not outlive it
            for k in [
                k
                for k in _FRAME_CACHE
                if (k[:5] == key[:5] and k != key) or k[0].sparkContext._jsc is None
            ]:
                del _FRAME_CACHE[k]
            return _FRAME_CACHE.setdefault(key, built)

    return wrap
