"""The per-session registry: every cache, shared artifact and staging dir
the engine keeps for a SparkSession lives here, in one store.

**Store.** One lock-guarded dict keyed by (session, sf_dir, key). A hit
whose session object is gone or was replaced (``id()`` can be recycled
after GC) is dropped, never returned. Builds run outside the lock: a
concurrent duplicate build is benign (both results are identical; last
writer wins), holding the lock through a Spark job is not. Its callers:

- plain plan memos, which record no build time: the testdata tables
  (``testdata.load_table``), derived fixtures (``session_memo``:
  ``tasks_df``, ``entries_df``, the near-dup corpus, …) and the
  registered-views marker (``testdata.register_views``). DataFrame plans
  are immutable, so one build per session serves every catalog query.
- shared artifacts (``artifact``, ``shared_checkpoint``): expensive
  derived tables that several catalog entries read — the bigram counts,
  the near-dup shingles and LSH buckets, the CC labels, the task closure
  — plus the streaming staging dirs and the trained PQ pair. A
  DataFrame artifact is eagerly ``localCheckpoint``-ed: checkpoint blocks,
  unlike ``persist``, survive ``spark.catalog.clearCache()`` (which the
  harnesses call between entries), and the ContextCleaner frees them
  once the store drops the frame. Correctness never depends on the
  store: every builder is deterministic, and each DuckDB twin re-derives
  the same table inside its own SQL. On a cluster the same tags land as
  persisted tables (the ``build_lsh_index_cached`` pattern,
  operators/dedup.py).

**Timing.** An artifact records its build seconds per (sf_dir, tag)
(``build_times``), so a harness reports each one-time build next to the
per-query numbers instead of charging it to whichever entry ran first.
The seconds are self time: an artifact built inside another's build
(the near-dup candidates build the LSH buckets, which build the
shingles) counts in its own tag only, so the tags sum to no more than
the wall time of the builds.
``prewarm`` builds every registered artifact and returns those times;
an artifact registers itself where it is defined (``artifact``,
``prewarmed``).

**Dir lifetime.** ``temp_dir`` makes a dir the registry deletes: a dir
owned by a session goes with ``invalidate(spark)``, and one atexit
sweep deletes every dir still registered when the process exits.

**Invalidation.** ``invalidate(spark)`` drops the session's entries and
deletes its dirs; ``forget`` drops one key.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import sys
import tempfile
import threading
import time
import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
# (id(spark), sf_dir, key) -> (weakref to spark, value)
_STORE: dict[tuple, tuple] = {}
# (sf_dir, tag) -> self seconds of the tag's last build
_BUILD_SEC: dict[tuple[str, str], float] = {}
_OPEN = threading.local()
# path -> id() of the owning session, or None for a dir that lives until exit
_DIRS: dict[str, int | None] = {}
# name -> accessor(spark, sf_dir), in registration order
_PREWARM: dict[str, Callable[[SparkSession, str], Any]] = {}


def lookup(spark: SparkSession, sf_dir: str | None, key: Any) -> Any:
    """The live value stored under (spark, sf_dir, key), or None."""
    k = (id(spark), sf_dir, key)
    with _LOCK:
        hit = _STORE.get(k)
        if hit is None:
            return None
        if hit[0]() is spark:
            return hit[1]
        del _STORE[k]
    return None


def store(spark: SparkSession, sf_dir: str | None, key: Any, value: Any) -> None:
    with _LOCK:
        _STORE[(id(spark), sf_dir, key)] = (weakref.ref(spark), value)


def forget(spark: SparkSession, key: Any) -> None:
    """Drop a session-wide entry (one stored with sf_dir None)."""
    with _LOCK:
        _STORE.pop((id(spark), None, key), None)


def memo(
    spark: SparkSession,
    sf_dir: str,
    key: Any,
    build: Callable[[], Any],
    *,
    timed: bool = False,
) -> Any:
    """``build()`` once per (session, sf_dir, key); ``timed`` records its
    self seconds under ``key`` for ``build_times``: the build's time less
    that of the timed builds nested in it on the same thread."""
    hit = lookup(spark, sf_dir, key)
    if hit is not None:
        return hit
    if not timed:
        value = build()
        store(spark, sf_dir, key, value)
        return value
    # one slot per timed build open on this thread: the seconds of the
    # timed builds nested in it, which its own time leaves out
    open_builds = _OPEN.__dict__.setdefault("builds", [])
    open_builds.append(0.0)
    t0 = time.perf_counter()
    try:
        value = build()
    finally:
        total = time.perf_counter() - t0
        nested = open_builds.pop()
        if open_builds:
            open_builds[-1] += total
    store(spark, sf_dir, key, value)
    with _LOCK:
        _BUILD_SEC[(sf_dir, key)] = total - nested
    return value


def session_memo(fn: Callable[[SparkSession, str], Any]):
    """Memoize a pure ``(spark, sf_dir)`` plan builder per session."""
    key = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str):
        return memo(spark, sf_dir, key, lambda: fn(spark, sf_dir))

    return wrapped


def shared_checkpoint(
    spark: SparkSession, sf_dir: str, tag: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Eager localCheckpoint of ``builder()``, memoized and timed as ``tag``."""
    return memo(
        spark, sf_dir, tag, lambda: builder().localCheckpoint(eager=True), timed=True
    )


def prewarmed(fn: Callable[[SparkSession, str], Any]):
    """Register ``fn(spark, sf_dir)`` with ``prewarm`` under its name."""
    _PREWARM[fn.__name__] = fn
    return fn


def artifact(tag: str):
    """Decorator: ``fn(spark, sf_dir)`` becomes the shared artifact
    ``tag`` — memoized per session, timed, prewarmed, and eagerly
    checkpointed when it returns a DataFrame."""

    def deco(fn: Callable[[SparkSession, str], Any]):
        def build(spark: SparkSession, sf_dir: str) -> Any:
            value = fn(spark, sf_dir)
            if isinstance(value, DataFrame):
                return value.localCheckpoint(eager=True)
            return value

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str):
            return memo(spark, sf_dir, tag, lambda: build(spark, sf_dir), timed=True)

        _PREWARM[tag] = wrapped
        return wrapped

    return deco


def build_times(sf_dir: str | None = None) -> dict[str, float]:
    """Per-tag build self seconds of the artifacts built so far (for the
    given ``sf_dir``, or all)."""
    with _LOCK:
        return {
            tag: sec
            for (d, tag), sec in _BUILD_SEC.items()
            if sf_dir is None or d == sf_dir
        }


def prewarm(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every registered artifact at ``sf_dir``; returns per-tag
    build seconds (an artifact built earlier keeps its recorded time).
    A failed build must not kill the harness, but it must not be
    invisible either — its cost would silently fall back on the first
    consumer — so it goes to stderr and into the result as
    ``failed::<name>`` = -1.0."""
    times = {}
    for name, fn in list(_PREWARM.items()):
        try:
            fn(spark, sf_dir)
        except Exception as exc:
            print(f"prewarm_shared: {name} failed: {exc!r}", file=sys.stderr)
            times[f"failed::{name}"] = -1.0
    times.update(build_times(sf_dir))
    return times


def temp_dir(prefix: str, spark: SparkSession | None = None) -> str:
    """A fresh temp dir that the registry deletes: with
    ``invalidate(spark)`` when a session owns it, at exit in any case."""
    path = tempfile.mkdtemp(prefix=prefix)
    with _LOCK:
        _DIRS[path] = None if spark is None else id(spark)
    return path


def remove_dir(path: str) -> None:
    with _LOCK:
        _DIRS.pop(path, None)
    shutil.rmtree(path, ignore_errors=True)


def invalidate(spark: SparkSession | None = None) -> None:
    """Drop the store's entries and delete the session-owned dirs — of
    one session, or of all."""
    with _LOCK:
        for k in [k for k in _STORE if spark is None or k[0] == id(spark)]:
            del _STORE[k]
        dirs = [
            p for p, owner in _DIRS.items()
            if owner is not None and (spark is None or owner == id(spark))
        ]
    for path in dirs:
        remove_dir(path)


@atexit.register
def _sweep_dirs() -> None:
    for path in list(_DIRS):
        remove_dir(path)
