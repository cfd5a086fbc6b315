"""The one cache lifecycle: every DataFrame cache is pooled, and its pool's
owner releases it.

Operators cache an intermediate that feeds several consumers (both sides
of a self-join, a count table read by two aggregates, partials written to
two tiers): without materialization the upstream pipeline would run once
per consumer. Spark's CacheManager holds such an entry until an explicit
unpersist or session end, so every cache needs an owner that releases it.
This module is the only code that caches a DataFrame, and the owner rule
is:

- ``pooled_cache(df)`` caches ``df`` and adds it to the pool of the
  innermost open ``cache_scope()`` in this thread's context, unless an
  equal plan is already cached: then the pool that cached it first stays
  its only owner, and ``df`` reads that entry without being pooled.
- ``cache_scope()`` owns the pool it opens: on exit, normal or by an
  exception, it unpersists every frame pooled inside it, including those
  of lazy operators called there. A nested scope releases only its own
  pool. So no frame built inside a scope may be acted on after it.
- Outside any scope (and in any new thread) a cache lands in the session
  pool, which the caller drains with ``release_caches()`` once the
  consuming action is done. Do not call it between the build and the
  action of a plan you still intend to run.

An operator that runs its own actions (a writer, a training loop) opens a
scope around them; a lazy operator pools into whatever scope its caller
holds. Spark keeps one CacheManager entry per plan, so a second pool that
pooled an equal plan would release the first one's entry early; owner-first
pooling leaves the release to the first. A long-lived session that
acts on lazy plans outside a scope must call ``release_caches()``; at
process exit executor storage dies with the JVM.
"""

from __future__ import annotations

from contextlib import contextmanager, suppress
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SESSION_POOL: list[DataFrame] = []
_pool: ContextVar[list[DataFrame]] = ContextVar("cache_pool", default=_SESSION_POOL)


def pooled_cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, owned by the innermost open ``cache_scope()`` or,
    outside any scope, by the session pool. A frame whose plan is already
    cached is returned as is: it reads its owner's entry."""
    if df.storageLevel == StorageLevel.NONE:
        _pool.get().append(df.cache())
    return df


def _drain(pool: list[DataFrame]) -> int:
    n = len(pool)
    while pool:
        with suppress(Exception):  # session already stopped: nothing held
            pool.pop().unpersist()
    return n


@contextmanager
def cache_scope():
    """Pool the block's caches apart and unpersist them when it exits."""
    pool: list[DataFrame] = []
    token = _pool.set(pool)
    try:
        yield
    finally:
        _pool.reset(token)
        _drain(pool)


def release_caches() -> int:
    """Unpersist every cache in the session pool; returns how many."""
    return _drain(_SESSION_POOL)
