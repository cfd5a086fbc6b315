"""Cache lifecycle for lazy operator plans.

Several operators cache/persist an intermediate that feeds MULTIPLE
consumers inside the single plan they return (both sides of a self-join,
a count table read by two aggregates): without materialization the whole
upstream pipeline would execute once per consumer. But the returned
DataFrame is lazy — the operator cannot unpersist before returning or the
cache would be dropped before the caller's action ever runs, and Spark's
CacheManager holds such entries until an explicit unpersist or session end.
Left alone, that is a slow storage leak on a long-lived session that calls
the operators repeatedly (this is invisible in one-shot jobs: executor
storage dies with the JVM).

Contract: operators register every such intra-plan cache here via
``pooled_cache``; the CALLER releases them after the consuming action with
``release_caches()``. ``bench.py`` does exactly that between queries. A
caller that skips release keeps every pooled frame cached until the
session ends — e.g. two per ``corpus_prep`` call with its default
``cache_intermediate=True``, where that operator used to cache nothing —
so a long-lived session must release (or ``spark.catalog.clearCache()``).

The pool is deliberately session-global and drain-all: queries in this
engine run their actions to completion before the next query starts
(including the driver's oracle loop and bench), so "everything registered
so far is no longer needed" is the invariant at every release point. Do
NOT call ``release_caches()`` between the construction and the action of a
plan you still intend to run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_POOL: list[DataFrame] = []


def pooled_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the cached frame for deferred release."""
    df = df.cache()
    _POOL.append(df)
    return df


def release_caches() -> int:
    """Unpersist every pooled cache; returns how many were released.

    Call after the action that consumed the operator's result — e.g. at the
    end of each bench query, or periodically on a long-lived session.
    """
    n = len(_POOL)
    for df in _POOL:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release
    _POOL.clear()
    return n
