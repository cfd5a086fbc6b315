"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship 1h tier rollup on sf0.001;
``queries()``/``oracle_sql()`` enumerate the implemented operators from
SURVEY.md §2, each checked against DuckDB at sf0.01 by the driver.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 1h retention-tier rollup (count/min/max/mean/last) on sf0.001."""
    from gensor_spark.queries import _q_rollup

    return _q_rollup("1h")(spark, "/root/testdata/sf0.001")


def _release_then_build(
    q: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """Drain the session cache pool (``plans.caching``), then build ``q``.

    A lazy query pools its intra-plan caches in the session pool, and an
    external harness acts on the returned frame with no release hook of its
    own. The contract runs queries strictly one at a time, so when the next
    query is requested the previous one's action is done and its pool can
    go. The last query's caches die with the JVM.
    """
    import functools

    @functools.wraps(q)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from gensor_spark.plans.caching import release_caches

        release_caches()
        return q(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry, each query wrapped to release its predecessor's caches.

    Build a query's plan and run its action before building the next one:
    each build releases the pooled caches of the plans built before it, so
    an earlier plan acted on after a later build recomputes what its caches
    held (same rows, slower). A caller that builds several plans before
    acting calls ``gensor_spark.queries.QUERIES`` inside a
    ``plans.caching.cache_scope()`` instead.
    """
    from gensor_spark.queries import QUERIES

    return {n: _release_then_build(q) for n, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from gensor_spark.queries import ORACLES

    return dict(ORACLES)
