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


def _with_cache_hygiene(
    name: str, q: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """Registry-level cache lifecycle for EXTERNAL harnesses.

    Operators register intra-plan caches in ``plans.caching``'s pool and
    rely on the caller to release them after the consuming action
    (``bench.py`` does). A driver that calls ``queries()[name]`` directly
    has no release hook, so across a 50-query sweep pools would accumulate
    until session end. The registry cannot observe the driver's action —
    but it CAN know the previous query is finished the moment the next one
    is requested (the driver contract runs queries strictly one at a
    time), so each wrapper drains the pool left by its predecessor before
    building, and one atexit drain covers the final query.
    """
    import functools

    @functools.wraps(q)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        import atexit

        from gensor_spark.plans.caching import release_caches

        global _ATEXIT_REGISTERED
        release_caches()  # predecessor's action is complete by contract
        if not _ATEXIT_REGISTERED:
            atexit.register(release_caches)
            _ATEXIT_REGISTERED = True
        return q(spark, sf_dir)

    return wrapped


_ATEXIT_REGISTERED = False


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry, each query wrapped in the cache hygiene above.

    Build a query's plan and run its action before building the next one:
    each build releases the pooled caches of the plans built before it, so
    an earlier plan acted on after a later build recomputes what its caches
    held (same rows, slower).
    """
    from gensor_spark.queries import QUERIES

    return {n: _with_cache_hygiene(n, q) for n, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from gensor_spark.queries import ORACLES

    return dict(ORACLES)
