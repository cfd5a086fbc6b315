"""Spark's Python worker daemon, run without Spark's bundled zips on the path.

Spark starts each worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the ``spark-core`` jar ahead of site-packages on
``sys.path``. Every one of them, and every pyspark sub-package imported from
them, gets its own ``zipimporter``; on Python 3.11 each
``importlib.invalidate_caches()`` makes every ``zipimporter`` re-read its
whole archive directory. ``pyspark.worker_util.setup_spark_files`` calls it
once per task, which cost 210-280 ms per Arrow task on a 4-core host — more
than most of the engine's kernels run.

This module drops those entries from ``sys.path`` and
``sys.path_importer_cache`` and then runs ``pyspark.daemon`` unchanged, so
the forked workers import the interpreter's own pyspark: the one the driver
uses. It does so only when that pyspark resolves without the bundled
entries and its ``version.py`` equals the bundled zip's; otherwise the path
stays as Spark set it.

It also imports pandas and pyarrow before the daemon forks: a worker
imports them on its first Arrow task otherwise, 280-342 ms per worker.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for ``local[...]`` masters. It must not import pyspark, directly or through
an engine module, before the path is filtered.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\b[^=]*=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def spark_free_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the zip and jar entries that lie under ``spark_home``.

    Returns ``path`` itself unless one of those entries is a ``pyspark.zip``,
    a ``pyspark`` package resolves from the remaining entries, and both
    ``version.py`` files name the same version.
    """
    if not spark_home:
        return path
    home = os.path.join(os.path.realpath(spark_home), "")
    bundled = {p for p in path if p.endswith((".zip", ".jar"))
               and os.path.realpath(p).startswith(home)}
    zips = [p for p in bundled if os.path.basename(p) == "pyspark.zip"]
    kept = [p for p in path if p not in bundled]
    spec = PathFinder.find_spec("pyspark", kept)
    if not zips or spec is None or not spec.submodule_search_locations:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as z:
            bundled_version = _version(z.read("pyspark/version.py").decode())
        own = os.path.join(spec.submodule_search_locations[0], "version.py")
        with open(own, encoding="utf-8") as f:
            own_version = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    if own_version is None or own_version != bundled_version:
        return path
    return kept


def main() -> None:
    kept = spark_free_path(sys.path, os.environ.get("SPARK_HOME"))
    # finding this module already cached a zipimporter for each entry
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    try:
        # every Arrow task needs them; imported here, each forked worker
        # inherits them instead of importing them on its first task
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError:
        pass  # the workers' own imports report it
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
