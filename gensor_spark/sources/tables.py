"""Readers for the driver's parquet testdata and (optionally) Iceberg tables.

The gensor analogue is ``read_from_sql`` (``/root/reference/gensor/io/read.py:
83-187``): catalog lookup + per-table SELECT with timestamp-range pushdown.
Here the catalog is the filesystem (or an Iceberg catalog when its runtime
jar is present); pushdown is Catalyst's job — callers express filters on the
returned DataFrame and they reach the parquet scan (PushedFilters).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: the schema Spark inferred for a source, keyed by ``_file_identity``
_SCHEMAS: dict[tuple, StructType] = {}


def _file_identity(path: str) -> tuple:
    """``path`` with its mtime and size, or for a directory its part listing."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_mtime_ns, st.st_size)
    parts = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fs = os.stat(os.path.join(root, f))
            parts.append((os.path.relpath(os.path.join(root, f), path),
                          fs.st_mtime_ns, fs.st_size))
    return (path, tuple(parts))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan; filters/projections applied by the caller push down.

    Only the first scan of a file infers its schema (a Spark job over the
    footers, most of a small query's plan-build time); later scans of the
    unchanged file pass the remembered one. A path the local filesystem
    cannot stat is inferred every time.
    """
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    known = _SCHEMAS.get(key)
    if known is not None:
        return spark.read.schema(known).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark runtime jar is on the classpath.

    The sandbox image has no Iceberg jar, so the incremental tier store
    (plans/incremental.py) falls back to parquet with dynamic partition
    overwrite; on a real cluster the same merge maps to ``MERGE INTO``.
    """
    try:
        # NB: plain `_jvm.org.apache.iceberg.Table` attribute access returns
        # a lazy JavaPackage even when the class is absent — only an
        # explicit Class.forName actually probes the classpath
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.Table"
        )
        return True
    except Exception:
        return False
