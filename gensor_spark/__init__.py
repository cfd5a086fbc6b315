"""gensor_spark — a PySpark-native time-series rollup / downsample / retention engine.

Built from scratch with the query and data-processing capabilities of the
reference library (zawadzkim/gensor, a pandas, single-process groundwater
sensor time-series toolkit) re-expressed as distributed Spark DataFrame
plans: window aggregates, broadcast joins, and vectorized pandas/Arrow UDFs
over tables of pre-tokenized training sequences.

Architecture (Spark-first, not a port):

- ``sources``    — deterministic synthetic ``docs`` token-table generator and
                   parquet/catalog readers (gensor: ``gensor/io/read.py``).
- ``operators``  — the relational re-expression of gensor's per-series verbs:
                   point view (explode), pandas-parity resample, tier rollups
                   (1m→1h→1d), compensation, outlier masking, gap-fill,
                   transforms, masking/dedup, coverage (``gensor/core/*``,
                   ``gensor/processing/*``, ``gensor/analysis/*``).
- ``codecs``     — one delta-of-delta timestamp + Gorilla-style XOR value
                   codec, vectorized numpy inside Arrow UDFs.
- ``plans``      — incremental tier maintenance: partition-idempotent merges,
                   checkpoint ledger, per-partition lineage rows.
- ``functions``  — column-level helpers (tokenization, text quality, hashing).
- ``streaming``  — Structured Streaming forms: tier/histogram rollups,
                   stateful sessions and counter rates, as-of/interval
                   enrichment, watermarked dedup.
- ``api``        — gensor-call-compatible ``Dataset`` facade (keep your
                   gensor call-sites; every verb delegates to the
                   driver-oracled operators).
"""


def __getattr__(name):
    # lazy: both import pyspark, and the worker daemon starts as
    # ``-m gensor_spark.pydaemon``, which must filter sys.path first
    if name == "get_spark":
        from gensor_spark.session import get_spark

        return get_spark
    if name == "Dataset":
        from gensor_spark.api import Dataset

        return Dataset
    raise AttributeError(name)


__version__ = "0.1.0"

__all__ = ["get_spark", "Dataset", "__version__"]
