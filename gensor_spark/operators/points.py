"""The point view: docs(tokens array) ⇄ points(long/flat), and events → points.

gensor's data model is one ``pd.Series`` of float64 values on a unique
tz-aware UTC DatetimeIndex per series (``/root/reference/gensor/core/base.py:
24-61``). Our long/flat equivalent is::

    points(doc_id: string, source: string, seq: int, ts: timestamp, value: double)

derived deterministically from the token table with ``posexplode``:
``ts = epoch0 + seq * tick_seconds``. The reverse direction
(``points_to_docs``) reconstructs the token arrays bit-exactly — the per-row
token-array-equality invariant from BASELINE.json.

Everything here is built-in column expressions (whole-stage codegen); no
Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: canonical epoch for the seq → timestamp mapping (UTC)
EPOCH0 = "2024-01-01 00:00:00"
#: one token per minute by default, so 1m/1h/1d tiers are all meaningful
DEFAULT_TICK_SECONDS = 60

POINTS_COLUMNS = ("doc_id", "source", "seq", "ts", "value")


def docs_to_points(
    docs: DataFrame,
    tick_seconds: int = DEFAULT_TICK_SECONDS,
    epoch0: str = EPOCH0,
) -> DataFrame:
    """Explode the token table into the long point view.

    ``posexplode`` keeps array order as ``seq``; the timestamp is an affine
    function of ``seq`` so the mapping is invertible (no information loss).
    """
    # pure long arithmetic for the timestamp: make_interval allocates a
    # CalendarInterval object per row, and at 54M+ points that churn alone
    # put 30% of wall time into stop-the-world GC at high parallelism
    return docs.select(
        "doc_id",
        "source",
        F.posexplode("tokens").alias("seq", "tok"),
    ).select(
        "doc_id",
        "source",
        "seq",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(epoch0).cast("timestamp"))
            + F.col("seq").cast("long") * F.lit(int(tick_seconds))
        ).alias("ts"),
        F.col("tok").cast("double").alias("value"),
    )


def points_to_docs(points: DataFrame) -> DataFrame:
    """Collapse the point view back to token arrays, ordered by ``seq``.

    ``array_sort`` on ``struct(seq, value)`` gives a deterministic order
    independent of partitioning — ``collect_list`` alone would not. This is
    the round-trip used by the token-array-equality correctness gate.
    """
    return (
        points.groupBy("doc_id", "source")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "value"))).alias("pairs"))
        .select(
            "doc_id",
            "source",
            F.transform("pairs", lambda p: p["value"].cast("int")).alias("tokens"),
        )
        .withColumn("n_tok", F.size("tokens"))
    )


def events_to_points(events: DataFrame) -> DataFrame:
    """Map the driver testdata ``events`` table into the point view.

    ``user_id`` is the series identity (gensor ``location``), ``event_type``
    the sensor/source tag, ``value`` the measurement. ``seq`` is the
    timestamp-order ordinal per series — gensor series are positionally
    indexable (``gensor/core/indexer.py:20-32``) which several operators
    (difference transform, trend) rely on.
    """
    return events.selectExpr(
        "CAST(user_id AS STRING) AS doc_id",
        "event_type AS source",
        # testdata parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4;
        # with the session pinned to UTC this cast is wall-clock identity
        "CAST(ts AS TIMESTAMP) AS ts",
        "CAST(value AS DOUBLE) AS value",
        "event_id",
    ).selectExpr(
        "doc_id", "source", "ts", "value",
        "row_number() OVER (PARTITION BY doc_id, source"
        " ORDER BY ts, event_id) - 1 AS seq",
    )
