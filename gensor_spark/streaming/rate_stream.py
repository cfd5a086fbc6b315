"""Stateful streaming counter rate: the batch ``counter_rate`` semantics
over an unbounded stream, with the previous sample carried per series.

The batch operator (operators/seriesstats.counter_rate — the adjacent-sample
PromQL ``increase``/``rate`` form) needs only ``lag``; over a stream the lag
partner of a micro-batch's FIRST point lives in the PREVIOUS micro-batch, so
the operator carries the last value (NaN for NULL) per series through the
shared driver (``streaming/stateful.py``), whose ``last_us`` is the last
sample's time.

Semantics (append mode), pinned to the batch operator over the concatenated
in-order stream:

- the first point a series ever produces gets NULL increase/rate;
- a counter reset (value < previous) maps the increase to the post-reset
  value; gauges (``counter=False``) pass negative deltas through;
- NULL values and non-positive Δt mask the affected increase/rate to NULL,
  never crash, and a NULL value becomes the carried "previous" exactly as
  ``lag`` would.

``state_ttl_seconds`` drops a series idle past the TTL, and its next point
behaves like a first point (NULL increase). That is monitoring staleness
semantics, and it is the ONE deliberate divergence from replaying the batch
operator over all history; set it long (default 30 days) or to ``None`` to
never expire.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gensor_spark.streaming.stateful import event_us, stateful_stream

RATE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("source", StringType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
    StructField("is_reset", BooleanType()),
    StructField("increase", DoubleType()),
    StructField("rate", DoubleType()),
])


def streaming_counter_rate(
    points: DataFrame,
    counter: bool = True,
    per_seconds: float = 1.0,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """points(doc_id, source, ts, value) stream → per-point increase/rate."""

    def step(key, state, pdf):
        prev_val, prev_us = state
        ts_us = event_us(pdf)
        vals = pdf["value"].to_numpy(dtype=float)  # NULL → NaN
        pv = np.concatenate(([prev_val], vals[:-1]))
        p_us = np.concatenate(
            ([np.nan if prev_us is None else float(prev_us)],
             ts_us[:-1].astype(float)))
        with np.errstate(invalid="ignore", divide="ignore"):
            delta = vals - pv
            dt = (ts_us.astype(float) - p_us) / 1e6
            # batch-operator mask: non-positive Δt (duplicate ts) has no
            # time base — NULL increase/rate, is_reset False
            valid = dt > 0  # NaN compares False
            reset = valid & (delta < 0) & bool(counter)
            increase = np.where(valid, np.where(reset, vals, delta), np.nan)
            rate = np.where(valid, increase / dt * per_seconds, np.nan)
        out = pdf[["doc_id", "source", "ts", "value"]].assign(
            is_reset=reset, increase=increase, rate=rate)
        return out, (vals[-1],)

    return stateful_stream(
        points, ("doc_id", "source"), ["ts"], step, (np.nan,), RATE_SCHEMA,
        [StructField("last_val", DoubleType())], watermark,
        state_ttl_seconds)
