"""Streaming Kalman local-level filter: live model-based level estimates.

The batch operator (operators/kalman.py) runs filter + RTS smoother over
finished series; the smoother needs the future, but the FILTER half is
inherently online — its state after point t is exactly two numbers
(posterior mean and variance), which makes it the cheapest principled
streaming level estimator: gap-aware (variance inflates through missing
observations), uncertainty-carrying (``k_pvar`` is the filtered variance;
±2σ = 2·sqrt(k_pvar)), and exactly resumable.

Each micro-batch runs the batch operator's own forward pass
(``kalman._kalman_filter``) from the carried posterior (a, p), through the
shared stateful driver (``streaming/stateful.py``): per-series state is
(a, p) + the driver's ``last_us``, so a billion live series costs ~24 GB
of state store cluster-wide.

Exactness contract (pinned in tests): the emitted ``k_filt`` sequence is
BIT-IDENTICAL to the batch operator's ``k_filt`` column under any epoch
split of an in-order stream — the posterior (a, p) is the only
cross-batch memory, and the recursion is the same exact-diffuse form
(first observation initializes a = y, p = r).

NaN observations predict through: the state advances by the process noise
only and the row emits the PREDICTED mean with its inflated variance —
matching the batch filter's through-gap output. Rows before a series'
first observation emit NaN.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gensor_spark.operators.kalman import _kalman_filter
from gensor_spark.streaming.stateful import stateful_stream

KALMAN_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("source", StringType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
    StructField("k_filt", DoubleType()),
    StructField("k_pvar", DoubleType()),
])


def streaming_kalman(
    points: DataFrame,
    q: float = 0.1,
    r: float = 1.0,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """points(doc_id, source, ts, value) stream → per-point filtered level
    ``k_filt`` + filtered state variance ``k_pvar`` under the local-level
    model x_t = x_{t-1} + N(0, q), y_t = x_t + N(0, r)."""
    if q <= 0 or r <= 0:
        raise ValueError("q and r must be positive")

    def step(key, state, pdf):
        a, p, _ = state
        _, filt, pvar, *_ = _kalman_filter(
            pdf["value"].to_numpy(dtype=float), float(q), float(r), a, p)
        out = pdf[["doc_id", "source", "ts", "value"]].assign(
            k_filt=filt, k_pvar=pvar)
        return out, (filt[-1], pvar[-1])

    return stateful_stream(
        points, ("doc_id", "source"), ["ts"], step, (np.nan, np.nan),
        KALMAN_SCHEMA,
        [StructField("a", DoubleType()), StructField("p", DoubleType())],
        watermark, state_ttl_seconds)
