"""Stateful streaming EWMA: the batch ``ewma`` semantics over an unbounded
stream, with the decaying weight state carried per series (run by the
shared driver, ``streaming/stateful.py``).

Both forms carry the (numerator, denominator) pair of the unbiased
(``adjust=True``) exponential mean through ONE recurrence,

    num_t = d_t * num_{t-1} + x_t      (x term only when observed)
    den_t = d_t * den_{t-1} + 1
    ewma_t = num_t / den_t

and differ only in the decay vector ``d``:

- ``streaming_ewma``: ``d = 1-alpha`` per sample. This reproduces pandas
  exactly for every NaN pattern: with ``ignore_na=False`` (default) a
  missing observation still ages the weights (decay applies, no new term);
  with ``ignore_na=True`` it is skipped entirely (``d = 1``). Either way the
  emitted value at a missing observation is the carried mean — exactly
  pandas' output. ``adjust=False`` is deliberately NOT offered here: its
  recurrence seeds from the first observation with biased weights and is
  available in batch; the unbiased form is the streaming-sane one (a
  restart mid-series changes nothing but the weight tail).
- ``streaming_ewma_halflife``: ``d = 0.5**(Δt/halflife)`` over event time,
  the driver's ``last_us`` anchoring the first Δt of a batch.

Both are pinned to their batch operator over any epoch split in tests.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gensor_spark.streaming.stateful import event_us, stateful_stream

_COLS = ["doc_id", "source", "ts", "value"]


def _out_schema(out_col: str) -> StructType:
    return StructType([
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField(out_col, DoubleType()),
    ])


SMOOTH_SCHEMA = _out_schema("ewma")
SMOOTH_T_SCHEMA = _out_schema("ewma_t")

_STATE_FIELDS = [
    StructField("num", DoubleType()),
    StructField("den", DoubleType()),
]


def _decayed_mean(vals: np.ndarray, decay: np.ndarray, num: float,
                  den: float) -> tuple[np.ndarray, float, float]:
    """The shared recurrence over one batch from the carried (num, den)."""
    out = np.empty(len(vals))
    for i, (v, d) in enumerate(zip(vals.tolist(), decay.tolist())):
        num *= d
        den *= d
        if not math.isnan(v):
            num += v
            den += 1.0
        out[i] = num / den if den > 0.0 else np.nan
    return out, num, den


def _ewma_stream(points, decay_of, out_col, watermark, state_ttl_seconds):
    """Run the recurrence with ``decay_of(vals, pdf, last_us)`` as ``d``."""
    def step(key, state, pdf):
        num, den, last_us = state
        vals = pdf["value"].to_numpy(dtype=float)  # NULL → NaN
        out, num, den = _decayed_mean(
            vals, decay_of(vals, pdf, last_us), num, den)
        return pdf[_COLS].assign(**{out_col: out}), (num, den)

    return stateful_stream(
        points, ("doc_id", "source"), ["ts"], step, (0.0, 0.0),
        _out_schema(out_col), _STATE_FIELDS, watermark, state_ttl_seconds)


def streaming_ewma(
    points: DataFrame,
    alpha: float,
    ignore_na: bool = False,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """points(doc_id, source, ts, value) stream → per-point unbiased EWMA.
    A series idle past ``state_ttl_seconds`` restarts its mean."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")

    def decay_of(vals, pdf, last_us):
        skip = np.isnan(vals) & ignore_na
        return np.where(skip, 1.0, 1.0 - alpha)

    return _ewma_stream(points, decay_of, "ewma", watermark,
                        state_ttl_seconds)


def streaming_ewma_halflife(
    points: DataFrame,
    halflife_seconds: float,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """TIME-aware streaming EWMA: decay by elapsed EVENT time,
    ``0.5**(Δt/halflife)`` — the streaming form of
    ``seriesstats.ewma_halflife`` (pandas ``ewm(halflife=Timedelta,
    times=...)`` semantics). The last event time is both the TTL anchor
    and the decay anchor, so a restart or an idle gap ages the state by
    exactly the real elapsed time — time-based decay is the natural
    streaming smoother (no per-sample cadence assumption). NaN
    observations age the state by their gap without contributing."""
    if halflife_seconds <= 0:
        raise ValueError("halflife_seconds must be positive")
    hl_us = float(halflife_seconds) * 1e6

    def decay_of(vals, pdf, last_us):
        # integer µs arithmetic: float seconds lose sub-microsecond bits
        # (ulp ~256 ns at 2026 epochs) vs the batch kernel's exact times
        ts_us = event_us(pdf)
        prev = ts_us[0] if last_us is None else last_us
        return 0.5 ** (np.diff(ts_us, prepend=prev) / hl_us)

    return _ewma_stream(points, decay_of, "ewma_t", watermark,
                        state_ttl_seconds)
