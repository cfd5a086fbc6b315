"""Stateful streaming funnel: windowFunnel depth maintained across
micro-batches.

The batch operator (operators/funnel.window_funnel) is a greedy
latest-start DP whose entire per-key memory is the ``starts`` vector (the
latest chain-start timestamp per step) — which makes it a textbook
stateful stream (``streaming/stateful.py``): carry ``starts`` per key, fold
each micro-batch's events through the same kernel
(``funnel._funnel_kernel``), emit the current level after every batch. A
user's funnel deepens LIVE as events land, instead of waiting for the
nightly batch.

Semantics, pinned to the batch operator over the concatenated in-order
stream (tests): within a micro-batch events sort by (ts, step), as in
batch. Emits one row per key per micro-batch in which that key had step
events: (keys, level, chain_start_us, batch_events) — ``level`` is the
depth over ALL history, monotonically non-decreasing batch over batch
(asserted in tests).

State lifecycle: one k-long vector per live key; ``state_ttl_seconds``
drops keys idle past the TTL — their next event starts a fresh funnel.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gensor_spark.operators.funnel import _funnel_kernel, _step_events
from gensor_spark.streaming.stateful import event_us, stateful_stream

FUNNEL_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("level", IntegerType()),
    StructField("chain_start_us", LongType()),
    StructField("batch_events", LongType()),
])

_STATE_FIELDS = [StructField("starts", ArrayType(LongType()))]


def streaming_window_funnel(
    events: DataFrame,
    steps: list[str],
    window_seconds: int,
    key_col: str = "doc_id",
    ts_col: str = "ts",
    event_col: str = "source",
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """events stream → per-key funnel depth after each micro-batch."""
    slim, window_us = _step_events(
        events, steps, window_seconds, event_col,
        F.col(key_col).alias("doc_id"), F.col(ts_col).alias("ts"))

    def step(key, state, pdf):
        starts = list(state[0])
        level, start = _funnel_kernel(
            event_us(pdf), pdf["_step"].to_numpy(), starts, window_us)
        out = pd.DataFrame({
            "doc_id": [key[0]],
            "level": pd.array([level], dtype="int32"),
            "chain_start_us": pd.array([int(start) if level else None],
                                       dtype="Int64"),
            "batch_events": pd.array([len(pdf)], dtype="int64"),
        })
        return out, ([None if s is None else int(s) for s in starts],)

    return stateful_stream(
        slim, ("doc_id",), ["ts", "_step"], step, ([None] * len(steps),),
        FUNNEL_SCHEMA, _STATE_FIELDS, watermark, state_ttl_seconds)
