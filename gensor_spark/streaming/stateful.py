"""One driver for every per-key stateful stream in this package.

A sequential operator over an unbounded stream needs per-key state: the
recurrence state of a micro-batch's first point lives in the PREVIOUS
micro-batch. Every such stream here is a ``step`` function run by
``stateful_stream``, the only caller of ``applyInPandasWithState``. The
driver owns the part they all share:

- **timeout**: when the event-time watermark passes a key's timeout, the
  state is removed and ``on_timeout`` may emit a final flush row;
- **ordering**: Arrow hands a group over as an ITERATOR of chunks (~10k rows
  each) in arbitrary order, so the driver concatenates them all and sorts
  ONCE by ``order``; sorting chunk by chunk mis-orders the recurrence
  whenever a key's rows span chunks. Memory bound: one key's rows for one
  micro-batch, the bound every ``applyInPandasWithState`` group has;
- **TTL**: every state row ends in ``last_us: long``, the event time (µs) of
  the key's last point; the timeout is set ``ttl_seconds`` past it, so a
  key idle that long is dropped and its next point starts fresh.

Rows must reach the operator in event-time order per key ACROSS batches
(file source with time-split files, or any source after a watermark-sorted
stage); late rows beyond the watermark are dropped by the engine.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

Step = Callable[[Any, tuple, pd.DataFrame], tuple[pd.DataFrame | None, tuple]]


def event_us(pdf: pd.DataFrame) -> Any:
    """The ``ts`` column as integer epoch microseconds (numpy int64)."""
    return pd.to_datetime(pdf["ts"]).astype("int64").to_numpy() // 1000


def stateful_stream(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    step: Step,
    init: tuple,
    out_schema: StructType,
    state_fields: Sequence[StructField],
    watermark: str,
    ttl_seconds: int | None,
    on_timeout: Callable[[Any, tuple], pd.DataFrame] | None = None,
) -> DataFrame:
    """Run ``step`` per key of ``df`` (event time in column ``ts``) over
    micro-batches, appending its output rows.

    ``step(key, state, pdf) -> (out, new_state)`` gets one key's rows of
    one micro-batch, sorted by ``order``, and ``state``: the stored row,
    i.e. the ``state_fields`` values followed by ``last_us`` — ``init +
    (None,)`` for a key with no state. It returns the rows to emit (or
    None) and the new ``state_fields`` values; the driver appends the new
    ``last_us``. ``on_timeout(key, state)`` builds the flush rows of a
    timed-out key from its stored row."""
    state_schema = StructType(
        [*state_fields, StructField("last_us", LongType())])

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            stored = state.get
            state.remove()
            if on_timeout is not None:
                yield on_timeout(key, stored)
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            list(order), kind="stable")
        out, new = step(key, state.get if state.exists else (*init, None),
                        pdf)
        if out is not None and len(out):
            yield out
        last_us = int(event_us(pdf)[-1])
        state.update((*new, last_us))
        if ttl_seconds is not None:
            state.setTimeoutTimestamp(last_us // 1000 + ttl_seconds * 1000)

    return (
        df.withWatermark("ts", watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
