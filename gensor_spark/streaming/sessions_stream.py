"""Custom stateful streaming operator: gap sessionization with carried state.

The batch engine sessionizes with a lag-window (queries.q_gap_sessions —
gensor's coverage gap segmentation, dataset.py:645-661). Over an unbounded
stream that needs true per-key STATE: a session that is still open at the
end of one micro-batch must continue in the next. It runs on the shared
stateful driver (``streaming/stateful.py``), whose event-time timeout
flushes sessions that stopped receiving points.

Semantics (append mode):
- a gap > ``gap_seconds`` between consecutive points closes the current
  session and emits it; the trailing open session is kept in state as
  (start, point count), the driver's ``last_us`` being its last point;
- when the watermark passes ``last_ts + gap_seconds`` without new points,
  the state times out and the open session is emitted.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gensor_spark.streaming.stateful import event_us, stateful_stream

SESSION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("source", StringType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_points", LongType()),
    StructField("closed_by", StringType()),  # 'gap' | 'timeout'
])


def _emit(key, sessions) -> pd.DataFrame:
    doc_id, source = key
    return pd.DataFrame({
        "doc_id": doc_id,
        "source": source,
        "session_start": pd.to_datetime([s[0] for s in sessions], unit="us"),
        "session_end": pd.to_datetime([s[1] for s in sessions], unit="us"),
        "n_points": [s[2] for s in sessions],
        "closed_by": [s[3] for s in sessions],
    })


def streaming_gap_sessions(points: DataFrame, gap_seconds: int = 3600,
                           watermark: str = "1 minute") -> DataFrame:
    """points(doc_id, source, ts, value) stream → closed-session rows."""
    gap_us = gap_seconds * 1_000_000

    def step(key, state, pdf):
        start_us, n, last_us = state
        closed = []
        for t in event_us(pdf).tolist():
            if start_us is None:
                start_us, n = t, 1
            elif t - last_us > gap_us:
                closed.append((start_us, last_us, n, "gap"))
                start_us, n = t, 1
            else:
                n += 1
            last_us = t
        return (_emit(key, closed) if closed else None), (start_us, n)

    def on_timeout(key, state):
        start_us, n, last_us = state
        return _emit(key, [(start_us, last_us, n, "timeout")])

    # the TTL is the gap: the watermark passing the gap horizon flushes
    return stateful_stream(
        points, ("doc_id", "source"), ["ts"], step, (None, 0),
        SESSION_SCHEMA,
        [StructField("start_us", LongType()), StructField("n", LongType())],
        watermark, gap_seconds, on_timeout)
