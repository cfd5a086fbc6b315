"""Streaming sequence packing: concat-and-chunk with a carry-over remainder.

The batch packer (operators/packing.py) cuts the doc-id-ordered corpus into
``seq_len``-token training chunks via a distributed prefix sum. A live
ingest needs the same cut over an UNBOUNDED arrival stream: this operator
packs per ``source`` in event-time arrival order, emitting every FULL chunk
as soon as its tokens exist and carrying the remainder (< seq_len tokens)
in per-source state to seed the next micro-batch — no token is ever dropped
or duplicated, and chunk boundaries are exactly where a single sequential pass
over the concatenated stream would put them.

Per-source state = the leftover token array (≤ seq_len − 1 ints) + the
running chunk counter; a source's chunks are ids ``(source, chunk_seq)``
with ``chunk_seq`` monotone across micro-batches and restarts (the counter
rides the checkpointed state).

Exactness contract (pinned in tests): any epoch split of the same in-order
stream yields the identical chunk sequence, and
``emitted tokens + carried remainder == ingested tokens`` at every point.

It runs on the shared stateful driver (``streaming/stateful.py``), which
sorts each micro-batch once by ``(ts, doc_id)`` — the deterministic
tie-break makes same-timestamp docs pack identically on every replay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gensor_spark.streaming.stateful import stateful_stream

PACK_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("chunk_seq", LongType()),
    StructField("tokens", ArrayType(IntegerType())),
])

_STATE_FIELDS = [
    StructField("carry", ArrayType(IntegerType())),
    StructField("next_seq", LongType()),
]


def streaming_pack(
    docs: DataFrame,
    seq_len: int,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """docs(doc_id, source, ts, tokens array<int>) stream → full packed
    chunks ``(source, chunk_seq, tokens[seq_len])``. The tail remainder of
    each source stays in state until later arrivals complete it (it is
    emitted only as part of a future full chunk — training chunks are
    always exactly ``seq_len``)."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")

    def step(key, state, pdf):
        carry, next_seq, _ = state
        flat = np.concatenate([np.asarray(carry, dtype=np.int64)] + [
            np.asarray(t, dtype=np.int64)
            for t in pdf["tokens"] if t is not None and len(t)
        ])
        n_full = len(flat) // seq_len
        out = None
        if n_full:
            body = flat[: n_full * seq_len].reshape(n_full, seq_len)
            out = pd.DataFrame({
                "source": key[0],
                "chunk_seq": np.arange(next_seq, next_seq + n_full,
                                       dtype=np.int64),
                "tokens": [row.astype(np.int32).tolist() for row in body],
            })
        carry = flat[n_full * seq_len:].astype(np.int32).tolist()
        return out, (carry, next_seq + n_full)

    return stateful_stream(
        docs, ("source",), ["ts", "doc_id"], step, ([], 0), PACK_SCHEMA,
        _STATE_FIELDS, watermark, state_ttl_seconds)
