"""Event funnel analysis: how deep does each user get, within a time window?

The product-analytics staple (ClickHouse ``windowFunnel``, Amplitude/Mixpanel
funnels): given an ordered list of step event types (view → click → signup →
purchase) and a window W, each key's ``level`` is the length of the longest
chain e₁ ≤ e₂ ≤ … ≤ e_L (timestamps non-decreasing in scan order; ties
allowed) matching the step sequence with ``t_L − t₁ ≤ W``. gensor has no
event-sequence surface; for a training-data pipeline the same operator
answers ingestion-funnel questions (fetched → parsed → filtered → packed per
origin within a crawl window).

Algorithm (the standard windowFunnel greedy, provably optimal): scan each
key's events time-sorted, keeping per step i the LATEST chain-start
timestamp among chains reaching i — a later start strictly dominates (more
room under the window, same reachability). Each event updates levels from
high to low so one event never serves two adjacent steps. O(n·k) per key,
sequential → the batched Arrow kernel shape (``udfkernel.per_series_map``:
one shuffle on the key, many keys per Arrow crossing). The exponential
brute-force over all subsequences pins the DP's optimality in tests.

Determinism: events sort by (ts, event_type) so same-timestamp batches
process in a fixed order; documented non-strict tie semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _funnel_kernel(
    ts: np.ndarray, step_idx: np.ndarray, starts: list, window_us: int
) -> tuple[int, float]:
    """(max level, start ts of a maximal chain) for one key's events,
    sorted by (ts, step_idx), folded into ``starts`` in place: the latest
    chain-start reaching step i (None = unset), ``[None] * k`` for a fresh
    key; a stream carries it across micro-batches. Greedy latest-start DP:
    among chains reaching step i, only the start time matters for
    extendability (the window binds on it; ordering is satisfied by the
    scan), so the chain with the latest start dominates — keeping just
    that one is optimal (pinned vs exponential brute force in tests). Each
    event type IS one step (steps are distinct), so an event updates
    exactly one level."""
    for t, i in zip(ts, step_idx):
        if i == 0:
            if starts[0] is None or t > starts[0]:
                starts[0] = t
        elif starts[i - 1] is not None and t - starts[i - 1] <= window_us:
            prev = starts[i - 1]
            if starts[i] is None or prev > starts[i]:
                starts[i] = prev
    for lvl in range(len(starts) - 1, -1, -1):
        if starts[lvl] is not None:
            return lvl + 1, float(starts[lvl])
    return 0, float("nan")


def _step_events(events: DataFrame, steps: list[str], window_seconds: int,
                 event_col: str, *cols) -> tuple[DataFrame, int]:
    """Check the funnel arguments; return ``cols`` + the step index
    ``_step`` of the step events only, and the window in µs. The index is
    a Catalyst CASE, so non-step events drop before the kernel ever sees
    them (column pruning + filter at the scan)."""
    if len(steps) < 2:
        raise ValueError(f"need at least 2 steps, got {len(steps)}")
    if len(set(steps)) != len(steps):
        raise ValueError("steps must be distinct event types")
    if window_seconds <= 0:
        raise ValueError(f"window_seconds must be > 0, got {window_seconds}")
    from pyspark.sql import functions as F

    idx = F.lit(None).cast("int")
    for i, s in reversed(list(enumerate(steps))):
        idx = F.when(F.col(event_col) == s, i).otherwise(idx)
    slim = events.select(*cols, idx.alias("_step"))
    return (slim.filter(F.col("_step").isNotNull()),
            int(window_seconds) * 1_000_000)


def window_funnel(
    events: DataFrame,
    steps: list[str],
    window_seconds: int,
    keys: tuple[str, ...] = ("doc_id",),
    ts_col: str = "ts",
    event_col: str = "source",
) -> DataFrame:
    """Max funnel depth per key. Returns one row per key that has at
    least one step event: (keys..., level, chain_start_us) —
    ``level`` ∈ [1, len(steps)] when a chain exists, else 0 (step events
    present but no step-0 among them); ``chain_start_us`` is the start of
    one maximal chain (NULL at level 0). Keys with NO step events emit
    nothing — they are filtered before the kernel (left-join the key
    universe if zero rows are wanted)."""
    from pyspark.sql import functions as F

    from gensor_spark.operators.udfkernel import per_series_map

    slim, window_us = _step_events(
        events, steps, window_seconds, event_col, *keys,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"))
    k = len(steps)
    schema = T.StructType(
        [f for f in slim.schema.fields if f.name in keys]
        + [T.StructField("level", T.IntegerType()),
           T.StructField("chain_start_us", T.LongType())]
    )

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        # same-timestamp events process in STEP order, so ties always
        # chain (documented non-strict semantics)
        pdf = pdf.sort_values(["_us", "_step"], kind="stable")
        lvl, start = _funnel_kernel(
            pdf["_us"].to_numpy(), pdf["_step"].to_numpy(), [None] * k,
            window_us)
        out = pdf.iloc[:1][list(keys)].copy()
        out["level"] = np.int32(lvl)
        out["chain_start_us"] = pd.array(
            [int(start) if lvl > 0 else None], dtype="Int64")
        return out

    return per_series_map(slim, per_key, schema, keys=keys, sort_col="_us")
