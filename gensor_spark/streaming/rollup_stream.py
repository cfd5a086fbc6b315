"""Streaming tier rollups: tumbling windows + watermark + incremental merge.

The reference is batch-only (SURVEY.md §2.9 — no watermarks, windows, or
stateful ops anywhere in gensor); the north rule's "resumable from
checkpoint" is satisfied by the incremental-batch TierPipeline. This module
is the forward extension for genuinely unbounded inputs: the same 1m-tier
partial states (operators/rollup.py schema) maintained by Structured
Streaming.

Design:
- ``readStream`` source (files/kafka/rate) → point rows
  ``(doc_id, source, ts, value)``;
- event-time **watermark** bounds state and admits late points up to the
  configured lateness;
- **tumbling window** = ``F.window(ts, step)`` groupBy producing exactly
  the batch tiers' partial-state schema (cnt/vmin/vmax/vsum/last/last_ts —
  ``last`` via max_by(ts) as in batch);
- ``foreachBatch`` upserts each micro-batch's partials into the same
  parquet tier store the batch pipeline uses (Iceberg ``MERGE INTO`` on a
  real cluster), so the 1h/1d cascades and readers are shared with batch —
  one storage contract for both execution modes.

Update semantics: with watermark + append-mode windows, each window is
emitted once, after it closes — merging is insert-only and idempotent per
window (exactly-once via checkpointing + deterministic window keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.rollup import TIER_SECONDS, _merge_partials


def stream_points_from_events(stream: DataFrame) -> DataFrame:
    """events-shaped stream → point rows (same mapping as batch)."""
    return stream.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_type").alias("source"),
        # watermarks require TIMESTAMP (with zone); the session is pinned
        # UTC so an NTZ source cast is instant-preserving
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value"),
    )


def streaming_rollup(
    points: DataFrame,
    tier: str = "1m",
    watermark: str = "2 minutes",
    keys: tuple[str, ...] = ("doc_id", "source"),
    with_sumsq: bool = False,
    with_first: bool = False,
    with_moments: bool = False,
) -> DataFrame:
    """Watermarked tumbling-window partial aggregation (append mode).

    Output schema matches the batch partial states with ``bin_ts`` as the
    window start — a closed window's row is bit-compatible with
    ``rollup_tier`` output for the same points, so cascades/finalize are
    reusable downstream. ``with_sumsq=True`` carries the Σx² variance
    partial like the batch producers; the read-side ``_merge_partials`` is
    sumsq-aware, so streamed var/std finalize identically to batch.
    """
    from gensor_spark.operators.rollup import partial_aggs

    step = TIER_SECONDS[tier]
    v = F.col("value")
    win = F.window("ts", f"{step} seconds")
    aggs = partial_aggs(v, F.col("ts"), with_sumsq, with_first, with_moments)
    agged = points.withWatermark("ts", watermark).groupBy(*keys, win).agg(*aggs)
    # the partial columns are whatever partial_aggs produced, in its order
    return agged.select(
        *keys, F.col("window.start").alias("bin_ts"),
        *agged.columns[len(keys) + 1:],
    )


def make_tier_sink(store_dir: str, tier: str = "1m"):
    """The per-epoch sink function (exposed for direct replay testing)."""
    out_dir = f"{store_dir}/tier_{tier}_stream"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        n = max(1, batch_df.sparkSession.sparkContext.defaultParallelism // 4)
        batch_df.repartition(n).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={batch_id}")

    return sink


def start_tier_sink(
    rolled: DataFrame,
    store_dir: str,
    tier: str = "1m",
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
):
    """Write the streaming partials into the shared tier store.

    ``foreachBatch`` is at-least-once on replay (a failed epoch re-runs
    after a possibly partial write), so each epoch writes its OWN
    ``epoch=<id>`` partition in overwrite mode: a replay clobbers exactly
    its previous attempt instead of appending a duplicate — idempotent per
    epoch, the parquet stand-in for Iceberg's ``MERGE INTO``. Window rows
    stay disjoint across epochs (append-mode watermark semantics emits
    each closed window once), so the read-side partial merge is exact.
    Returns the started StreamingQuery.
    """
    sink = make_tier_sink(store_dir, tier)

    writer = (
        rolled.writeStream.outputMode("append")
        .option("checkpointLocation",
                checkpoint_dir or f"{store_dir}/_stream_checkpoint_{tier}")
        .foreachBatch(sink)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_tier(spark, store_dir: str, tier: str = "1m",
                     finalize: bool = True) -> DataFrame:
    """Read (and optionally finalize) the streamed tier — merges partials
    across micro-batch appends like the batch reader does across batches."""
    from gensor_spark.operators.rollup import finalize_tier

    df = spark.read.parquet(f"{store_dir}/tier_{tier}_stream").drop("epoch")
    merged = _merge_partials(df, ["doc_id", "source", "bin_ts"])
    return finalize_tier(merged) if finalize else merged
