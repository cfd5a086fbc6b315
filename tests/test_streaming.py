"""Streaming tier rollup: file-source stream vs the batch rollup oracle.

The stream processes the same events parquet as a file source with
availableNow (bounded run), and the closed windows must match the batch
``rollup_tier`` output for the same points exactly — one storage contract,
two execution modes (streaming/rollup_stream.py docstring).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.points import events_to_points
from gensor_spark.operators.rollup import finalize_tier, rollup_tier
from gensor_spark.streaming.rollup_stream import (
    read_stream_tier,
    start_tier_sink,
    stream_points_from_events,
    streaming_rollup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_store")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File streaming sources require a directory, not a file path."""
    d = tmp_path_factory.mktemp("events_in")
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_rollup_matches_batch(spark, store, events_dir):
    events_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    pts = stream_points_from_events(stream)
    rolled = streaming_rollup(pts, tier="1m", watermark="1 minute")
    q = start_tier_sink(rolled, store, tier="1m", trigger_once=True)
    q.awaitTermination(120)

    got = read_stream_tier(spark, store, "1m", finalize=True)

    batch_pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    want = finalize_tier(
        rollup_tier(batch_pts.select("doc_id", "source", "ts", "value"), "1m")
    )

    # append-mode emits only CLOSED windows: every emitted window must match
    # the batch result bit-for-bit, and closed-window coverage must be
    # nearly complete for a bounded input (all but the final watermark edge)
    cols = ["doc_id", "source", "bin_ts", "count", "min", "max", "mean", "last"]
    g = got.select(cols)
    w = want.select(cols)
    missing_or_diff = g.exceptAll(w)
    assert missing_or_diff.count() == 0, "streamed window disagrees with batch"
    n_got, n_want = g.count(), w.count()
    assert n_got >= n_want * 0.95
    assert n_got > 0


def test_streaming_resume_is_idempotent(spark, store, events_dir):
    """Re-starting the query over the same checkpoint emits nothing new."""
    events_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    before = read_stream_tier(spark, store, "1m", finalize=False).count()
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    rolled = streaming_rollup(stream_points_from_events(stream), tier="1m",
                              watermark="1 minute")
    q = start_tier_sink(rolled, store, tier="1m", trigger_once=True)
    q.awaitTermination(120)
    after = read_stream_tier(spark, store, "1m", finalize=False).count()
    assert after == before


def test_tier_sink_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a failed epoch re-runs after a
    possibly complete write. The sink writes each epoch to its own
    ``epoch=<id>`` partition in overwrite mode, so replaying an epoch —
    invoked here directly on the exposed sink function — must leave the
    merged tier identical to a single delivery (a plain append would
    double every partial's cnt/vsum)."""
    from gensor_spark.streaming.rollup_stream import make_tier_sink

    pts = stream_points_from_events(
        spark.read.parquet(f"{SF}/events.parquet"))
    rolled = (
        pts.groupBy("doc_id", "source",
                    F.window("ts", "60 seconds").alias("window"))
        .agg(F.count("value").alias("cnt"), F.min("value").alias("vmin"),
             F.max("value").alias("vmax"), F.sum("value").alias("vsum"),
             F.max_by("value", F.when(F.col("value").isNotNull(),
                                      F.col("ts"))).alias("last"),
             F.max(F.when(F.col("value").isNotNull(),
                          F.col("ts"))).alias("last_ts"))
        .select("doc_id", "source", F.col("window.start").alias("bin_ts"),
                "cnt", "vmin", "vmax", "vsum", "last", "last_ts")
    )
    store = str(tmp_path / "store")
    sink = make_tier_sink(store, "1m")
    half = rolled.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    rest = rolled.filter(F.crc32(F.col("doc_id")) % 2 == 1)
    sink(half, 0)
    sink(rest, 1)
    sink(half, 0)  # the replay

    got = read_stream_tier(spark, store, "1m", finalize=True)
    want = finalize_tier(rollup_tier(
        events_to_points(spark.read.parquet(f"{SF}/events.parquet")), "1m"))
    cols = sorted(set(got.columns) & set(want.columns))
    g, w = got.select(*cols), want.select(*cols)
    assert len(cols) >= 7  # keys + bin_ts + the finalized aggregates
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def test_streaming_rollup_sumsq_matches_batch_std(spark, events_dir, tmp_path):
    """with_sumsq=True streams the Σx² partial; the read-side merge +
    finalize must produce the identical std the batch path computes."""
    events_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    pts = stream_points_from_events(stream)
    rolled = streaming_rollup(pts, tier="1m", watermark="1 minute",
                              with_sumsq=True)
    store = str(tmp_path / "var_store")
    q = start_tier_sink(rolled, store, tier="1m", trigger_once=True)
    q.awaitTermination(120)

    got = read_stream_tier(spark, store, "1m", finalize=True)
    assert "std" in got.columns and "var" in got.columns

    batch_pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    want = finalize_tier(
        rollup_tier(batch_pts.select("doc_id", "source", "ts", "value"),
                    "1m", with_sumsq=True)
    )
    cols = ["doc_id", "source", "bin_ts", "count", "mean", "var", "std"]
    g = got.select(*cols[:4], *[F.round(c, 9).alias(c) for c in cols[4:]])
    w = want.select(*cols[:4], *[F.round(c, 9).alias(c) for c in cols[4:]])
    assert g.exceptAll(w).count() == 0
    assert g.count() >= w.count() * 0.95 and g.count() > 0


def test_streaming_rollup_ohlc_moments_match_batch(spark, events_dir, tmp_path):
    """with_first/with_moments stream the open and Σx³/Σx⁴ partials; the
    read-side merge + finalize must equal the batch open/skew/kurt."""
    events_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    pts = stream_points_from_events(stream)
    rolled = streaming_rollup(pts, tier="1m", watermark="1 minute",
                              with_first=True, with_moments=True)
    store = str(tmp_path / "ohlc_store")
    q = start_tier_sink(rolled, store, tier="1m", trigger_once=True)
    q.awaitTermination(120)

    got = read_stream_tier(spark, store, "1m", finalize=True)
    assert {"open", "skew", "kurt"} <= set(got.columns)

    batch_pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    want = finalize_tier(
        rollup_tier(batch_pts.select("doc_id", "source", "ts", "value"),
                    "1m", with_first=True, with_moments=True)
    )
    cols = ["doc_id", "source", "bin_ts", "count", "open", "skew", "kurt"]
    g = got.select(*cols[:5], *[F.round(c, 6).alias(c) for c in cols[5:]])
    w = want.select(*cols[:5], *[F.round(c, 6).alias(c) for c in cols[5:]])
    assert g.exceptAll(w).count() == 0
    assert g.count() >= w.count() * 0.95 and g.count() > 0


@pytest.mark.parametrize("with_moments", [False, True])
@pytest.mark.parametrize("with_first", [False, True])
@pytest.mark.parametrize("with_sumsq", [False, True])
def test_streaming_rollup_schema_matches_rollup_tier(
        spark, with_sumsq, with_first, with_moments):
    """The stream's output columns come from the aggregate it runs, so every
    partial-flag combination has exactly ``rollup_tier``'s columns: same
    names, types and order (on a static frame the watermark is a no-op)."""
    points = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    flags = dict(with_sumsq=with_sumsq, with_first=with_first,
                 with_moments=with_moments)

    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert shape(streaming_rollup(points, "1m", **flags)) == shape(
        rollup_tier(points, "1m", **flags))
