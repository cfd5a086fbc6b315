"""Streaming HLL contributions vs batch distinct computation.

The hist_stream contract replayed for the distinct sketches: two time-split
micro-batches (bins spanning the boundary) must merge to the same estimates
as a from-scratch rollup; batch + stream contributions share one store; a
replayed epoch is idempotent, including after a compacting fold."""

from __future__ import annotations

import shutil
import time

import pytest

from gensor_spark.operators.distinctrollup import finalize_distinct, rollup_distinct
from gensor_spark.operators.points import docs_to_points, events_to_points
from gensor_spark.plans.incremental import TierPipeline
from gensor_spark.sources.synth import synth_docs
from gensor_spark.streaming.sketch_stream import make_sketch_sink, start_sketch_sink

SF = "/root/testdata/sf0.001"


def _split_files(spark, tmp_path_factory, df, name):
    d = tmp_path_factory.mktemp(f"{name}_in")
    mid = df.selectExpr("percentile(unix_micros(ts), 0.5) p").collect()[0].p
    df.filter(f"unix_micros(ts) <= {mid}").coalesce(1).write.mode(
        "overwrite").parquet(str(d / "a"))
    time.sleep(1.1)
    df.filter(f"unix_micros(ts) > {mid}").coalesce(1).write.mode(
        "overwrite").parquet(str(d / "b"))
    out = tmp_path_factory.mktemp(f"{name}_flat")
    for i, sub in enumerate(("a", "b")):
        src = next((d / sub).glob("*.parquet"))
        shutil.copy(src, out / f"{i}_{src.name}")
        time.sleep(1.1)
    return str(out)


def _estimates(df):
    return {(r.doc_id, r.source, r.bin_ts): int(r.n_distinct)
            for r in df.collect()}


@pytest.fixture()
def event_pts(spark):
    return events_to_points(
        spark.read.parquet(f"{SF}/events.parquet")
    ).select("doc_id", "source", "ts", "value")


def test_streamed_distinct_equals_batch(spark, tmp_path_factory, tmp_path,
                                        event_pts):
    in_dir = _split_files(spark, tmp_path_factory, event_pts, "dsk")
    store = str(tmp_path / "store")
    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = start_sketch_sink(stream, store, "distinct", trigger_once=True)
    q.awaitTermination(180)

    pipe = TierPipeline(spark, store, distinct_tiers=True)
    got = _estimates(pipe.read_distinct("1h"))
    want = _estimates(finalize_distinct(rollup_distinct(event_pts, "1h")))
    assert got == want and len(got) > 100


def test_stream_batch_share_store_and_folded_replay(spark, tmp_path_factory,
                                                    tmp_path):
    """Half batch-ingested, half streamed, one store; then a compact fold
    followed by an epoch replay must not double-count."""
    docs = synth_docs(spark, n_docs=12, seed=3, min_tok=50, max_tok=400)
    pts = docs_to_points(docs)
    store = str(tmp_path / "store")

    half_a = docs.filter("xxhash64(doc_id) % 2 = 0")
    half_b_pts = pts.join(half_a.select("doc_id"), "doc_id", "left_anti")

    pipe = TierPipeline(spark, store, n_batches=1, distinct_tiers=True)
    pipe.run(half_a)
    sink = make_sketch_sink(store, "distinct")
    sink(half_b_pts, 0)

    want = _estimates(finalize_distinct(rollup_distinct(pts, "1h")))
    assert _estimates(pipe.read_distinct("1h")) == want

    # replay before fold: skipped, same state
    sink(half_b_pts, 0)
    assert _estimates(pipe.read_distinct("1h")) == want

    # fold, then replay the folded epoch: must be skipped entirely
    pipe.compact_distinct()
    sink(half_b_pts, 0)
    assert _estimates(pipe.read_distinct("1h")) == want
    base = tmp_path / "store" / "tier_distinct_1m"
    assert not list(base.glob("batch=s0-*"))
