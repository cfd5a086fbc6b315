"""Streaming Misra-Gries contributions vs batch top-k computation.

The hist/distinct stream contract replayed for the top-k summaries: in the
exact regime (k above per-contribution bin cardinality) two time-split
micro-batches must merge to EXACTLY the from-scratch rollup; in the
truncated regime the merged certificate bounds must hold vs exact truth;
batch + stream contributions share one store; a replayed epoch is
idempotent, including after a compacting fold."""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.points import docs_to_points, events_to_points
from gensor_spark.operators.topkrollup import (
    cascade_topk,
    finalize_topk,
    rollup_topk,
)
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


def _by_bin(df):
    out, errs = {}, {}
    for r in df.collect():
        key = (r.doc_id, r.source, r.bin_ts)
        errs[key] = int(r.err)
        out.setdefault(key, {})
        if r.item is not None:
            out[key][r.item] = (int(r.cnt), int(r.cnt_hi))
    return out, errs


@pytest.fixture()
def event_pts(spark):
    return events_to_points(
        spark.read.parquet(f"{SF}/events.parquet")
    ).select("doc_id", "source", "ts", "value")


def test_streamed_topk_equals_batch_exact_regime(spark, tmp_path_factory,
                                                 tmp_path, event_pts):
    """k=512 >> per-bin cardinality: no truncation anywhere, so the
    stream-split store must read EXACTLY equal to a from-scratch rollup."""
    in_dir = _split_files(spark, tmp_path_factory, event_pts, "tks")
    store = str(tmp_path / "store")
    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = start_sketch_sink(stream, store, "topk", k=512, trigger_once=True)
    q.awaitTermination(180)

    pipe = TierPipeline(spark, store, topk_tiers=True, topk_k=512)
    got = _by_bin(pipe.read_topk("1h"))
    want = _by_bin(finalize_topk(rollup_topk(event_pts, "1h", k=512)))
    assert got == want and len(got[0]) > 100


def test_streamed_topk_certificate_truncated(spark, tmp_path):
    """Small k with a skewed token stream split into two epochs: the merged
    certificate bounds must hold vs exact truth over the union, and the
    heavy token must be kept."""
    k = 8
    pts = docs_to_points(
        synth_docs(spark, n_docs=40, seed=11, vocab=48, num_partitions=4),
        tick_seconds=1,
    ).withColumn(
        # plant a heavy hitter: every 3rd point becomes token -1
        "value", F.when(F.col("seq") % 3 == 0, F.lit(-1.0))
        .otherwise(F.col("value"))
    ).select("doc_id", "source", "ts", "value").cache()
    store = str(tmp_path / "store")
    sink = make_sketch_sink(store, "topk", k=k)
    sink(pts.filter(F.second("ts") % 2 == 0), 0)
    sink(pts.filter(F.second("ts") % 2 == 1), 1)

    truth = {}
    for r in pts.groupBy(
        "doc_id", "source",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 3600).cast("long") * 3600
        ).alias("bin_ts"), "value",
    ).count().collect():
        truth.setdefault((r.doc_id, r.source, r.bin_ts), {})[r.value] = int(
            r["count"])

    pipe = TierPipeline(spark, store, topk_tiers=True, topk_k=k)
    got, errs = _by_bin(pipe.read_topk("1h"))
    assert set(got) == set(truth)
    for key, items in truth.items():
        err, total = errs[key], sum(items.values())
        assert err * (k + 1) <= total + k  # err <= ceil(n/(k+1))
        for item, (cnt, hi) in got[key].items():
            assert cnt <= items[item] <= cnt + err and hi == cnt + err
        for item, true in items.items():
            if item not in got[key]:
                assert true <= err
        # the planted ~33% heavy hitter always survives (33% > 1/(k+1))
        assert -1.0 in got[key]
    pts.unpersist()


def test_stream_batch_share_store_and_folded_replay(spark, tmp_path):
    """Half batch-ingested, half streamed, one store; then a compact fold
    followed by an epoch replay must not double-count. Exact regime so
    equality is bit-for-bit."""
    k = 256
    docs = synth_docs(spark, n_docs=12, seed=3, min_tok=50, max_tok=400,
                      vocab=64)
    pts = docs_to_points(docs)
    store = str(tmp_path / "store")

    half_a = docs.filter("xxhash64(doc_id) % 2 = 0")
    half_b_pts = pts.join(half_a.select("doc_id"), "doc_id", "left_anti")

    pipe = TierPipeline(spark, store, n_batches=1, topk_tiers=True, topk_k=k)
    pipe.run(half_a)
    sink = make_sketch_sink(store, "topk", k=k)
    sink(half_b_pts, 0)

    want = _by_bin(finalize_topk(rollup_topk(pts, "1h", k=k)))
    assert _by_bin(pipe.read_topk("1h")) == want

    # replay before fold: skipped, same state
    sink(half_b_pts, 0)
    assert _by_bin(pipe.read_topk("1h")) == want

    # fold, then replay the folded epoch: must be skipped entirely
    pipe.compact_topk()
    sink(half_b_pts, 0)
    assert _by_bin(pipe.read_topk("1h")) == want
    base = tmp_path / "store" / "tier_topk_1m"
    assert not list(base.glob("batch=s0-*"))
