"""Streaming histogram contributions vs batch percentile computation.

Two time-split micro-batches stream into the TierPipeline hist store; the
merged read must equal the from-scratch percentiles over all points — the
same associativity contract the batch pipeline's waves rely on, with bins
deliberately SPANNING the micro-batch boundary. A second test mixes batch
(pipeline run) + stream contributions in one store.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
import pytest

from gensor_spark.operators.histquantiles import rollup_quantiles
from gensor_spark.operators.points import docs_to_points, events_to_points
from gensor_spark.plans.incremental import TierPipeline
from gensor_spark.sources.synth import synth_docs
from gensor_spark.streaming.sketch_stream import start_sketch_sink

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


def _quantiles_pdf(df):
    return (df.toPandas()
            .sort_values(["doc_id", "source", "bin_ts"])
            .reset_index(drop=True))


def test_streamed_hist_equals_batch_percentiles(spark, tmp_path_factory,
                                                tmp_path):
    pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet")) \
        .select("doc_id", "source", "ts", "value")
    in_dir = _split_files(spark, tmp_path_factory, pts, "hist")
    store = str(tmp_path / "store")

    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = start_sketch_sink(stream, store, "hist", trigger_once=True)
    q.awaitTermination(180)

    pipe = TierPipeline(spark, store, hist_tiers=True)
    got = _quantiles_pdf(pipe.read_hist_quantiles("1h"))
    want = _quantiles_pdf(rollup_quantiles(pts, "1h", via_tier=None))
    assert len(got) == len(want) > 0
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12
        )


def test_stream_and_batch_contributions_share_one_store(spark,
                                                        tmp_path_factory,
                                                        tmp_path):
    """Half the data ingested by the batch pipeline, half streamed — the
    merged store answers for the union."""
    docs = synth_docs(spark, n_docs=10, seed=21, min_tok=50, max_tok=600)
    pts = docs_to_points(docs)
    store = str(tmp_path / "store")

    pipe = TierPipeline(spark, store, n_batches=2, hist_tiers=True)
    pipe.run(docs)

    extra = pts.filter("seq % 7 = 2").selectExpr(
        "doc_id", "source", "ts + INTERVAL 30 SECONDS AS ts",
        "value")
    in_dir = _split_files(spark, tmp_path_factory, extra, "mix")
    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = start_sketch_sink(stream, store, "hist", trigger_once=True)
    q.awaitTermination(180)

    everything = pts.select("doc_id", "source", "ts", "value").unionByName(extra)
    got = _quantiles_pdf(pipe.read_hist_quantiles("1h"))
    want = _quantiles_pdf(rollup_quantiles(everything, "1h", via_tier=None))
    assert len(got) == len(want) > 0
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12
        )


def test_epoch_replay_is_idempotent(spark, tmp_path_factory, tmp_path):
    """A replayed epoch must overwrite its own contribution, not append a
    duplicate — simulate the worst replay by re-running the whole stream
    with a FRESH checkpoint over the same store."""
    pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet")) \
        .select("doc_id", "source", "ts", "value")
    in_dir = _split_files(spark, tmp_path_factory, pts, "replay")
    store = str(tmp_path / "store")
    schema = spark.read.parquet(in_dir).schema

    for ck in ("c1", "c2"):  # second pass = full replay of both epochs
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = start_sketch_sink(stream, store, "hist", trigger_once=True,
                            checkpoint_dir=str(tmp_path / ck))
        q.awaitTermination(180)

    pipe = TierPipeline(spark, store, hist_tiers=True)
    got = _quantiles_pdf(pipe.read_hist_quantiles("1h"))
    want = _quantiles_pdf(rollup_quantiles(pts, "1h", via_tier=None))
    assert len(got) == len(want) > 0
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12
        )


def test_compact_then_replay_does_not_double_count(spark, tmp_path_factory,
                                                   tmp_path):
    """A COMPACT between write and replay absorbs the epochs' dirs into
    one fold and deletes them, so a replayed epoch would re-add its
    histograms. The fold records the epochs as folded in the store's
    manifest and the sink skips them — percentiles stay exact through
    write → compact → full replay → (for good measure) a second
    compact."""
    pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet")) \
        .select("doc_id", "source", "ts", "value")
    in_dir = _split_files(spark, tmp_path_factory, pts, "foldreplay")
    store = str(tmp_path / "store")
    schema = spark.read.parquet(in_dir).schema

    def run_pass(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = start_sketch_sink(stream, store, "hist", trigger_once=True,
                            checkpoint_dir=str(tmp_path / ck))
        q.awaitTermination(180)

    run_pass("c1")
    pipe = TierPipeline(spark, store, hist_tiers=True)
    pipe.compact_hist()  # folds s0/s1 into one dir and deletes them
    run_pass("c2")       # fresh checkpoint = at-least-once replay of both
    pipe.compact_hist()  # idempotent again over the (unchanged) store

    got = _quantiles_pdf(pipe.read_hist_quantiles("1h"))
    want = _quantiles_pdf(rollup_quantiles(pts, "1h", via_tier=None))
    assert len(got) == len(want) > 0
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12
        )
