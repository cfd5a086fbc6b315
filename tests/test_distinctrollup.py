"""HLL distinct-count tier rollups: cascade associativity, sparse-regime
exactness vs DuckDB COUNT(DISTINCT), and the dense-regime accuracy bound."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.distinctrollup import (
    cascade_distinct,
    finalize_distinct,
    rollup_distinct,
)
from gensor_spark.operators.points import events_to_points

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    df = events_to_points(
        spark.read.parquet(f"{SF}/events.parquet")).cache()
    yield df
    df.unpersist()


def _collect(df):
    return {(r.doc_id, r.source, r.bin_ts): int(r.n_distinct)
            for r in df.collect()}


def test_cascade_equals_direct_all_tiers(spark, pts):
    """Union takes per-register max -> the cascaded sketch is register-
    identical to direct aggregation: estimates must agree EXACTLY at every
    tier, including the two-hop 1m -> 1h -> 1d path."""
    m1 = rollup_distinct(pts, "1m")
    h_casc = cascade_distinct(m1, "1h")
    assert _collect(finalize_distinct(h_casc)) == _collect(
        finalize_distinct(rollup_distinct(pts, "1h")))
    assert _collect(finalize_distinct(cascade_distinct(h_casc, "1d"))) == \
        _collect(finalize_distinct(rollup_distinct(pts, "1d")))


def test_sparse_regime_matches_duckdb_exact(spark, pts):
    """At test-scale bin cardinalities the Datasketches HLL is in its exact
    sparse regime: estimates equal DuckDB's COUNT(DISTINCT) on every bin
    (distinctness via the injective double->string repr both sides)."""
    got = _collect(finalize_distinct(
        cascade_distinct(rollup_distinct(pts, "1m"), "1h")))
    con = duckdb.connect()
    want = {
        (r[0], r[1], r[2]): int(r[3])
        for r in con.execute(f"""
            SELECT user_id::VARCHAR AS doc_id, event_type AS source,
                   to_timestamp(floor(epoch(ts) / 3600) * 3600) AS bin_ts,
                   count(DISTINCT value) AS d
            FROM read_parquet('{SF}/events.parquet')
            WHERE value IS NOT NULL GROUP BY 1, 2, 3
        """).fetchall()
    }
    # bin_ts values: Spark returns tz-naive timestamps under the UTC
    # session; DuckDB to_timestamp is tz-aware — compare on naive values
    want = {(d, s, t.replace(tzinfo=None)): v for (d, s, t), v in want.items()}
    assert got == want and len(got) > 100


def test_dense_regime_accuracy(spark):
    """Past the sparse regime the standard HLL error bound holds: 50k
    distinct ints per bin estimated within 5% (~3 sigma at lgConfigK=12,
    where sigma = 1.04/sqrt(2^12) ~= 1.6%)."""
    df = spark.range(50_000).select(
        F.lit("d").alias("doc_id"), F.lit("s").alias("source"),
        F.lit("2024-01-01 00:00:30").cast("timestamp").alias("ts"),
        F.col("id").alias("value"),
    )
    out = finalize_distinct(rollup_distinct(df, "1m", of="value")).collect()
    assert len(out) == 1
    assert abs(out[0].n_distinct - 50_000) / 50_000 < 0.05


def test_pipeline_distinct_tiers(spark, tmp_path):
    """TierPipeline(distinct_tiers=True): batch-split sketch contributions
    merge to the same estimates as a from-scratch rollup over all points —
    and stay identical through compaction and an idempotent batch re-run."""
    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=300, seed=7, num_partitions=4)
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        tick_seconds=1, distinct_tiers=True)
    pipe.run(docs)
    want = _collect(finalize_distinct(
        rollup_distinct(docs_to_points(docs, tick_seconds=1), "1h")))

    def close(got):
        # identical keys; estimates equal except at the sparse->dense
        # transition (~500 items at lgk=12), where a direct sketch converts
        # to the lossy dense representation earlier than a union of small
        # sparse contributions — those bins carry the standard HLL error
        # (sigma ~1.6% at lgk=12; allow 3 sigma)
        assert set(got) == set(want) and len(got) > 0
        for k, v in want.items():
            assert abs(got[k] - v) <= max(1, 0.05 * v), (k, got[k], v)

    close(_collect(pipe.read_distinct("1h")))

    pipe.compact_distinct()
    first = _collect(pipe.read_distinct("1h"))
    close(first)

    # idempotent re-run of one batch: overwrite, not double-union — the
    # stored state must be EXACTLY what it was before the re-run
    pipe.run(docs, batches=[0])
    assert _collect(pipe.read_distinct("1h")) == first


def test_distinct_retention(spark, tmp_path):
    """apply_distinct_retention: 1m bins older than the cutoff drop,
    surviving estimates are bit-identical, and the retention fold absorbs
    stream epochs so a replayed epoch afterwards is skipped (never
    double-counted)."""
    import pandas as pd

    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs
    from gensor_spark.streaming.sketch_stream import make_sketch_sink

    docs = synth_docs(spark, n_docs=60, seed=5, num_partitions=4)
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, n_batches=2, tick_seconds=60,
                        distinct_tiers=True)
    pipe.run(docs)
    # one stream contribution too, so retention's fold has an epoch to absorb
    sink = make_sketch_sink(store, "distinct")
    extra = docs_to_points(docs.limit(5), tick_seconds=60)
    sink(extra, 9)

    before = _collect(pipe.read_distinct("1h"))
    bins = sorted({b for (_, _, b) in before})
    mid = bins[len(bins) // 2]
    now = bins[-1] + pd.Timedelta("1h")
    cutoff = pipe.apply_distinct_retention(str(now - mid), now=now)
    after = _collect(pipe.read_distinct("1h"))
    cut = pd.Timestamp(cutoff)
    assert all(b >= cut for (_, _, b) in after)
    survivors = {k: v for k, v in before.items() if k[2] >= cut}
    assert 0 < len(after) == len(survivors) < len(before)
    assert after == survivors

    # replay of the absorbed stream epoch: skipped, state unchanged
    sink(extra, 9)
    assert _collect(pipe.read_distinct("1h")) == after
    assert not list(
        (tmp_path / "store" / "tier_distinct_1m").glob("batch=s9-*"))


def test_registry_rollup_distinct_runs(spark):
    from gensor_spark.queries import QUERIES

    out = QUERIES["rollup_distinct"](spark, SF)
    pdf = out.toPandas()
    assert list(pdf.columns) == ["doc_id", "source", "bin_ts", "nd"]
    assert len(pdf) > 0 and (pdf["nd"] >= 1).all()
