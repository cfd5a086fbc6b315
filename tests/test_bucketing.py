"""Bucketed point layout: plan-level proof the shuffle disappears on reread."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gensor_spark.plans.bucketing import (
    is_bucket_satisfied,
    read_bucketed,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_points(spark, tmp_path_factory):
    from gensor_spark.operators.points import events_to_points

    pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    base = tmp_path_factory.mktemp("bucketed")
    write_bucketed(pts, "bkt_points", 8, path=str(base / "points"))
    write_bucketed(pts.withColumnRenamed("value", "value2"),
                   "bkt_points_b", 8, path=str(base / "points_b"))
    yield read_bucketed(spark, "bkt_points")
    spark.sql("DROP TABLE IF EXISTS bkt_points")
    spark.sql("DROP TABLE IF EXISTS bkt_points_b")


def test_groupby_on_bucket_keys_has_no_exchange(spark, bucketed_points):
    agg = bucketed_points.groupBy("doc_id", "source").agg(
        F.count("*").alias("n"), F.avg("value").alias("m"))
    assert is_bucket_satisfied(agg), _plan(agg)
    # and the result matches the unbucketed plan exactly
    from gensor_spark.operators.points import events_to_points
    plain = (
        events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n"), F.avg("value").alias("m"))
    )
    a = sorted(map(tuple, agg.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_groupby_on_superset_has_no_exchange(bucketed_points):
    """Tier-rollup shape: grouping on (keys, bin) — hash on the bucket
    subset co-locates the superset grouping, so no Exchange."""
    binned = bucketed_points.withColumn(
        "bin_ts", F.date_trunc("hour", "ts"))
    agg = binned.groupBy("doc_id", "source", "bin_ts").agg(
        F.min("value"), F.max("value"))
    assert is_bucket_satisfied(agg), _plan(agg)


def test_colocated_join_has_no_exchange(spark, bucketed_points):
    """Enrich points with per-series stats from a second table bucketed the
    same way: join keys == bucket keys → co-located SMJ, zero Exchange on
    EITHER side (Spark's planner disables bucketed scans when the join
    keys are a strict superset of the bucket columns unless
    ``spark.sql.requireAllClusterKeysForCoPartition`` is relaxed — see
    test_superset_join below — so the exact-key join is the layout's
    bread-and-butter shape)."""
    other = (
        read_bucketed(spark, "bkt_points_b")
        .groupBy("doc_id", "source")
        .agg(F.avg("value2").alias("series_mean"))
    )
    # at test scale AQE prefers broadcast (also shuffle-free but proves
    # nothing about the layout); the MERGE hint forces the sort-merge path
    # a 100 TB join would take — which must then be Exchange-free
    joined = bucketed_points.hint("merge").join(
        other, ["doc_id", "source"])
    plan = _plan(joined)
    assert "Exchange" not in plan, plan
    assert joined.count() > 0


def test_superset_join_with_relaxed_copartition(spark, bucketed_points):
    """Join on (keys, ts) — a SUPERSET of the bucket columns. Subset hash
    partitioning co-locates equal superset keys, but since Spark 3.3 the
    planner only exploits that when
    ``requireAllClusterKeysForCoPartition`` is off; with it off the
    point-to-point alignment join runs without reshuffling either side."""
    key = "spark.sql.requireAllClusterKeysForCoPartition"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        other = read_bucketed(spark, "bkt_points_b").select(
            "doc_id", "source", "ts", "value2")
        joined = bucketed_points.hint("merge").join(
            other, ["doc_id", "source", "ts"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set(key, old)


def test_window_on_bucket_keys_has_no_exchange(bucketed_points):
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id", "source").orderBy("ts")
    out = bucketed_points.withColumn("rn", F.row_number().over(w))
    assert is_bucket_satisfied(out), _plan(out)


def test_one_file_per_bucket(spark, bucketed_points):
    """The repartition-before-write collapses files to one per bucket —
    the condition for the scan to expose the sortBy ordering."""
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED bkt_points")
        .filter(F.col("col_name") == "Location").first()["data_type"]
    )
    import pathlib
    files = [p for p in pathlib.Path(loc.replace("file:", "")).glob("part-*")
             if p.suffix == ".parquet" or p.name.endswith(".parquet")]
    assert len(files) == 8, files


def test_degraded_guard_detects_mismatched_buckets(spark, bucketed_points, tmp_path):
    """A join against a table bucketed at a DIFFERENT count re-plans with
    an Exchange — and the guard says so instead of lying."""
    from gensor_spark.operators.points import events_to_points

    pts = events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
    write_bucketed(pts.selectExpr("doc_id", "source", "ts", "value as v3"),
                   "bkt_points_12", 12, path=str(tmp_path / "p12"))
    try:
        other = read_bucketed(spark, "bkt_points_12")
        joined = bucketed_points.hint("merge").join(
            other, ["doc_id", "source", "ts"])
        assert not is_bucket_satisfied(joined)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_points_12")


def test_validation(bucketed_points):
    with pytest.raises(ValueError):
        write_bucketed(bucketed_points, "nope", 0)


# ------------------------------------------------- tier-store bucketed fold

def test_tier_store_bucketed_compact_roundtrip(spark, tmp_path, request):
    """compact(tier, bucket=N): the folded tier becomes a bucketed catalog
    table; read_tier's partial merge then plans with ZERO Exchange and
    identical values. A later batch degrades gracefully to the plain union
    scan; a later plain compact retires the catalog entry (no stale
    bucketed claim over plain files)."""
    import pandas as pd

    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.operators.rollup import finalize_tier, rollup_tier
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=40, seed=21, min_tok=5, max_tok=200).cache()
    request.addfinalizer(docs.unpersist)
    pipe = TierPipeline(spark, str(tmp_path / "bkt_store"), n_batches=2)
    pipe.run(docs, batches=[0])
    before = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
              .toPandas().reset_index(drop=True))

    pipe.compact("1h", bucket=8)
    merged = pipe.read_tier("1h", finalize=False)
    assert is_bucket_satisfied(merged), _plan(merged)
    after = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
             .toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(before, after)

    # second batch arrives: catalog goes advisory-stale, reads fall back to
    # the plain union scan and stay CORRECT
    pipe.run(docs, batches=[1])
    full = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
            .toPandas().reset_index(drop=True))
    want = (
        finalize_tier(rollup_tier(docs_to_points(docs), "1h"))
        .orderBy("doc_id", "source", "bin_ts").toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(full, want)

    # plain re-compact: catalog entry must be gone, values unchanged
    pipe.compact("1h")
    assert not spark.catalog.tableExists(pipe._bucket_table("1h"))
    again = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
             .toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(again, want)

    # re-bucket the full store: fast path returns, still equal
    pipe.compact("1h", bucket=8)
    m2 = pipe.read_tier("1h", finalize=False)
    assert is_bucket_satisfied(m2), _plan(m2)
    final = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
             .toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(final, want)
    spark.sql(f"DROP TABLE IF EXISTS {pipe._bucket_table('1h')}")


def test_tier_store_bucket_validations(spark, tmp_path):
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=8, seed=1, min_tok=5, max_tok=50)
    pipe = TierPipeline(spark, str(tmp_path / "v"), n_batches=1)
    pipe.run(docs)
    with pytest.raises(ValueError, match="exclusive"):
        pipe.compact("1h", zorder=True, bucket=4)


def test_failed_plain_rewrite_keeps_bucketed_fast_path(spark, tmp_path,
                                                       monkeypatch):
    """A plain rewrite that fails while writing tmp leaves the bucketed tier
    AND its catalog entry live: reads keep the zero-Exchange fast path."""
    import pandas as pd

    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=12, seed=5, min_tok=5, max_tok=120)
    pipe = TierPipeline(spark, str(tmp_path / "bkt_fail"), n_batches=1)
    pipe.run(docs)
    pipe.compact("1h", bucket=4)
    want = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
            .toPandas().reset_index(drop=True))

    def failing_write(df, path):
        raise RuntimeError("tmp write failed")

    monkeypatch.setattr(pipe, "_write_counted", failing_write)
    with pytest.raises(RuntimeError, match="tmp write failed"):
        pipe.compact("1h")
    monkeypatch.undo()

    merged = pipe.read_tier("1h", finalize=False)
    assert is_bucket_satisfied(merged), _plan(merged)
    got = (pipe.read_tier("1h").orderBy("doc_id", "source", "bin_ts")
           .toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)
    spark.sql(f"DROP TABLE IF EXISTS {pipe._bucket_table('1h')}")
