"""Point view: explode/collapse round-trip = token-array equality gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from gensor_spark.operators.points import docs_to_points, points_to_docs


def test_token_roundtrip_exact(spark, docs_small):
    points = docs_to_points(docs_small)
    back = points_to_docs(points)
    joined = docs_small.alias("a").join(back.alias("b"), ["doc_id", "source"], "full")
    bad = joined.filter(
        (F.col("a.tokens").isNull())
        | (F.col("b.tokens").isNull())
        | (F.col("a.tokens") != F.col("b.tokens"))
    )
    assert bad.count() == 0
    assert back.count() == docs_small.count()


def test_point_view_shape(spark, docs_small):
    points = docs_to_points(docs_small)
    n_points = points.count()
    n_tokens = docs_small.agg(F.sum("n_tok")).collect()[0][0]
    assert n_points == n_tokens
    # ts is an affine function of seq: tick=60s
    chk = points.withColumn(
        "expect_ts",
        F.lit("2024-01-01 00:00:00").cast("timestamp")
        + F.make_interval(secs=F.col("seq").cast("double") * F.lit(60.0)),
    )
    assert chk.filter(F.col("ts") != F.col("expect_ts")).count() == 0


def test_synth_docs_deterministic_across_parallelism(spark):
    from gensor_spark.sources.synth import synth_docs

    a = synth_docs(spark, n_docs=30, seed=11, num_partitions=1).orderBy("doc_id").collect()
    b = synth_docs(spark, n_docs=30, seed=11, num_partitions=8).orderBy("doc_id").collect()
    assert a == b


def test_events_to_points_orders_seq_and_builds_with_few_calls(
        spark, py4j_calls):
    from datetime import datetime

    from gensor_spark.operators.points import events_to_points

    t = [datetime(2024, 1, 1, 0, m) for m in range(3)]
    events = spark.createDataFrame(
        [(1, "a", t[2], 1.0, 10), (1, "a", t[1], 2.0, 12),
         (1, "a", t[1], 3.0, 11), (2, "a", t[0], 4.0, 13),
         (1, "b", t[0], 5.0, 14)],
        "user_id bigint, event_type string, ts timestamp_ntz, value float, "
        "event_id bigint")
    pts = events_to_points(events)
    assert pts.columns == ["doc_id", "source", "ts", "value", "seq"]
    assert [f.dataType.simpleString() for f in pts.schema.fields] == [
        "string", "string", "timestamp", "double", "int"]
    # seq: per series, by ts, ties by event_id
    got = {(r.doc_id, r.source, r.seq): r.value for r in pts.collect()}
    assert got == {("1", "a", 0): 3.0, ("1", "a", 1): 2.0,
                   ("1", "a", 2): 1.0, ("2", "a", 0): 4.0, ("1", "b", 0): 5.0}
    # two projection strings, not one Py4J call per F.* node (was 228)
    assert py4j_calls(lambda: events_to_points(events)) <= 40
