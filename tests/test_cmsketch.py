"""Count-Min sketch tiers: deterministic lower bound, bit-exact cascade/merge,
point-query semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.cmsketch import (
    cascade_cms,
    estimate_cms,
    merge_cms,
    rollup_cms,
)

SF = "/root/testdata/sf0.001"
DEPTH, WIDTH = 4, 256


@pytest.fixture(scope="module")
def item_points(spark):
    """sf0.001 events as (doc_id, source, ts, item) — values floor-quantized
    to long so point queries have a discrete domain."""
    from gensor_spark.operators.points import events_to_points

    pts = (
        events_to_points(spark.read.parquet(f"{SF}/events.parquet"))
        .withColumn("item", F.floor("value").cast("long"))
        .select("doc_id", "source", "ts", "item")
    )
    df = pts.cache()
    yield df
    df.unpersist()


def _epoch(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s).astype("datetime64[ns]").astype("int64") // 10**9


def _exact(pdf: pd.DataFrame, step: int) -> pd.DataFrame:
    out = pdf.dropna(subset=["item"]).copy()
    out["bin_ts"] = (_epoch(out["ts"]) // step) * step
    return (
        out.groupby(["doc_id", "source", "bin_ts", "item"])
        .size()
        .rename("true_cnt")
        .reset_index()
    )


def test_estimate_never_undercounts(spark, item_points):
    cms = rollup_cms(item_points, "1h", of="item", depth=DEPTH, width=WIDTH)
    raw = item_points.toPandas()
    exact = _exact(raw, 3600)
    items = spark.createDataFrame(
        [(int(i),) for i in sorted(exact["item"].unique())], "item long"
    )
    est = estimate_cms(cms, items, depth=DEPTH, width=WIDTH).toPandas()
    est["bin_ts"] = _epoch(est["bin_ts"])
    merged = est.merge(
        exact, on=["doc_id", "source", "bin_ts", "item"], how="left"
    ).fillna({"true_cnt": 0})
    # the CMS one-sided guarantee is DETERMINISTIC: never an undercount
    assert (merged["est"] >= merged["true_cnt"]).all()
    # and on this fixture (fixed data, fixed hash family) the classic
    # eps*N overshoot bound holds for every query at e/width
    n_per_bin = merged.groupby(["doc_id", "source", "bin_ts"])["true_cnt"].transform("sum")
    eps = np.e / WIDTH
    assert ((merged["est"] - merged["true_cnt"]) <= eps * n_per_bin + 1e-9).all()


def test_cascade_is_counter_identical_to_direct(spark, item_points):
    direct = rollup_cms(item_points, "1h", of="item", depth=DEPTH, width=WIDTH)
    cascaded = cascade_cms(
        rollup_cms(item_points, "1m", of="item", depth=DEPTH, width=WIDTH), "1h"
    )
    cols = ["doc_id", "source", "bin_ts", "row", "col", "cnt"]
    a = direct.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = cascaded.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_merge_equals_direct_across_contributions(spark, item_points):
    lo = item_points.filter(F.dayofmonth("ts") <= 15)
    hi = item_points.filter(F.dayofmonth("ts") > 15)
    parts = rollup_cms(lo, "1d", of="item", depth=DEPTH, width=WIDTH).unionByName(
        rollup_cms(hi, "1d", of="item", depth=DEPTH, width=WIDTH)
    )
    merged = merge_cms(parts, ["doc_id", "source", "bin_ts"])
    direct = rollup_cms(item_points, "1d", of="item", depth=DEPTH, width=WIDTH)
    cols = ["doc_id", "source", "bin_ts", "row", "col", "cnt"]
    a = merged.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = direct.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_small_exact_fixture_and_absent_item(spark):
    # 3 known items in one bin, huge width => collision-free => exact,
    # and an unseen item reads 0 (all its slots empty)
    rows = [("d", "s", "2024-01-01 00:00:05", 7)] * 5 \
        + [("d", "s", "2024-01-01 00:00:10", 8)] * 3 \
        + [("d", "s", "2024-01-01 00:00:20", 9)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, ts string, item long"
    ).withColumn("ts", F.to_timestamp("ts"))
    cms = rollup_cms(df, "1m", of="item", depth=4, width=1 << 20)
    items = spark.createDataFrame([(7,), (8,), (9,), (12345,)], "item long")
    got = (
        estimate_cms(cms, items, depth=4, width=1 << 20)
        .toPandas().set_index("item")["est"].to_dict()
    )
    assert got == {7: 5, 8: 3, 9: 1, 12345: 0}


def test_nulls_ignored_and_param_validation(spark):
    df = spark.createDataFrame(
        [("d", "s", "2024-01-01 00:00:05", None),
         ("d", "s", "2024-01-01 00:00:06", 1)],
        "doc_id string, source string, ts string, item long",
    ).withColumn("ts", F.to_timestamp("ts"))
    cms = rollup_cms(df, "1m", of="item", depth=2, width=64)
    assert cms.agg(F.sum("cnt")).first()[0] == 2  # 1 item x depth 2
    with pytest.raises(ValueError):
        rollup_cms(df, "1m", of="item", depth=0)
    with pytest.raises(ValueError):
        rollup_cms(df, "1m", of="item", width=1)


# --------------------------------------------------- TierPipeline integration

def _counters(df: pd.DataFrame) -> dict:
    return {
        (r.doc_id, r.source, r.bin_ts, r.row, r.col): int(r.cnt)
        for r in df.itertuples()
    }


def test_pipeline_cms_tiers_bit_exact(spark, tmp_path):
    """TierPipeline(cms_tiers=True): batch-split counter contributions read
    back BIT-IDENTICAL to a from-scratch rollup over all points — and stay
    identical through compaction and an idempotent batch re-run."""
    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=300, seed=7, vocab=64, num_partitions=4)
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        tick_seconds=1, cms_tiers=True,
                        cms_depth=3, cms_width=128)
    pipe.run(docs)
    pts = docs_to_points(docs, tick_seconds=1)
    want = _counters(
        cascade_cms(rollup_cms(pts, "1m", depth=3, width=128), "1h").toPandas()
    )
    got = _counters(pipe.read_cms("1h").toPandas())
    assert got == want

    pipe.compact_cms()
    assert _counters(pipe.read_cms("1h").toPandas()) == want

    # idempotent re-run of one batch: overwrite, not double-union
    pipe.run(docs, batches=[0])
    assert _counters(pipe.read_cms("1h").toPandas()) == want

    # point queries through the store match the operator's estimates
    items = spark.createDataFrame([(float(i),) for i in range(4)], "item double")
    via_store = pipe.read_cms("1h", items=items).toPandas()
    direct = estimate_cms(
        cascade_cms(rollup_cms(pts, "1m", depth=3, width=128), "1h"),
        items, depth=3, width=128,
    ).toPandas()
    key = ["doc_id", "source", "bin_ts", "item"]
    pd.testing.assert_frame_equal(
        via_store.sort_values(key).reset_index(drop=True)[key + ["est"]],
        direct.sort_values(key).reset_index(drop=True)[key + ["est"]],
    )


def test_cms_stream_epochs_equal_batch_and_retention(spark, tmp_path):
    """Stream-epoch contributions merge bit-exactly with batch ones; a
    retention fold absorbs stream epochs so a replayed epoch is skipped."""
    import pandas as pd

    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs
    from gensor_spark.streaming.sketch_stream import make_sketch_sink

    docs = synth_docs(spark, n_docs=60, seed=5, vocab=32, num_partitions=4)
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, n_batches=2, tick_seconds=60,
                        cms_tiers=True, cms_depth=3, cms_width=128)
    pipe.run(docs)
    sink = make_sketch_sink(store, "cms", depth=3, width=128)
    extra = docs_to_points(docs.limit(5), tick_seconds=60)
    sink(extra, 9)

    # streamed + batch contributions == one rollup over the union
    pts = docs_to_points(docs, tick_seconds=60)
    want = _counters(
        merge_cms(
            cascade_cms(rollup_cms(pts, "1m", depth=3, width=128), "1h")
            .unionByName(
                cascade_cms(rollup_cms(extra, "1m", depth=3, width=128), "1h")
            ),
            ["doc_id", "source", "bin_ts"],
        ).toPandas()
    )
    before = _counters(pipe.read_cms("1h").toPandas())
    assert before == want

    bins = sorted({b for (_, _, b, _, _) in before})
    mid = bins[len(bins) // 2]
    now = bins[-1] + pd.Timedelta("1h")
    cutoff = pipe.apply_cms_retention(str(now - mid), now=now)
    after = _counters(pipe.read_cms("1h").toPandas())
    cut = pd.Timestamp(cutoff)
    survivors = {k: v for k, v in before.items() if k[2] >= cut}
    assert 0 < len(after) == len(survivors) < len(before)
    assert after == survivors

    # replay of the absorbed stream epoch: skipped, state unchanged
    sink(extra, 9)
    assert _counters(pipe.read_cms("1h").toPandas()) == after
    import pathlib
    assert not list((pathlib.Path(store) / "tier_cms_1m").glob("batch=s9-*"))
