"""The sketch-tier replay contract under a fold that lands mid-replay.

A stream sink checks the tier's ``_folded.json`` and then writes its
``batch=s<epoch>`` contribution. A compaction that folds the epoch's
earlier write between the two leaves the replayed dir next to its folded
copy. The interleaving is forced deterministically: the family's rollup is
patched to run the fold first, which is exactly after the sink's check.
"""

from __future__ import annotations

import dataclasses
from pathlib import Path

import pytest

from gensor_spark.plans import incremental
from gensor_spark.plans.incremental import TierPipeline
from gensor_spark.streaming.sketch_stream import make_sketch_sink

READS = {
    "hist": lambda pipe: pipe.read_hist_quantiles("1m"),
    "distinct": lambda pipe: pipe.read_distinct("1m"),
    "topk": lambda pipe: pipe.read_topk("1m"),
    "cms": lambda pipe: pipe.read_cms("1m"),
}


def _points(spark, values):
    rows = [("d1", "s1", f"2024-01-01 00:00:{i:02d}", float(v))
            for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "doc_id string, source string, ts string, value double"
    ).selectExpr("doc_id", "source", "cast(ts AS timestamp) AS ts", "value")


def _rows(df):
    return sorted(str(r) for r in df.collect())


@pytest.mark.parametrize("family", sorted(READS))
def test_replay_racing_a_fold_counts_its_epoch_once(spark, tmp_path,
                                                    monkeypatch, family):
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, **{f"{family}_tiers": True})
    # two epochs in one 1m bin, so counting epoch 9 twice changes every
    # family's answer except the (idempotent) HLL union
    make_sketch_sink(store, family)(_points(spark, [1, 2, 3, 4]), 8)
    epoch9 = _points(spark, [10, 11])
    make_sketch_sink(store, family)(epoch9, 9)
    want = _rows(READS[family](pipe))

    fam = incremental._SKETCH_FAMILIES[family]

    def fold_then_rollup(*args, **kwargs):
        getattr(pipe, f"compact_{family}")()
        return fam.rollup(*args, **kwargs)

    monkeypatch.setitem(incremental._SKETCH_FAMILIES, family,
                        dataclasses.replace(fam, rollup=fold_then_rollup))
    make_sketch_sink(store, family)(epoch9, 9)  # at-least-once replay
    monkeypatch.undo()

    replayed = Path(store) / f"tier_{family}_1m" / "batch=s9"
    assert replayed.exists()  # the fold really landed between check and write
    assert _rows(READS[family](pipe)) == want
    # the next fold drops the stray dir and still counts the epoch once
    getattr(pipe, f"compact_{family}")()
    assert not replayed.exists()
    assert _rows(READS[family](pipe)) == want
