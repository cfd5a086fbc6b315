"""The sketch-tier replay contract under writes that race each other.

A stream sink checks the store's manifest, writes its epoch to a fresh
dir and commits it. Two races are forced deterministically by patching a
hook that runs between one writer's listing and its commit: a replay whose
check passed while a fold and another replay of the same epoch commit, and
a write (a stream epoch, a ``run()`` batch) that commits while a fold runs.
Each write must be counted exactly once, and the store must read like a
from-scratch one built from the same inputs.
"""

from __future__ import annotations

import dataclasses

import pytest

from gensor_spark.plans import incremental
from gensor_spark.plans.incremental import TIERS, TierPipeline
from gensor_spark.sources.synth import synth_docs
from gensor_spark.streaming.sketch_stream import make_sketch_sink
from tests.test_incremental import _killed

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
    only8 = _rows(READS[family](pipe))
    epoch9 = _points(spark, [10, 11])
    ref = str(tmp_path / "ref")
    for e, pts in ((8, _points(spark, [1, 2, 3, 4])), (9, epoch9)):
        make_sketch_sink(ref, family)(pts, e)
    want = _rows(READS[family](TierPipeline(spark, ref,
                                            **{f"{family}_tiers": True})))

    # the first attempt of epoch 9 dies before its commit: not counted
    with _killed(monkeypatch, after=False):
        make_sketch_sink(store, family)(epoch9, 9)
    assert _rows(READS[family](pipe)) == only8

    # its replay passes the check; then a fold and a second replay commit
    # before it does
    fam = incremental._SKETCH_FAMILIES[family]
    raced = []

    def race_then_rollup(*args, **kwargs):
        if not raced:
            raced.append(True)
            getattr(pipe, f"compact_{family}")()
            make_sketch_sink(store, family)(epoch9, 9)
        return fam.rollup(*args, **kwargs)

    monkeypatch.setitem(incremental._SKETCH_FAMILIES, family,
                        dataclasses.replace(fam, rollup=race_then_rollup))
    make_sketch_sink(store, family)(epoch9, 9)
    monkeypatch.undo()
    assert raced
    assert _rows(READS[family](pipe)) == want
    # the next fold absorbs epoch 9 once, and a later replay is skipped
    getattr(pipe, f"compact_{family}")()
    assert pipe._manifest()["epochs"][f"{family}_1m"] == ["s8", "s9"]
    assert len(pipe._manifest()["tiers"][f"{family}_1m"]) == 1
    make_sketch_sink(store, family)(epoch9, 9)
    assert _rows(READS[family](pipe)) == want


def test_epoch_killed_after_its_commit_is_skipped_on_replay(spark, tmp_path,
                                                            monkeypatch):
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, cms_tiers=True)
    with _killed(monkeypatch, after=True):
        make_sketch_sink(store, "cms")(_points(spark, [1, 2, 3]), 0)
    want = _rows(pipe.read_cms("1m"))
    assert want
    make_sketch_sink(store, "cms")(_points(spark, [1, 2, 3]), 0)
    assert _rows(pipe.read_cms("1m")) == want
    assert len(list((pipe.store / "tier_cms_1m").glob("batch=*"))) == 1


_RUN_DOCS = {"n_docs": 8, "seed": 4, "min_tok": 50, "max_tok": 400}


@pytest.mark.parametrize("writer", [*sorted(READS), "tier_1m"])
def test_write_committed_during_a_fold_is_kept(spark, tmp_path, monkeypatch,
                                               writer):
    """A write that commits between a fold's listing and its commit — a
    stream epoch during ``compact_<family>()``, a ``run()`` batch of another
    pipeline during ``compact("1m")`` — is kept, and every read equals a
    from-scratch store's over the same inputs. The write is hooked onto the
    fold's output write, which runs after its listing."""
    if writer == "tier_1m":
        docs = synth_docs(spark, **_RUN_DOCS)
        flags = {"n_batches": 2}

        def write(store, i):
            TierPipeline(spark, store, **flags).run(docs, batches=[i])

        def read(pipe):
            return [_rows(pipe.read_tier(t)) for t in TIERS]

        def fold(pipe):
            pipe.compact("1m")
    else:
        flags = {f"{writer}_tiers": True}
        values = ([1, 2, 3, 4], [10, 11])

        def write(store, i):
            make_sketch_sink(store, writer)(_points(spark, values[i]), 8 + i)

        def read(pipe):
            return _rows(READS[writer](pipe))

        def fold(pipe):
            getattr(pipe, f"compact_{writer}")()

    ref = str(tmp_path / "ref")
    write(ref, 0)
    write(ref, 1)
    want = read(TierPipeline(spark, ref, **flags))

    store = str(tmp_path / "store")
    write(store, 0)
    pipe = TierPipeline(spark, store, **flags)
    fold_write = pipe._write_counted
    hooked = []

    def write_during_fold(df, path):
        if not hooked:
            hooked.append(path)
            write(store, 1)
        return fold_write(df, path)

    monkeypatch.setattr(pipe, "_write_counted", write_during_fold)
    fold(pipe)
    monkeypatch.undo()
    assert hooked
    assert read(pipe) == want
    fold(pipe)
    assert read(pipe) == want
