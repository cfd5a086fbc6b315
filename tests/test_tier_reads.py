"""The tier read path: the per-pipeline schema memo behind every tier scan,
the frame memo keyed by the tier's manifest entries, the one-task scan of
small tiers, and histogram quantile reads straight from the unmerged 1m
contributions.

A tier read passes the schema it remembers for the directory instead of
letting Spark infer it with a job; the memo must equal what a fresh
inference gives after every kind of write the store sees. A read whose data
files sum to at most ``spark.sql.files.openCostInBytes`` runs as one task
with no exchange and must return exactly the rows of the split scan. A
quantile read re-bins the visible contributions inside the quantile window;
it must equal merge → cascade → quantiles exactly, with one hash exchange
when the scan is split. A read of an unchanged store returns the frame the
last read built; after any write the next read must equal a fresh
pipeline's.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from datetime import timedelta

import pytest
from pyspark.sql.types import StructType

from gensor_spark.operators.histquantiles import (
    cascade_hist,
    merge_hist,
    quantiles_from_hist,
)
from gensor_spark.operators.points import docs_to_points
from gensor_spark.plans.incremental import TierPipeline, read_range
from gensor_spark.sources.synth import synth_docs
from gensor_spark.streaming.sketch_stream import make_sketch_sink


@pytest.fixture(scope="module")
def docs(spark):
    # ~12 docs × up to ~2 days of 1-minute points
    df = synth_docs(spark, n_docs=12, seed=5, min_tok=100,
                    max_tok=3000).cache()
    yield df
    df.unpersist()


def _late(points, mod: int, rem: int, shift_s: int, add: int):
    """A late delta that lands in bins the batches already cover."""
    return points.filter(f"seq % {mod} = {rem}").selectExpr(
        "doc_id", "source", "seq",
        f"ts + INTERVAL {shift_s} SECONDS AS ts", f"value + {add} AS value")


def _fresh_schema(spark, base) -> StructType:
    parts = sorted(str(p) for p in base.glob("batch=*")
                   if (p / "_SUCCESS").exists())
    df = spark.read.option("basePath", str(base)).parquet(*parts)
    return StructType([f for f in df.schema.fields if f.name != "batch"])


def _read_every_tier(pipe: TierPipeline) -> None:
    """Build (no action) a read of every tier directory in the store."""
    for d in sorted(pipe.store.glob("tier_*")):
        name = d.name[len("tier_"):]
        if name == "hist_1m":
            pipe.read_hist_quantiles("1h")
        else:
            pipe.read_tier(name)


def test_schema_memo_matches_fresh_inference(spark, docs, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        hist_tiers=True)
    points = docs_to_points(docs)
    cal_rows = []

    def refresh():
        cal_rows.append(pipe.refresh_calendar("month"))

    steps = [
        ("run", lambda: pipe.run(docs)),
        ("wave", lambda: pipe.ingest_points_wave(
            _late(points, 13, 5, 30, 7), wave=1)),
        ("compact 1m", lambda: pipe.compact("1m")),
        ("retention", lambda: pipe.apply_retention(
            {"1m": "1 day", "1h": "30 days"}, now="2024-01-03")),
        ("compact_hist", pipe.compact_hist),
        ("hist epoch", lambda: make_sketch_sink(str(pipe.store), "hist")(
            _late(points, 17, 3, 10, 3).drop("seq"), 9)),
        ("calendar", refresh),
        ("calendar again", refresh),
    ]
    for step, act in steps:
        act()
        _read_every_tier(pipe)
        tiers = sorted(d.name for d in pipe.store.glob("tier_*"))
        assert sorted(pipe._schemas) == tiers, step
        for name in tiers:
            assert pipe._schemas[name] == _fresh_schema(
                spark, pipe.store / name), (step, name)
        assert "batch" not in {
            f.name for s in pipe._schemas.values() for f in s.fields}

    # refresh_calendar's row count comes from its write, on both branches
    assert cal_rows == [pipe.read_tier("month").count()] * 2
    pipe.reset()
    assert pipe._schemas == {}


def _tasks_per_job(spark, build) -> list[int]:
    """Task count of each job that ``build()`` submits."""
    sc = spark.sparkContext
    group = f"tier-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one plan build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [sum(tracker.getStageInfo(s).numTasks
                for s in tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(group)]


def _jobs_submitted(spark, build) -> int:
    return len(_tasks_per_job(spark, build))


def _data_bytes(base) -> int:
    """Bytes of the data files of every contribution of a tier dir."""
    return sum(f.stat().st_size for f in base.glob("batch=*/part-*"))


@contextmanager
def _open_cost(spark, n_bytes: int):
    """Run the block with ``spark.sql.files.openCostInBytes`` at
    ``n_bytes``: the size under which a tier read runs as one task."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n_bytes))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange")


def _same_rows(got, want) -> None:
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_second_tier_read_builds_without_a_job(spark, docs, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2)
    pipe.run(docs)
    pipe.read_tier("1m")  # the first build infers the schema
    assert _jobs_submitted(spark, lambda: pipe.read_tier("1m")) == 0


def test_hist_quantile_read_equals_merge_cascade(spark, docs, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        hist_tiers=True)
    pipe.run(docs)
    points = docs_to_points(docs)
    pipe.ingest_points_wave(_late(points, 13, 5, 30, 7), wave=1)
    make_sketch_sink(str(pipe.store), "hist")(
        _late(points, 11, 2, 20, 1).drop("seq"), 4)
    base = pipe.store / "tier_hist_1m"
    keys = [*pipe.keys, "bin_ts"]

    def check() -> None:
        parts = sorted(str(p) for p in base.glob("batch=*"))
        raw = spark.read.option("basePath", str(base)).parquet(
            *parts).drop("batch")
        merged = merge_hist(raw, keys)
        for tier in ("1m", "1h", "1d"):
            want = quantiles_from_hist(
                merged if tier == "1m" else cascade_hist(merged, tier),
                keys=pipe.keys)
            # the test store is under the default cut: one task, no exchange
            got = pipe.read_hist_quantiles(tier)
            _same_rows(got, want)
            assert _exchanges(got) == 0, tier
            # a store above the cut takes the split path: one hash exchange
            with _open_cost(spark, _data_bytes(base) - 1):
                got = pipe.read_hist_quantiles(tier)
                _same_rows(got, want)
                plan = got._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange hashpartitioning") == 1, plan

    assert len(list(base.glob("batch=*"))) > 3  # batches, wave, epoch s4
    check()
    pipe.compact_hist()
    assert [p.name[:9] for p in base.glob("batch=*")] == ["batch=-1-"]
    check()


def test_small_tier_reads_run_as_one_task(spark, docs, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        hist_tiers=True)
    pipe.run(docs)
    points = docs_to_points(docs)
    pipe.ingest_points_wave(_late(points, 13, 5, 30, 7), wave=1)
    make_sketch_sink(str(pipe.store), "hist")(
        _late(points, 11, 2, 20, 1).drop("seq"), 4)
    t0 = points.agg({"ts": "min"}).first()[0]
    # read name: (build, the tier dir it scans)
    reads = {
        "tier_1m": (lambda: pipe.read_tier("1m"), "1m"),
        "tier_1h": (lambda: pipe.read_tier("1h"), "1h"),
        "range_1m": (lambda: read_range(
            pipe, t0, t0 + timedelta(hours=6), max_points=300)[0], "1m"),
        "hist_q": (lambda: pipe.read_hist_quantiles("1h"), "hist_1m"),
    }
    assert read_range(pipe, t0, t0 + timedelta(hours=6),
                      max_points=300)[1] == "1m"
    for name, (read, tier) in reads.items():
        base = pipe.store / f"tier_{tier}"
        assert len(list(base.glob("batch=*"))) >= 3, name
        size = _data_bytes(base)
        # at the cut: one job of one task, no exchange
        with _open_cost(spark, size):
            small = read()
            assert _exchanges(small) == 0, name
            assert _tasks_per_job(spark, small.collect) == [1], name
        # one byte below it: the split scan and its shuffle
        with _open_cost(spark, size - 1):
            split = read()
            assert _exchanges(split) > 0, name
            _same_rows(small, split)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


_MEMO_FLAGS = {"n_batches": 3, "hist_tiers": True, "distinct_tiers": True}


def _memo_reads(pipe: TierPipeline) -> dict:
    """The memoized read kinds, built (no action) on ``pipe``."""
    return {
        "tier_1m": pipe.read_tier("1m"),
        "tier_1h_partials": pipe.read_tier("1h", finalize=False),
        "hist_q": pipe.read_hist_quantiles("1h"),
        "distinct": pipe.read_distinct("1h"),
    }


def test_unchanged_store_reads_reuse_their_frame(spark, docs, tmp_path,
                                                 py4j_calls):
    pipe = TierPipeline(spark, str(tmp_path / "store"), **_MEMO_FLAGS)
    pipe.run(docs)
    first = _memo_reads(pipe)
    again = _memo_reads(pipe)
    for name, df in first.items():
        assert again[name] is df, name
    # the key holds the read's arguments
    assert pipe.read_tier("1m", finalize=False) is not first["tier_1m"]
    assert pipe.read_hist_quantiles("1h", ps=(0.5,)) is not first["hist_q"]
    # a warm repeat range read is a listing and a filter: no plan to build
    # (227 Py4J calls before the memo)
    t0 = docs_to_points(docs).agg({"ts": "min"}).first()[0]
    span = (t0, t0 + timedelta(hours=6))
    read_range(pipe, *span, max_points=300)
    assert py4j_calls(lambda: read_range(pipe, *span, max_points=300)) <= 60


def test_reads_after_each_write_equal_a_fresh_pipeline(spark, docs,
                                                      tmp_path):
    store = str(tmp_path / "store")
    pipe = TierPipeline(spark, store, **_MEMO_FLAGS)
    points = docs_to_points(docs)
    pipe.run(docs, batches=[0])
    steps = [
        ("run a further batch", lambda: pipe.run(docs, batches=[1])),
        ("second pipeline", lambda: TierPipeline(
            spark, store, **_MEMO_FLAGS).run(docs, batches=[2])),
        ("wave", lambda: pipe.ingest_points_wave(
            _late(points, 13, 5, 30, 7), wave=1)),
        ("stream epoch", lambda: make_sketch_sink(store, "hist")(
            _late(points, 11, 2, 20, 1).drop("seq"), 4)),
        ("compact", lambda: (pipe.compact("1m"), pipe.compact("1h"),
                             pipe.compact_hist(), pipe.compact_distinct())),
        ("retention", lambda: (
            pipe.apply_retention({"1m": "1 day", "1h": "1 day"},
                                 now="2024-01-03"),
            pipe.apply_hist_retention("1 day", now="2024-01-03"),
            pipe.apply_distinct_retention("1 day", now="2024-01-03"))),
        ("reset and rerun", lambda: (pipe.reset(), pipe.run(docs))),
    ]
    for step, act in steps:
        _memo_reads(pipe)  # the frames a stale memo would return
        act()
        got = _memo_reads(pipe)
        fresh = _memo_reads(TierPipeline(spark, store, **_MEMO_FLAGS))
        for name, df in fresh.items():
            assert _rows(got[name]) == _rows(df), (step, name)


def test_concurrent_reads_keep_one_consistent_memo(spark, docs, tmp_path):
    import sys
    from concurrent.futures import ThreadPoolExecutor

    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=2,
                        hist_tiers=True)
    pipe.run(docs)
    reads = [lambda: pipe.read_tier("1m"),
             lambda: pipe.read_tier("1h", finalize=False),
             lambda: pipe.read_hist_quantiles("1h")]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(reads[i % 3]) for i in range(48)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    # concurrent first reads may each build; every frame answers correctly
    fresh = TierPipeline(spark, str(pipe.store), n_batches=2, hist_tiers=True)
    want = [_rows(read()) for read in
            (lambda: fresh.read_tier("1m"),
             lambda: fresh.read_tier("1h", finalize=False),
             lambda: fresh.read_hist_quantiles("1h"))]
    built = {id(df): (i % 3, df) for i, df in enumerate(got)}
    for kind, df in built.values():
        assert _rows(df) == want[kind]
    # one entry per key, and the next read returns the stored frame
    assert len(pipe._frames) == 3
    for read in reads:
        df = read()
        assert df is read()
        assert any(df is frame for _, frame in pipe._frames.values())
