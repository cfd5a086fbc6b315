"""Resumability / idempotency of the incremental tier pipeline (FIXTURES.md §6)."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import finalize_tier, rollup_tier
from gensor_spark.plans import manifest
from gensor_spark.plans.incremental import TIERS, TierPipeline
from gensor_spark.sources.synth import synth_docs


@pytest.fixture(scope="module")
def docs(spark):
    # ~20 docs × up to 3 days of 1-minute points
    df = synth_docs(spark, n_docs=20, seed=3, min_tok=100,
                    max_tok=4320).cache()
    yield df
    df.unpersist()


class _Kill(BaseException):
    """A process kill: no handler in the engine catches it."""


@contextmanager
def _killed(monkeypatch, after: bool):
    """Kill the block's next manifest commit, before the version is created
    or right after it, leaving whatever the writer wrote on disk."""
    real = manifest.commit

    def commit(*args, **kwargs):
        if after:
            real(*args, **kwargs)
        raise _Kill

    monkeypatch.setattr(manifest, "commit", commit)
    with pytest.raises(_Kill):
        yield
    monkeypatch.setattr(manifest, "commit", real)


def _tier_pdf(df):
    key = ["doc_id", "source", "bin_ts"]
    return df.toPandas().sort_values(key).reset_index(drop=True)


def _assert_tiers_equal(a: pd.DataFrame, b: pd.DataFrame):
    assert len(a) == len(b)
    for col in ["doc_id", "source", "bin_ts", "count", "min", "max", "last"]:
        pd.testing.assert_series_equal(a[col], b[col], check_names=False)
    np.testing.assert_allclose(a["mean"].to_numpy(float), b["mean"].to_numpy(float), rtol=1e-12)


def test_resume_from_checkpoint(spark, docs, tmp_path):
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=4)

    # process half, "crash", resume
    s1 = pipe.run(docs, batches=[0, 1])
    assert s1["processed"] == [0, 1]

    pipe2 = TierPipeline(spark, store, n_batches=4)  # fresh process
    s2 = pipe2.run(docs)
    assert s2["processed"] == [2, 3]
    assert s2["skipped"] == [0, 1]

    # tiers == direct non-incremental computation, no dupes
    points = docs_to_points(docs)
    for tier in ("1m", "1h", "1d"):
        direct = _tier_pdf(finalize_tier(rollup_tier(points, tier)))
        incr = _tier_pdf(pipe2.read_tier(tier))
        _assert_tiers_equal(direct, incr)

    # lineage: one row per processed batch with per-tier counts, each
    # carrying the manifest version its commit created
    lin = pipe2.lineage()
    assert sorted(r["batch"] for r in lin) == [0, 1, 2, 3]
    assert all(set(r["rows"]) == {"1m", "1h", "1d"} for r in lin)
    assert [r["version"] for r in lin] == [1, 2, 3, 4]
    assert pipe2._manifest()["version"] == 4


def test_rerun_is_noop_and_idempotent(spark, docs, tmp_path):
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=2)
    pipe.run(docs)
    before = _tier_pdf(pipe.read_tier("1h"))
    stats = pipe.run(docs)  # everything checkpointed → no-op
    assert stats["processed"] == []
    after = _tier_pdf(pipe.read_tier("1h"))
    _assert_tiers_equal(before, after)


def _reads(pipe, tiers=TIERS):
    return {t: _tier_pdf(pipe.read_tier(t)) for t in tiers}


def _assert_reads(want: dict, pipe) -> None:
    for tier, pdf in want.items():
        _assert_tiers_equal(pdf, _tier_pdf(pipe.read_tier(tier)))


def test_crash_between_write_and_checkpoint(spark, docs, tmp_path,
                                            monkeypatch):
    """A kill before a batch's manifest commit leaves every tier as it was
    before the batch, and a rerun processes it; a kill after the commit
    leaves it in every tier, and a rerun skips it. The same holds for
    reset(): before its commit the store is intact, after it empty."""
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=3)
    pipe.run(docs, batches=[0])
    before = _reads(pipe)

    with _killed(monkeypatch, after=False):
        pipe.run(docs, batches=[1])
    assert pipe.ledger() == {"processed": [0]}
    _assert_reads(before, pipe)

    ref = TierPipeline(spark, str(tmp_path / "ref"), n_batches=3)
    ref.run(docs, batches=[0, 1])
    with _killed(monkeypatch, after=True):
        pipe.run(docs, batches=[1])
    assert pipe.ledger() == {"processed": [0, 1]}
    _assert_reads(_reads(ref), pipe)

    pipe3 = TierPipeline(spark, store, n_batches=3)
    s = pipe3.run(docs)
    assert s == {"processed": [2], "skipped": [0, 1]}
    points = docs_to_points(docs)
    direct = _tier_pdf(finalize_tier(rollup_tier(points, "1d")))
    _assert_tiers_equal(direct, _tier_pdf(pipe3.read_tier("1d")))

    full = _reads(pipe3)
    with _killed(monkeypatch, after=False):
        pipe3.reset()
    _assert_reads(full, pipe3)
    with _killed(monkeypatch, after=True):
        pipe3.reset()
    assert pipe3.ledger() == {"processed": []}
    with pytest.raises(FileNotFoundError):
        pipe3.read_tier("1d")
    pipe3.reset()  # removes what the killed reset left
    assert sorted(p.name for p in pipe3.store.iterdir()) == [
        "_lineage.jsonl", "_manifest"]


def test_compact_preserves_results(spark, docs, tmp_path):
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=4)
    pipe.run(docs)
    before = _tier_pdf(pipe.read_tier("1m"))
    pipe.compact("1m")
    after = _tier_pdf(pipe.read_tier("1m"))
    _assert_tiers_equal(before, after)
    # the fold is one commit with its own lineage row; the absorbed dirs
    # are gone, the fold's one dir is all the tier lists
    row = pipe.lineage()[-1]
    assert row == {"compact": "1m", "layout": "plain", "rows": len(after),
                   "version": pipe._manifest()["version"]}
    [entry] = pipe._manifest()["tiers"]["1m"]
    assert [p.name for p in (pipe.store / "tier_1m").iterdir()] == [
        entry["dir"]]


def test_compact_crash_between_steps_preserves_tier(spark, docs, tmp_path,
                                                    monkeypatch):
    """A kill at either side of compact()'s commit never loses the tier:
    before it the per-batch entries stay listed, after it the fold is the
    tier's one entry; reads are identical in both, and the next compact
    folds over whatever the kill left on disk."""
    pipe = TierPipeline(spark, str(tmp_path / "tiers"), n_batches=3)
    pipe.run(docs)
    want = _reads(pipe, ["1h"])
    listed = pipe._manifest()["tiers"]["1h"]

    with _killed(monkeypatch, after=False):
        pipe.compact("1h")
    assert pipe._manifest()["tiers"]["1h"] == listed
    _assert_reads(want, pipe)

    with _killed(monkeypatch, after=True):
        pipe.compact("1h")
    [folded] = pipe._manifest()["tiers"]["1h"]
    assert folded["layout"] == "plain"
    _assert_reads(want, pipe)

    pipe.compact("1h")
    _assert_reads(want, pipe)


@pytest.mark.parametrize("caller", ["bucket", "calendar", "retention",
                                    "hist_retention"])
def test_rewrite_crash_between_steps_preserves_tier(spark, docs, tmp_path,
                                                    monkeypatch, caller):
    """The other callers of the one tier rewrite: a kill before the commit
    reads as before the rewrite, a kill after it as after it, never a mix.
    ``compact("1h", bucket=4)`` registers its catalog table at its own dir,
    so a killed bucketed fold's table is never read; the first
    ``refresh_calendar("month")`` has no tier to keep. Each rewrite then
    runs to completion twice."""
    pipe = TierPipeline(spark, str(tmp_path / "tiers"), n_batches=3,
                        hist_tiers=caller == "hist_retention")
    pipe.run(docs)
    cut = {"age": "1 day", "now": "2024-01-03"}
    if caller == "bucket":
        tier = "1h"
        before = after = _reads(pipe, [tier])
        act = lambda: pipe.compact(tier, bucket=4)  # noqa: E731
    elif caller == "calendar":
        before, tier = None, "month"
        act = lambda: pipe.refresh_calendar(tier)  # noqa: E731
        ref = TierPipeline(spark, str(tmp_path / "ref"), n_batches=3)
        ref.run(docs)
        ref.refresh_calendar(tier)
        after = _reads(ref, [tier])
    elif caller == "retention":
        before = _reads(pipe, ["1m"])
        act = lambda: pipe.apply_retention(  # noqa: E731
            {"1m": cut["age"]}, now=cut["now"])
        ref = TierPipeline(spark, str(tmp_path / "ref"), n_batches=3)
        ref.run(docs)
        ref.apply_retention({"1m": cut["age"]}, now=cut["now"])
        after = _reads(ref, ["1m"])
        assert len(after["1m"]) < len(before["1m"])
    else:
        def q(p):
            return sorted(map(tuple, p.read_hist_quantiles("1m").collect()))

        before = {"q": q(pipe)}
        act = lambda: pipe.apply_hist_retention(**cut)  # noqa: E731
        ref = TierPipeline(spark, str(tmp_path / "ref"), n_batches=3,
                           hist_tiers=True)
        ref.run(docs)
        ref.apply_hist_retention(**cut)
        after = {"q": q(ref)}
        assert len(after["q"]) < len(before["q"])

    def check(want):
        if caller == "hist_retention":
            assert {"q": q(pipe)} == want
        elif want is None:
            with pytest.raises(FileNotFoundError):
                pipe.read_tier(tier)
        else:
            _assert_reads(want, pipe)

    with _killed(monkeypatch, after=False):
        act()
    check(before)
    if caller == "bucket":
        assert pipe._bucketed_scan(tier, pipe._manifest()["tiers"][tier]) \
            is None
    with _killed(monkeypatch, after=True):
        act()
    check(after)
    for _ in range(2):
        act()
        check(after)
        if caller == "bucket":
            listed = pipe._manifest()["tiers"][tier]
            assert pipe._bucketed_scan(tier, listed) is not None
    if caller == "bucket":
        spark.sql(f"DROP TABLE IF EXISTS {pipe._bucket_table(tier)}")
    else:
        # every commit appended its lineage row, the killed-after one too
        kind = "calendar_refresh" if caller == "calendar" else "retention"
        assert sum(kind in r for r in pipe.lineage()) == 3



@pytest.mark.parametrize("fold", ["compact", "calendar"])
def test_fold_that_loses_the_race_is_redone(spark, docs, tmp_path,
                                            monkeypatch, fold):
    """Another pipeline's fold commits between this fold's listing and its
    commit: this fold's output is deleted and the fold redone on the newer
    version, so the tier ends as one fold, never two stacked ones. A first
    calendar refresh has listed nothing, and still redoes."""
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=3)
    pipe.run(docs)
    other = TierPipeline(spark, store, n_batches=3)
    tier, act = {"compact": ("1h", lambda p: p.compact("1h")),
                 "calendar": ("month", lambda p: p.refresh_calendar())}[fold]
    ref = TierPipeline(spark, str(tmp_path / "ref"), n_batches=3)
    ref.run(docs)
    act(ref)
    want = _reads(ref, [tier])

    fold_write = pipe._write_counted
    outs = []

    def other_folds_first(df, path):
        outs.append(path)
        if len(outs) == 1:
            act(other)
        return fold_write(df, path)

    monkeypatch.setattr(pipe, "_write_counted", other_folds_first)
    act(pipe)
    monkeypatch.undo()
    assert len(outs) == 2  # written, lost the commit, written again
    [entry] = pipe._manifest()["tiers"][tier]
    assert entry["dir"] == outs[1].rsplit("/", 1)[1]
    assert [p.name for p in (pipe.store / f"tier_{tier}").iterdir()] == [
        entry["dir"]]
    _assert_reads(want, pipe)

def test_run_rejects_keys_outside_doc_columns(spark, docs, tmp_path):
    """Token docs carry their series identity in doc_id/source only: run()
    with other keys raises before writing anything (it used to fail in the
    1h cascade with tier_1m/batch=0 already on disk and an empty ledger)."""
    from pyspark.sql import functions as F

    tagged = docs.withColumn("lang", F.lit("en"))
    store = tmp_path / "s"
    for keys in (("lang",), ("doc_id", "lang"), ()):
        pipe = TierPipeline(spark, str(store), keys=keys, n_batches=2)
        with pytest.raises(ValueError, match="keys"):
            pipe.run(tagged)
        assert not list(store.glob("tier_*"))
        assert pipe.ledger() == {"processed": []}


def test_apply_retention_drops_only_expired_bins(spark, docs, tmp_path):
    """Retention is the 'retention' in retention tiers: fine tiers expire
    early, coarse tiers live on; surviving bins are bit-identical."""
    import pandas as pd

    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=2)
    pipe.run(docs)
    before = {t: _tier_pdf(pipe.read_tier(t)) for t in ("1m", "1h", "1d")}
    # cutoff in the middle of the data's time range
    mid = before["1m"]["bin_ts"].quantile(0.5)
    now = before["1m"]["bin_ts"].max() + pd.Timedelta("1h")
    age = now - mid

    applied = pipe.apply_retention({"1m": str(age), "1h": str(age)}, now=now)
    assert set(applied) == {"1m", "1h"}

    for tier in ("1m", "1h"):
        after = _tier_pdf(pipe.read_tier(tier))
        cutoff = pd.Timestamp(applied[tier])
        want = before[tier][before[tier]["bin_ts"] >= cutoff].reset_index(drop=True)
        assert (after["bin_ts"] >= cutoff).all()
        assert len(want) < len(before[tier])  # something actually expired
        _assert_tiers_equal(want, after)
    # 1d absent from the policy -> untouched
    _assert_tiers_equal(before["1d"], _tier_pdf(pipe.read_tier("1d")))
    # each tier's retention is one commit with its own lineage row
    rows = [r for r in pipe.lineage() if "retention" in r]
    assert [r["retention"] for r in rows] == [{t: applied[t]} for t in applied]
    assert [r["version"] for r in rows] == [3, 4]
    assert pipe._manifest()["version"] == 4


def test_retention_on_never_written_tier_is_noop(spark, tmp_path):
    """Retention scheduled before the first ingest must not abort the
    policy loop — absent tiers are skipped, nothing is applied or logged,
    and a direct read of the absent tier says so clearly."""
    import pytest as _pytest

    pipe = TierPipeline(spark, str(tmp_path / "fresh"), n_batches=2)
    applied = pipe.apply_retention({"1m": "7 days", "1h": "90 days"},
                                   now="2024-06-01")
    assert applied == {}
    with _pytest.raises(FileNotFoundError, match="tier '1m' has no data"):
        pipe.read_tier("1m")


def test_concurrent_batches_match_serial(spark, docs, tmp_path):
    """max_concurrent=2 (the default) produces byte-identical tiers to a
    strictly serial run — batches are disjoint and partials associative."""
    serial = TierPipeline(spark, str(tmp_path / "s"), n_batches=4, max_concurrent=1)
    serial.run(docs)
    conc = TierPipeline(spark, str(tmp_path / "c"), n_batches=4, max_concurrent=4)
    stats = conc.run(docs)
    assert stats["processed"] == [0, 1, 2, 3]
    for tier in ("1m", "1h", "1d"):
        _assert_tiers_equal(
            _tier_pdf(serial.read_tier(tier)), _tier_pdf(conc.read_tier(tier))
        )
    # lineage has one row per batch with tier counts despite concurrent appends
    lin = conc.lineage()
    assert sorted(r["batch"] for r in lin) == [0, 1, 2, 3]
    assert all(set(r["rows"]) == {"1m", "1h", "1d"} for r in lin)


def test_pipeline_tiers_match_pandas_reference(spark, docs, tmp_path):
    """North-rule gate, end-to-end: the tiers the FULL pipeline materializes
    (batch filtering, arrow kernel, parquet merges, cascades) match gensor's
    resample semantics computed per series in pandas at every tier."""
    from tests import pandas_oracle as po

    store = str(tmp_path / "tiers_ref")
    pipe = TierPipeline(spark, store, n_batches=3)
    pipe.run(docs)

    pts = docs_to_points(docs, tick_seconds=pipe.tick_seconds).toPandas()
    for tier, freq in (("1m", "min"), ("1h", "h"), ("1d", "D")):
        got = _tier_pdf(pipe.read_tier(tier, finalize=True))
        refs = []
        for (d, s), g in pts.groupby(["doc_id", "source"]):
            r = po.rollup_tiers(g, freq)
            r = r[r["count"] > 0]  # engine tiers are sparse; pandas grid dense
            r.insert(0, "doc_id", d)
            r.insert(1, "source", s)
            refs.append(r)
        want = (
            pd.concat(refs, ignore_index=True)
            .sort_values(["doc_id", "source", "bin_ts"])
            .reset_index(drop=True)
        )
        # oracle series are tz-aware UTC; the engine's session is pinned UTC
        # so its naive timestamps are the same instants
        want["bin_ts"] = want["bin_ts"].dt.tz_localize(None)
        _assert_tiers_equal(got, want)


def test_late_points_wave_matches_full_recompute(spark, docs, tmp_path):
    """Backfill: a late point delta folded in as a wave equals a from-scratch
    recompute over old+late points — the continuous-aggregate property.

    The late points land INSIDE already-rolled bins (ts shifted +30s stays
    in the same 1m bin) and carry the bins' new latest timestamps, so the
    cross-contribution merge must re-derive count/min/max/mean AND flip
    ``last`` to the late wave's values."""
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=4)
    pipe.run(docs)

    base = docs_to_points(docs)
    late = (
        base.filter("seq % 17 = 3")
        .selectExpr("doc_id", "source", "seq",
                    "ts + INTERVAL 30 SECONDS AS ts", "value + 1000 AS value")
    )
    stats = pipe.ingest_points_wave(late, wave=1)
    assert stats["processed"] and not stats["skipped"]

    everything = base.unionByName(late.select(*base.columns))
    for tier in ("1m", "1h", "1d"):
        got = _tier_pdf(pipe.read_tier(tier))
        want = _tier_pdf(finalize_tier(rollup_tier(everything, tier)))
        _assert_tiers_equal(got, want)

    # idempotent per (wave, bucket): a re-run skips and changes nothing
    stats2 = pipe.ingest_points_wave(late, wave=1)
    assert stats2["skipped"] == stats["processed"] and not stats2["processed"]
    _assert_tiers_equal(
        _tier_pdf(pipe.read_tier("1m")),
        _tier_pdf(finalize_tier(rollup_tier(everything, "1m"))),
    )


def test_points_wave_rejects_bad_wave(spark, docs, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "s1"), n_batches=4)
    with pytest.raises(ValueError, match="wave"):
        pipe.ingest_points_wave(docs_to_points(docs), wave=0)


def test_hist_tiers_incremental_percentiles(spark, docs, tmp_path):
    """Percentile tiers maintained incrementally: stored 1m histogram
    partials from a batched run PLUS a late-data wave cascade at read to
    the exact 1h percentiles of a from-scratch computation over all
    points; compaction and retention preserve/trim them correctly."""
    from gensor_spark.operators.histquantiles import rollup_quantiles

    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=4,
                        hist_tiers=True)
    pipe.run(docs)
    base = docs_to_points(docs)
    late = (
        base.filter("seq % 13 = 5")
        .selectExpr("doc_id", "source", "seq",
                    "ts + INTERVAL 30 SECONDS AS ts", "value + 7 AS value")
    )
    pipe.ingest_points_wave(late, wave=1)
    everything = base.unionByName(late.select(*base.columns))

    def _q(df):
        return (df.toPandas()
                .sort_values(["doc_id", "source", "bin_ts"])
                .reset_index(drop=True))

    got = _q(pipe.read_hist_quantiles("1h"))
    want = _q(rollup_quantiles(everything, "1h", via_tier=None))
    assert len(got) == len(want) > 0
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12
        )

    pipe.compact_hist()
    after_compact = _q(pipe.read_hist_quantiles("1h"))
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            after_compact[c].to_numpy(float), got[c].to_numpy(float),
            rtol=0,
        )

    mid = got["bin_ts"].quantile(0.5)
    now = got["bin_ts"].max() + pd.Timedelta("1h")
    cutoff = pipe.apply_hist_retention(str(now - mid), now=now)
    trimmed = _q(pipe.read_hist_quantiles("1h"))
    assert (trimmed["bin_ts"] >= pd.Timestamp(cutoff)).all()
    survivors = got[got["bin_ts"] >= pd.Timestamp(cutoff)].reset_index(drop=True)
    assert 0 < len(trimmed) == len(survivors) < len(got)
    for c in ("p50", "p95", "p99"):
        np.testing.assert_allclose(
            trimmed[c].to_numpy(float), survivors[c].to_numpy(float), rtol=0
        )


def test_hist_tiers_requires_parquet_backend(spark, tmp_path):
    with pytest.raises(ValueError, match="hist_tiers"):
        TierPipeline(spark, str(tmp_path / "s"), backend="iceberg",
                     hist_tiers=True)


def test_compact_zorder_preserves_results_and_drops_helpers(spark, docs, tmp_path):
    """Z-order compaction is a pure LAYOUT rewrite: tier contents identical,
    helper columns absent, file count as requested; iceberg backend refuses."""
    import pyarrow.parquet as pq

    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=4)
    pipe.run(docs)
    before = _tier_pdf(pipe.read_tier("1m"))
    schema_before = set(pipe.read_tier("1m", finalize=False).columns)
    pipe.compact("1m", zorder=True, zorder_files=8)
    after = _tier_pdf(pipe.read_tier("1m"))
    _assert_tiers_equal(before, after)
    assert set(pipe.read_tier("1m", finalize=False).columns) == schema_before
    [part_dir] = (pipe.store / "tier_1m").glob("batch=-1-*")
    n_files = sum(1 for f in pq.ParquetDataset(part_dir).files)
    assert n_files == 8
    # a second, plain compact over the z-ordered store still round-trips
    pipe.compact("1m")
    _assert_tiers_equal(before, _tier_pdf(pipe.read_tier("1m")))


def test_var_tiers_store_matches_direct_and_validates(spark, docs, tmp_path):
    """var_tiers=True stores the Σx² partial in every tier row; the merged
    read finalizes var/std identical to the direct batch computation (integer
    tokens: bitwise), through batch splits, compaction, and resume."""
    store = str(tmp_path / "var_tiers")
    pipe = TierPipeline(spark, store, n_batches=3, var_tiers=True)
    pipe.run(docs)
    pipe.compact("1h")
    points = docs_to_points(docs)
    for tier in ("1m", "1h", "1d"):
        direct = _tier_pdf(
            finalize_tier(rollup_tier(points, tier, with_sumsq=True))
        )
        incr = _tier_pdf(pipe.read_tier(tier))
        _assert_tiers_equal(direct, incr)
        for col in ("var", "std"):
            np.testing.assert_array_equal(
                direct[col].to_numpy(), incr[col].to_numpy(), err_msg=col
            )
    # flag/backend validation
    with pytest.raises(ValueError, match="parquet"):
        TierPipeline(spark, store, var_tiers=True, backend="iceberg")


def test_read_range_resolution_router(spark, docs, tmp_path):
    """read_range picks the coarsest tier that still yields max_points bins
    over the span, pushes the time filter into the tier scan, and falls
    back to the finest tier on tight spans."""
    from gensor_spark.plans.incremental import read_range

    store = str(tmp_path / "router")
    pipe = TierPipeline(spark, store, n_batches=2)
    pipe.run(docs)

    # 2-day span, budget 24 -> 1h tier (48 bins >= 24; 1d gives only 2)
    out, tier = read_range(pipe, "2024-01-01", "2024-01-03", max_points=24)
    assert tier == "1h"
    direct = pipe.read_tier("1h").filter(
        "bin_ts >= '2024-01-01' AND bin_ts < '2024-01-03'")
    assert out.count() == direct.count() > 0
    # same span, generous budget -> falls to 1m
    _, t2 = read_range(pipe, "2024-01-01", "2024-01-03", max_points=500)
    assert t2 == "1m"
    # same span, tiny budget -> coarsest (1d)
    _, t3 = read_range(pipe, "2024-01-01", "2024-01-03", max_points=2)
    assert t3 == "1d"
    # max_points=None -> finest stored
    _, t4 = read_range(pipe, "2024-01-01", "2024-01-03")
    assert t4 == "1m"
    # the time predicate reaches the parquet scan (partition/row-group prune)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bin_ts" in plan
    import pytest as _pt
    with _pt.raises(ValueError, match="empty range"):
        read_range(pipe, "2024-01-02", "2024-01-01")


def test_read_range_routes_to_committed_tiers_only(spark, docs, tmp_path,
                                                   monkeypatch):
    """A tier dir that holds only an uncommitted write (a calendar refresh
    killed before its commit) is not a stored tier: the router skips it."""
    from gensor_spark.plans.incremental import read_range

    pipe = TierPipeline(spark, str(tmp_path / "router"), n_batches=2)
    pipe.run(docs)
    with _killed(monkeypatch, after=False):
        pipe.refresh_calendar("week")
    assert any((pipe.store / "tier_week").glob("batch=*"))
    _, tier = read_range(pipe, "2024-01-01", "2024-06-01", max_points=2)
    assert tier == "1d"
    pipe.refresh_calendar("week")
    _, tier = read_range(pipe, "2024-01-01", "2024-06-01", max_points=2)
    assert tier == "week"


def test_store_written_before_the_manifest_raises(spark, docs, tmp_path):
    """A store with tier contribution dirs and no ``_manifest/`` was
    written by the old protocol: reads and run() raise a ValueError that
    names it, never an empty or partial answer."""
    from gensor_spark.plans.incremental import read_range

    old = tmp_path / "old"
    for tier in TIERS:
        docs.limit(1).write.parquet(str(old / f"tier_{tier}" / "batch=0"))
    pipe = TierPipeline(spark, str(old), n_batches=2)
    for act in (lambda: pipe.read_tier("1h"), lambda: pipe.run(docs),
                lambda: read_range(pipe, "2024-01-01", "2024-01-03")):
        with pytest.raises(ValueError, match="before the manifest"):
            act()
    assert not (old / "_manifest").exists()


def test_read_tier_as_of_batch_time_travel(spark, docs, tmp_path):
    """as_of_batch=b reproduces the tier exactly as it stood after batch b:
    equal to a fresh store run over batches 0..b; compacted stores refuse."""
    store = str(tmp_path / "tt")
    pipe = TierPipeline(spark, store, n_batches=3)
    pipe.run(docs)

    ref = TierPipeline(spark, str(tmp_path / "tt_ref"), n_batches=3)
    ref.run(docs, batches=[0, 1])

    got = _tier_pdf(pipe.read_tier("1h", as_of_batch=1))
    want = _tier_pdf(ref.read_tier("1h"))
    _assert_tiers_equal(want, got)
    # full read unchanged
    assert pipe.read_tier("1h").count() >= got.shape[0] > 0

    pipe.compact("1h")
    with pytest.raises(ValueError, match="compacted"):
        pipe.read_tier("1h", as_of_batch=1)
    # other tiers still time-travel
    assert pipe.read_tier("1d", as_of_batch=0).count() > 0


def test_only_the_commit_module_commits():
    """One commit protocol: no engine file names the old protocol's
    markers (the ledger file, the fold record, Spark's success marker),
    and only plans/manifest.py renames, replaces or hard-links a file."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "gensor_spark"
    markers = ("_SUCCESS", "_folded", "_ledger")
    moves = {"replace", "rename", "link"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            words = [getattr(node, a) for a in ("id", "attr", "name", "arg")
                     if isinstance(getattr(node, a, None), str)]
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                words.append(node.value)
            if any(m in w for w in words for m in markers):
                offenders.append(f"{rel}:{node.lineno} names a marker")
            if rel == "plans/manifest.py":
                continue
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in moves
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"):
                offenders.append(f"{rel}:{node.lineno} os.{node.func.attr}")
            if (isinstance(node, ast.ImportFrom) and node.module == "os"
                    and moves & {a.name for a in node.names}):
                offenders.append(f"{rel}:{node.lineno} imports from os")
    assert not offenders, offenders
