"""Resumability / idempotency of the incremental tier pipeline (FIXTURES.md §6)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import finalize_tier, rollup_tier
from gensor_spark.plans.incremental import TierPipeline
from gensor_spark.sources.synth import synth_docs


@pytest.fixture()
def docs(spark):
    # ~20 docs × up to 3 days of 1-minute points
    return synth_docs(spark, n_docs=20, seed=3, min_tok=100, max_tok=4320).cache()


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

    # lineage: one row per processed batch with per-tier counts
    lin = pipe2.lineage()
    assert sorted(r["batch"] for r in lin) == [0, 1, 2, 3]
    assert all(set(r["rows"]) == {"1m", "1h", "1d"} for r in lin)


def test_rerun_is_noop_and_idempotent(spark, docs, tmp_path):
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=2)
    pipe.run(docs)
    before = _tier_pdf(pipe.read_tier("1h"))
    stats = pipe.run(docs)  # everything checkpointed → no-op
    assert stats["processed"] == []
    after = _tier_pdf(pipe.read_tier("1h"))
    _assert_tiers_equal(before, after)


def test_crash_between_write_and_checkpoint(spark, docs, tmp_path):
    """Simulate dying after data write but before the ledger commit."""
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=2)
    pipe.run(docs, batches=[0])
    # forge the crash: remove batch 1 from ledger after processing it
    pipe.run(docs, batches=[1])
    led = pipe.ledger()
    led["processed"].remove(1)
    pipe._ledger_path.write_text(__import__("json").dumps(led))

    pipe3 = TierPipeline(spark, store, n_batches=2)
    s = pipe3.run(docs)
    assert s["processed"] == [1]  # reprocessed, overwriting its own dir

    points = docs_to_points(docs)
    direct = _tier_pdf(finalize_tier(rollup_tier(points, "1d")))
    _assert_tiers_equal(direct, _tier_pdf(pipe3.read_tier("1d")))


def test_compact_preserves_results(spark, docs, tmp_path):
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=4)
    pipe.run(docs)
    before = _tier_pdf(pipe.read_tier("1m"))
    pipe.compact("1m")
    after = _tier_pdf(pipe.read_tier("1m"))
    _assert_tiers_equal(before, after)


def _assert_crash_states_recover(pipe, tier, write_tmp, want):
    """Forge the on-disk state a crash leaves after each step of the tier
    rewrite (``TierPipeline._rewrite_tier``) over an existing tier and
    assert read_tier() recovers the identical tier. ``write_tmp(path)``
    writes the rewrite's step-1 output the way that caller's writer does.
    """
    import os
    import shutil

    final, tmp, old = pipe._compact_paths(tier)

    # crash after step 1: tmp written, final untouched
    write_tmp(tmp / "batch=-1")
    _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))
    assert not tmp.exists()  # leftover cleaned

    # crash after step 2: final renamed aside, tmp complete
    write_tmp(tmp / "batch=-1")
    os.replace(final, old)
    _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))

    # crash after step 2 with an INCOMPLETE tmp (no _SUCCESS): roll back
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "batch=-1").mkdir(parents=True)
    os.replace(final, old)
    _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))


def test_compact_crash_between_steps_preserves_tier(spark, docs, tmp_path):
    """A kill at ANY point inside compact() must not lose the tier.

    compact's steps: (1) write _compact_tmp, (2) rename final→_old,
    (3) rename tmp→final, (4) rmtree _old. We forge the on-disk state a crash
    leaves after each step and assert read_tier() recovers the identical tier.
    """
    store = str(tmp_path / "tiers")
    pipe = TierPipeline(spark, store, n_batches=3)
    pipe.run(docs)
    want = _tier_pdf(pipe.read_tier("1h"))
    _assert_crash_states_recover(
        pipe, "1h",
        lambda path: pipe.read_tier("1h", finalize=False).write.mode(
            "overwrite").parquet(str(path)),
        want)

    # crash after step 3: compacted final in place, old not yet deleted
    pipe.compact("1h")
    compacted = _tier_pdf(pipe.read_tier("1h"))
    _assert_tiers_equal(want, compacted)


@pytest.mark.parametrize("caller", ["bucket", "calendar"])
def test_rewrite_crash_between_steps_preserves_tier(spark, docs, tmp_path,
                                                    caller):
    """The other callers of the one tier rewrite recover like compact():
    ``compact("1h", bucket=4)`` (a bucketed step-1 write that re-points the
    catalog at tmp), and the FIRST ``refresh_calendar("month")``, which has
    no live tier to set aside, so its crash states are "tmp complete, final
    missing" and "tmp incomplete, final missing". Each rewrite then runs to
    completion twice (the second folds its own output)."""
    import shutil

    from gensor_spark.operators.rollup import cascade_calendar
    from gensor_spark.plans.bucketing import write_bucketed

    pipe = TierPipeline(spark, str(tmp_path / "tiers"), n_batches=3)
    pipe.run(docs)
    if caller == "bucket":
        tier = "1h"
        want = _tier_pdf(pipe.read_tier(tier))
        tbl = pipe._bucket_table(tier)

        def write_tmp(path):
            partials = pipe.read_tier(tier, finalize=False)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            write_bucketed(partials, tbl, 4, bucket_cols=pipe.keys,
                           sort_cols=("bin_ts",), path=str(path))

        _assert_crash_states_recover(pipe, tier, write_tmp, want)
        for _ in range(2):
            pipe.compact(tier, bucket=4)
            assert pipe._bucketed_scan(tier) is not None
            _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        return

    tier = "month"
    final, tmp, old = pipe._compact_paths(tier)

    def cal():
        return cascade_calendar(pipe.read_tier("1d", finalize=False), tier,
                                keys=pipe.keys, finer_unit="1d")

    want = _tier_pdf(finalize_tier(cal()))
    # crash after step 1 of the first write: tmp complete, final missing
    cal().write.mode("overwrite").parquet(str(tmp / "batch=-1"))
    _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))
    assert final.exists() and not tmp.exists()

    # crash mid step 1 of the first write: tmp incomplete, final missing —
    # there was no tier yet, so none is served, and the rerun clears tmp
    shutil.rmtree(final)
    (tmp / "batch=-1").mkdir(parents=True)
    with pytest.raises(FileNotFoundError):
        pipe.read_tier(tier)
    assert not final.exists()
    for _ in range(2):
        assert pipe.refresh_calendar(tier) == len(want)
        _assert_tiers_equal(want, _tier_pdf(pipe.read_tier(tier)))
        assert not tmp.exists() and not old.exists()


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
    # retention is recorded in lineage
    assert any("retention" in r for r in pipe.lineage())


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
    part_dir = f"{store}/tier_1m/batch=-1"
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
