"""OHLC + higher-moment tier rollups (``rollup_tier(with_first=True,
with_moments=True)``): the ``first``/``first_ts`` pair that completes the
OHLC bar and the Σx³/Σx⁴ partials behind per-bin skewness/kurtosis.
Pinned: pandas-resample parity (first/skew/kurt incl. NaN handling), DuckDB
builtin skewness()/kurtosis() parity, cascade≡direct, salted≡plain, the point
path and the numpy docs kernel bit-identical, degenerate-bin guards, and absence
when not requested."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import (
    cascade_tier,
    finalize_tier,
    rollup_docs_arrow,
    rollup_tier,
)

KEY = ["doc_id", "source", "bin_ts"]

FLAGS = dict(with_first=True, with_moments=True)


def test_open_skew_kurt_match_pandas_resample(spark, points_sdf, points_pdf):
    got = (
        finalize_tier(rollup_tier(points_sdf, "1h", **FLAGS))
        .orderBy(*KEY)
        .toPandas()
    )
    # explicit floor-binning: the sparse-rollup grain exactly (observed bins
    # only, incl. all-NaN bins), with pandas Series.skew/kurt as the oracle
    exp = (
        points_pdf.assign(bin_ts=points_pdf["ts"].dt.floor("1h"))
        .groupby(["doc_id", "source", "bin_ts"])["value"]
        .apply(lambda s: pd.Series({
            "open": s.dropna().iloc[0] if s.count() else np.nan,
            "skew": s.skew(), "kurt": s.kurt(),
        }))
        .unstack()
        .reset_index()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    for col in ("open", "skew", "kurt"):
        # skew/kurt lose ~mean⁴/m₂² of relative precision to one-pass
        # cancellation (≈1.6e5 for this N(100,5) data) — 1e-6 is ~1000×
        # headroom over the observed 2.6e-9
        np.testing.assert_allclose(
            got[col].to_numpy(float), exp[col].to_numpy(float),
            rtol=1e-6, atol=1e-9, err_msg=col,
        )


def test_skew_kurt_match_duckdb_builtins(spark, points_sdf, points_pdf):
    got = (
        finalize_tier(rollup_tier(points_sdf, "1d", **FLAGS))
        .orderBy(*KEY)
        .toPandas()
    )
    con = duckdb.connect()
    con.register("pts", points_pdf)
    exp = con.execute("""
        SELECT doc_id, source, date_trunc('day', ts) AS bin_ts,
               arg_min(value, ts) FILTER (WHERE value IS NOT NULL) AS open,
               skewness(value) AS skew, kurtosis(value) AS kurt
        FROM pts GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """).df()
    assert len(got) == len(exp) > 0
    for col in ("open", "skew", "kurt"):
        np.testing.assert_allclose(
            got[col].to_numpy(float), exp[col].to_numpy(float),
            rtol=1e-6, atol=1e-9, err_msg=col,
        )


def test_cascade_equals_direct(spark, points_sdf):
    """1m→1h cascaded OHLC/moment partials equal the direct 1h rollup:
    ``first`` bitwise (min_by is order-exact), moments to accumulation
    order (~1 ulp — Σx⁴ outgrows 2^53)."""
    direct = (
        finalize_tier(rollup_tier(points_sdf, "1h", **FLAGS))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    cascaded = (
        finalize_tier(cascade_tier(rollup_tier(points_sdf, "1m", **FLAGS), "1h"))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    assert len(direct) == len(cascaded) > 0
    pd.testing.assert_series_equal(direct["open"], cascaded["open"])
    for col in ("skew", "kurt"):
        np.testing.assert_allclose(
            direct[col].to_numpy(float), cascaded[col].to_numpy(float),
            rtol=1e-6, atol=1e-9, err_msg=col,
        )


def test_salted_equals_plain(spark, points_sdf):
    plain = (
        finalize_tier(rollup_tier(points_sdf, "1h", **FLAGS))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    salted = (
        finalize_tier(rollup_tier(points_sdf, "1h", salt=8, **FLAGS))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    assert len(plain) == len(salted)
    pd.testing.assert_series_equal(plain["open"], salted["open"])
    for col in ("skew", "kurt"):
        np.testing.assert_allclose(
            plain[col].to_numpy(float), salted[col].to_numpy(float),
            rtol=1e-6, atol=1e-9, err_msg=col,
        )


def test_producer_paths_bit_identical(spark):
    """rollup_tier(docs_to_points) and the shipped numpy kernel
    rollup_docs_arrow emit the same partial rows (Σx, Σx², Σx³, Σx⁴ all
    left-to-right over the same sequence, x³ = (x·x)·x and x⁴ = (x·x)·(x·x)
    in both → bitwise)."""
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=80, seed=13, min_tok=0, max_tok=300,
                      hot_fraction=0.05, hot_factor=5).cache()
    a = (rollup_tier(docs_to_points(docs, tick_seconds=1), "1m", **FLAGS)
         .orderBy(*KEY).toPandas().reset_index(drop=True))
    b = (rollup_docs_arrow(docs, "1m", tick_seconds=1, **FLAGS)
         .orderBy(*KEY).toPandas().reset_index(drop=True))
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_degenerate_bins_and_guards(spark):
    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # singleton bin: open == last == value; skew/kurt NULL (n < 3)
        ("a", "s", t(30), 5.0),
        # constant bin of 4: m2 degenerate -> skew/kurt NULL, open defined
        ("b", "s", t(10), 7.0), ("b", "s", t(20), 7.0),
        ("b", "s", t(30), 7.0), ("b", "s", t(40), 7.0),
        # n=3 non-constant: skew defined, kurt NULL (n < 4)
        ("c", "s", t(10), 1.0), ("c", "s", t(20), 2.0), ("c", "s", t(30), 4.0),
        # leading NULL then values: open skips the null
        ("d", "s", t(5), None), ("d", "s", t(15), 9.0), ("d", "s", t(25), 3.0),
    ]
    pts = spark.createDataFrame(
        rows, "doc_id string, source string, ts timestamp, value double"
    )
    out = {
        r["doc_id"]: r
        for _, r in finalize_tier(rollup_tier(pts, "1m", **FLAGS))
        .toPandas().iterrows()
    }
    a, b, c, d = out["a"], out["b"], out["c"], out["d"]
    assert a["open"] == a["last"] == 5.0
    assert pd.isna(a["skew"]) and pd.isna(a["kurt"])
    assert b["open"] == 7.0 and pd.isna(b["skew"]) and pd.isna(b["kurt"])
    assert not pd.isna(c["skew"]) and pd.isna(c["kurt"])
    # pandas cross-check for the defined n=3 skew
    assert np.isclose(c["skew"], pd.Series([1.0, 2.0, 4.0]).skew())
    assert d["open"] == 9.0 and d["last"] == 3.0


def test_absent_when_not_requested(spark, points_sdf):
    part = rollup_tier(points_sdf, "1h")
    assert not {"first", "first_ts", "vsumcu", "vsumqu"} & set(part.columns)
    out = finalize_tier(part)
    assert not {"open", "skew", "kurt"} & set(out.columns)
    # moments imply sumsq state but sumsq alone implies no moments
    only_sq = finalize_tier(rollup_tier(points_sdf, "1h", with_sumsq=True))
    assert "std" in only_sq.columns and "skew" not in only_sq.columns
    only_m = finalize_tier(rollup_tier(points_sdf, "1h", with_moments=True))
    assert {"skew", "kurt", "std"} <= set(only_m.columns)


def test_store_ohlc_moment_tiers_match_direct(spark, tmp_path):
    """TierPipeline(ohlc_tiers=True, moment_tiers=True): the stored/merged/
    cascaded tiers finalize open/skew/kurt equal to the direct batch
    computation — the Arrow producer, the schema-driven merge, compaction
    and the cascade all carry the new column families."""
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=60, seed=11, min_tok=0, max_tok=250,
                      hot_fraction=0.05, hot_factor=4).cache()
    store = str(tmp_path / "ohlc_tiers")
    pipe = TierPipeline(spark, store, n_batches=3,
                        ohlc_tiers=True, moment_tiers=True)
    pipe.run(docs)
    pipe.compact("1h")
    points = docs_to_points(docs)
    for tier in ("1m", "1h", "1d"):
        direct = (
            finalize_tier(rollup_tier(points, tier, **FLAGS))
            .orderBy(*KEY).toPandas().reset_index(drop=True)
        )
        incr = (
            pipe.read_tier(tier).orderBy(*KEY).toPandas()
            .reset_index(drop=True)
        )
        assert len(direct) == len(incr) > 0
        pd.testing.assert_series_equal(direct["open"], incr["open"],
                                       check_names=False)
        for col in ("skew", "kurt"):
            np.testing.assert_allclose(
                direct[col].to_numpy(float), incr[col].to_numpy(float),
                rtol=1e-6, atol=1e-9, err_msg=f"{tier}/{col}",
            )
    with pytest.raises(ValueError, match="parquet"):
        TierPipeline(spark, store, moment_tiers=True, backend="iceberg")
