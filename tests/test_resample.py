"""Differential tests: Spark resample / tier rollups vs the pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gensor_spark.operators.resample import resample
from gensor_spark.operators.rollup import cascade_tier, finalize_tier, rollup_tier
from tests import pandas_oracle as po


def _series_frames(points_pdf):
    for (d, s), g in points_pdf.groupby(["doc_id", "source"]):
        yield d, s, g


def _compare(spark_pdf: pd.DataFrame, oracle: pd.DataFrame, cols: list[str]):
    got = spark_pdf.sort_values("bin_ts").reset_index(drop=True)
    want = oracle.sort_values("bin_ts").reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    got_ts = pd.to_datetime(got["bin_ts"], utc=True)
    want_ts = pd.to_datetime(want["bin_ts"], utc=True)
    assert got_ts.equals(want_ts)
    for c in cols:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            rtol=1e-9,
            atol=0,
            err_msg=c,
        )


@pytest.mark.parametrize("freq", ["15min", "h", "d"])
def test_resample_mean_matches_pandas(spark, points_pdf, points_sdf, freq):
    out = resample(points_sdf, freq, aggs="mean").toPandas()
    for d, s, g in _series_frames(points_pdf):
        oracle = po.resample(po.to_series(g), freq, "mean").rename("mean").reset_index()
        oracle.columns = ["bin_ts", "mean"]
        mine = out[(out.doc_id == d) & (out.source == s)]
        _compare(mine, oracle, ["mean"])


def test_resample_custom_agg_func_matches_pandas(spark, points_pdf, points_sdf):
    """gensor's resample(freq, agg_func=<callable>) surface: the callable
    sees each bin's values as a pandas Series, exactly like
    pd.Series.resample(freq).apply(agg_func) in the reference."""

    def spread(s):
        return s.max() - s.min()

    out = resample(points_sdf, "h", agg_func=spread, dense=False).toPandas()
    for d, s, g in _series_frames(points_pdf):
        oracle = (
            po.to_series(g).resample("h").apply(spread).dropna().reset_index()
        )
        oracle.columns = ["bin_ts", "spread"]
        mine = out[(out.doc_id == d) & (out.source == s)].dropna(subset=["spread"])
        _compare(mine, oracle, ["spread"])


def test_resample_rejects_aggs_with_agg_func(spark, points_sdf):
    # the callable path would silently drop named aggs otherwise
    with pytest.raises(ValueError, match="not both"):
        resample(points_sdf, "h", ["mean", "max"], agg_func=lambda s: s.sum())


def test_resample_dense_grid_has_nan_bins(spark):
    # FIXTURES.md `resample_gap`: points at 00:00, 00:30, 03:10 → hourly
    # resample emits dense grid [1.5, NaN, NaN, 3.0]
    pdf = pd.DataFrame(
        {
            "doc_id": "d",
            "source": "s",
            "seq": [0, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:30", "2024-01-01 03:10"], utc=True
            ),
            "value": [1.0, 2.0, 3.0],
        }
    )
    out = (
        resample(spark.createDataFrame(pdf), "h", aggs="mean")
        .orderBy("bin_ts")
        .toPandas()
    )
    assert len(out) == 4
    np.testing.assert_allclose(
        out["mean"].to_numpy(dtype=float), [1.5, np.nan, np.nan, 3.0]
    )


@pytest.mark.parametrize("tier,freq", [("1m", "min"), ("1h", "h"), ("1d", "D")])
def test_rollup_tier_matches_pandas(spark, points_pdf, points_sdf, tier, freq):
    out = finalize_tier(rollup_tier(points_sdf, tier)).toPandas()
    # tiers are sparse: compare only bins with ≥1 non-null point (the oracle's
    # dense grid can't distinguish empty bins from all-NaN bins)
    out = out[out["count"] > 0]
    for d, s, g in _series_frames(points_pdf):
        oracle = po.rollup_tiers(g, freq)
        oracle = oracle[oracle["count"] > 0].reset_index(drop=True)
        mine = out[(out.doc_id == d) & (out.source == s)]
        _compare(mine, oracle, ["count", "min", "max", "mean", "last"])


def test_cascade_equals_direct(spark, points_sdf):
    """1h from 1m partials == 1h from raw; same for 1d from 1h."""
    t1m = rollup_tier(points_sdf, "1m")
    t1h_direct = finalize_tier(rollup_tier(points_sdf, "1h")).toPandas()
    t1h_casc = finalize_tier(cascade_tier(t1m, "1h")).toPandas()
    t1d_direct = finalize_tier(rollup_tier(points_sdf, "1d")).toPandas()
    t1d_casc = finalize_tier(cascade_tier(cascade_tier(t1m, "1h"), "1d")).toPandas()

    for direct, casc in [(t1h_direct, t1h_casc), (t1d_direct, t1d_casc)]:
        key = ["doc_id", "source", "bin_ts"]
        d = direct.sort_values(key).reset_index(drop=True)
        c = casc.sort_values(key).reset_index(drop=True)
        assert len(d) == len(c)
        for col in ["count", "min", "max", "last"]:
            pd.testing.assert_series_equal(d[col], c[col], check_names=False)
        np.testing.assert_allclose(
            d["mean"].to_numpy(float), c["mean"].to_numpy(float), rtol=1e-12
        )


def test_salted_rollup_equals_plain(spark, points_sdf):
    plain = finalize_tier(rollup_tier(points_sdf, "1h")).toPandas()
    salted = finalize_tier(rollup_tier(points_sdf, "1h", salt=8)).toPandas()
    key = ["doc_id", "source", "bin_ts"]
    p = plain.sort_values(key).reset_index(drop=True)
    s = salted.sort_values(key).reset_index(drop=True)
    assert len(p) == len(s)
    for col in ["count", "min", "max", "last"]:
        pd.testing.assert_series_equal(p[col], s[col], check_names=False)
    np.testing.assert_allclose(
        p["mean"].to_numpy(float), s["mean"].to_numpy(float), rtol=1e-12
    )


def test_rollup_fast_paths_bit_identical(spark, request):
    """The two 1m-rollup strategies agree bit-for-bit (SURVEY §2.4 +
    rollup_docs_arrow docstring): explode+shuffle and the batched numpy
    reduceat kernel."""
    import pandas as pd

    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.operators.rollup import rollup_docs_arrow, rollup_tier
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=200, seed=13, min_tok=0, max_tok=400,
                      hot_fraction=0.05, hot_factor=7).cache()
    request.addfinalizer(docs.unpersist)
    order = ["doc_id", "source", "bin_ts"]
    a = (rollup_tier(docs_to_points(docs, tick_seconds=1), "1m")
         .orderBy(*order).toPandas().reset_index(drop=True))
    c = (rollup_docs_arrow(docs, "1m", tick_seconds=1)
         .orderBy(*order).toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(a, c[a.columns])
