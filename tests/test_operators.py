"""Differential + golden tests for transforms, outliers, gap-fill, masking,
smoothing, and the compensation pipeline (reference fixtures from FIXTURES.md)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators import gapfill, masking, outliers, transforms
from gensor_spark.operators.compensation import compensate, water_column


def _one_series(spark, values, start="2024-01-01", freq="h", doc="d", src="s"):
    ts = pd.date_range(start, periods=len(values), freq=freq, tz="UTC")
    pdf = pd.DataFrame(
        {
            "doc_id": doc,
            "source": src,
            "seq": np.arange(len(values)),
            "ts": ts,
            "value": np.asarray(values, dtype=float),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _collect_values(df, col="value"):
    rows = df.orderBy("doc_id", "source", "seq").collect()
    return np.array([r[col] if r[col] is not None else np.nan for r in rows])


# ------------------------------------------------------------------ transforms

def test_difference_matches_pandas(spark, points_pdf, points_sdf):
    out = transforms.difference(points_sdf, periods=1).toPandas()
    for (d, s), g in points_pdf.groupby(["doc_id", "source"]):
        want = g.sort_values("seq")["value"].diff(1).dropna()
        got = out[(out.doc_id == d) & (out.source == s)].sort_values("seq")["value"]
        np.testing.assert_allclose(got.to_numpy(), want.to_numpy(), rtol=1e-12)


def test_pct_change_matches_pandas(spark, points_pdf, points_sdf):
    out = transforms.pct_change(points_sdf, periods=1).toPandas()
    for (d, s), g in points_pdf.groupby(["doc_id", "source"]):
        # fill_method=None = the non-deprecated semantics the engine
        # mirrors: NaN observations propagate, never pad
        want = (g.sort_values("seq")["value"]
                .pct_change(1, fill_method=None).to_numpy())
        got = (out[(out.doc_id == d) & (out.source == s)]
               .sort_values("seq")["pct"].to_numpy(dtype=float))
        # engine contract: NULL (not ±inf) at zero bases — mask them on
        # the pandas side before comparing
        inf = np.isinf(want)
        assert np.all(np.isnan(got[inf]))
        ok = ~inf
        np.testing.assert_allclose(got[ok], want[ok], rtol=1e-12,
                                   equal_nan=True)


def test_pct_change_zero_base_and_head(spark):
    sdf, _ = _one_series(spark, [2.0, 0.0, 3.0, 6.0])
    got = _collect_values(transforms.pct_change(sdf), col="pct")
    # head NULL, -100% into the zero, NULL on the zero base, then +100%
    np.testing.assert_allclose(got, [np.nan, -1.0, np.nan, 1.0],
                               equal_nan=True)


def test_log_sqrt_quirk(spark):
    sdf, pdf = _one_series(spark, [-4.0, 0.0, 4.0, 9.0])
    logv = _collect_values(sdf.withColumn("value", transforms.log_transform(F.col("value"))))
    np.testing.assert_allclose(logv, [-4.0, 0.0, np.log(4), np.log(9)])
    sqv = _collect_values(sdf.withColumn("value", transforms.sqrt_transform(F.col("value"))))
    np.testing.assert_allclose(sqv, [-4.0, 0.0, 2.0, 3.0])


def test_scalers_match_numpy(spark):
    vals = np.array([1.0, 2.0, 3.5, 7.0, -2.0, 10.0])
    sdf, _ = _one_series(spark, vals)
    np.testing.assert_allclose(
        _collect_values(transforms.standard_scaler(sdf)),
        (vals - vals.mean()) / vals.std(),  # ddof=0
        rtol=1e-12,
    )
    np.testing.assert_allclose(
        _collect_values(transforms.minmax_scaler(sdf)),
        (vals - vals.min()) / (vals.max() - vals.min()),
        rtol=1e-12,
    )
    np.testing.assert_allclose(
        _collect_values(transforms.maxabs_scaler(sdf)),
        vals / np.abs(vals).max(),
        rtol=1e-12,
    )
    med = np.percentile(vals, 50)
    q1, q3 = np.percentile(vals, [25, 75])
    np.testing.assert_allclose(
        _collect_values(transforms.robust_scaler(sdf)),
        (vals - med) / (q3 - q1),
        rtol=1e-12,
    )


def test_boxcox_fixed_and_mle(spark):
    rng = np.random.default_rng(0)
    vals = np.exp(rng.normal(0, 0.5, 200))  # lognormal → λ_mle ≈ 0
    sdf, _ = _one_series(spark, vals)
    got = _collect_values(
        sdf.withColumn("value", transforms.box_cox_fixed(F.col("value"), 0.5))
    )
    np.testing.assert_allclose(got, (np.power(vals, 0.5) - 1) / 0.5, rtol=1e-12)

    # MLE path: compare λ against a dense numpy grid search of the same llf
    out = transforms.box_cox_mle(sdf).toPandas()
    lam = out["lmbda"].iloc[0]
    grid = np.linspace(-2, 2, 4001)
    logx = float(np.log(vals).sum())
    lls = [transforms._boxcox_llf(g, vals, logx) for g in grid]
    lam_grid = grid[int(np.argmax(lls))]
    assert abs(lam - lam_grid) < 2e-3
    assert abs(lam) < 0.2  # lognormal sanity


def test_golden_min_parabola_and_inf_plateau():
    """The one golden-section search: a shifted parabola's minimum to within
    ``tol``, and a left-hand ``inf`` plateau (an objective that fails there,
    as the Kalman likelihood does) is stepped past, not stopped at."""
    for m in (-3.7, 0.0, 0.25, 4.9):
        got = transforms.golden_min(lambda x: (x - m) ** 2, -5.0, 5.0, 1e-9)
        assert abs(got - m) <= 1e-9

    def plateau(x):
        return np.inf if x < 2.0 else (x - 3.0) ** 2

    got = transforms.golden_min(plateau, -8.0, 8.0, 1e-6)
    assert abs(got - 3.0) <= 1e-6


# ------------------------------------------------------------------- outliers

def _spiked(spark):
    # FIXTURES.md `spiked_series` (reference tests/test_outliers.py:18-44)
    rng = np.random.default_rng(42)
    vals = rng.normal(100, 1, 300)
    vals[50] += 500
    vals[200] -= 300
    return _one_series(spark, vals, freq="min")


def test_zscore_global_matches_reference(spark):
    sdf, pdf = _spiked(spark)
    out = outliers.zscore_global(sdf, threshold=3.0).toPandas().sort_values("seq")
    x = pdf["value"].to_numpy()
    want = np.abs((x - x.mean()) / x.std()) > 3.0
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)
    assert out["is_outlier"].to_numpy()[50] and out["is_outlier"].to_numpy()[200]


def test_iqr_global_matches_reference(spark):
    sdf, pdf = _spiked(spark)
    out = outliers.iqr_global(sdf, k=1.5).toPandas().sort_values("seq")
    x = pdf["value"].to_numpy()
    q1, q3 = np.percentile(x, [25, 75])
    want = (x < q1 - 1.5 * (q3 - q1)) | (x > q3 + 1.5 * (q3 - q1))
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)


def _rolling_oracle(x: np.ndarray, w: int, detector) -> np.ndarray:
    """pandas rolling(w).apply(detector on last point) parity (outliers.py:45-67)."""
    flags = np.zeros(len(x), dtype=bool)
    for i in range(w - 1, len(x)):
        win = x[i - w + 1 : i + 1]
        if np.isnan(win).any():
            continue
        flags[i] = detector(win)
    return flags


def test_zscore_rolling_matches_reference(spark):
    sdf, pdf = _spiked(spark)
    w = 30
    out = outliers.zscore_rolling(sdf, window=w, threshold=3.0).toPandas().sort_values("seq")

    def det(win):
        sd = win.std()
        return sd > 0 and abs((win[-1] - win.mean()) / sd) > 3.0

    want = _rolling_oracle(pdf["value"].to_numpy(), w, det)
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)


def test_iqr_rolling_matches_reference(spark):
    sdf, pdf = _spiked(spark)
    w = 30
    out = outliers.iqr_rolling(sdf, window=w, k=1.5).toPandas().sort_values("seq")

    def det(win):
        q1, q3 = np.percentile(win, [25, 75])
        return win[-1] < q1 - 1.5 * (q3 - q1) or win[-1] > q3 + 1.5 * (q3 - q1)

    want = _rolling_oracle(pdf["value"].to_numpy(), w, det)
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)


def _hampel_oracle(x: pd.Series, window: int, n_sigma: float = 3.0) -> np.ndarray:
    # literal re-statement of gensor outliers.py:128-160 semantics
    roll = x.rolling(window=window, center=True, min_periods=1)
    median = roll.median()
    mad = roll.apply(lambda v: np.median(np.abs(v - np.median(v))), raw=True)
    return ((x - median).abs() > n_sigma * 1.4826 * mad).to_numpy()


def test_hampel_matches_reference(spark):
    sdf, pdf = _spiked(spark)
    out = outliers.hampel(sdf, window=7).toPandas().sort_values("seq")
    want = _hampel_oracle(pdf["value"].astype(float), 7)
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)
    # flat series flags nothing (FIXTURES.md `flat_series`)
    flat, _ = _one_series(spark, np.full(100, 42.0))
    assert outliers.hampel(flat, window=5).filter("is_outlier").count() == 0


def test_hampel_with_nan_gaps(spark):
    vals = np.r_[np.full(20, 10.0), np.nan, np.full(20, 10.0)]
    vals[5] = 99.0
    sdf, pdf = _one_series(spark, vals)
    out = outliers.hampel(sdf, window=5).toPandas().sort_values("seq")
    want = _hampel_oracle(pd.Series(vals), 5)
    np.testing.assert_array_equal(out["is_outlier"].to_numpy(), want)


def test_lof_flags_spikes(spark):
    sdf, pdf = _spiked(spark)
    out = outliers.lof(sdf, n_neighbors=20).toPandas().sort_values("seq")
    flags = out["is_outlier"].to_numpy()
    assert flags[50] and flags[200]
    assert flags.sum() <= 30  # reference keeps ≥ n-30 (test_outliers.py:29-44)


# ------------------------------------------------------------ LOF parity


def _lof_reference(x: np.ndarray, k: int) -> np.ndarray:
    """Independent LOF oracle, written loop-wise from the Breunig et al.
    definitions (k-distance → reachability → lrd → LOF) with sklearn's
    exact conventions: exactly-k neighbors by stable distance sort, and the
    1e-10 lrd regularizer from _local_reachability_density. Deliberately a
    different code shape than the engine kernel (per-point loops vs
    broadcast matrices) so a shared bug can't hide."""
    n = x.size
    k = min(k, n - 1)
    nbrs, kdist = [], np.zeros(n)
    for i in range(n):
        d = [(abs(x[i] - x[j]), j) for j in range(n) if j != i]
        d.sort(key=lambda t: t[0])  # python sort is stable → index order ties
        nbrs.append([j for _, j in d[:k]])
        kdist[i] = d[k - 1][0]
    lrd = np.zeros(n)
    for i in range(n):
        reach = [max(kdist[j], abs(x[i] - x[j])) for j in nbrs[i]]
        lrd[i] = 1.0 / (sum(reach) / k + 1e-10)
    return np.array([-(sum(lrd[j] for j in nbrs[i]) / k) / lrd[i] for i in range(n)])


def test_lof_scores_hand_computed():
    """Pinned negative_outlier_factor_ for x=[0,1,2,10], k=2, derived by hand:

    kdist = [2,1,2,9]; lrd = [2/3, 1/2, 2/3, 2/17];
    LOF   = [7/8, 4/3, 7/8, 119/24]  (exactly what sklearn returns here).
    """
    got = outliers._lof_scores(np.array([0.0, 1.0, 2.0, 10.0]), k=2)
    want = -np.array([7 / 8, 4 / 3, 7 / 8, 119 / 24])
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_lof_scores_match_independent_reference():
    rng = np.random.default_rng(7)
    cases = [
        np.concatenate([rng.normal(100, 1, 120), [600.0, -250.0]]),  # spikes
        np.array([5.0] * 10 + [5.1] * 10 + [50.0]),  # heavy ties + duplicates
        np.array([1.0, 2.0, 4.0, 8.0, 16.0]),  # n barely above k
        np.round(rng.normal(0, 1, 60), 1),  # quantized → many exact ties
    ]
    for k in (2, 4, 20):
        for x in cases:
            if x.size <= k:
                continue
            np.testing.assert_allclose(
                outliers._lof_scores(x, k), _lof_reference(x, k), rtol=1e-9,
                err_msg=f"k={k}, n={x.size}",
            )


# ------------------------------------------------------- isolation forest


def test_isolation_forest_flags_spikes(spark):
    # same behavioral gate the reference's tests apply to its sklearn wrapper
    # (/root/reference/tests/test_outliers.py): both injected spikes flagged,
    # bulk of the series kept
    sdf, _ = _spiked(spark)
    out = outliers.isolation_forest(sdf).toPandas().sort_values("seq")
    flags = out["is_outlier"].to_numpy()
    assert flags[50] and flags[200]
    assert flags.sum() <= 30


def test_isolation_forest_flat_series_flags_nothing(spark):
    sdf, _ = _one_series(spark, np.full(100, 7.5), freq="min")
    out = outliers.isolation_forest(sdf).toPandas()
    assert not out["is_outlier"].any()


def test_iforest_scores_deterministic_and_scaled():
    x = np.concatenate([np.random.default_rng(1).normal(0, 1, 200), [50.0]])
    s1 = outliers._iforest_scores(x, seed=0)
    s2 = outliers._iforest_scores(x, seed=0)
    np.testing.assert_array_equal(s1, s2)  # fixed seed → bit-identical
    assert (s1 > 0).all() and (s1 < 1).all()  # 2^(-E/c) ∈ (0,1)
    assert s1[-1] == s1.max() and s1[-1] > 0.5  # the spike isolates first


#: own-kernel golden fixtures (VERDICT r2 #5): sklearn-bitwise parity is
#: impossible by construction (tree RNG differs — _iforest_scores docstring),
#: so these pin OUR kernel's exact scores for 5 series shapes at seed=7,
#: n_trees=50, psi=8. Any change to sampling, split clamping, tie handling,
#: depth completion, or the c(m) table shifts these and fails loudly.
_IFOREST_GOLDEN = {
    "spike": (
        [1.0, 1.1, 0.9, 1.05, 0.95, 50.0, 1.02, 0.98, 1.01, -40.0, 1.0, 1.03],
        [0.36703712876321476, 0.4731237138888916, 0.4807505245479939,
         0.3978371998057943, 0.42730614040659953, 0.6704353384365208,
         0.3736372761892072, 0.39549062484424663, 0.3719767939543094,
         0.6772788275793961, 0.36703712876321476, 0.3749779633993677],
    ),
    "flat": (
        [7.25] * 10,
        [0.4999999999999999] * 10,
    ),
    "ties": (
        [2.0, 2.0, 2.0, 9.0, 2.0, 2.0, 9.0, 2.0, 2.0, 2.0],
        [0.4455770615016809, 0.4455770615016809, 0.4455770615016809,
         0.7194356987720659, 0.4455770615016809, 0.4455770615016809,
         0.7194356987720659, 0.4455770615016809, 0.4455770615016809,
         0.4455770615016809],
    ),
    "ramp": (
        [float(i) for i in range(16)],
        [0.5762630783456448, 0.5446515019293149, 0.5336507959106314,
         0.5133810922656379, 0.4979293475221317, 0.4974952311302087,
         0.4974952311302087, 0.4825216190546044, 0.47259827658445797,
         0.4676633534063813, 0.46570064623405355, 0.48565905277968047,
         0.4870977087691718, 0.5193979407474147, 0.5602439861017424,
         0.5795581880701199],
    ),
    "tiny": (  # n < psi and n < n_trees: full-sample trees, short paths
        [3.0, -1.0, 4.0],
        [0.3172160416207152, 0.5137903960937138, 0.3477336588071784],
    ),
}


def test_iforest_scores_golden_fixtures():
    for name, (x, want) in _IFOREST_GOLDEN.items():
        got = outliers._iforest_scores(np.asarray(x, dtype=float),
                                       n_trees=50, psi=8, seed=7)
        np.testing.assert_allclose(got, np.asarray(want), rtol=1e-12, atol=0,
                                   err_msg=name)


# -------------------------------------------------------------------- gapfill

def test_locf_nocb_match_pandas(spark):
    vals = np.array([np.nan, 1.0, np.nan, np.nan, 4.0, np.nan])
    sdf, _ = _one_series(spark, vals)
    s = pd.Series(vals)
    np.testing.assert_array_equal(_collect_values(gapfill.locf(sdf)), s.ffill().to_numpy())
    np.testing.assert_array_equal(_collect_values(gapfill.nocb(sdf)), s.bfill().to_numpy())


def test_interpolate_matches_pandas(spark):
    vals = np.array([np.nan, 1.0, np.nan, np.nan, 7.0, np.nan, 3.0, np.nan])
    sdf, pdf = _one_series(spark, vals)
    got = _collect_values(gapfill.interpolate(sdf, "linear"))
    want = pd.Series(vals).interpolate("linear").to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-12)

    # irregular timestamps → 'time' differs from 'linear'
    ts = pd.to_datetime(
        ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 05:00",
         "2024-01-01 06:00", "2024-01-01 07:00"], utc=True
    )
    vals2 = np.array([1.0, np.nan, np.nan, np.nan, 9.0])
    pdf2 = pd.DataFrame(
        {"doc_id": "d", "source": "s", "seq": range(5), "ts": ts, "value": vals2}
    )
    sdf2 = spark.createDataFrame(pdf2)
    got2 = _collect_values(gapfill.interpolate(sdf2, "time"))
    want2 = pd.Series(vals2, index=ts).interpolate("time").to_numpy()
    np.testing.assert_allclose(got2, want2, rtol=1e-12)


# ------------------------------------------------------------ masking / smooth

def test_mask_with_keep_remove(spark):
    a, _ = _one_series(spark, [1.0, 2.0, 3.0])
    b, _ = _one_series(spark, [9.0], start="2024-01-01 01:00")  # shares ts index 1
    assert masking.mask_with(a, b, "keep").count() == 1
    assert masking.mask_with(a, b, "remove").count() == 2


def test_concatenate_keep_first(spark):
    # FIXTURES.md `merge_dedup`: overlap at one timestamp → 5 rows, self wins
    a, _ = _one_series(spark, [1.0, 2.0, 3.0])
    b, _ = _one_series(spark, [99.0, 4.0, 5.0], start="2024-01-01 02:00")
    out = masking.concatenate(a, b).orderBy("ts").collect()
    assert len(out) == 5
    assert [r["value"] for r in out] == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_smooth_matches_pandas(spark, points_pdf, points_sdf):
    for method, pd_fn in [("rolling_mean", "mean"), ("rolling_median", "median")]:
        out = masking.smooth(points_sdf, window=5, method=method).toPandas()
        for (d, s), g in points_pdf.groupby(["doc_id", "source"]):
            want = getattr(
                g.sort_values("seq")["value"].rolling(5, center=True), pd_fn
            )().to_numpy()
            got = (
                out[(out.doc_id == d) & (out.source == s)]
                .sort_values("seq")["value"]
                .to_numpy()
            )
            np.testing.assert_allclose(got, want, rtol=1e-12)


# --------------------------------------------------------------- compensation

def test_compensation_golden(spark):
    # FIXTURES.md golden: raw [1313,1312,1310] cmh2o, baro 1010, alt 100
    # → head [103.03, 103.02, 103.00] (reference tests/test_compensation.py:30-35)
    raw, _ = _one_series(spark, [1313.0, 1312.0, 1310.0])
    out = compensate(raw, 1010.0, sensor_alt=100.0, alignment_period="h")
    heads = [r["head"] for r in out.orderBy("bin_ts").collect()]
    np.testing.assert_allclose(heads, [103.03, 103.02, 103.00], rtol=1e-5)


def test_compensation_with_baro_series(spark):
    raw, _ = _one_series(spark, [1313.0, 1312.0, 1310.0])
    baro, _ = _one_series(spark, [1010.0, 1010.0, 1010.0], doc="baro", src="b")
    out = compensate(raw, baro, sensor_alt=100.0)
    heads = [r["head"] for r in out.orderBy("bin_ts").collect()]
    np.testing.assert_allclose(heads, [103.03, 103.02, 103.00], rtol=1e-5)


def test_threshold_case(spark):
    # FIXTURES.md threshold_case: wc +5.0 +4.5 -0.02 -0.5 +4.8; cutoff 0.05
    # → 3 survive, 2 outliers (reference test_compensation.py:94-118)
    raw, _ = _one_series(spark, [1500.0, 1450.0, 998.0, 950.0, 1480.0])
    wc = water_column(raw, 1000.0, threshold_wc=0.05)
    assert wc.filter("is_outlier").count() == 2
    assert wc.filter("NOT is_outlier").count() == 3


def test_fieldwork_mask_keeps_gap_rows(spark):
    raw, _ = _one_series(spark, [1313.0, 1312.0, 1310.0])
    wc = water_column(raw, 1010.0, fieldwork_dates=["2024-01-01"])
    rows = wc.collect()
    assert len(rows) == 3
    assert all(r["water_column"] is None for r in rows)


def test_winsorize_pandas_and_duckdb_parity(spark, points_sdf, points_pdf):
    """Per-series quantile clipping: pandas clip(quantile) parity (linear
    interpolation) + DuckDB quantile_cont oracle; NULLs pass through."""
    import duckdb

    from gensor_spark.operators.transforms import winsorize

    got = (winsorize(points_sdf, 0.1, 0.9)
           .orderBy("doc_id", "source", "seq").toPandas())

    def clip(s):
        return s.clip(s.quantile(0.1), s.quantile(0.9))

    exp = points_pdf.sort_values(["doc_id", "source", "seq"]).reset_index(
        drop=True)
    exp["value"] = exp.groupby(["doc_id", "source"])["value"].transform(clip)
    np.testing.assert_allclose(
        got["value"].to_numpy(float), exp["value"].to_numpy(float),
        rtol=1e-12, atol=1e-12)
    assert got["value"].isna().sum() == points_pdf["value"].isna().sum()

    con = duckdb.connect()
    con.register("pts", points_pdf)
    oracle = con.execute("""
        SELECT doc_id, source, seq,
               CASE WHEN value < lo THEN lo WHEN value > hi THEN hi
                    ELSE value END AS value
        FROM (SELECT *,
                quantile_cont(value, 0.1) OVER (PARTITION BY doc_id, source) AS lo,
                quantile_cont(value, 0.9) OVER (PARTITION BY doc_id, source) AS hi
              FROM pts)
        ORDER BY doc_id, source, seq
    """).df()
    np.testing.assert_allclose(
        got["value"].to_numpy(float), oracle["value"].to_numpy(float),
        rtol=1e-12, atol=1e-12)

    with pytest.raises(ValueError, match="lower"):
        winsorize(points_sdf, 0.9, 0.1)
