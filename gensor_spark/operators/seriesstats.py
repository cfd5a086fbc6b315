"""Per-series statistics beyond gensor's surface: EWMA and Holt smoothing,
auto-/partial-/cross-series correlation, CUSUM change-point detection,
Mann-Kendall trend testing, reset-aware counter rates and seasonal-profile
anomalies.

gensor smooths only with centered rolling mean/median
(``/root/reference/gensor/processing/smoothing.py:10-66``) and trends only
with OLS (``/root/reference/gensor/analysis/stats.py:21``); real sensor and
token-rate pipelines also want exponentially-weighted smoothing, pairwise
series correlation (which loggers co-move?) and change detection (when did a
series shift regime?). Everything here follows this engine's established
physical shapes:

- ``ewma`` is a sequential per-series recurrence — the one class of operator
  the repo sanctions as a batched Arrow kernel (udfkernel.py: Hampel, LOF,
  Box-Cox MLE). One shuffle on the series key, pandas-exact semantics.
- ``series_corr`` is pure Catalyst: bin → mean → self equi-join on the bin →
  ``corr`` aggregate. Two shuffles (bin agg, pair agg); the join is an SMJ on
  the bin key, never a cartesian, so the O(S²) pair space is only realized
  where two series actually share bins.
- ``cusum_changepoint`` (Taylor's cumulative-sum chart: C_t = Σ(x_i − x̄),
  change point at argmax |C_t|) is window algebra — running sum over an
  ordered frame plus an unbounded-frame mean — with NO clamp recurrence, so
  unlike Page's CUSUM it needs no sequential kernel and stays whole-stage
  codegen end to end.

Scale notes (100 TB): ``ewma`` and ``cusum_changepoint`` shuffle once on the
series key and stream; skewed hot series are bounded by per-series length,
not key cardinality. ``series_corr``'s pair fan-out is quadratic in series
that SHARE a bin — callers at web scale pre-select series (top coverage /
one tenant) exactly like every published correlation-matrix job; the
``min_overlap`` filter runs inside the aggregate, after the map-side partial.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gensor_spark.operators.transforms import golden_min

KEYS = ("doc_id", "source")


# ---------------------------------------------------------------------------
# EWMA (pandas .ewm parity)
# ---------------------------------------------------------------------------

def _ewma_kernel(x: np.ndarray, alpha: float, adjust: bool, ignore_na: bool) -> np.ndarray:
    """pandas ``Series.ewm(alpha, adjust, ignore_na).mean()`` — via pandas
    itself: the kernel is already vectorized C and parity is by construction."""
    return (
        pd.Series(x).ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na).mean().to_numpy()
    )


def ewma(
    points: DataFrame,
    alpha: float,
    adjust: bool = True,
    ignore_na: bool = False,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per series, pandas-exact.

    ``adjust=True`` divides by the decaying weight sum (unbiased start);
    ``adjust=False`` is the plain recurrence y_t = α·x_t + (1−α)·y_{t−1}.
    NaN handling mirrors pandas: missing values propagate the previous
    smoothed value; ``ignore_na`` controls whether gaps still age weights.

    Sequential recurrence → batched Arrow kernel (udfkernel.per_series_map):
    one JVM↔Python crossing per ~10k-row batch, never per series or per row.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if out_col in points.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the input")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(points.schema.fields + [T.StructField(out_col, T.DoubleType())])

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.reset_index(drop=True)
        out[out_col] = _ewma_kernel(
            out[value_col].to_numpy(dtype=float), alpha, adjust, ignore_na
        )
        return out

    return per_series_map(points, per_series, schema, keys=keys)


def ewma_halflife(
    points: DataFrame,
    halflife_seconds: float,
    keys: tuple[str, ...] = KEYS,
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "ewma_t",
) -> DataFrame:
    """TIME-aware EWMA per series — pandas
    ``ewm(halflife=Timedelta, times=...)`` parity: the decay between two
    observations is ``0.5**(Δt/halflife)``, so irregularly-sampled series
    weight by elapsed TIME, not sample count (the positional ``ewma``
    over-weights burst samples and under-ages gaps). pandas supports
    times-based decay only with ``adjust=True``; same here:

        num_t = x_t + 0.5**(Δt/h) · num_{t-1}
        den_t = 1   + 0.5**(Δt/h) · den_{t-1}
        y_t   = num_t / den_t

    NaN observations contribute nothing but DO age the state by their
    timestamp gap (pinned against an independent recursion in tests).

    Same batched Arrow-kernel shape as ``ewma``; ordering is by event
    time, not ``seq``.
    """
    if halflife_seconds <= 0:
        raise ValueError("halflife_seconds must be positive")
    if out_col in points.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the input")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(points.schema.fields
                          + [T.StructField(out_col, T.DoubleType())])
    hl = pd.Timedelta(seconds=float(halflife_seconds))

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        # per_series_map(sort_col=ts_col) delivers each group ts-sorted
        out = pdf.reset_index(drop=True)
        s = pd.Series(out[value_col].to_numpy(dtype=float))
        out[out_col] = s.ewm(
            halflife=hl, times=pd.DatetimeIndex(out[ts_col])
        ).mean().to_numpy()
        return out

    return per_series_map(points, per_series, schema, keys=keys,
                          sort_col=ts_col)


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing
# ---------------------------------------------------------------------------

def _holt_kernel(x: np.ndarray, alpha: float, beta: float) -> tuple[np.ndarray, np.ndarray]:
    """Holt's linear method, per series:

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    Initialized l_0 = x_0, b_0 = x_1 - x_0 (0 when the series has one
    point) — the textbook initialization. NaN observations SKIP the update
    (level and trend carry unchanged) and emit NaN at that position.
    Returns (level, trend) arrays aligned to x.
    """
    n = len(x)
    level = np.full(n, np.nan)
    trend = np.full(n, np.nan)
    obs = np.flatnonzero(~np.isnan(x))
    b0 = (x[obs[1]] - x[obs[0]]) if len(obs) >= 2 else 0.0
    l = b = None
    for i, v in enumerate(x):
        if np.isnan(v):
            continue
        if l is None:
            l, b = v, b0
        else:
            prev_l = l
            l = alpha * v + (1 - alpha) * (l + b)
            b = beta * (l - prev_l) + (1 - beta) * b
        level[i] = l
        trend[i] = b
    return level, trend


def holt_smooth(
    points: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    out_level: str = "level",
    out_trend: str = "trend",
) -> DataFrame:
    """Holt linear (double-exponential) smoothing per series — EWMA's
    trend-aware sibling: where ``ewma`` lags behind a trending series by
    construction, Holt carries an explicit trend state so the level tracks
    a ramp without systematic lag. (Extends the reference's smoothing
    surface, ``/root/reference/gensor/processing/smoothing.py:10-66``,
    which offers only centered rolling mean/median.)

    Output: input columns + ``level`` (smoothed value) and ``trend``
    (current slope estimate). NaN observations skip the state update and
    emit NaN (mask-don't-crash).

    Sequential recurrence → batched Arrow kernel (udfkernel.per_series_map,
    the ewma/Hampel shape): one shuffle on the series key, one JVM↔Python
    crossing per ~10k-row batch.
    """
    for p, name in ((alpha, "alpha"), (beta, "beta")):
        if not 0.0 < p <= 1.0:
            raise ValueError(f"{name} must be in (0, 1]")
    for c in (out_level, out_trend):
        if c in points.columns:
            raise ValueError(f"out col {c!r} already exists in the input")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        points.schema.fields
        + [T.StructField(out_level, T.DoubleType()),
           T.StructField(out_trend, T.DoubleType())]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.reset_index(drop=True)
        lv, tr = _holt_kernel(out[value_col].to_numpy(dtype=float), alpha, beta)
        out[out_level] = lv
        out[out_trend] = tr
        return out

    return per_series_map(points, per_series, schema, keys=keys)


def _hw_kernel(
    x: np.ndarray, period: int, alpha: float, beta: float, gamma: float,
    mode: str = "add",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Holt-Winters additive (triple exponential) smoothing, per series:

        l_t = alpha*(x_t − s_{t−m}) + (1−alpha)*(l_{t−1} + b_{t−1})
        b_t = beta*(l_t − l_{t−1}) + (1−beta)*b_{t−1}
        s_t = gamma*(x_t − l_{t−1} − b_{t−1}) + (1−gamma)*s_{t−m}
        fit_t = l_{t−1} + b_{t−1} + s_{t−m}      (one-step-ahead fit)

    Trend-adjusted initialization from the first two seasons of NON-NaN
    observations (m = period):

        b0 = (mean(x[m:2m]) − mean(x[0:m])) / m
        l_{m−1} = mean(x[0:m]) + b0·(m−1)/2
        s_i = x_i − (l_{m−1} − (m−1−i)·b0),  i ∈ [0, m)

    — chosen so a pure series ``a + b·t + s_{t mod m}`` (zero-sum season)
    is recovered EXACTLY: from t = m on, fit_t == x_t to float precision
    (the invariant the tests pin). NaN observations skip the state update
    (season ring unchanged) and emit NaN; seasonal position counts
    non-NaN observations, i.e. the series is compacted before smoothing.
    A series with fewer than 2m observations is all-NaN (mask-don't-crash).
    Returns (level, trend, season, fit, state) aligned to x; the first m
    observations carry their init season and NaN level/trend/fit.
    ``state`` is (l, b, s_ring, next_j) after the last observation — the
    forecasting seed (None for a too-short series).

    ``mode='mul'`` runs the multiplicative form (Hyndman & Athanasopoulos
    §8.3): seasonal RATIOS instead of offsets —
    ``l_t = alpha·(x_t/s_{t−m}) + …``, ``s_t = gamma·(x_t/(l+b)) + …``,
    ``fit_t = (l_{t−1}+b_{t−1})·s_{t−m}`` — with ratio initialization
    ``s_i = x_i / trendline_i``. The exactness invariant becomes: a pure
    trend-free ``a·s_{t mod m}`` series (mean-1 season) is recovered
    exactly from t = m on. Multiplicative HW is undefined on non-positive
    values: a series with any x ≤ 0 returns all-NaN (mask-don't-crash).
    """
    n = len(x)
    level = np.full(n, np.nan)
    trend = np.full(n, np.nan)
    season = np.full(n, np.nan)
    fit = np.full(n, np.nan)
    obs = np.flatnonzero(~np.isnan(x))
    m = period
    if len(obs) < 2 * m:
        return level, trend, season, fit, None
    xc = x[obs]
    if mode == "mul" and (xc <= 0).any():
        # multiplicative HW is undefined on non-positive observations
        # (statsmodels raises); the engine convention is mask-don't-crash
        return level, trend, season, fit, None
    b0 = (xc[m:2 * m].mean() - xc[:m].mean()) / m
    l = xc[:m].mean() + b0 * (m - 1) / 2.0
    b = b0
    if mode == "mul":
        s = xc[:m] / (l - (m - 1 - np.arange(m)) * b0)
    else:
        s = xc[:m] - (l - (m - 1 - np.arange(m)) * b0)
    season[obs[:m]] = s
    for j in range(m, len(xc)):
        i = obs[j]
        sj = s[j % m]
        prev_l, prev_b = l, b
        if mode == "mul":
            fit[i] = (l + b) * sj
            l = alpha * (xc[j] / sj) + (1 - alpha) * (l + b)
            b = beta * (l - prev_l) + (1 - beta) * b
            s[j % m] = gamma * (xc[j] / (prev_l + prev_b)) + (1 - gamma) * sj
        else:
            fit[i] = l + b + sj
            l = alpha * (xc[j] - sj) + (1 - alpha) * (l + b)
            b = beta * (l - prev_l) + (1 - beta) * b
            s[j % m] = gamma * (xc[j] - prev_l - prev_b) + (1 - gamma) * sj
        level[i] = l
        trend[i] = b
        season[i] = s[j % m]
    return level, trend, season, fit, (l, b, s, len(xc))


def hw_smooth(
    points: DataFrame,
    period: int,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.3,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    mode: str = "add",
) -> DataFrame:
    """Holt-Winters additive (triple exponential) smoothing per series —
    completes the exponential family: ``ewma`` (level), ``holt_smooth``
    (level+trend), ``hw_smooth`` (level+trend+season). Where
    ``seasonal_decompose`` fits ONE static seasonal profile to the whole
    series, Holt-Winters tracks a season that DRIFTS — the right tool when
    the daily shape itself changes over the retention window. (Extends the
    reference's smoothing surface,
    ``/root/reference/gensor/processing/smoothing.py:10-66``.)

    Output: input columns + ``level``, ``trend``, ``season``, ``hw_fit``
    (the one-step-ahead fitted value l+b+s, NaN over the init window).
    See ``_hw_kernel`` for init/NaN semantics.

    Sequential recurrence → batched Arrow kernel (udfkernel.per_series_map,
    the ewma/holt shape): one shuffle on the series key, one JVM↔Python
    crossing per ~10k-row batch. Per-series cost is O(n); the season ring
    is O(period) state.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if mode not in ("add", "mul"):
        raise ValueError(f"mode must be 'add' or 'mul', got {mode!r}")
    for p, name in ((alpha, "alpha"), (beta, "beta"), (gamma, "gamma")):
        if not 0.0 < p <= 1.0:
            raise ValueError(f"{name} must be in (0, 1]")
    for c in ("level", "trend", "season", "hw_fit"):
        if c in points.columns:
            raise ValueError(f"out col {c!r} already exists in the input")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        points.schema.fields
        + [T.StructField(c, T.DoubleType())
           for c in ("level", "trend", "season", "hw_fit")]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.reset_index(drop=True)
        lv, tr, se, ft, _state = _hw_kernel(
            out[value_col].to_numpy(dtype=float), period, alpha, beta, gamma,
            mode=mode,
        )
        out["level"] = lv
        out["trend"] = tr
        out["season"] = se
        out["hw_fit"] = ft
        return out

    return per_series_map(points, per_series, schema, keys=keys)


def hw_forecast(
    points: DataFrame,
    period: int,
    horizon: int,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.3,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
    mode: str = "add",
) -> DataFrame:
    """h-step-ahead Holt-Winters forecast per series:
    ``yhat_k = l + k·b + s[(j+k−1) mod m]`` from the state after the last
    observation — the standard additive-HW forecast function. The
    exact-recovery invariant extends to forecasting: on a pure
    ``a + b·t + season`` series the forecast equals the true continuation
    to float precision for EVERY step (pinned in tests).

    Emits ``horizon`` rows per qualifying series: (keys, step, yhat,
    last_ts) with step ∈ [1, horizon]; ``last_ts`` is the last observed
    timestamp so callers can place the forecast on their own clock (the
    engine does not guess the sampling interval). Series too short to
    initialize (< 2·period observations) emit nothing (mask-don't-crash).

    Same single-shuffle Arrow-kernel shape as ``hw_smooth``; output size is
    series_count × horizon, independent of input length.
    """
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if mode not in ("add", "mul"):
        raise ValueError(f"mode must be 'add' or 'mul', got {mode!r}")
    for p, name in ((alpha, "alpha"), (beta, "beta"), (gamma, "gamma")):
        if not 0.0 < p <= 1.0:
            raise ValueError(f"{name} must be in (0, 1]")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [T.StructField("step", T.IntegerType()),
           T.StructField("yhat", T.DoubleType()),
           T.StructField("last_ts", points.schema[ts_col].dataType)]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        *_arrs, state = _hw_kernel(x, period, alpha, beta, gamma, mode=mode)
        # too-short series: emit zero rows, with the same (Arrow-safe)
        # dtypes the populated path produces
        h = 0 if state is None else horizon
        out = pd.DataFrame({
            "step": np.arange(1, h + 1, dtype=np.int32),
            "yhat": np.empty(h, dtype=float),
        })
        if h:
            l, b, s, j = state
            if mode == "mul":
                out["yhat"] = [(l + k * b) * s[(j + k - 1) % period]
                               for k in range(1, h + 1)]
            else:
                out["yhat"] = [l + k * b + s[(j + k - 1) % period]
                               for k in range(1, h + 1)]
        for k in keys:
            out[k] = pdf[k].iloc[:1].repeat(h).reset_index(drop=True)
        obs_ts = pdf.loc[~pd.isna(pdf[value_col]), ts_col]
        out["last_ts"] = (obs_ts.iloc[-1:].repeat(h).reset_index(drop=True)
                          if h else obs_ts.iloc[:0])
        return out[[f.name for f in schema.fields]]

    return per_series_map(points, per_series, schema, keys=keys)


# ---------------------------------------------------------------------------
# cross-series correlation matrix
# ---------------------------------------------------------------------------

def series_corr(
    points: DataFrame,
    bin: str = "hour",
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
    min_overlap: int = 3,
) -> DataFrame:
    """Pairwise Pearson correlation between every two series that share
    ≥ ``min_overlap`` time bins.

    Plan: ``date_trunc`` bin → per-(series, bin) mean (shuffle 1, partial
    map-side agg) → self equi-join on ``bin_ts`` (SMJ/shuffled-hash on the
    bin — the containment of the pair space to co-occurring bins is what
    keeps this from being a cartesian) → ``corr`` per ordered pair
    (shuffle 2). Population corr over the bin means; the ``sid_a < sid_b``
    ordering halves the space and drops self-pairs.

    Output: ``sid_a, sid_b, n_overlap, corr`` where ``sid`` is the
    '|'-joined series key (kept single-column so the pair agg shuffles one
    narrow key instead of 2·len(keys) columns).
    """
    sid = F.concat_ws("|", *[F.col(k) for k in keys])
    binned = (
        points.withColumn("bin_ts", F.date_trunc(bin, F.col(ts_col)))
        .withColumn("sid", sid)
        .groupBy("sid", "bin_ts")
        .agg(F.avg(value_col).alias("v"))
    )
    a = binned.select(F.col("sid").alias("sid_a"), "bin_ts", F.col("v").alias("va"))
    b = binned.select(F.col("sid").alias("sid_b"), "bin_ts", F.col("v").alias("vb"))
    pairs = a.join(b, "bin_ts").filter(F.col("sid_a") < F.col("sid_b"))
    return (
        pairs.groupBy("sid_a", "sid_b")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.corr("va", "vb").alias("corr"),
        )
        .filter(F.col("n_overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# lagged cross-correlation (CCF)
# ---------------------------------------------------------------------------

def ccf(
    points: DataFrame,
    lags: tuple[int, ...] = (-1, 1),
    bin: str = "day",
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
    min_overlap: int = 3,
) -> DataFrame:
    """Lagged cross-correlation between series pairs — the "which sensor
    leads which" diagnostic (rainfall leads groundwater level by k days):
    for each signed lag k, ``corr(a at bin t, b at bin t+k)`` over the
    pairs of day/hour-binned means both series populate. A positive peak at
    k>0 means ``sid_a`` leads ``sid_b`` by k bins.

    Signed lags + the ``sid_a < sid_b`` ordering carry the full function
    (r(a,b,k) == r(b,a,-k)); ``k=0`` is ``series_corr`` — rejected here.

    Plan: the ``series_corr`` shape with a shifted join key — bin → mean
    (shuffle 1, partial agg) → explode the a-side by the lag set (row-local)
    → equi-join on the SHIFTED bin ordinal (SMJ/shuffled-hash — never a
    cartesian) → ``corr`` per (pair, lag) (shuffle 2). Bin ordinals are
    exact integer epochs / bin seconds (UTC session); the pair fan-out is
    bounded exactly as series_corr's (pre-select series at web scale).
    """
    if not lags or any(k == 0 for k in lags):
        raise ValueError("lags must be non-zero (k=0 is series_corr)")
    if len(set(lags)) != len(lags):
        raise ValueError("lags must be distinct")
    secs = {"day": 86400, "hour": 3600, "minute": 60}
    if bin not in secs:
        raise ValueError(f"unsupported bin: {bin!r}")
    sid = F.concat_ws("|", *[F.col(k) for k in keys])
    binned = (
        points.withColumn(
            "bin_id",
            (F.unix_timestamp(F.date_trunc(bin, F.col(ts_col)))
             / F.lit(secs[bin])).cast("long"),
        )
        .withColumn("sid", sid)
        .groupBy("sid", "bin_id")
        .agg(F.avg(value_col).alias("v"))
    )
    a = binned.select(
        F.col("sid").alias("sid_a"), "bin_id", F.col("v").alias("va"),
        F.explode(F.array(*[F.lit(int(k)) for k in lags])).alias("lag"),
    )
    b = binned.select(
        F.col("sid").alias("sid_b"),
        F.col("bin_id").alias("bin_b"), F.col("v").alias("vb"),
    )
    pairs = a.join(
        b,
        (F.col("bin_b") == F.col("bin_id") + F.col("lag"))
        & (F.col("sid_a") < F.col("sid_b")),
    )
    return (
        pairs.groupBy("sid_a", "sid_b", "lag")
        .agg(F.count(F.lit(1)).alias("n_overlap"), F.corr("va", "vb").alias("corr"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# autocorrelation function (ACF)
# ---------------------------------------------------------------------------

def acf(
    points: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3, 4, 5),
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_col: str = "seq",
) -> DataFrame:
    """Per-series autocorrelation at the given positional lags.

    The classic seasonality/persistence diagnostic the smoothing verbs
    (`smooth_data`, `ewma`) assume but gensor never measures: for each lag k,
    the Pearson correlation between the series and itself shifted k
    positions (``pandas.Series.autocorr(k)`` semantics — correlation over
    the pairs where both ends are non-null, NOT the fixed-denominator
    statsmodels estimator).

    Plan: ONE window Exchange on the series key produces every lag column
    (a single sort serves all of them), an `explode` fans each row to its
    (lag, v, v_lag) triples row-locally, then one partial-agg shuffle
    computes corr + pair count per (series, lag). At 100 TB each point is
    shuffled once for the window and contributes len(lags) narrow rows to a
    map-side-combined aggregate; hot series cost is bounded by per-series
    length, the same contract as ``ewma``/``cusum_changepoint``.

    Output: ``keys..., lag, n_pairs, acf`` — one row per (series, lag) with
    at least one complete pair. Zero-variance slices yield NaN from Spark's
    ``corr``; callers needing SQL NULL semantics mask with ``isnan``.
    """
    if not lags or any(k < 1 for k in lags):
        raise ValueError("lags must be positive ints")
    if len(set(lags)) != len(lags):
        raise ValueError("lags must be distinct")
    w = W.partitionBy(*keys).orderBy(order_col)
    # windows first, generator second: Spark rejects a generator whose input
    # embeds window expressions in the same projection
    lagged = points.select(
        *keys,
        F.col(value_col).alias("v"),
        *[F.lag(value_col, int(k)).over(w).alias(f"_lag{k}") for k in lags],
    )
    triples = F.array(*[
        F.struct(
            F.lit(int(k)).alias("lag"),
            F.col("v").alias("v"),
            F.col(f"_lag{k}").alias("vlag"),
        )
        for k in lags
    ])
    exploded = (
        lagged.select(*keys, F.explode(triples).alias("e"))
        .select(*keys, "e.lag", "e.v", "e.vlag")
        .filter(F.col("v").isNotNull() & F.col("vlag").isNotNull())
    )
    return exploded.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.corr("v", "vlag").alias("acf"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point (Taylor's cumulative-sum chart)
# ---------------------------------------------------------------------------

def cusum_changepoint(
    points: DataFrame,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_col: str = "seq",
) -> DataFrame:
    """Single most-likely level-shift point per series.

    Taylor's CUSUM chart: C_t = Σ_{i≤t} (x_i − x̄); the estimated change
    point is the t maximizing |C_t| and the magnitude ``cusum_range``
    = max C − min C is the shift evidence (0 for a constant series).
    Ties on |C_t| break to the earliest ``order_col``.

    Pure window algebra — running sum over the ordered frame + an
    unbounded-frame mean — so the whole operator stays in whole-stage
    codegen: one shuffle on the series key serves every window, then a
    ``min_by`` pass per series. No Python, no clamp recurrence (that is
    Page's CUSUM, a different, sequential statistic).

    Null values are dropped first (mask-don't-crash): a NULL cannot shift a
    level, and keeping it would thread SQL null propagation through the
    running sum. ``n`` therefore counts the scored points.
    """
    points = points.filter(F.col(value_col).isNotNull())
    ordered = W.partitionBy(*keys).orderBy(order_col)
    whole = W.partitionBy(*keys).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    run = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    c = F.sum(F.col(value_col) - F.avg(value_col).over(whole)).over(run)
    scored = points.select(
        *keys, order_col, F.col(value_col),
        c.alias("_c"), F.abs(c).alias("_absc"),
    )
    key_cols = [F.col(k) for k in keys]
    return (
        scored.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # earliest argmax: min_by on (-|C|, seq) lexicographic struct
            F.min_by(
                F.col(order_col), F.struct((-F.col("_absc")).alias("a"), F.col(order_col).alias("s"))
            ).alias("cp_seq"),
            F.max("_absc").alias("cusum_absmax"),
            (F.max("_c") - F.min("_c")).alias("cusum_range"),
        )
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov split-drift test
# ---------------------------------------------------------------------------

def ks_split(
    points: DataFrame,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("ts", "seq"),
    split_fraction: float = 0.5,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the early and late part of
    each series: did the VALUE DISTRIBUTION drift, regardless of order?

    Completes the change-detection family: ``cusum_changepoint`` locates a
    level shift, ``mann_kendall`` scores a monotone trend — both are blind
    to a variance change or a reshaped distribution with a stable mean,
    which is exactly what KS measures (sup-norm distance between the two
    halves' empirical CDFs). In a training-data pipeline this is the
    snapshot-drift check: split a source's token-rate series at an ingest
    boundary and KS tells you whether the new crawl still looks like the
    old one. gensor itself stops at trend/OLS
    (``/root/reference/gensor/analysis/stats.py:21``); this is the
    distribution-level complement.

    Semantics: non-null values only (mask-don't-crash), ranked per series
    by ``order_cols``; the first ``ceil(m*split_fraction)`` points form
    sample 1, the rest sample 2. ``ks_d`` = sup_x |F1(x) − F2(x)| with the
    ECDFs evaluated inclusive of ties (scipy's convention — verified
    against ``scipy.stats.ks_2samp`` in tests). ``ks_stat`` is the scaled
    statistic D·√(n1·n2/(n1+n2)) and ``p_asymp`` the one-term asymptotic
    p-value min(1, 2·exp(−2·ks_stat²)) — the standard large-sample
    approximation, computed identically by the DuckDB oracle. A series
    whose split leaves either half empty (m < 2) reports NULL statistics.

    Physical plan — pure window algebra, whole-stage codegen end to end:
    ONE Exchange on the series key serves all three window specs (the
    order-rank, the per-series counts, and the value-ordered RANGE frame
    that accumulates both ECDFs with ties included), then the final max is
    a partial-aggregated ``groupBy`` on the same partitioning — no second
    shuffle, no join, no Python. At 100 TB this shuffles each point once
    and streams; per-series work is O(m log m) in the two sorts.
    """
    if not 0.0 < split_fraction < 1.0:
        raise ValueError(f"split_fraction must be in (0, 1), got {split_fraction}")
    nn = points.filter(F.col(value_col).isNotNull())
    part = W.partitionBy(*keys)
    ranked = nn.select(
        *keys,
        F.col(value_col).alias("_v"),
        (F.row_number().over(part.orderBy(*order_cols)) - 1).alias("_r"),
        F.count(F.lit(1)).over(part).alias("_m"),
    )
    # first ceil(m*f) points are sample 1: r < ceil(m*f)  <=>  r*1.0 < m*f
    g1 = (F.col("_r") < F.ceil(F.col("_m") * F.lit(split_fraction))).cast("int")
    tagged = ranked.select(
        *keys, "_v", "_m",
        g1.alias("_g1"),
        F.sum(g1).over(part).alias("_n1"),
    )
    # ECDF at each sample point, ties included: RANGE frame on the value
    # ordering makes CURRENT ROW mean "all peers <= this value"
    ecdf = part.orderBy("_v").rangeBetween(W.unboundedPreceding, W.currentRow)
    c1 = F.sum(F.col("_g1")).over(ecdf)
    c2 = F.sum(1 - F.col("_g1")).over(ecdf)
    n1 = F.col("_n1").cast("double")
    n2 = (F.col("_m") - F.col("_n1")).cast("double")
    # n2 == 0 divides to NULL and propagates: mask-don't-crash for m < 2
    d = F.abs(c1 / n1 - c2 / F.when(n2 > 0, n2))
    scored = tagged.select(*keys, "_m", "_n1", d.alias("_d"))
    en = F.sqrt(F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")))
    stat = F.col("ks_d") * en
    return (
        scored.groupBy(*[F.col(k) for k in keys])
        .agg(
            F.max("_m").alias("n"),
            F.max("_n1").alias("n1"),
            (F.max("_m") - F.max("_n1")).alias("n2"),
            F.max("_d").alias("ks_d"),
        )
        .withColumn("ks_stat", stat)
        .withColumn(
            "p_asymp",
            # least() skips NULL args, so guard: a NULL statistic must give
            # a NULL p, not least(1.0, NULL) = 1.0
            F.when(
                F.col("ks_stat").isNotNull(),
                F.least(F.lit(1.0), 2.0 * F.exp(-2.0 * F.col("ks_stat") * F.col("ks_stat"))),
            ),
        )
    )


# ---------------------------------------------------------------------------
# partial autocorrelation (PACF, Durbin-Levinson)
# ---------------------------------------------------------------------------

def _pacf_kernel(x: np.ndarray, max_lag: int) -> np.ndarray:
    """PACF at lags 1..max_lag via Durbin-Levinson on the standard biased
    ACF estimator (fixed denominator n — the statsmodels/Box-Jenkins
    convention, NOT the pairwise-complete estimator ``acf`` uses, which is
    not positive-definite and can push |pacf| past 1).

    Returns an array of length max_lag; NaN where undefined (short or
    zero-variance series). NaN observations are dropped first.
    """
    x = np.asarray(x, dtype=float)
    x = x[~np.isnan(x)]
    n = len(x)
    out = np.full(max_lag, np.nan)
    if n < 2:
        return out
    xc = x - x.mean()
    denom = float(xc @ xc)
    if denom <= 0.0:
        return out
    kmax = min(max_lag, n - 1)
    # biased autocorrelations rho_1..rho_kmax in one vectorized sweep each
    rho = np.array([float(xc[k:] @ xc[:-k]) / denom for k in range(1, kmax + 1)])
    # Durbin-Levinson recursion
    phi_prev = np.empty(0)
    for k in range(1, kmax + 1):
        if k == 1:
            phi_kk = rho[0]
            phi = np.array([phi_kk])
        else:
            num = rho[k - 1] - float(phi_prev @ rho[k - 2 :: -1][:k - 1])
            den = 1.0 - float(phi_prev @ rho[: k - 1])
            if den == 0.0:
                break  # degenerate (perfectly predictable); rest stay NaN
            phi_kk = num / den
            phi = np.append(phi_prev - phi_kk * phi_prev[::-1], phi_kk)
        out[k - 1] = phi_kk
        phi_prev = phi
    return out


def pacf(
    points: DataFrame,
    max_lag: int = 10,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_col: str = "seq",
) -> DataFrame:
    """Partial autocorrelation per series at lags 1..``max_lag`` — the
    AR-order diagnostic that completes the ``acf`` pair: PACF at lag k is
    the correlation between x_t and x_{t-k} after regressing out lags
    1..k-1, so an AR(p) series shows a sharp cutoff after lag p where the
    plain ACF tails off geometrically.

    Durbin-Levinson on the biased ACF estimator (Box-Jenkins convention).
    Output: ``keys..., lag, pacf`` — one row per (series, lag) with a
    defined value; short/flat series simply have fewer (or no) rows.

    Sequential recurrence → batched Arrow kernel (udfkernel.per_series_map):
    one shuffle on the series key; the O(max_lag²) recursion runs on
    numpy vectors per series.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    from gensor_spark.operators.udfkernel import per_series_map

    out_schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [T.StructField("lag", T.IntegerType()),
           T.StructField("pacf", T.DoubleType())]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = _pacf_kernel(pdf[value_col].to_numpy(dtype=float), max_lag)
        ok = ~np.isnan(vals)
        lags = np.arange(1, max_lag + 1)[ok]
        row = {k: np.repeat(pdf[k].iloc[0], len(lags)) for k in keys}
        row.update(lag=lags.astype(np.int32), pacf=vals[ok])
        return pd.DataFrame(row)

    return per_series_map(
        points.select(*keys, order_col, value_col),
        per_series, out_schema, keys=keys, sort_col=order_col,
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------

def _mk_kernel(
    x: np.ndarray, positions: np.ndarray | None = None
) -> tuple[int, int, float, float, float]:
    """Exact ties-aware Mann-Kendall statistics + Sen's slope for one series.

    Returns ``(n, S, z, tau, sen)`` over the non-NaN values in time order:
    ``S = Σ_{i<j} sign(x_j − x_i)``, the tie-corrected normal approximation
    ``z`` (Kendall 1975: continuity-corrected (S∓1)/√Var(S), 0 when S=0),
    ``tau = S / (n(n−1)/2)``, and ``sen`` — the Theil-Sen slope estimate
    (median of all pairwise slopes ``(x_j − x_i)/(p_j − p_i)``, the robust
    magnitude that always accompanies the MK test in hydrology).
    ``positions`` defaults to the observation index; pass the original
    ``order_col`` values so gaps from dropped NaNs keep their true spacing.

    The pair statistics are evaluated in vectorized numpy blocks — O(n²)
    work but never an O(n²) Python loop; per-series n is the bound
    (hydrology runs MK on binned series — resample first at web scale).
    """
    x = np.asarray(x, dtype=float)
    keep = ~np.isnan(x)
    if positions is None:
        positions = np.arange(len(x), dtype=float)
    else:
        positions = np.asarray(positions, dtype=float)
    p = positions[keep]
    x = x[keep]
    n = int(len(x))
    if n < 2:
        return n, 0, float("nan"), float("nan"), float("nan")
    s = 0
    slopes: list[np.ndarray] = []
    block = 4096
    # both dimensions chunked: peak temp is block² doubles (~134 MB),
    # independent of n — a hot unbinned series degrades to time, not OOM
    for j0 in range(1, n, block):
        j1 = min(j0 + block, n)
        for i0 in range(0, j1, block):
            i1 = min(i0 + block, j1)
            # rows are j in [j0, j1); columns are candidate i in [i0, i1), i < j
            diff = x[j0:j1, None] - x[None, i0:i1]
            mask = np.arange(i0, i1)[None, :] < np.arange(j0, j1)[:, None]
            s += int(np.sign(diff, where=mask, out=np.zeros_like(diff)).sum())
            dp = p[j0:j1, None] - p[None, i0:i1]
            with np.errstate(divide="ignore", invalid="ignore"):
                sl = diff / dp
            slopes.append(sl[mask & (dp != 0)])
    _, tie_counts = np.unique(x, return_counts=True)
    t = tie_counts[tie_counts > 1].astype(np.int64)
    tie_term = int((t * (t - 1) * (2 * t + 5)).sum())
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    if s > 0:
        z = (s - 1) / np.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / np.sqrt(var_s)
    else:
        z = 0.0
    tau = s / (0.5 * n * (n - 1))
    all_slopes = np.concatenate(slopes) if slopes else np.empty(0)
    sen = float(np.median(all_slopes)) if len(all_slopes) else float("nan")
    return n, s, float(z), float(tau), sen


def mann_kendall(
    points: DataFrame,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_col: str = "seq",
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per series — the standard
    nonparametric trend test in hydrology (gensor's domain), the robust
    counterpart to the reference's OLS trend verb
    (``/root/reference/gensor/analysis/stats.py:21`` ``trend()``, surfaced
    as a linregress over the series): insensitive to outliers and to the trend's functional
    form, with the exact tie-corrected variance.

    Output: ``keys..., n, s_stat, z, tau, sen_slope`` — one row per series
    (``sen_slope`` is the Theil-Sen median pairwise slope per unit of
    ``order_col``, MK's standard magnitude companion). NaN/NULL values are
    dropped per series (mask-don't-crash); series with n < 2 report
    ``s_stat=0`` and null ``z``/``tau``/``sen_slope``.

    Plan shape: the pair statistic is inherently sequential-quadratic, so
    it runs as a batched Arrow kernel (udfkernel.per_series_map — the
    Hampel/LOF shape): ONE shuffle on the series key, numpy-vectorized
    block pair sums inside, one output row per series. At web scale the
    caller bins/resamples first (MK is defined on regular series; per-series
    n — not series count — bounds the quadratic term).
    """
    from gensor_spark.operators.udfkernel import per_series_map

    out_schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [
            T.StructField("n", T.LongType()),
            T.StructField("s_stat", T.LongType()),
            T.StructField("z", T.DoubleType()),
            T.StructField("tau", T.DoubleType()),
            T.StructField("sen_slope", T.DoubleType()),
        ]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        n, s, z, tau, sen = _mk_kernel(
            pdf[value_col].to_numpy(dtype=float),
            pdf[order_col].to_numpy(dtype=float),
        )
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row.update(
            n=[n], s_stat=[s],
            z=[None if np.isnan(z) else z],
            tau=[None if np.isnan(tau) else tau],
            sen_slope=[None if np.isnan(sen) else sen],
        )
        return pd.DataFrame(row)

    return per_series_map(
        points.select(*keys, order_col, value_col),
        per_series, out_schema, keys=keys, sort_col=order_col,
    )


# ---------------------------------------------------------------------------
# counter rate / delta (monitoring-rollup primitive)
# ---------------------------------------------------------------------------

def counter_rate(
    points: DataFrame,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
    order_col: str = "seq",
    counter: bool = True,
    per_seconds: float = 1.0,
) -> DataFrame:
    """Per-point increase and rate of a (possibly resetting) counter series.

    The monitoring-rollup primitive gensor has no verb for: given a
    monotone counter that occasionally restarts at 0 (process restart,
    wraparound), recover the true per-interval increase and its time
    rate — the batch-exact analogue of PromQL's ``increase``/``rate``
    (adjacent-sample form, no window extrapolation):

    - ``increase`` = x_t − x_{t−1}; on a reset (negative delta) the counter
      is assumed to have restarted from 0, so the increase is x_t itself.
    - ``rate`` = increase / Δt · ``per_seconds`` (per-second by default).
    - ``counter=False`` is plain gauge delta: negative deltas pass through
      and no reset logic applies.

    Mask-don't-crash: the first point of each series, NULL values, and
    non-positive Δt (duplicate or out-of-order timestamps after the sort)
    all yield NULL increase/rate rather than errors; ``is_reset`` is False
    wherever increase is NULL.

    Plan: pure window algebra — two ``lag`` columns over one ordered
    per-series frame, so a single Exchange on the series key serves the
    whole operator and everything stays in whole-stage codegen. At 100 TB
    this shuffles each point exactly once; hot series cost is bounded by
    per-series length, the same contract as ``ewma``/``cusum_changepoint``.
    """
    # ts alone is not a total order (the point view allows duplicate
    # timestamps, tie-broken by seq) — without the order_col tie-break the
    # lag pairing would be partitioning-dependent.
    w = W.partitionBy(*keys).orderBy(ts_col, order_col)
    v, pv = F.col(value_col), F.lag(value_col).over(w)
    # subtract exact microsecond longs, then divide: casting each timestamp
    # to double first loses ~1e-6 s at epoch magnitude and the rate drifts
    mu = F.unix_micros(F.col(ts_col))
    dt = (mu - F.lag(mu).over(w)).cast("double") / F.lit(1e6)
    delta = v - pv
    # the full mask from the docstring: first point (pv NULL), NULL value,
    # AND non-positive Δt (duplicate timestamp after the tie-broken sort)
    # all yield NULL increase — a dt=0 pair has no time base, so charging
    # its delta as an "increase" double-counts the instant for callers
    # summing increases. is_reset follows increase (False wherever NULL).
    valid = pv.isNotNull() & v.isNotNull() & (dt > 0)
    reset = F.col("is_reset")
    increase = F.when(valid, F.when(reset, v).otherwise(delta))
    out = (
        points.withColumn(
            "is_reset",
            F.when(valid & (delta < 0) & F.lit(counter), True)
            .otherwise(F.lit(False)),
        )
        .withColumn("increase", increase)
        .withColumn(
            # dt > 0 is implied by increase being non-NULL
            "rate",
            F.col("increase") / dt * F.lit(per_seconds),
        )
    )
    return out


# ---------------------------------------------------------------------------
# classic additive seasonal decomposition
# ---------------------------------------------------------------------------

def seasonal_decompose(
    points: DataFrame,
    period: int,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    order_col: str = "seq",
) -> DataFrame:
    """Classic additive decomposition x = trend + seasonal + resid per
    series (statsmodels ``seasonal_decompose`` convention, positional
    period over the ``order_col`` ordering):

    - ``trend``: centered moving average of length ``period`` (even periods
      use the standard 2x``period`` double average so the window stays
      centered); NULL where the full window is incomplete (series edges) —
      classic decomposition simply has no trend there.
    - ``seasonal``: per-phase (position mod period) mean of the detrended
      series, centered so the seasonal component sums to ~0 over a cycle.
    - ``resid``: x − trend − seasonal (NULL wherever trend is).

    The caller supplies ``period`` and a REGULAR series (resample first —
    operators/resample.py — exactly like every classical decomposition
    API). Pure window algebra: one Exchange on the series key serves the
    centered-MA frames, one on (series, phase) for the seasonal means, one
    unbounded per-series frame centers them — whole-stage codegen end to
    end, no Python.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    v = F.col(value_col)
    ordered = W.partitionBy(*keys).orderBy(order_col)
    half = period // 2
    if period % 2:
        ma_w = ordered.rowsBetween(-half, half)
        complete = F.count(v).over(ma_w) == period
        trend = F.when(complete, F.avg(v).over(ma_w))
    else:
        # 2xMA: average of the two length-`period` windows straddling the
        # center — equivalently a weighted window with half weights at the
        # two extreme offsets
        w_lo = ordered.rowsBetween(-half, half - 1)
        w_hi = ordered.rowsBetween(-half + 1, half)
        complete = (
            (F.count(v).over(w_lo) == period)
            & (F.count(v).over(w_hi) == period)
        )
        trend = F.when(
            complete, (F.avg(v).over(w_lo) + F.avg(v).over(w_hi)) / 2.0
        )
    witht = points.withColumn("trend", trend).withColumn(
        "phase", (F.col(order_col) % period).cast("int")
    ).withColumn("_det", v - F.col("trend"))
    phase_w = W.partitionBy(*keys, "phase").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    series_w = W.partitionBy(*keys).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    # materialize the per-phase mean and a one-per-phase representative flag
    # BEFORE the centering window — window functions cannot nest
    staged = witht.withColumn("_pm", F.avg("_det").over(phase_w)).withColumn(
        "_rep",
        F.row_number().over(W.partitionBy(*keys, "phase").orderBy(order_col)) == 1,
    )
    # center: subtract the mean of the per-phase means (each observed phase
    # weighted once, via its representative row)
    ph_bar = F.avg(F.when(F.col("_rep"), F.col("_pm"))).over(series_w)
    return (
        staged.withColumn("seasonal", F.col("_pm") - ph_bar)
        .withColumn("resid", v - F.col("trend") - F.col("seasonal"))
        .drop("_det", "_pm", "_rep")
    )


# ---------------------------------------------------------------------------
# seasonal baseline + deviation anomalies
# ---------------------------------------------------------------------------

def seasonal_anomaly(
    points: DataFrame,
    period: str = "hour_of_day",
    n_sigma: float = 3.0,
    min_bucket: int = 5,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Deviation from each series' own seasonal profile.

    Builds a per-(series, phase) baseline — phase is ``hour_of_day`` (0-23),
    ``day_of_week`` (1-7, Sunday=1 per Spark ``dayofweek``) or
    ``hour_of_week`` (0-167) — then scores every point by its z-score
    against that bucket's mean/stddev. Sensors with daily/weekly cycles get
    anomalies relative to "3am on a Tuesday", not the global mean, which is
    what a plain z-score (operators/outliers.zscore_global) cannot see.

    Buckets with fewer than ``min_bucket`` points or zero spread yield NULL
    scores (mask-don't-crash: sparse series are unscoreable, not errors).

    Plan: pure Catalyst — one unbounded window partitioned by
    (keys..., phase): a single Exchange, partials stay map-side, no join
    back (the window IS the join). Output: input columns +
    ``phase, season_mean, season_z, is_anomaly``.
    """
    t = F.col(ts_col)
    if period == "hour_of_day":
        phase = F.hour(t)
    elif period == "day_of_week":
        phase = F.dayofweek(t)
    elif period == "hour_of_week":
        phase = (F.dayofweek(t) - 1) * 24 + F.hour(t)
    else:
        raise ValueError(f"unsupported period: {period!r}")

    w = (
        W.partitionBy(*keys, "phase")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    v = F.col(value_col)
    withp = points.withColumn("phase", phase)
    mean = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    cnt = F.count(v).over(w)
    z = F.when(
        (cnt >= min_bucket) & (sd > 0), (v - mean) / sd
    )  # else NULL
    return (
        withp.withColumn("season_mean", mean)
        .withColumn("season_z", z)
        .withColumn(
            "is_anomaly",
            F.when(z.isNotNull(), F.abs(z) > n_sigma).otherwise(F.lit(False)),
        )
    )


# ---------------------------------------------------------------------------
# Theta method (Assimakopoulos & Nikolopoulos 2000)
# ---------------------------------------------------------------------------

def _ses_level(x: np.ndarray, alpha: float) -> float:
    """Plain SES final level over the non-NaN values (init = first value)."""
    l = None
    for v in x:
        if np.isnan(v):
            continue
        l = v if l is None else alpha * v + (1.0 - alpha) * l
    return float("nan") if l is None else l


def _ses_sse(x: np.ndarray, alpha: float) -> float:
    """One-step-ahead SSE of plain SES (the alpha-selection objective)."""
    l = None
    sse = 0.0
    for v in x:
        if np.isnan(v):
            continue
        if l is not None:
            sse += (v - l) ** 2
        l = v if l is None else alpha * v + (1.0 - alpha) * l
    return sse


def _theta_alpha(x: np.ndarray) -> float:
    """Golden-section minimization of the SES one-step SSE over alpha in
    [0.01, 0.99] — deterministic, wheel-free."""
    # tol=3e-13 stops the 0.98-wide bracket after exactly 60 steps
    # (0.98·φ⁻⁶⁰ ≈ 2.8e-13, 0.98·φ⁻⁵⁹ ≈ 4.6e-13)
    return golden_min(lambda a: _ses_sse(x, a), 0.01, 0.99, 3e-13)


def _prefix_ols_slope(x: np.ndarray) -> float:
    """OLS slope of the non-NaN values against their 1-based observation
    ordinal (the classical theta time index)."""
    v = x[~np.isnan(x)]
    n = len(v)
    if n < 2:
        return float("nan")
    t = np.arange(1.0, n + 1.0)
    tc = t - t.mean()
    denom = float((tc * tc).sum())
    return float((tc * (v - v.mean())).sum() / denom)


def theta_forecast(
    points: DataFrame,
    h: int,
    alpha: float | None = None,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
) -> DataFrame:
    """Theta-method h-step forecasts per series (Assimakopoulos &
    Nikolopoulos 2000 — the M3-competition winner), in the Hyndman &
    Billah 2003 equivalent form: SES with drift b/2,

        yhat(n+k) = l_n + (b/2) * [(k - 1) + (1 - (1-alpha)^n) / alpha]

    where ``l_n`` is the plain-SES level, ``b`` the OLS slope of the
    series on its observation ordinal, and ``n`` the observation count.
    The drift grows at HALF the fitted trend — theta's signature damping,
    which is exactly why it beat full-trend extrapolation in M3.
    ``alpha=None`` selects alpha per series by golden-section on the SES
    one-step SSE. Series with < 3 observations yield NULL forecasts
    (mask-don't-crash). One Arrow crossing on the series key; per-series
    work is O(n + h).

    Output grain: (keys..., step 1..h, yhat, alpha, slope).
    """
    if h < 1:
        raise ValueError(f"h must be >= 1, got {h}")
    if alpha is not None and not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [T.StructField("step", T.IntegerType()),
           T.StructField("yhat", T.DoubleType()),
           T.StructField("alpha", T.DoubleType()),
           T.StructField("slope", T.DoubleType())]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        v = x[~np.isnan(x)]
        n = len(v)
        steps = np.arange(1, h + 1, dtype=np.int64)
        if n < 3:
            yhat = np.full(h, np.nan)
            a_used = slope = float("nan")
        else:
            a_used = _theta_alpha(v) if alpha is None else float(alpha)
            l = _ses_level(v, a_used)
            slope = _prefix_ols_slope(v)
            carry = (1.0 - (1.0 - a_used) ** n) / a_used
            yhat = l + 0.5 * slope * ((steps - 1) + carry)
        out = pd.DataFrame({"step": steps.astype("int32")})
        for k in keys:
            out[k] = pdf[k].iloc[0]
        out["yhat"] = yhat
        out["alpha"] = a_used
        out["slope"] = slope
        out.loc[~np.isfinite(out["yhat"]), "yhat"] = None
        if not np.isfinite(a_used):
            out["alpha"] = None
            out["slope"] = None
        return out[[f.name for f in schema.fields]]

    return per_series_map(points, per_series, schema, keys=keys)


def _yule_walker(x: np.ndarray, max_p: int):
    """Levinson-Durbin over the biased autocovariances of the (already
    demeaned, NaN-free) series ``x``: returns ``(phis, sigma2)`` where
    ``phis[k]`` is the length-k coefficient vector of the order-k
    Yule-Walker AR fit and ``sigma2[k]`` its innovation variance
    (``sigma2[0]`` is the plain variance — the mean-only model).

    The biased estimator (fixed denominator n) keeps the autocovariance
    sequence positive-definite, so the recursion is stable and every
    ``sigma2[k]`` is non-increasing; the recursion stops early if a step
    degenerates (``sigma2`` hits 0 — a perfectly predictable series), and
    the caller sees only the orders actually fitted.
    """
    n = len(x)
    kmax = max(0, min(max_p, n - 1))
    gamma0 = float(x @ x) / n
    phis: list[np.ndarray] = [np.empty(0)]
    sigma2 = [gamma0]
    if gamma0 <= 0.0:
        return phis, np.array(sigma2)
    gamma = np.array(
        [float(x[k:] @ x[:-k]) / n for k in range(1, kmax + 1)]
    )
    phi_prev = np.empty(0)
    for k in range(1, kmax + 1):
        prev_var = sigma2[k - 1]
        if prev_var <= 0.0:
            break
        if k == 1:
            kappa = gamma[0] / gamma0
            phi = np.array([kappa])
        else:
            kappa = (
                gamma[k - 1] - float(phi_prev @ gamma[k - 2 :: -1][: k - 1])
            ) / prev_var
            phi = np.append(phi_prev - kappa * phi_prev[::-1], kappa)
        phis.append(phi)
        sigma2.append(prev_var * (1.0 - kappa * kappa))
        phi_prev = phi
    return phis, np.array(sigma2)


def ar_forecast(
    points: DataFrame,
    h: int,
    p: int | None = None,
    max_p: int = 8,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
) -> DataFrame:
    """AR(p) h-step forecasts per series by Yule-Walker — the classical
    linear-memory forecaster that completes the engine's family (EWMA /
    Holt / Holt-Winters capture level+trend+season, theta damps a trend;
    AR captures oscillation and mean-reversion none of them can express,
    e.g. a sensor bouncing around equilibrium forecasts a decaying
    oscillation, not a flat level).

    Fit: demean, biased autocovariances, Levinson-Durbin (the same
    recursion ``pacf`` uses — YW order-k coefficients fall out of the
    PACF recursion for free). ``p=None`` selects the order per series by
    AIC over 0..``max_p``: ``n·ln(sigma2_k) + 2k`` on the recursion's
    innovation variances — no refits, the single DL sweep prices every
    order. A degenerate (constant) series selects p=0 and forecasts its
    mean. Forecast: the standard recursive plug-in — unknown future
    values are replaced by their own forecasts; the prediction decays
    toward the series mean at the AR polynomial's rate.

    Series with < 3 observations yield NULL forecasts (mask-don't-crash).
    One Arrow crossing on the series key (udfkernel.per_series_map);
    per-series work is O(n·max_p + max_p² + h·p).

    Output grain: ``(keys..., step 1..h, yhat, p, sigma2)`` — ``p`` the
    order used and ``sigma2`` its innovation variance (the 1-step-ahead
    forecast-error variance, what a caller needs for prediction bands).
    """
    if h < 1:
        raise ValueError(f"h must be >= 1, got {h}")
    if p is not None and p < 0:
        raise ValueError(f"p must be >= 0, got {p}")
    if max_p < 0:
        raise ValueError(f"max_p must be >= 0, got {max_p}")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [T.StructField("step", T.IntegerType()),
           T.StructField("yhat", T.DoubleType()),
           T.StructField("p", T.IntegerType()),
           T.StructField("sigma2", T.DoubleType())]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        v = x[~np.isnan(x)]
        n = len(v)
        steps = np.arange(1, h + 1, dtype=np.int64)
        out = pd.DataFrame({"step": steps.astype("int32")})
        for k in keys:
            out[k] = pdf[k].iloc[0]
        if n < 3:
            out["yhat"] = None
            out["p"] = None
            out["sigma2"] = None
            return out[[f.name for f in schema.fields]]
        mu = float(v.mean())
        fit_cap = p if p is not None else max_p
        phis, sig2 = _yule_walker(v - mu, fit_cap)
        if p is not None:
            order = min(p, len(phis) - 1)  # shorter series caps the order
        else:
            # AIC over the orders the sweep fitted; log(0) would be a
            # perfect fit — floor the variance at machine-tiny so the
            # smallest perfectly-fitting order wins without -inf math
            aic = n * np.log(np.maximum(sig2, 1e-300)) \
                + 2.0 * np.arange(len(sig2))
            order = int(np.argmin(aic))
        phi = phis[order]
        # recursive plug-in forecast on the demeaned tail
        ext = list((v - mu)[n - order:] if order else ())
        yhat = np.empty(h)
        for i in range(h):
            pred = 0.0
            for j in range(order):  # phi_j multiplies x_{t+1-j}
                pred += phi[j] * ext[len(ext) - 1 - j]
            ext.append(pred)
            yhat[i] = mu + pred
        out["yhat"] = yhat
        out["p"] = np.int32(order)
        out["sigma2"] = float(sig2[order])
        return out[[f.name for f in schema.fields]]

    return per_series_map(points, per_series, schema, keys=keys)


def smoother_backtest(
    points: DataFrame,
    period: int,
    eval_fraction: float = 0.2,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.3,
    kq: float = 0.1,
    kr: float = 1.0,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
) -> DataFrame:
    """Which smoother fits each series? One-step-ahead backtest of the
    exponential family (EWMA / Holt / Theta / Holt-Winters), the
    Kalman local-level filter (fixed kq/kr noise ratio), plus the
    SEASONAL-NAIVE baseline (ŷ_t = y_{t-period} — the no-parameter floor
    every forecast claim must beat, and the MASE denominator) on the tail
    of every series — the model-selection verb that turns the family from
    separate calls into an answer. Theta runs in the Hyndman-Billah
    SES+drift form with the slope REFIT at every rolling origin (prefix
    OLS, O(1) incremental), so its predictions are leakage-free like the
    others.

    For each method the one-step-ahead prediction at t uses state through
    t−1 (EWMA: ŷ_t = ewma_{t−1}; Holt: l_{t−1}+b_{t−1}; HW: the kernel's
    ``fit`` output); the score is the MAE over the last ``eval_fraction``
    of non-NaN observations (rolling-origin evaluation — every eval point
    was predicted before it was consumed, no lookahead). Methods whose
    state cannot initialize on a series (HW needs 2·period observations)
    report NULL mae and never win.

    All four recurrences run in ONE Arrow-kernel pass per series (one
    shuffle total — not three operator calls). Output: one row per
    (series, method): (keys..., method, n_eval, mae, best) with ``best``
    marking the minimal-MAE method (ties break snaive < ewma < holt <
    theta < hw, i.e. toward the simpler model).
    """
    if not 0.0 < eval_fraction < 1.0:
        raise ValueError(f"eval_fraction must be in (0,1), got {eval_fraction}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    from gensor_spark.operators.kalman import _kalman_kernel
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        [f for f in points.schema.fields if f.name in keys]
        + [T.StructField("method", T.StringType()),
           T.StructField("n_eval", T.IntegerType()),
           T.StructField("mae", T.DoubleType()),
           T.StructField("best", T.BooleanType())]
    )
    order = ["snaive", "ewma", "holt", "theta", "hw", "kalman"]

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        obs = np.flatnonzero(~np.isnan(x))
        n = len(obs)
        n_eval = int(np.floor(n * eval_fraction))
        out_rows = []
        if n_eval >= 1:
            eval_idx = obs[n - n_eval:]
            actual = x[eval_idx]
            ew = _ewma_kernel(x, alpha, True, True)
            lv, tr = _holt_kernel(x, alpha, beta)
            _l, _t, _s, hw_fit, _st = _hw_kernel(x, period, alpha, beta, gamma)
            # one-step-ahead: the PREVIOUS observation's state predicts this
            # one; prev_obs[i] maps eval positions to their predecessor
            pos = {int(i): k for k, i in enumerate(obs)}
            # theta (Hyndman-Billah SES+drift form, rolling origin): the
            # h=1 forecast from origin m is lev_m + (slope_m/2) *
            # (1-(1-a)^m)/a with prefix-OLS slope and prefix-SES level,
            # both O(1)-incremental over the observation sequence
            v = x[obs]
            m1 = np.arange(1.0, n + 1.0)
            lev = np.empty(n)
            acc = v[0]
            lev[0] = acc
            for kk in range(1, n):
                acc = alpha * v[kk] + (1.0 - alpha) * acc
                lev[kk] = acc
            ct, cv = np.cumsum(m1), np.cumsum(v)
            ctt, ctv = np.cumsum(m1 * m1), np.cumsum(m1 * v)
            with np.errstate(invalid="ignore", divide="ignore"):
                slp = (m1 * ctv - ct * cv) / (m1 * ctt - ct * ct)
            carry = (1.0 - (1.0 - alpha) ** m1) / alpha
            theta_fit = lev + 0.5 * np.where(m1 >= 2, slp, np.nan) * carry
            kf = _kalman_kernel(x, kq, kr)[0]
            preds = {
                # seasonal naive — ŷ_t = y_{t-period} on the observation
                # ordinal: the no-parameter baseline every forecast claim
                # must beat (the MASE denominator); NaN until one full
                # season of history exists
                "snaive": np.array([
                    v[pos[int(i)] - period] if pos[int(i)] >= period
                    else np.nan
                    for i in eval_idx]),
                "ewma": np.array([ew[obs[pos[int(i)] - 1]] for i in eval_idx]),
                "holt": np.array([lv[obs[pos[int(i)] - 1]]
                                  + tr[obs[pos[int(i)] - 1]] for i in eval_idx]),
                "theta": np.array([theta_fit[pos[int(i)] - 1]
                                   for i in eval_idx]),
                "hw": hw_fit[eval_idx],
                # Kalman local level (fixed kq/kr — leakage-free like the
                # fixed-alpha methods): the one-step-ahead forecast of a
                # random walk is the filtered mean at the previous obs
                "kalman": np.array([kf[obs[pos[int(i)] - 1]]
                                    for i in eval_idx]),
            }
            for m in order:
                err = np.abs(preds[m] - actual)
                ok = ~np.isnan(err)
                mae = float(err[ok].mean()) if ok.any() else None
                out_rows.append((m, int(ok.sum()), mae))
        best_m = None
        cands = [(mae, order.index(m)) for m, ne, mae in out_rows
                 if mae is not None]
        if cands:
            best_m = order[min(cands)[1]]
        out = pd.DataFrame(out_rows, columns=["method", "n_eval", "mae"])
        out["best"] = out["method"] == best_m if best_m else False
        for k in keys:
            out[k] = pdf[k].iloc[0]
        return out[[f.name for f in schema.fields]]

    return per_series_map(points, per_series, schema, keys=keys)


def rolling_corr(
    points: DataFrame,
    pairs: list[tuple[str, str]],
    window: int = 24,
    bin: str = "hour",
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
    min_periods: int = 3,
) -> DataFrame:
    """Rolling Pearson correlation between NAMED series pairs over trailing
    ``window`` bins — the time-RESOLVED companion of ``series_corr`` (one
    number per pair): when did two series couple or decouple?

    ``pairs`` is an explicit sid-pair list ('|'-joined key values, the
    series_corr convention): rolling output is per (pair, bin) — a rolling
    all-pairs sweep would be rows × pairs and belongs upstream (run
    ``series_corr`` first, feed its interesting pairs here).

    Plan: bin means (ONE corpus shuffle, map-side partial) → inner join of
    the two legs on the bin (pairs list is a broadcast literal filter, so
    only named series survive the scan) → the five rolling sums (Σx, Σy,
    Σxy, Σx², Σy², n) over ONE trailing ROWS frame per pair — a single
    window Exchange on the pair key — and the textbook corr formula in-row.
    Bins where either leg is missing are absent (inner join): the frame is
    "last ``window`` co-observed bins", matching pandas
    ``s1.rolling(w).corr(s2)`` on the inner-aligned frame. Zero-variance
    windows yield NULL (mask-don't-crash).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if not pairs:
        raise ValueError("pairs must be non-empty")
    sid = F.concat_ws("|", *[F.col(k) for k in keys])
    wanted = {s for p in pairs for s in p}
    binned = (
        points.withColumn("sid", sid)
        .where(F.col("sid").isin(*wanted))
        .withColumn("bin_ts", F.date_trunc(bin, F.col(ts_col)))
        .groupBy("sid", "bin_ts")
        .agg(F.avg(value_col).alias("v"))
    )
    pair_lit = F.array(*[
        F.struct(F.lit(a).alias("sid_a"), F.lit(b).alias("sid_b"))
        for a, b in pairs
    ])
    pair_df = (points.sparkSession.range(1)
               .select(F.explode(pair_lit).alias("p"))
               .select("p.sid_a", "p.sid_b"))
    a = binned.select(F.col("sid").alias("sid_a"), "bin_ts",
                      F.col("v").alias("x"))
    b = binned.select(F.col("sid").alias("sid_b"), "bin_ts",
                      F.col("v").alias("y"))
    j = (F.broadcast(pair_df).join(a, "sid_a").join(b, ["sid_b", "bin_ts"]))
    frame = (W.partitionBy("sid_a", "sid_b").orderBy("bin_ts")
             .rowsBetween(-(window - 1), 0))
    n = F.count(F.lit(1)).over(frame).cast("double")
    sx = F.sum("x").over(frame)
    sy = F.sum("y").over(frame)
    sxy = F.sum(F.col("x") * F.col("y")).over(frame)
    sxx = F.sum(F.col("x") * F.col("x")).over(frame)
    syy = F.sum(F.col("y") * F.col("y")).over(frame)
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    r = F.when((n >= min_periods) & (vx > 0) & (vy > 0),
               cov / F.sqrt(vx * vy))
    return j.select("sid_a", "sid_b", "bin_ts",
                    n.cast("int").alias("n_window"), r.alias("r"))
