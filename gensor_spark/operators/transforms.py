"""Per-series value transforms (gensor ``Timeseries.transform``).

Reference dispatch: ``/root/reference/gensor/processing/transform.py:32-49``.
Every quirk is replicated on purpose:

- ``log`` / ``square_root`` pass non-positive values through **unchanged**
  (``transform.py:68-84``) — not NaN;
- ``difference`` is ``diff(periods)`` then ``dropna()`` (``transform.py:54-66``);
- scalers use population statistics (sklearn defaults, ddof=0) and exact
  quantiles with linear interpolation (``transform.py:114-148``);
- ``box_cox`` with a given λ is pure column arithmetic; with λ omitted it is
  MLE-estimated **per series** (``transform.py:86-112``) — that path runs as
  a grouped Arrow UDF with a numpy golden-section search (scipy-free).

All scaler statistics are computed with unbounded window frames partitioned
by the series key: one shuffle, no collect, no driver loop — the gensor
per-series Python loop disappears into ``Window.partitionBy(doc_id)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

KEYS = ("doc_id", "source")


def _series_window(keys=KEYS):
    # whole-series frame: aggregate statistics per series without a join
    return W.partitionBy(*keys).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)


def difference(points: DataFrame, periods: int = 1, keys=KEYS) -> DataFrame:
    """value - lag(value, periods) per series, null head rows dropped."""
    w = W.partitionBy(*keys).orderBy("seq")
    out = points.withColumn("value", F.col("value") - F.lag("value", periods).over(w))
    return out.filter(F.col("value").isNotNull())


def pct_change(points: DataFrame, periods: int = 1, keys=KEYS) -> DataFrame:
    """(value - lag) / lag per series — pandas ``Series.pct_change``
    parity except at a zero base: pandas emits ±inf there, this engine's
    mask-don't-crash convention emits NULL (engine-portable: Spark and
    DuckDB disagree on float division by zero, ±inf vs NULL, so the guard
    is also what makes the oracle exact). Head rows (no lag) are NULL and
    kept — same grain as the input, unlike ``difference``'s drop."""
    w = W.partitionBy(*keys).orderBy("seq")
    prev = F.lag("value", periods).over(w)
    return points.withColumn(
        "pct",
        F.when(prev != 0, (F.col("value") - prev) / prev)
    )


def log_transform(col: Column) -> Column:
    """gensor quirk: x if x <= 0 else ln(x) (transform.py:68-75)."""
    return F.when(col <= 0, col).otherwise(F.log(col))


def sqrt_transform(col: Column) -> Column:
    """gensor quirk: x if x <= 0 else sqrt(x) (transform.py:77-84)."""
    return F.when(col <= 0, col).otherwise(F.sqrt(col))


def box_cox_fixed(col: Column, lmbda: float) -> Column:
    """Box-Cox with a caller-supplied λ: pure column arithmetic."""
    if lmbda == 0:
        return F.log(col)
    return (F.pow(col, F.lit(lmbda)) - 1) / F.lit(lmbda)


def standard_scaler(points: DataFrame, keys=KEYS) -> DataFrame:
    """(x - mean) / std with ddof=0, sklearn StandardScaler parity."""
    w = _series_window(keys)
    return points.withColumn(
        "value",
        (F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w),
    )


def minmax_scaler(points: DataFrame, keys=KEYS) -> DataFrame:
    w = _series_window(keys)
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return points.withColumn("value", (F.col("value") - lo) / (hi - lo))


def maxabs_scaler(points: DataFrame, keys=KEYS) -> DataFrame:
    w = _series_window(keys)
    return points.withColumn("value", F.col("value") / F.max(F.abs("value")).over(w))


def robust_scaler(points: DataFrame, keys=KEYS) -> DataFrame:
    """(x - median) / IQR, exact quantiles with linear interpolation."""
    w = _series_window(keys)
    med = F.expr("percentile(value, 0.5)").over(w)
    q1 = F.expr("percentile(value, 0.25)").over(w)
    q3 = F.expr("percentile(value, 0.75)").over(w)
    return points.withColumn("value", (F.col("value") - med) / (q3 - q1))


def winsorize(points: DataFrame, lower: float = 0.05, upper: float = 0.95,
              keys=KEYS) -> DataFrame:
    """Clip each series to its own [lower, upper] quantiles (pandas
    ``s.clip(s.quantile(l), s.quantile(u))`` parity — exact percentiles
    with linear interpolation, NULLs pass through unclipped).

    The robust-preprocessing verb the scaler family composes with:
    winsorize → standard-scale is the classic outlier-insensitive
    normalization for training-data features. Same one-Exchange window
    plan as the scalers (the quantile window is unordered-whole-series,
    so all three percentile frames share one Sort)."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(
            f"need 0 <= lower < upper <= 1, got ({lower}, {upper})")
    w = _series_window(keys)
    lo = F.expr(f"percentile(value, {lower!r})").over(w)
    hi = F.expr(f"percentile(value, {upper!r})").over(w)
    return points.withColumn(
        "value", F.when(F.col("value") < lo, lo)
                  .when(F.col("value") > hi, hi)
                  .otherwise(F.col("value")))


# ---------------------------------------------------------------------------
# Box-Cox with per-series MLE λ (grouped Arrow UDF; numpy-only, no scipy)
# ---------------------------------------------------------------------------

def _boxcox_llf(lmbda: float, x: np.ndarray, logx_sum: float) -> float:
    n = x.size
    if lmbda == 0.0:
        y = np.log(x)
    else:
        y = (np.power(x, lmbda) - 1.0) / lmbda
    var = y.var()  # ddof=0, matches scipy.stats.boxcox_llf
    if var <= 0:
        return -np.inf
    return (lmbda - 1.0) * logx_sum - n / 2.0 * np.log(var)


_INVPHI = (np.sqrt(5.0) - 1.0) / 2.0


def golden_min(f, lo: float, hi: float, tol: float) -> float:
    """Golden-section search for the minimum of a unimodal ``f`` on
    ``[lo, hi]``; returns the bracket midpoint once it is ``tol`` wide.

    Deterministic and wheel-free: the one search behind Box-Cox's λ, the
    Kalman q/r ratio and the theta method's SES alpha. Ties, ``inf`` and
    NaN values step the bracket right, so a left-hand ``inf`` plateau
    (an objective that fails there) is walked past.
    """
    c, d = hi - _INVPHI * (hi - lo), lo + _INVPHI * (hi - lo)
    fc, fd = f(c), f(d)
    while hi - lo > tol:
        if fc < fd:
            hi, d, fd = d, c, fc
            c = hi - _INVPHI * (hi - lo)
            fc = f(c)
        else:
            lo, c, fc = c, d, fd
            d = lo + _INVPHI * (hi - lo)
            fd = f(d)
    return 0.5 * (lo + hi)


def boxcox_mle_lambda(x: np.ndarray, lo: float = -5.0, hi: float = 5.0) -> float:
    """Golden-section maximization of the Box-Cox log-likelihood.

    scipy.stats.boxcox uses Brent on the same objective; golden-section to
    1e-8 agrees to ~1e-6 in λ, far inside the rtol=1e-5 the reference's own
    tests use (tests/test_compensation.py:30-35).
    """
    x = np.asarray(x, dtype=float)
    if np.any(x <= 0):
        raise ValueError("box-cox requires strictly positive data")
    logx_sum = float(np.log(x).sum())
    return golden_min(lambda lm: -_boxcox_llf(lm, x, logx_sum), lo, hi, 1e-8)


def box_cox_mle(points: DataFrame, keys=KEYS) -> DataFrame:
    """Per-series MLE Box-Cox via applyInPandas (one Arrow batch per series)."""
    schema = points.schema.simpleString().strip("struct<>") + ",lmbda:double"

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        lmbda = boxcox_mle_lambda(pdf["value"].to_numpy())
        x = pdf["value"].to_numpy(dtype=float)
        y = np.log(x) if lmbda == 0 else (np.power(x, lmbda) - 1.0) / lmbda
        out = pdf.copy()
        out["value"] = y
        out["lmbda"] = lmbda
        return out

    return points.groupBy(*keys).applyInPandas(per_series, schema=schema)
