"""Kalman local-level filtering + RTS smoothing per series.

Extends the reference's smoothing surface
(``/root/reference/gensor/processing/smoothing.py:10-66`` — centered
rolling mean/median only) with the model-based smoother pandas users
reach to statsmodels for: the **local level** state-space model

    x_t = x_{t-1} + w_t,   w_t ~ N(0, q)      (random-walk signal)
    y_t = x_t     + v_t,   v_t ~ N(0, r)      (observation noise)

run as a forward Kalman filter plus the Rauch-Tung-Striebel backward
smoother. What it adds over window smoothers:

- **principled missing-data handling**: a NaN observation skips the
  update step (state predicts through the gap, variance grows), so the
  smoother emits a model-based estimate — with an uncertainty — at every
  timestamp, including the gaps. It is simultaneously a smoother and a
  gap-filler whose interpolation weights follow from q/r, not a fixed
  window shape.
- **uncertainty bands**: ``k_var`` is the smoothed state variance; ±2σ
  bands come free (the anomaly-masking signal window smoothers lack).
- **MLE noise estimation** (``optimize=True``): the signal-to-noise ratio
  q/r is fit per series by golden-section on the concentrated Gaussian
  log-likelihood (r is concentrated out analytically), the same
  wheel-free 1-D MLE pattern as Box-Cox λ (transforms.box_cox_mle).

Initialization is exact-diffuse (Durbin & Koopman §5): the first observed
value initializes the state with posterior variance r; the likelihood sums
from the second observation. Leading positions before the first
observation have no state and emit NaN.

Sequential recurrence → batched Arrow kernel (udfkernel.per_series_map):
one shuffle on the series key, one JVM↔Python crossing per batch, O(n)
per series. At 100 TB this is embarrassingly parallel over series — the
kernel stage carries no cross-series state.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gensor_spark.operators.transforms import golden_min

KEYS = ("doc_id", "source")


def _kalman_filter(
    y: np.ndarray, q: float, r: float, a: float = np.nan, p: float = np.nan
) -> tuple[int, np.ndarray, np.ndarray, np.ndarray, np.ndarray,
           float, float, int]:
    """Forward filter pass from the posterior ``(a, p)``; NaN ``a`` is the
    diffuse start (the first observation sets a = y, p = r). Returns
    ``(first, a_f, p_f, a_p, p_p, ll_s, ll_e, n_eff)``: ``first`` is the
    first position with a state (``len(y)`` if none), ``a_f``/``p_f`` the
    filtered mean/variance (NaN before ``first``), ``a_p``/``p_p`` the
    one-step predictions (set after ``first``), and the likelihood sums
    over observations after the first: ``sum log s_t``, ``sum e_t^2/s_t``
    and their count. The stream carries ``(a_f[-1], p_f[-1])``."""
    n = len(y)
    a_f = np.full(n, np.nan)   # a_{t|t}
    p_f = np.full(n, np.nan)   # P_{t|t}
    a_p = np.empty(n)          # a_{t|t-1}
    p_p = np.empty(n)          # P_{t|t-1}
    first = start = 0
    if math.isnan(a):
        obs = np.flatnonzero(~np.isnan(y))
        if len(obs) == 0:
            return n, a_f, p_f, a_p, p_p, 0.0, 0.0, 0
        first = obs[0]
        a, p = y[first], r  # exact-diffuse posterior after the first obs
        a_f[first] = a_p[first] = a
        p_f[first] = p_p[first] = p
        start = first + 1
    ll_s = 0.0   # sum log s_t over post-first observations
    ll_e = 0.0   # sum e_t^2 / s_t over post-first observations
    n_eff = 0
    for t in range(start, n):
        a_prior, p_prior = a, p + q
        a_p[t], p_p[t] = a_prior, p_prior
        if np.isnan(y[t]):
            a, p = a_prior, p_prior
        else:
            s = p_prior + r
            e = y[t] - a_prior
            k = p_prior / s
            a = a_prior + k * e
            p = (1.0 - k) * p_prior
            ll_s += np.log(s)
            ll_e += e * e / s
            n_eff += 1
        a_f[t], p_f[t] = a, p
    return first, a_f, p_f, a_p, p_p, ll_s, ll_e, n_eff


def _kalman_kernel(
    y: np.ndarray, q: float, r: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Filter + RTS smoother for one series. Returns
    ``(filtered, smoothed, smoothed_var, concentrated_loglik_part)`` where
    the last value is ``(n_eff·log(sigma2_hat) + sum(log s_t))`` — the
    quantity ``_mle_ratio`` minimizes (r=1 scaling; see there).
    NaN positions predict through; positions before the first observation
    stay NaN everywhere.
    """
    n = len(y)
    first, a_f, p_f, a_p, p_p, ll_s, ll_e, n_eff = _kalman_filter(y, q, r)
    smoo = np.full(n, np.nan)
    svar = np.full(n, np.nan)
    if first == n:
        return a_f, smoo, svar, np.nan
    # RTS backward pass
    sm = a_f[n - 1]
    sv = p_f[n - 1]
    smoo[n - 1] = sm
    svar[n - 1] = sv
    for t in range(n - 2, first - 1, -1):
        c = p_f[t] / p_p[t + 1] if p_p[t + 1] > 0 else 0.0
        sm = a_f[t] + c * (sm - a_p[t + 1])
        sv = p_f[t] + c * c * (sv - p_p[t + 1])
        smoo[t] = sm
        svar[t] = sv
    if n_eff == 0:
        return a_f, smoo, svar, np.nan
    sigma2 = ll_e / n_eff
    return a_f, smoo, svar, n_eff * np.log(max(sigma2, 1e-300)) + ll_s


def _mle_ratio(y: np.ndarray, lo: float = -8.0, hi: float = 8.0,
               tol: float = 1e-4) -> float:
    """Golden-section MLE of log10(q/r) on the concentrated log-likelihood
    (r := 1 during the search; the scale factor sigma2 is concentrated out
    inside the kernel). Returns the fitted RATIO q/r."""

    def nll(lr: float) -> float:
        v = _kalman_kernel(y, 10.0 ** lr, 1.0)[3]
        return np.inf if np.isnan(v) else v

    return float(10.0 ** golden_min(nll, lo, hi, tol))


def kalman_smooth(
    points: DataFrame,
    q: float = 0.1,
    r: float = 1.0,
    optimize: bool = False,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
) -> DataFrame:
    """Local-level Kalman filter + RTS smoother per series.

    Adds ``k_filt`` (filtered level — causal, what a streaming consumer
    would see), ``k_smooth`` (RTS-smoothed level — uses the whole series),
    and ``k_var`` (smoothed state variance; the ±2σ band half-width is
    ``2*sqrt(k_var)``). NaN observations and internal gaps get model-based estimates
    with inflated variance; rows before a series' first observation stay
    NaN (mask-don't-crash).

    ``optimize=True`` fits q/r per series by concentrated MLE (r keeps its
    passed value as the scale anchor; q becomes ``ratio·r``).
    """
    if q <= 0 or r <= 0:
        raise ValueError("q and r must be positive")
    for c in ("k_filt", "k_smooth", "k_var"):
        if c in points.columns:
            raise ValueError(f"out col {c!r} already exists in the input")
    from gensor_spark.operators.udfkernel import per_series_map

    schema = T.StructType(
        points.schema.fields
        + [T.StructField("k_filt", T.DoubleType()),
           T.StructField("k_smooth", T.DoubleType()),
           T.StructField("k_var", T.DoubleType())]
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.reset_index(drop=True)
        y = out[value_col].to_numpy(dtype=float)
        qq = _mle_ratio(y) * r if optimize else q
        f, s, v, _ = _kalman_kernel(y, qq, r)
        out["k_filt"] = f
        out["k_smooth"] = s
        out["k_var"] = v
        return out

    return per_series_map(points, per_series, schema, keys=keys)
