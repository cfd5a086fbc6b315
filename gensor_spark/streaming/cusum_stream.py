"""Streaming Page-CUSUM control chart: sequential shift alerts per series.

Completes the changepoint kit across both execution modes: the batch verbs
are RETROSPECTIVE (Taylor's CUSUM chart and PELT segment the finished
series — operators/seriesstats.cusum_changepoint, operators/pelt.py); the
streaming form is Page's (1954) SEQUENTIAL control chart, the standard
online shift detector (what monitoring systems actually run):

    S⁺_t = max(0, S⁺_{t−1} + (x_t − μ₀)/σ₀ − k)
    S⁻_t = max(0, S⁻_{t−1} − (x_t − μ₀)/σ₀ − k)
    alarm when S⁺ > h or S⁻ > h, then the tripped side resets to 0

with ``k`` the slack (half the shift, in σ units, one wants to detect) and
``h`` the decision threshold. μ₀/σ₀ are the in-control baseline: supplied
by the caller, or self-calibrated from the series' first ``warmup``
observations (state carries the running calibration; alarms are suppressed
during warmup). NaN observations pass through without touching the state.

Run by the shared stateful driver (``streaming/stateful.py``): per-series
state is 7 doubles + the driver's ``last_us``, so a billion live series is
~64 GB of state store across the cluster — the monitoring-scale budget.

Exactness contract (pinned in tests): feeding the same in-order points
through any epoch split yields bit-identical scores and alarms to a single
sequential pass — the recurrence state is the ONLY cross-batch memory.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gensor_spark.streaming.stateful import stateful_stream

CUSUM_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("source", StringType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
    StructField("s_pos", DoubleType()),
    StructField("s_neg", DoubleType()),
    StructField("alarm", BooleanType()),
])

_STATE_FIELDS = [
    StructField(name, DoubleType())
    for name in ("s_pos", "s_neg", "n_cal", "cal_sum", "cal_sq", "mu", "sigma")
]


def streaming_cusum(
    points: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    mu0: float | None = None,
    sigma0: float | None = None,
    warmup: int = 30,
    watermark: str = "1 minute",
    state_ttl_seconds: int | None = 30 * 86400,
) -> DataFrame:
    """points(doc_id, source, ts, value) stream → per-point CUSUM scores
    + alarm flags. With ``mu0``/``sigma0`` given, detection starts at the
    first point; otherwise the first ``warmup`` non-NaN observations
    calibrate the baseline (scores NaN, alarms suppressed meanwhile)."""
    if h <= 0 or k < 0:
        raise ValueError(f"need h > 0 and k >= 0, got h={h}, k={k}")
    fixed = mu0 is not None and sigma0 is not None
    if fixed and sigma0 <= 0:
        raise ValueError(f"sigma0 must be > 0, got {sigma0}")
    if not fixed and warmup < 2:
        raise ValueError(f"warmup must be >= 2 for self-calibration")

    init = (0.0, 0.0, 0.0, 0.0, 0.0,
            float(mu0) if fixed else np.nan,
            float(sigma0) if fixed else np.nan)

    def step(key, state, pdf):
        sp, sn, n_cal, cal_sum, cal_sq, mu, sigma, _ = state
        vals = pdf["value"].to_numpy(dtype=float)
        out_p = np.full(len(vals), np.nan)
        out_n = np.full(len(vals), np.nan)
        alarm = np.zeros(len(vals), dtype=bool)
        for i, v in enumerate(vals):
            if np.isnan(v):
                continue
            if np.isnan(sigma):  # self-calibration phase
                n_cal += 1.0
                cal_sum += v
                cal_sq += v * v
                if n_cal >= warmup:
                    mu = cal_sum / n_cal
                    var = cal_sq / n_cal - mu * mu
                    # flat warmup: keep calibrating until spread appears
                    if var > 0:
                        sigma = float(np.sqrt(var))
                continue
            z = (v - mu) / sigma
            sp = max(0.0, sp + z - k)
            sn = max(0.0, sn - z - k)
            out_p[i] = sp
            out_n[i] = sn
            if sp > h or sn > h:
                alarm[i] = True
                if sp > h:
                    sp = 0.0
                if sn > h:
                    sn = 0.0
        out = pdf[["doc_id", "source", "ts", "value"]].assign(
            s_pos=out_p, s_neg=out_n, alarm=alarm)
        return out, (sp, sn, n_cal, cal_sum, cal_sq, mu, sigma)

    return stateful_stream(
        points, ("doc_id", "source"), ["ts"], step, init, CUSUM_SCHEMA,
        _STATE_FIELDS, watermark, state_ttl_seconds)
