"""gensor-call-compatible facade: keep your gensor call-sites, run on Spark.

gensor's surface is object-per-series (``Timeseries`` wraps one pd.Series;
``Dataset`` a list of them — ``/root/reference/gensor/core/base.py:31``,
``core/dataset.py:122``). This engine holds EVERY series in one DataFrame of
point rows, so the facade wraps that frame and re-expresses each gensor verb
as the corresponding distributed operator — same method names, same
parameter names, same semantics (each delegate is the operator the driver
oracles, see MIGRATION.md for the full call map). Methods return NEW
``Dataset`` objects over transformed (lazy) plans, mirroring gensor's
immutable ``model_copy(deep=True)`` contract without the copy cost.

What intentionally differs (and why):
- one object for the whole fleet of series instead of one per series — the
  point of a distributed engine; per-series selection is ``filter()``;
- laziness — nothing executes until ``.df`` is consumed (gensor computes
  eagerly per call);
- ``plot()`` is served as plot DATA (M4/LTTB/overlays, operators/plotdata)
  rather than matplotlib figures — rendering is client-side.
"""

from __future__ import annotations

from typing import Any, Literal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEYS = ("doc_id", "source")


class Dataset:
    """All series as one point-view frame, with gensor's verbs.

    ``outliers``: like gensor's ``Timeseries.outliers`` side-channel
    (``core/base.py:207-237``), populated by ``detect_outliers`` —
    a Dataset of the flagged points.
    """

    def __init__(self, points: DataFrame, keys: tuple[str, ...] = KEYS,
                 outliers: "Dataset | None" = None) -> None:
        self.df = points
        self.keys = tuple(keys)
        self.outliers = outliers

    # ------------------------------------------------------------ construct

    @classmethod
    def from_parquet(cls, spark, sf_dir: str) -> "Dataset":
        """The driver-testdata events table as a Dataset (point view)."""
        from gensor_spark.operators.points import events_to_points

        return cls(events_to_points(
            spark.read.parquet(f"{sf_dir}/events.parquet")))

    @classmethod
    def read_from_csv(cls, spark, path: str,
                      file_format: str = "vanessen") -> "Dataset":
        """gensor ``read_from_csv`` (io/read.py): Diver CSV dir/file →
        Dataset."""
        from gensor_spark.sources import csvfiles

        if file_format == "vanessen":
            return cls(csvfiles.read_vanessen(spark, path))
        if file_format == "plain":
            return cls(csvfiles.read_plain(spark, path))
        raise ValueError(f"unknown file_format: {file_format!r}")

    def _wrap(self, df: DataFrame) -> "Dataset":
        return Dataset(df, keys=self.keys, outliers=self.outliers)

    # -------------------------------------------------------- Dataset verbs

    def filter(self, location: Any = None, variable: Any = None,
               **extra: Any) -> "Dataset":
        """gensor ``Dataset.filter(location=..., variable=...)``
        (core/dataset.py:341): location maps to the series id (doc_id),
        variable to the sensor/source tag; values may be scalars or lists."""
        conds = {"doc_id": location, "source": variable, **extra}
        df = self.df
        for col, val in conds.items():
            if val is None:
                continue
            vals = val if isinstance(val, (list, tuple, set)) else [val]
            df = df.filter(F.col(col).isin([str(v) for v in vals]))
        return self._wrap(df)

    def pop(self, location: Any = None, variable: Any = None
            ) -> tuple["Dataset", "Dataset"]:
        """gensor ``Dataset.pop`` (core/dataset.py:394): (popped, rest)."""
        if location is None and variable is None:
            raise ValueError("pop() needs a location and/or variable to pop")
        popped = self.filter(location=location, variable=variable)
        cond = F.lit(True)
        if location is not None:
            vals = location if isinstance(location, (list, tuple, set)) else [location]
            cond = cond & F.col("doc_id").isin([str(v) for v in vals])
        if variable is not None:
            vals = variable if isinstance(variable, (list, tuple, set)) else [variable]
            cond = cond & F.col("source").isin([str(v) for v in vals])
        # NULL-key rows: `isin` is three-valued, so ~cond is NULL (dropped
        # by filter) — coalesce to False so a null-key row lands in `rest`
        # (it matched no popped location) and popped ∪ rest == original.
        return popped, self._wrap(
            self.df.filter(~F.coalesce(cond, F.lit(False))))

    def get_locations(self, limit: int | None = 10_000) -> list:
        """gensor ``Dataset.get_locations`` (core/dataset.py:194): the
        distinct series ids, as a driver-side list (the reference API
        returns a Python list).

        The result is one entry per series — fine for sensor-fleet
        cardinalities, but under the engine's 10^12-doc corpus shape a
        "series" can be a doc_id, and collecting that to the driver is an
        anti-pattern. ``limit`` guards the materialization: if more than
        ``limit`` distinct ids exist this raises with guidance instead of
        silently collecting. For unbounded cardinalities keep the work
        distributed: ``ds.df.select("doc_id").distinct()``.
        """
        if limit is not None and limit > 0:
            ids = (self.df.select("doc_id").distinct()
                   .orderBy("doc_id").limit(limit + 1).collect())
            if len(ids) > limit:
                raise ValueError(
                    f"get_locations(): more than {limit} distinct series; "
                    "collecting them to the driver is unbounded at corpus "
                    "scale. Raise `limit` explicitly if intended, or use "
                    'the distributed form `ds.df.select("doc_id")'
                    ".distinct()`.")
        else:
            ids = (self.df.select("doc_id").distinct()
                   .orderBy("doc_id").collect())
        return [r.doc_id for r in ids]

    def __contains__(self, location: object) -> bool:
        """gensor ``location in dataset`` (core/dataset.py:190)."""
        return self.df.filter(
            F.col("doc_id") == str(location)).limit(1).count() > 0

    def one(self, **filters: Any) -> "Dataset":
        """gensor ``Dataset.one`` (core/dataset.py:282): exactly one series
        must match, else raise."""
        hit = self.filter(**filters)
        n = hit.df.select(*self.keys).distinct().count()
        if n != 1:
            raise ValueError(f"one() matched {n} series, expected exactly 1")
        return hit

    def add(self, other: "Dataset") -> "Dataset":
        """gensor ``Dataset.add`` / ``concatenate`` (core/dataset.py:308,
        core/base.py:134): union with keep-first dedup on the point key."""
        from gensor_spark.operators.masking import concatenate

        return self._wrap(concatenate(self.df, other.df, keys=self.keys))

    concatenate = add

    def loc(self, start: Any = None, end: Any = None) -> "Dataset":
        """gensor ``ts.loc[t0:t1]`` label slice (core/indexer.py)."""
        df = self.df
        if start is not None:
            df = df.filter(F.col("ts") >= F.lit(str(start)).cast("timestamp"))
        if end is not None:
            df = df.filter(F.col("ts") <= F.lit(str(end)).cast("timestamp"))
        return self._wrap(df)

    def iloc(self, i: int) -> "Dataset":
        """gensor positional indexing (core/indexer.py:20-32), pandas
        semantics: positional on the CURRENT view (a fresh per-series
        row_number, not the original ``seq``, so indexing stays correct
        after filter/mask verbs) and negative indices count from the end
        (``iloc(-1)`` = last point of each series).

        DIVERGENCE: gensor's indexer also supports scalar ASSIGNMENT
        (``ts.iloc[i] = v``, core/indexer.py:20-32 setter path). Spark
        DataFrames are immutable, so this facade exposes getters only; the
        equivalent update is a conditional projection over the same
        positional window::

            pos = F.row_number().over(w) - 1   # w = per-series (ts, seq)
            df.withColumn("value",
                          F.when(pos == i, F.lit(v))
                           .otherwise(F.col("value")))

        (no reference *test* requires the setter on a Dataset pipeline)."""
        i = int(i)
        w = Window.partitionBy(*self.keys).orderBy("ts", "seq")
        pos = F.row_number().over(w) - 1
        n = F.count(F.lit(1)).over(Window.partitionBy(*self.keys))
        target = F.lit(i) if i >= 0 else n + F.lit(i)
        return self._wrap(
            self.df.withColumn("_pos", pos).withColumn("_t", target)
            .filter(F.col("_pos") == F.col("_t")).drop("_pos", "_t"))

    def info(self) -> DataFrame:
        """gensor ``Dataset.info`` (core/dataset.py:229): per-series
        coverage + OLS trend profile."""
        return self.df.groupBy(*self.keys).agg(
            F.count("value").alias("cnt"),
            F.min("ts").alias("start"),
            F.max("ts").alias("end"),
            F.regr_slope("value", F.col("seq").cast("double")).alias("slope"),
        )

    coverage = info

    # ----------------------------------------------------- processing verbs

    def resample(self, freq: str, agg_func: Any = "mean",
                 **resample_kwargs: Any) -> "Dataset":
        """gensor ``resample(freq, agg_func)`` (core/base.py:147-170):
        string agg names ride the JVM fast path; a Python callable runs in
        the batched Arrow kernel exactly like ``pd.Series.resample.apply``."""
        from gensor_spark.operators.resample import resample

        if callable(agg_func):
            out = resample(self.df, freq, agg_func=agg_func,
                           keys=self.keys, **resample_kwargs)
        else:
            out = resample(self.df, freq, aggs=agg_func,
                           keys=self.keys, **resample_kwargs)
        name = (getattr(agg_func, "__name__", None) or str(agg_func)) \
            if not isinstance(agg_func, str) else agg_func
        # back to the point-view column contract: one value column
        val = name if name in out.columns else out.columns[-1]
        pts = out.select(
            *self.keys, F.col("bin_ts").alias("ts"),
            F.col(val).cast("double").alias("value"),
        )
        pts = pts.withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy(*self.keys).orderBy("ts")) - 1,
        )
        return self._wrap(pts)

    def transform(self, method: Literal[
        "difference", "log", "square_root", "box_cox", "standard_scaler",
        "minmax_scaler", "robust_scaler", "maxabs_scaler", "winsorize",
    ], **kwargs: Any) -> "Dataset":
        """gensor ``transform(method)`` (core/base.py:172-206), quirks
        included (log/sqrt pass non-positive values through unchanged)."""
        from gensor_spark.operators import transforms as T

        v = F.col("value")
        if method == "difference":
            out = T.difference(self.df, keys=self.keys, **kwargs)
        elif method == "log":
            out = self.df.withColumn("value", T.log_transform(v))
        elif method == "square_root":
            out = self.df.withColumn("value", T.sqrt_transform(v))
        elif method == "box_cox":
            lmbda = kwargs.get("lmbda")
            if lmbda is None:
                out = T.box_cox_mle(self.df, keys=self.keys)
            else:
                out = self.df.withColumn(
                    "value", T.box_cox_fixed(v, lmbda=lmbda))
        elif method in ("standard_scaler", "minmax_scaler",
                        "robust_scaler", "maxabs_scaler", "winsorize"):
            out = getattr(T, method)(self.df, keys=self.keys, **kwargs)
        else:
            raise ValueError(f"unknown transform method: {method!r}")
        return self._wrap(out)

    def detect_outliers(self, method: Literal[
        "iqr", "zscore", "hampel", "isolation_forest", "lof",
        "gesd", "seasonal_esd", "spectral",
    ], rolling: bool = False, window: int = 6, remove: bool = True,
            **kwargs: Any) -> "Dataset":
        """gensor ``detect_outliers`` (core/base.py:207-237): flags via the
        chosen detector; ``remove=True`` returns the clean Dataset with the
        flagged points on ``.outliers`` (mask, don't delete). The ESD pair
        ('gesd'; 'seasonal_esd', which requires ``period=``) and 'spectral'
        (SR saliency) emit per-outlier rows rather than a flag column, so
        the split here is a key join against that (per-series-capped /
        tau-thresholded, hence small) set — AQE broadcasts it at runtime."""
        from gensor_spark.operators import outliers as O

        if method in ("gesd", "seasonal_esd", "spectral"):
            if method == "spectral":
                from gensor_spark.operators.spectral import spectral_residual

                def detect(df, keys, **kw):
                    return spectral_residual(df, keys=keys, **kw).filter(
                        "is_anomaly")
            else:
                from gensor_spark.operators import esd as E

                detect = (E.gesd_outliers if method == "gesd"
                          else E.seasonal_esd)
            flagged_keys = detect(self.df, keys=self.keys, **kwargs).select(
                *self.keys, "seq")
            on = [*self.keys, "seq"]
            cols = self.df.columns
            outs = self.df.join(flagged_keys, on, "semi").select(*cols)
            clean = (self.df.join(flagged_keys, on, "anti").select(*cols)
                     if remove else self.df)
            return Dataset(clean, keys=self.keys,
                           outliers=Dataset(outs, keys=self.keys))
        if method == "zscore":
            flagged = (O.zscore_rolling(self.df, window=window, keys=self.keys,
                                        **kwargs)
                       if rolling else
                       O.zscore_global(self.df, keys=self.keys, **kwargs))
        elif method == "iqr":
            flagged = (O.iqr_rolling(self.df, window=window, keys=self.keys,
                                     **kwargs)
                       if rolling else
                       O.iqr_global(self.df, keys=self.keys, **kwargs))
        elif method == "hampel":
            flagged = O.hampel(self.df, window=window, keys=self.keys, **kwargs)
        elif method == "lof":
            flagged = O.lof(self.df, keys=self.keys, **kwargs)
        elif method == "isolation_forest":
            flagged = O.isolation_forest(self.df, keys=self.keys, **kwargs)
        else:
            raise ValueError(f"unknown outlier method: {method!r}")
        if not remove:
            return Dataset(self.df, keys=self.keys,
                           outliers=Dataset(flagged.filter("is_outlier"),
                                            keys=self.keys))
        clean, outs = O.split_outliers(flagged)
        return Dataset(clean.select(*self.df.columns), keys=self.keys,
                       outliers=Dataset(outs, keys=self.keys))

    def mask_with(self, other: "Dataset",
                  mode: Literal["keep", "remove"] = "remove") -> "Dataset":
        """gensor ``mask_with`` (core/base.py:239-268)."""
        from gensor_spark.operators.masking import mask_with

        return self._wrap(mask_with(self.df, other.df, mode=mode))

    def smooth_data(self, window: int = 6,
                    method: Literal["mean", "median"] = "mean") -> "Dataset":
        """gensor ``smooth_data`` (processing/smoothing.py:10-66): centered
        rolling mean/median replacing the value column."""
        from gensor_spark.operators.masking import smooth

        return self._wrap(smooth(self.df, window=window,
                                 method=f"rolling_{method}",
                                 keys=self.keys))

    def interpolate(self, method: Literal["locf", "nocb", "linear", "time"]
                    = "linear") -> "Dataset":
        """gensor gap-fill (LOCF / interpolation; processing)."""
        from gensor_spark.operators import gapfill as G

        fns = {"locf": G.locf, "nocb": G.nocb}
        if method in fns:
            out = fns[method](self.df, keys=self.keys)
        else:
            out = G.interpolate(self.df, method=method, keys=self.keys)
        return self._wrap(out)

    def compensate(self, baro: "Dataset | float", sensor_alt: Any = 0.0,
                   **kwargs: Any) -> "Dataset":
        """gensor barometric compensation (processing/compensation.py):
        align to the baro series and convert pressure to water-column head,
        fieldwork/out-of-water masks preserved quirk-for-quirk."""
        from gensor_spark.operators.compensation import compensate

        b = baro.df if isinstance(baro, Dataset) else baro
        return self._wrap(compensate(self.df, b, sensor_alt, **kwargs))

    def trend(self) -> DataFrame:
        """gensor ``ts.trend()``: per-series OLS slope/intercept."""
        return self.df.groupBy(*self.keys).agg(
            F.regr_slope("value", F.col("seq").cast("double")).alias("slope"),
            F.regr_intercept("value",
                             F.col("seq").cast("double")).alias("intercept"),
        )

    def time_weighted(self, freq: str = "1h") -> DataFrame:
        """Time-weighted per-bin averages (TimescaleDB ``time_weight``
        semantics, LOCF + trapezoidal) — the irregular-sampling-correct
        sibling of ``resample(freq, 'mean')``."""
        from gensor_spark.operators.twa import time_weighted_avg

        return time_weighted_avg(self.df, freq, keys=self.keys)

    def ewma(self, alpha: float | None = None, adjust: bool = True,
             ignore_na: bool = False,
             halflife_seconds: float | None = None) -> "Dataset":
        """Exponentially-weighted smoothing (pandas ``.ewm().mean()`` exact);
        adds an ``ewma`` column (default ``alpha=0.3``). With
        ``halflife_seconds`` the decay is TIME-based (pandas
        ``ewm(halflife=Timedelta, times=...)`` — the correct form for
        irregular sampling; adds ``ewma_t`` instead). Passing ``alpha`` (or
        non-default ``adjust``/``ignore_na``) together with
        ``halflife_seconds`` raises, mirroring pandas' mutually-exclusive
        decay specs — those knobs have no time-based meaning."""
        from gensor_spark.operators.seriesstats import ewma, ewma_halflife

        if halflife_seconds is not None:
            if alpha is not None or adjust is not True or ignore_na:
                raise ValueError(
                    "halflife_seconds is exclusive with alpha/adjust/"
                    "ignore_na (pandas ewm semantics)")
            return self._wrap(ewma_halflife(
                self.df, halflife_seconds=halflife_seconds, keys=self.keys))
        return self._wrap(ewma(self.df,
                               alpha=0.3 if alpha is None else alpha,
                               adjust=adjust,
                               ignore_na=ignore_na, keys=self.keys))

    def holt(self, alpha: float = 0.5, beta: float = 0.3) -> "Dataset":
        """Holt linear (double-exponential) smoothing; adds ``level`` and
        ``trend`` columns — tracks ramps without EWMA's systematic lag."""
        from gensor_spark.operators.seriesstats import holt_smooth

        return self._wrap(holt_smooth(self.df, alpha=alpha, beta=beta,
                                      keys=self.keys))

    def kalman(self, q: float = 0.1, r: float = 1.0,
               optimize: bool = False) -> "Dataset":
        """Local-level Kalman filter + RTS smoother; adds ``k_filt``,
        ``k_smooth``, ``k_var`` — model-based smoothing with uncertainty
        bands that estimates through gaps (``optimize=True`` fits q/r per
        series by MLE)."""
        from gensor_spark.operators.kalman import kalman_smooth

        return self._wrap(kalman_smooth(self.df, q=q, r=r,
                                        optimize=optimize, keys=self.keys))

    def acf(self, lags: tuple = (1, 2, 3, 4, 5)) -> DataFrame:
        """Per-series autocorrelation at the given positional lags
        (pandas ``Series.autocorr`` pair semantics)."""
        from gensor_spark.operators.seriesstats import acf

        return acf(self.df, lags=lags, keys=self.keys)

    def ccf(self, lags: tuple = (-1, 1), bin: str = "day") -> DataFrame:
        """Lagged cross-correlation between series pairs — which series
        leads which, by how many bins."""
        from gensor_spark.operators.seriesstats import ccf

        return ccf(self.df, lags=lags, bin=bin, keys=self.keys)

    def pacf(self, max_lag: int = 10) -> DataFrame:
        """Per-series partial autocorrelation at lags 1..max_lag
        (Durbin-Levinson, Box-Jenkins estimator) — the AR-order diagnostic."""
        from gensor_spark.operators.seriesstats import pacf

        return pacf(self.df, max_lag=max_lag, keys=self.keys)

    def decompose(self, period: int) -> "Dataset":
        """Classic additive seasonal decomposition: adds ``trend``,
        ``seasonal``, ``resid`` (and ``phase``) columns; resample to a
        regular grid first."""
        from gensor_spark.operators.seriesstats import seasonal_decompose

        return self._wrap(seasonal_decompose(self.df, period=period,
                                             keys=self.keys))

    def mann_kendall(self) -> DataFrame:
        """Mann-Kendall monotonic-trend test per series (ties-exact S, z,
        tau) — the robust counterpart of ``trend()``."""
        from gensor_spark.operators.seriesstats import mann_kendall

        return mann_kendall(self.df, keys=self.keys)

    def changepoint(self) -> DataFrame:
        """Taylor-CUSUM level-shift detection per series: the most likely
        change position (``cp_seq``) and its evidence."""
        from gensor_spark.operators.seriesstats import cusum_changepoint

        return cusum_changepoint(self.df, keys=self.keys)

    def holt_winters(self, period: int, alpha: float = 0.5,
                     beta: float = 0.3, gamma: float = 0.3) -> "Dataset":
        """Holt-Winters additive smoothing: adds ``level``/``trend``/
        ``season``/``hw_fit`` columns — the season-tracking member of the
        exponential family (``ewma`` → ``holt`` → this)."""
        from gensor_spark.operators.seriesstats import hw_smooth

        return self._wrap(hw_smooth(self.df, period=period, alpha=alpha,
                                    beta=beta, gamma=gamma, keys=self.keys))

    def forecast(self, period: int, horizon: int, alpha: float = 0.5,
                 beta: float = 0.3, gamma: float = 0.3) -> DataFrame:
        """h-step Holt-Winters forecast per series: (keys, step, yhat,
        last_ts) — exact on pure trend+season series (tested)."""
        from gensor_spark.operators.seriesstats import hw_forecast

        return hw_forecast(self.df, period=period, horizon=horizon,
                           alpha=alpha, beta=beta, gamma=gamma,
                           keys=self.keys)

    def forecast_ar(self, horizon: int, p: int | None = None,
                    max_p: int = 8) -> DataFrame:
        """h-step Yule-Walker AR forecast per series: (keys, step, yhat,
        p, sigma2). ``p=None`` selects the order per series by AIC — the
        linear-memory complement to the exponential ``forecast()``
        (captures oscillation / mean-reversion, decays to the mean)."""
        from gensor_spark.operators.seriesstats import ar_forecast

        return ar_forecast(self.df, h=horizon, p=p, max_p=max_p,
                           keys=self.keys)

    def ks_drift(self, split_fraction: float = 0.5) -> DataFrame:
        """Two-sample KS test between each series' early and late parts —
        did the value DISTRIBUTION drift (the change ``changepoint()`` and
        ``mann_kendall()`` are blind to when the mean holds)?"""
        from gensor_spark.operators.seriesstats import ks_split

        return ks_split(self.df, keys=self.keys,
                        split_fraction=split_fraction)

    def backtest(self, period: int, eval_fraction: float = 0.2,
                 alpha: float = 0.5, beta: float = 0.3,
                 gamma: float = 0.3) -> DataFrame:
        """Which smoother fits each series? One-step-ahead rolling-origin
        MAE of the whole exponential family (ewma/holt/hw) in one pass;
        the ``best`` column names the winner per series."""
        from gensor_spark.operators.seriesstats import smoother_backtest

        return smoother_backtest(self.df, period=period,
                                 eval_fraction=eval_fraction, alpha=alpha,
                                 beta=beta, gamma=gamma, keys=self.keys)

    def similar_series(self, eps: float, length: int = 16,
                       band: int = 3, max_series: int = 2000) -> DataFrame:
        """Shape-similar series pairs by banded DTW over PAA sketches —
        phase-tolerant similarity where Pearson correlation needs a shared
        clock. Returns (sid_a, sid_b, lb, dtw) with dtw <= eps."""
        from gensor_spark.operators.dtw import dtw_pairs

        return dtw_pairs(self.df, eps=eps, length=length, band=band,
                         keys=self.keys, max_series=max_series)

    def forecast_theta(self, horizon: int, alpha: float | None = None) -> DataFrame:
        """h-step Theta-method forecasts per series (keys, step, yhat) —
        the M3 benchmark winner; SES level + half the OLS trend as drift.
        ``alpha=None`` picks the SES constant per series by SSE."""
        from gensor_spark.operators.seriesstats import theta_forecast

        return theta_forecast(self.df, h=horizon, alpha=alpha, keys=self.keys)

    def matrix_profile(self, m: int, **kwargs: Any) -> DataFrame:
        """Exact STOMP matrix profile per series: for every length-``m``
        subsequence, the z-normalized distance to its nearest neighbor
        (``mp``) and that neighbor's position (``mp_index``)."""
        from gensor_spark.operators.matrixprofile import matrix_profile

        return matrix_profile(self.df, m=m, keys=self.keys, **kwargs)

    def discords(self, m: int, k: int = 1, **kwargs: Any) -> DataFrame:
        """Per-series top-k shape anomalies: the subsequences FARTHEST from
        every other subsequence of their own series."""
        from gensor_spark.operators.matrixprofile import matrix_profile, top_discords

        return top_discords(matrix_profile(self.df, m=m, keys=self.keys,
                                           **kwargs), k=k, keys=self.keys)

    def motifs(self, m: int, k: int = 1, **kwargs: Any) -> DataFrame:
        """Per-series top-k repeated shapes (closest subsequence pairs)."""
        from gensor_spark.operators.matrixprofile import matrix_profile, top_motifs

        return top_motifs(matrix_profile(self.df, m=m, keys=self.keys,
                                         **kwargs), k=k, keys=self.keys)

    def find_pattern(self, query, max_dist: float | None = None,
                     per_series_k: int | None = None) -> DataFrame:
        """Query-by-shape (MASS) across every series: where does this
        pattern occur, and how closely? ``query`` is a plain sequence of
        floats; it broadcasts in the kernel closure."""
        from gensor_spark.operators.matrixprofile import pattern_search

        return pattern_search(self.df, query, keys=self.keys,
                              max_dist=max_dist, per_series_k=per_series_k)

    def sax(self, w: int = 16, alphabet_size: int = 4) -> DataFrame:
        """Per-series SAX word (symbolic shape index): z-normalized PAA in
        ``w`` segments quantized to an ``alphabet_size`` alphabet."""
        from gensor_spark.operators.sax import sax_words

        return sax_words(self.df, w=w, alphabet_size=alphabet_size,
                         keys=self.keys)

    def changepoints(self, penalty: float = 10.0) -> DataFrame:
        """Optimal MULTI-changepoint segmentation per series (PELT) — the
        any-number-of-shifts generalization of ``changepoint()``'s single
        most-likely CUSUM split."""
        from gensor_spark.operators.pelt import pelt_changepoints

        return pelt_changepoints(self.df, penalty=penalty, keys=self.keys)

    def period(self, max_period: int | None = None,
               min_acf: float = 0.2) -> DataFrame:
        """Dominant seasonal period per series (periodogram peak +
        ACF confirmation; NULL = aperiodic) — feeds every ``period=``
        verb (``decompose``, ``holt_winters``, ``forecast``,
        ``backtest``, S-H-ESD) instead of asking the caller to know it."""
        from gensor_spark.operators.spectral import dominant_period

        return dominant_period(self.df, max_period=max_period,
                               min_acf=min_acf, keys=self.keys)

    def anomaly_episodes(self, tau: float = 3.0, max_gap: int = 2,
                         **kwargs: Any) -> DataFrame:
        """SR saliency anomalies coalesced into alert episodes: one row per
        (series, episode) with ordinal bounds, size, and peak score — the
        paging-system view of ``detect_outliers('spectral')``."""
        from gensor_spark.operators.spectral import (
            anomaly_episodes,
            spectral_residual,
        )

        flagged = spectral_residual(self.df, tau=tau, keys=self.keys,
                                    **kwargs)
        return anomaly_episodes(flagged, max_gap=max_gap, keys=self.keys)

    def segments(self, penalty: float = 10.0) -> DataFrame:
        """Per-regime OLS trends: PELT changepoints composed with
        per-segment regression — slope/intercept/mean per regime."""
        from gensor_spark.operators.pelt import segmented_trend

        return segmented_trend(self.df, penalty=penalty, keys=self.keys)

    def forecast_segmented(self, horizon: int,
                           penalty: float = 10.0) -> DataFrame:
        """Broken-trend forecast: extend the CURRENT regime's OLS line
        ``horizon`` steps — immune to the pre-changepoint history the
        exponential smoothers drag across a level shift."""
        from gensor_spark.operators.pelt import forecast_segmented

        return forecast_segmented(self.df, horizon=horizon, penalty=penalty,
                                  keys=self.keys)

    def ohlc(self, freq: str = "1h") -> DataFrame:
        """pandas ``resample(freq).ohlc()`` parity per series: open/high/
        low/close (+ count) bars from one partial-agg pass."""
        from gensor_spark.operators.rollup import finalize_tier, rollup_tier

        out = finalize_tier(rollup_tier(self.df, freq, keys=self.keys,
                                        with_first=True))
        return out.select(
            *self.keys, "bin_ts",
            F.col("open"),
            F.col("max").alias("high"),
            F.col("min").alias("low"),
            F.col("last").alias("close"),
            F.col("count"),
        )

    def resample_calendar(self, unit: str = "month",
                          ohlc: bool = False) -> DataFrame:
        """Calendar-bin aggregates (week/month/quarter/year — non-fixed-
        width bins ``resample`` cannot floor to): count/min/max/mean/last
        per series-bin, plus the OHLC open when asked."""
        from gensor_spark.operators.rollup import finalize_tier, rollup_calendar

        return finalize_tier(rollup_calendar(self.df, unit, keys=self.keys,
                                             with_first=ohlc))

    # ------------------------------------------------------------- storage

    def save_bucketed(self, table: str, n_buckets: int,
                      path: str | None = None) -> None:
        """Persist the points hash-bucketed on the series keys (sorted by
        ts within buckets) so every reread's per-series groupBy/window/join
        plans with ZERO Exchange — the write-once answer to the opening
        shuffle every per-series operator otherwise pays."""
        from gensor_spark.plans.bucketing import write_bucketed

        write_bucketed(self.df, table, n_buckets, bucket_cols=self.keys,
                       path=path)

    @classmethod
    def from_bucketed(cls, spark, table: str,
                      keys: tuple[str, ...] = KEYS) -> "Dataset":
        """Reopen a ``save_bucketed`` table; the catalog carries the layout,
        so downstream per-series verbs skip their shuffle."""
        from gensor_spark.plans.bucketing import read_bucketed

        return cls(read_bucketed(spark, table), keys=keys)

    def to_store(self, pipeline, wave: int) -> dict:
        """gensor ``to_sql(db)`` analogue (core/base.py:269-283): persist
        this Dataset's points into the incremental tier store, as a
        backfill wave — idempotent per (wave, bucket) through the ledger,
        the distributed form of gensor's ON-CONFLICT-DO-NOTHING insert."""
        return pipeline.ingest_points_wave(self.df, wave=wave)

    # ------------------------------------------------------------- plotting

    def plot_data(self, bins: int = 1000, method: str = "m4") -> DataFrame:
        """gensor ``plot()`` served as data (core/dataset.py:486): M4
        pixel-exact or LTTB perceptual downsampling of every series."""
        from gensor_spark.operators.plotdata import lttb_downsample, m4_downsample

        if method == "m4":
            return m4_downsample(self.df, bins=bins, keys=self.keys)
        if method == "lttb":
            return lttb_downsample(self.df, k=bins, keys=self.keys)
        raise ValueError(f"unknown plot method: {method!r}")


class Corpus:
    """The documents-side sibling of ``Dataset``: every document in one
    frame (``doc_id, text, source``), with the training-data-pipeline
    verbs as one-liners. Each verb delegates to the corresponding audited
    operator (COVERAGE.md maps each to its driver row / oracle); verbs
    that select or rewrite documents return a NEW ``Corpus`` over a lazy
    plan, report/score verbs return DataFrames, trainers return their
    fitted artifacts. gensor itself has no corpus surface — this facade
    exists so the pipeline composes the way ``Dataset`` does for series:

        kept = (Corpus.from_parquet(spark, sf)
                .scrub()
                .gate(gopher=True)
                .dedup_exact()
                .dedup_near(threshold=0.8)
                .mix(temperature=0.7))
        vocab = kept.train_unigram(vocab_size=32_000)
        tokens = kept.tokenize(vocab)          # (doc_id, token_ids, ...)
        kept.write_shards("/data/shards", tokens_per_shard=2**22)
    """

    def __init__(self, docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", source_col: str = "source") -> None:
        self.df = docs
        self.text_col = text_col
        self.id_col = id_col
        self.source_col = source_col

    @classmethod
    def from_parquet(cls, spark, sf_dir: str) -> "Corpus":
        """The driver-testdata documents table as a Corpus."""
        return cls(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def _wrap(self, df: DataFrame) -> "Corpus":
        return Corpus(df, self.text_col, self.id_col, self.source_col)

    def _kw(self) -> dict:
        return {"text_col": self.text_col, "id_col": self.id_col}

    # ------------------------------------------------------------- hygiene

    def scrub(self, patterns: dict | None = None) -> "Corpus":
        """PII redaction in place (email/IPv4/SSN/phone + per-kind
        counts ride along as ``n_<kind>`` columns)."""
        from gensor_spark.operators.pii import scrub_pii

        return self._wrap(scrub_pii(self.df, patterns=patterns, **self._kw()))

    def gate(self, min_chars: int = 20, min_alnum_ratio: float = 0.5,
             gopher: bool = False) -> "Corpus":
        """Cheap length/alnum gate, optionally + the Gopher rule preset."""
        from gensor_spark.streaming.ingest_stream import quality_gate

        out = self.df.filter(quality_gate(
            min_chars=min_chars, min_alnum_ratio=min_alnum_ratio,
            text_col=self.text_col))
        if gopher:
            from gensor_spark.operators.qualityfilter import (
                gopher_quality_flags,
            )

            flagged = gopher_quality_flags(out, text_col=self.text_col)
            out = flagged.filter(F.col("keep")).select(*self.df.columns)
        return self._wrap(out)

    def c4_clean(self) -> "Corpus":
        """C4 line filter: docs kept, text rewritten to surviving lines."""
        from gensor_spark.operators.qualityfilter import c4_line_filter

        out = c4_line_filter(self.df, text_col=self.text_col)
        kept = out.filter(F.col("c4_keep")).withColumn(
            self.text_col, F.col("clean_text")
        ).select(*self.df.columns)
        return self._wrap(kept)

    def perplexity(self, model: str = "kn") -> DataFrame:
        """Per-doc LM perplexity: ``uni`` (add-1), ``bi`` (Jelinek-Mercer)
        or ``kn`` (interpolated Kneser-Ney), self-trained on this corpus."""
        from gensor_spark.operators import quality as Q

        fn = {"uni": Q.unigram_logprob_scores,
              "bi": Q.bigram_logprob_scores,
              "kn": Q.kn_bigram_logprob_scores}.get(model)
        if fn is None:
            raise ValueError(f"model must be uni|bi|kn, got {model!r}")
        return fn(self.df, **self._kw())

    # --------------------------------------------------------------- dedup

    def dedup_exact(self) -> "Corpus":
        """Drop exact duplicates (md5 digest), min-id keeper."""
        from gensor_spark.operators.dedup import exact_dedup

        dups = exact_dedup(self.df, **self._kw())
        return self._wrap(self.df.join(
            dups.select(F.col("dup_id").alias(self.id_col)),
            self.id_col, "left_anti"))

    def dedup_near(self, threshold: float = 0.7, score_col: str | None = None,
                   num_perm: int = 32) -> "Corpus":
        """MinHash-LSH near-dedup: keep one doc per duplicate cluster —
        the min-id member, or the best by ``score_col`` when given."""
        from gensor_spark.operators.dedup import (
            cluster_representatives,
            dup_clusters,
            minhash_dedup_pairs,
        )

        # the dedup family speaks the canonical (doc_id, text) schema
        canon = self.df.select(F.col(self.id_col).alias("doc_id"),
                               F.col(self.text_col).alias("text"))
        pairs = minhash_dedup_pairs(canon, threshold=threshold,
                                    num_perm=num_perm)
        clusters = dup_clusters(pairs)
        if score_col is None:
            drop = clusters.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select(F.col("doc_id").alias(self.id_col))
            return self._wrap(self.df.join(drop, self.id_col, "left_anti"))
        kept = cluster_representatives(self.df, clusters, score_col,
                                       id_col=self.id_col)
        return self._wrap(kept.select(*self.df.columns))

    def decontaminate(self, benchmark: DataFrame, n: int = 8,
                      min_overlap: int = 1,
                      broadcast: bool = True) -> "Corpus":
        """Drop docs leaking benchmark n-grams."""
        from gensor_spark.operators.decontaminate import contamination_stats

        stats = contamination_stats(self.df, benchmark, n=n,
                                    min_overlap=min_overlap,
                                    broadcast=broadcast, **self._kw())
        bad = stats.filter(F.col("contaminated")).select(
            F.col("doc_id").alias(self.id_col))
        return self._wrap(self.df.join(bad, self.id_col, "left_anti"))

    def overlap(self, n: int = 5, approx: bool = False) -> DataFrame:
        """Pairwise cross-source distinct-n-gram overlap audit."""
        from gensor_spark.operators.overlap import source_overlap

        return source_overlap(self.df, n=n, text_col=self.text_col,
                              source_col=self.source_col, approx=approx)

    # ----------------------------------------------------- selection / mix

    def mix(self, rates: dict | None = None, temperature: float | None = None,
            budget: int | None = None, salt: str = "mix1") -> "Corpus":
        """Deterministic source mixing: explicit per-source ``rates`` or
        mC4-style ``temperature`` (p^alpha) quotas."""
        from gensor_spark.operators import sampling as S

        if (rates is None) == (temperature is None):
            raise ValueError("pass exactly one of rates= / temperature=")
        if rates is not None and budget is not None:
            raise ValueError("budget= only applies to temperature mixing")
        if rates is not None:
            out = S.stratified_sample(self.df, rates,
                                      strata_col=self.source_col,
                                      id_col=self.id_col, salt=salt)
        else:
            out = S.temperature_mix(self.df, alpha=temperature,
                                    budget=budget, strata_col=self.source_col,
                                    id_col=self.id_col, salt=salt)
        return self._wrap(out)

    def select_like(self, target: "Corpus | DataFrame", k: int,
                    seed: int = 0) -> "Corpus":
        """DSIR importance resampling toward a target corpus."""
        from gensor_spark.operators.dsir import dsir_select

        tgt = target.df if isinstance(target, Corpus) else target
        picked = dsir_select(self.df, tgt, k, seed=seed, **self._kw())
        # dsir_select's output id column is canonical 'doc_id'
        return self._wrap(self.df.join(
            picked.select(F.col("doc_id").alias(self.id_col)),
            self.id_col, "leftsemi"))

    # ------------------------------------------------- tokenize/pack/shard

    def train_unigram(self, vocab_size: int = 8000, **kw) -> dict:
        """SentencePiece-style unigram-LM tokenizer → {piece: logprob}."""
        from gensor_spark.operators.unigramlm import unigram_train

        return unigram_train(self.df, vocab_size=vocab_size,
                             text_col=self.text_col, **kw)

    def train_bpe(self, n_merges: int = 1000, **kw) -> list:
        """BPE tokenizer → ranked merge list."""
        from gensor_spark.operators.bpe import bpe_train

        return bpe_train(self.df, n_merges, text_col=self.text_col, **kw)

    def tokenize(self, vocab: dict, emit_ids: bool = True) -> DataFrame:
        """Viterbi-encode with a unigram vocab → pieces (+ ``token_ids``,
        the engine's native tokens schema)."""
        from gensor_spark.operators.unigramlm import unigram_encode

        return unigram_encode(self.df, vocab, text_col=self.text_col,
                              id_col=self.id_col, emit_ids=emit_ids)

    def _with_ntok(self) -> DataFrame:
        from gensor_spark.functions.text import bpeish_token_count

        return self.df.withColumn(
            "n_tok", bpeish_token_count(F.col(self.text_col)))

    def pack(self, seq_len: int) -> DataFrame:
        """Concat-and-chunk packing plan over BPE-ish token counts."""
        from gensor_spark.operators.packing import pack_chunks

        return pack_chunks(self._with_ntok(), seq_len=seq_len,
                           id_col=self.id_col)

    def shard(self, tokens_per_shard: int | None = None,
              docs_per_shard: int | None = None,
              seed: str = "shuffle1") -> DataFrame:
        """Deterministic global shuffle + shard assignment."""
        from gensor_spark.operators.shards import assign_shards

        return assign_shards(self._with_ntok(),
                             tokens_per_shard=tokens_per_shard,
                             docs_per_shard=docs_per_shard,
                             id_col=self.id_col, seed=seed)

    def write_shards(self, out_dir: str,
                     tokens_per_shard: int | None = None,
                     docs_per_shard: int | None = None,
                     seed: str = "shuffle1") -> DataFrame:
        """Materialize training shards + manifest under ``out_dir``."""
        from gensor_spark.operators.shards import write_shards

        return write_shards(
            self.shard(tokens_per_shard=tokens_per_shard,
                       docs_per_shard=docs_per_shard, seed=seed), out_dir)

    # -------------------------------------------------------------- search

    def search(self, queries: DataFrame, k: int = 10, **kw) -> DataFrame:
        """BM25 top-k retrieval against this corpus."""
        from gensor_spark.operators.retrieval import bm25_topk

        return bm25_topk(self.df, queries, k=k, text_col=self.text_col,
                         id_col=self.id_col, **kw)

    # -------------------------------------------------------- composition

    def prepare(self, **kwargs) -> "tuple[Corpus, dict]":
        """The one-call composed pipeline (operators/corpusprep.py):
        gate → gopher → scrub → dedup → decontaminate → mix → pack.

        Its intermediate caches are pooled: the caller's
        ``plans.caching.cache_scope()`` releases them on exit, or, outside
        a scope, ``plans.caching.release_caches()`` after the action."""
        from gensor_spark.operators.corpusprep import corpus_prep

        out, rep = corpus_prep(self.df, text_col=self.text_col,
                               id_col=self.id_col, **kwargs)
        return self._wrap(out), rep
