"""pandas-parity ``resample``: the reference's core aggregation verb.

gensor ``Timeseries.resample(freq, agg_func)`` delegates to
``pd.Series.resample(freq).apply(agg_func)``
(``/root/reference/gensor/core/base.py:147-170``). The semantics we must
replicate exactly (verified empirically against pandas 2.2.2, SURVEY.md §2.4):

- bins are **left-closed, left-labeled** for s/min/h/D frequencies;
- the output is a **dense bin grid** from ``floor(min ts)`` to
  ``floor(max ts)`` — empty bins are present with a null (NaN) value;
- aggregates skip NaN (Spark aggregates skip null — same thing here since
  the point view encodes gaps as null values).

Spark realization: ``groupBy(keys, date_trunc-style bin)`` for the
aggregation (one shuffle, with map-side partial aggregation), then one
explicit-count ``repartition(n, *keys)`` of the aggregated bins and
``lead(bin_ts)`` over each series: every populated bin explodes
``sequence(bin_ts, next - step, step)``, itself plus the empty bins before
the next populated one, and keeps its aggregates only on its own bin. One
scan, two shuffles, no join; the output is hash-partitioned on the series
keys, so a per-series window over it adds no exchange. A naive
``groupBy(window(...))`` would silently drop empty bins — that is the main
parity trap.

At 100 TB: the bin aggregate is the dominant shuffle and it is keyed on
``(doc_id, source, bin)`` — high cardinality, well distributed; per-series
skew (one huge doc) is handled upstream by salted two-phase aggregation
(operators/rollup.py) since count/min/max/sum/last are all associative.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: canonical frequency aliases (pandas offset strings) → seconds
FREQ_SECONDS = {
    "s": 1,
    "min": 60,
    "t": 60,
    "h": 3600,
    "d": 86400,
}

_FREQ_RE = re.compile(r"^(\d*)\s*(s|min|t|h|d)$", re.IGNORECASE)

#: aggregate name → builder over (value column). All skip nulls like pandas.
_AGG_BUILDERS = {
    "mean": lambda v, ts: F.avg(v),
    "min": lambda v, ts: F.min(v),
    "max": lambda v, ts: F.max(v),
    "sum": lambda v, ts: F.sum(v),
    "count": lambda v, ts: F.count(v),  # non-null count, like pd.Series.count
    "median": lambda v, ts: F.median(v),
    "std": lambda v, ts: F.stddev_samp(v),
    "first": lambda v, ts: F.min_by(v, F.when(v.isNotNull(), ts)),
    "last": lambda v, ts: F.max_by(v, F.when(v.isNotNull(), ts)),
}


def freq_to_seconds(freq: str) -> int:
    """Parse a pandas-style offset alias ('h', '15min', '2D') to seconds."""
    m = _FREQ_RE.match(freq.strip())
    if not m:
        raise ValueError(f"unsupported frequency: {freq!r}")
    n = int(m.group(1) or 1)
    return n * FREQ_SECONDS[m.group(2).lower()]


def bin_ts(ts: Column, step_seconds: int) -> Column:
    """Left-closed, left-labeled bin: floor the timestamp to the step.

    Integer division, not floor(double/double): identical values for
    non-negative epochs, but long-only arithmetic — no double boxing in the
    hot rollup projection.
    """
    secs = F.unix_timestamp(ts)
    binned = (secs - F.pmod(secs, F.lit(step_seconds)))
    return F.timestamp_seconds(binned)


def bin_ts_sql(col: str, step_seconds: int) -> str:
    """``bin_ts`` of the column named ``col`` as one SQL expression string
    (an identifier, quoted by the caller where needed): the same plan for
    one Py4J call instead of one per ``F.*`` node."""
    secs = f"unix_timestamp({col})"
    return f"timestamp_seconds({secs} - pmod({secs}, {step_seconds}))"


def resample(
    points: DataFrame,
    freq: str,
    aggs: str | list[str] = "mean",
    keys: tuple[str, ...] = ("doc_id", "source"),
    value_col: str = "value",
    ts_col: str = "ts",
    dense: bool = True,
    agg_func=None,
) -> DataFrame:
    """Resample the point view to ``freq`` with one column per aggregate.

    Output schema: ``keys..., bin_ts timestamp, <agg> double ...`` (single
    agg keeps the name ``value`` aliased to the agg name). With
    ``dense=True`` (pandas parity) empty interior bins appear as null rows.

    ``agg_func`` is gensor's escape hatch — ``resample(freq, agg_func)``
    forwards an arbitrary Python callable to ``pd.Series.resample.apply``
    (``/root/reference/gensor/core/base.py:147-170``). Here the callable
    runs per series inside the batched kernel (udfkernel.per_series_map:
    many series per Arrow crossing), applied via
    ``groupby(index.floor(freq))`` — the callable sees each POPULATED bin's
    values as a pandas Series, exactly what ``resample(...).apply`` hands
    it, but is never invoked on empty bins. Two pathologies motivate this
    exact shape, both measured at sf0.1: a GROUPED_AGG ``pandas_udf`` keyed
    on (series, bin) pays per-GROUP pandas overhead (39.7s for ~100k hourly
    bins), and literal ``resample().apply`` invokes the Python callable per
    EMPTY bin too — sparse series over long spans exploded to ~131M calls
    (hung). Empty bins are therefore ABSENT from this path's output (pandas
    would emit them with the callable's empty-Series value, NaN for any real
    aggregate); the ``dense`` flag is ignored. The named ``aggs`` remain the
    fast path (JVM-side, whole-stage codegen).
    """
    if agg_func is not None:
        if aggs != "mean":
            # the callable path produces exactly one output column; a named
            # aggs list alongside it would be silently dropped otherwise
            raise ValueError(
                "resample(): pass either named aggs or agg_func, not both "
                f"(got aggs={aggs!r} with agg_func={agg_func!r})"
            )
        from pyspark.sql import types as T

        from gensor_spark.operators.udfkernel import per_series_map

        name = getattr(agg_func, "__name__", "agg") or "agg"
        schema = T.StructType(
            [points.schema[k] for k in keys]
            + [T.StructField("bin_ts", T.TimestampType()),
               T.StructField(name, T.DoubleType())]
        )

        def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
            # manual bin slicing instead of pandas groupby(...).apply: apply
            # pays ~350µs of Series/concat machinery per group (measured 36s
            # for ~100k bins at sf0.1); slicing the sorted arrays at bin
            # boundaries hands the callable the same per-bin Series at ~20µs
            import numpy as np

            idx = pd.DatetimeIndex(pdf[ts_col])
            vals = pdf[value_col].to_numpy(dtype=float)
            bins = idx.floor(freq)
            b8 = bins.asi8  # sorted: per_series_map sorts each series by ts
            starts = np.r_[0, 1 + np.flatnonzero(b8[1:] != b8[:-1])]
            ends = np.r_[starts[1:], len(b8)]
            agged = [
                float(agg_func(pd.Series(vals[i:j], index=idx[i:j])))
                for i, j in zip(starts, ends)
            ]
            out = pd.DataFrame({"bin_ts": bins[starts], name: agged})
            for k in keys:
                out[k] = pdf[k].iloc[0]
            return out[[*keys, "bin_ts", name]]

        return per_series_map(points, per_series, schema, keys=keys,
                              sort_col=ts_col)

    if isinstance(aggs, str):
        aggs = [aggs]
    step = freq_to_seconds(freq)
    v, t = F.col(value_col), F.col(ts_col)

    binned = points.withColumn("bin_ts", bin_ts(t, step))
    agg_cols = [_AGG_BUILDERS[a](v, t).alias(a) for a in aggs]
    agged = binned.groupBy(*keys, "bin_ts").agg(*agg_cols)

    if not dense:
        return agged

    # One shuffle on the series keys, after the map-side-combined bin
    # aggregate, then each populated bin emits itself plus the empty bins up
    # to its series' next populated one. The repartition's input is small
    # partial aggregates, but the explode multiplies rows, so AQE's byte
    # model would coalesce this stage 1-2 wide; an explicit-count
    # repartition is never coalesced (same defeat as
    # udfkernel.per_series_map). Its hash partitioning on the keys also
    # satisfies any downstream per-series window (gapfill), so the grid is
    # never shuffled again. With ``keys=()`` the input is one series and
    # the window gathers it into one partition itself.
    ks = [f"`{k}`" for k in keys]
    if keys:
        agged = agged.repartition(
            points.sparkSession.sparkContext.defaultParallelism, *keys)
    part = f"PARTITION BY {', '.join(ks)} " if keys else ""
    iv = f"INTERVAL {step} SECONDS"
    runs = agged.selectExpr(
        "*", f"lead(bin_ts) OVER ({part}ORDER BY bin_ts) AS _next"
    ).selectExpr(
        *ks, *[f"`{a}`" for a in aggs], "bin_ts AS _bin",
        f"explode(sequence(bin_ts, coalesce(_next - {iv}, bin_ts), {iv})) AS bin_ts")
    return runs.selectExpr(*ks, "bin_ts", *[
        f"CASE WHEN bin_ts = _bin THEN `{a}` END AS `{a}`" for a in aggs])
