"""Exact percentile rollups via mergeable value-histogram partials.

The tier rollup's partial states (count/min/max/sum/last — operators/
rollup.py) are associative, which is what makes the 1m→1h→1d cascade,
incremental maintenance and late-data backfill work. Percentiles are not
mergeable from those states — but for TOKEN data they are exactly mergeable
through a **value-count histogram**: values are integer token ids from a
bounded vocabulary (the docs kernel below asserts 0 ≤ v < 2^24), so a
per-(series, bin) map ``value → count`` is small (≤ distinct values per
bin, ≤60 for a 1m tier at 1-tick-per-minute), loses nothing, and merges by
key-wise addition. Quantiles derived from the merged histogram are EXACT —
identical to sorting the raw points — at every tier, including tiers
cascaded from finer histograms without re-reading raw data.

This is the standard bounded-domain exact-quantile decomposition (count
sketch with no approximation), chosen over t-digest/KLL because the token
domain makes exactness free. For unbounded float domains the same plumbing
would take an approximate mergeable sketch instead; the interpolation
finalizer below is sketch-agnostic.

Plan shapes (all pure Catalyst, no Python):

- ``rollup_hist``: groupBy (keys, bin, value) partial-count → regroup to a
  map. Two shuffles; the second is bin-grain (small).
- ``cascade_hist``: explode the finer maps → re-sum at the coarser bin →
  re-map. Two shuffles over bin-grain rows — never touches raw points.
  It builds a coarser tier's histograms; quantiles at a coarser tier do
  not need them (below).
- ``quantiles_from_hist``: explode → (with ``tier``) re-bin each entry →
  ONE window (cumulative count, ordered by value) → per-row interpolation
  flags → min-CASE aggregate. The window and the final groupBy share the
  (keys, bin) hash partitioning, so one Exchange serves both. Its input
  need not be merged: rows with equal values are window peers, so several
  contributions or finer bins give the merged histogram's cumulative
  counts, and a quantile read over stored 1m contributions at any coarser
  tier is that one Exchange (merging and cascading first would make it
  four).
  Linear interpolation matches ``percentile_cont`` / pandas ``quantile``
  (type-7): h = (n−1)p, result = x_⌊h⌋ + (h−⌊h⌋)·(x_⌊h⌋₊₁ − x_⌊h⌋).

NULL values never enter the histogram (``quantile_cont`` semantics);
all-NULL bins are absent rather than NULL-rowed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.resample import bin_ts, bin_ts_sql, freq_to_seconds
from gensor_spark.operators.rollup import (
    _DOC_KEYS,
    TIER_SECONDS,
    ragged_bins,
    sql_ident,
)

KEYS = _DOC_KEYS


def _step(tier: str) -> int:
    return TIER_SECONDS.get(tier) or freq_to_seconds(tier)


def rollup_hist(
    points: DataFrame,
    tier: str = "1m",
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Point view → (keys..., bin_ts, hist map<double,long>) partials."""
    v = F.col(value_col)
    counted = (
        points.filter(v.isNotNull())
        .withColumn("bin_ts", bin_ts(F.col(ts_col), _step(tier)))
        .groupBy(*keys, "bin_ts", v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return counted.groupBy(*keys, "bin_ts").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("_v", "_c")))
        ).alias("hist")
    )


def rollup_hist_docs_arrow(
    docs: DataFrame,
    tier: str = "1m",
    tick_seconds: int = 60,
    epoch0_us: int = 1_704_067_200_000_000,
) -> DataFrame:
    """Affine-ts fast path for the histogram build: per-bin value counts
    straight from the token arrays, one vectorized pass per Arrow batch —
    no point-view explode, no raw-point shuffle (the ``rollup_docs_arrow``
    pattern applied to the histogram state).

    The trick: a (global bin, value) pair packs into one int64
    (``bin << 25 | value`` — token ids are asserted ``0 ≤ v < 2^24``),
    so ONE ``np.unique``
    over the packed keys counts every bin of every doc in a single
    C-level sort pass. Output is bit-identical to
    ``rollup_hist(docs_to_points(docs), tier)`` (asserted in tests).

    Python-object work is one dict per BIN row (≈ tokens/60), not per
    token — the map-column boundary cost the Arrow format imposes; at 100
    TB the win over the explode path is that raw points never shuffle and
    never materialize as rows at all.
    """
    import numpy as np
    import pandas as pd

    step = _step(tier)
    if step % tick_seconds:
        raise ValueError(
            f"tier step {step}s not a multiple of tick {tick_seconds}s")
    k = step // tick_seconds
    schema = ("".join(f"{key} string, " for key in _DOC_KEYS)
              + "bin_ts timestamp, hist map<double,bigint>")
    _VBITS = 25
    _VMAX = 1 << 24

    def kernel(batches):
        for pdf in batches:
            rb = ragged_bins(pdf, k, dtype=np.int64)
            if rb is None:
                continue
            keep, flat, lens, nbins, doc_off, bin_off, bin_local, total_bins = rb
            if flat.min() < 0 or flat.max() >= _VMAX:
                raise ValueError(
                    "histogram fast path requires token ids in [0, 2^24)")
            # per-token GLOBAL bin id (affine: position // k within its doc)
            pos = np.arange(flat.size) - np.repeat(doc_off, lens)
            tok_bin = np.repeat(bin_off, lens) + pos // k
            packed = (tok_bin << _VBITS) | flat
            u, c = np.unique(packed, return_counts=True)
            u_bin = u >> _VBITS
            u_val = (u & (_VMAX * 2 - 1)).astype(np.float64)
            # every affine bin is occupied, so splitting the sorted unique
            # stream at each bin boundary yields exactly total_bins groups
            split = np.searchsorted(u_bin, np.arange(1, total_bins))
            hists = [
                dict(zip(v.tolist(), ct.tolist()))
                for v, ct in zip(np.split(u_val, split), np.split(c, split))
            ]
            yield pd.DataFrame({
                **{key: np.repeat(pdf[key].to_numpy()[keep], nbins)
                   for key in _DOC_KEYS},
                "bin_ts": pd.to_datetime(
                    epoch0_us + bin_local * (step * 1_000_000), unit="us"),
                "hist": hists,
            })

    return docs.mapInPandas(kernel, schema=schema)


def merge_hist(hists: DataFrame, group_cols: list[str]) -> DataFrame:
    """Key-wise histogram addition — associative, any nesting level."""
    exploded = hists.select(
        *group_cols, F.explode("hist").alias("_v", "_c")
    )
    summed = exploded.groupBy(*group_cols, "_v").agg(F.sum("_c").alias("_c"))
    return summed.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("_v", "_c")))
        ).alias("hist")
    )


def cascade_hist(
    hist_partials: DataFrame,
    to_tier: str,
    keys: tuple[str, ...] = KEYS,
) -> DataFrame:
    """Finer-tier histograms → coarser-tier histograms (no raw re-read)."""
    coarser = hist_partials.withColumn(
        "bin_ts", bin_ts(F.col("bin_ts"), _step(to_tier))
    )
    return merge_hist(coarser, [*keys, "bin_ts"])


def quantiles_from_hist(
    hists: DataFrame,
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    keys: tuple[str, ...] = KEYS,
    tier: str | None = None,
) -> DataFrame:
    """Exact linear-interpolation quantiles per (keys..., bin_ts).

    ``hists`` may hold several rows per (keys, bin): unmerged contributions,
    or with ``tier`` set, finer-tier histograms whose ``(value, count)``
    entries are re-binned to ``tier``. The answer equals that of the
    merged (and cascaded) histogram: the cumulative count's window has the
    default RANGE frame, so rows with equal values are peers and all get
    the merged entry's cumulative count.

    Output: ``keys..., bin_ts, p50, p95, ...`` (column per p, named by
    percent with a ``p`` prefix; 0.5 → ``p50``, 0.999 → ``p99_9``).
    """
    group = [*keys, "bin_ts"]
    part = ", ".join(map(sql_ident, group))
    ts = "bin_ts" if tier is None else bin_ts_sql("bin_ts", _step(tier))
    ex = hists.selectExpr(*map(sql_ident, keys), f"{ts} AS bin_ts",
                          "explode(hist) AS (_v, _c)").selectExpr(
        "*",
        f"sum(_c) OVER (PARTITION BY {part} ORDER BY _v) AS _cum",
        f"sum(_c) OVER (PARTITION BY {part} ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND UNBOUNDED FOLLOWING) AS _n",
    )

    aggs = []
    for p in ps:
        name = f"p{p * 100:g}".replace(".", "_")
        # type-7: 0-indexed fractional rank h in [0, n-1]; x_lo/x_hi are at
        # the 1-indexed positions ⌊h⌋+1 and ⌈h⌉+1
        h = f"((_n - 1) * {float(p)!r}D)"
        x_lo = f"min(CASE WHEN _cum >= floor({h}) + 1 THEN _v END)"
        x_hi = f"min(CASE WHEN _cum >= ceil({h}) + 1 THEN _v END)"
        # the fraction is row-level but constant within the group (it
        # depends only on _n); min() collapses it losslessly
        frac = f"min({h} - floor({h}))"
        aggs.append(f"{x_lo} + {frac} * ({x_hi} - {x_lo}) AS {name}")
    return ex.groupBy(*group).agg(*map(F.expr, aggs))


def rollup_quantiles(
    points: DataFrame,
    tier: str = "1h",
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    keys: tuple[str, ...] = KEYS,
    via_tier: str | None = "1m",
) -> DataFrame:
    """Exact per-bin quantiles at ``tier`` from ``via_tier`` histograms
    re-binned in the quantile window (the continuous-aggregate path — set
    ``via_tier=None`` to histogram directly at ``tier``). Both routes are
    exactly equal; the ``via_tier`` histograms are what an incremental
    deployment maintains."""
    if via_tier is not None and _step(tier) % _step(via_tier) == 0 \
            and _step(via_tier) < _step(tier):
        return quantiles_from_hist(rollup_hist(points, via_tier, keys=keys),
                                   ps=ps, keys=keys, tier=tier)
    return quantiles_from_hist(rollup_hist(points, tier, keys=keys),
                               ps=ps, keys=keys)
