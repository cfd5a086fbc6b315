"""DDSketch float-quantile tiers — the unbounded-domain sketch the exact
histogram tier points at.

``operators/histquantiles.py`` gives EXACT mergeable percentiles for the
bounded-integer token domain and says so: *"For unbounded float domains the
same plumbing would take an approximate mergeable sketch instead; the
interpolation finalizer below is sketch-agnostic."* This module is that
sketch. A DDSketch (Masson, Rim & Lee, VLDB 2019 — "DDSketch: a fast and
fully-mergeable quantile sketch with relative-error guarantees") quantizes
each value onto a logarithmic bucket grid with relative accuracy ``alpha``:

    gamma  = (1 + alpha) / (1 - alpha)
    bucket(v) = ceil(log_gamma(|v|))            (sign kept, 0 kept exactly)
    rep(v)    = sign(v) * 2 * gamma^bucket / (gamma + 1)

``rep`` is the bucket midpoint in log space, so ``|rep(v) - v| <= alpha *
|v|`` for every value. The key design move here: rather than carrying a
bespoke sketch structure, we quantize the VALUE COLUMN and feed the
existing exact-histogram machinery — ``rep`` is a pure deterministic
function of the value, so the (rep → count) map is a DDSketch, and

- merging   = ``histquantiles.merge_hist``       (key-wise count addition),
- cascading = ``histquantiles.cascade_hist``     (1m → 1h → 1d, no raw re-read),
- quantiles = ``histquantiles.quantiles_from_hist`` (type-7 interpolation
  over representatives; with ``tier=`` it reads finer or unmerged
  sketches directly, so a coarser-tier quantile needs no merge or cascade
  first).

Every guarantee the hist tier family proves (merge associativity, cascade
== direct, incremental maintenance through ``TierPipeline``, retention,
late-data waves) transfers verbatim because the quantized column flows
through the identical plan. Quantile error: the sorted quantized multiset
is the pointwise image of the sorted raw multiset (``rep`` is monotone), so
a type-7 estimate interpolates two representatives whose raw counterparts
bracket the exact answer — on sign-uniform data the estimate is within
``alpha`` (relative) of the exact type-7 quantile, the published DDSketch
bound (tests pin a conservative 2·alpha against DuckDB ``quantile_cont``).

Plan shapes: identical to the hist tier (two shuffles to build partials,
bin-grain work to cascade/finalize) plus one row-local projection for the
quantizer — nothing Python, nothing per-row. At 10^12 scale the sketch is
what bounds state: the hist map's size per (series, bin) is ``distinct
values`` for raw ints but ``<= 2*log_gamma(vmax/vmin)+1`` after
quantization (~1.4k buckets for alpha=1% over 12 decades), independent of
cardinality — this is exactly why DDSketch exists.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.histquantiles import (
    KEYS,
    cascade_hist,
    merge_hist,
    quantiles_from_hist,
    rollup_hist,
    _step,
)

__all__ = [
    "dd_gamma",
    "dd_quantize",
    "rollup_dd",
    "cascade_dd",
    "merge_dd",
    "quantiles_from_dd",
    "rollup_dd_quantiles",
]


def dd_gamma(alpha: float) -> float:
    """The log-grid base for relative accuracy ``alpha`` (0 < alpha < 1)."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def dd_quantize(value: Column, alpha: float = 0.01) -> Column:
    """Row-local DDSketch quantizer: value → its bucket representative.

    Pure Catalyst (``log``/``pow``/``ceil`` — whole-stage codegen), sign
    symmetric, exact on 0, NULL-passthrough. ``|out - v| <= alpha*|v|``.
    """
    g = dd_gamma(alpha)
    ln_g = math.log(g)
    # ceil(log_gamma(|v|)); F.ceil yields LONG, pow(double, long) is fine
    idx = F.ceil(F.log(F.abs(value)) / F.lit(ln_g))
    rep = F.lit(2.0 / (g + 1.0)) * F.pow(F.lit(g), idx)
    return (
        F.when(value == 0, F.lit(0.0))
        .when(value > 0, rep)
        .when(value < 0, -rep)
    )


def rollup_dd(
    points: DataFrame,
    tier: str = "1m",
    alpha: float = 0.01,
    keys: tuple[str, ...] = KEYS,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Point view → (keys..., bin_ts, hist map<double,long>) DDSketch
    partials: the histogram rollup over the quantized value column."""
    q = points.withColumn(value_col, dd_quantize(F.col(value_col), alpha))
    return rollup_hist(q, tier, keys=keys, value_col=value_col,
                       ts_col=ts_col)


# merging / cascading / finalizing are the hist machinery verbatim — the
# sketch IS a value-count histogram over representatives. Re-exported under
# dd names so call sites document which contract (approximate-float vs
# exact-int) they rely on.
merge_dd = merge_hist
cascade_dd = cascade_hist
quantiles_from_dd = quantiles_from_hist


def rollup_dd_quantiles(
    points: DataFrame,
    tier: str = "1h",
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    alpha: float = 0.01,
    keys: tuple[str, ...] = KEYS,
    via_tier: str | None = "1m",
) -> DataFrame:
    """Relative-error quantiles at ``tier`` from ``via_tier`` DDSketch
    partials re-binned in the quantile window (set ``via_tier=None`` to
    sketch directly at ``tier``). Both routes are exactly equal —
    quantization happens once, at the leaves, so the re-binned entries
    share bucket keys."""
    if via_tier is not None and _step(tier) % _step(via_tier) == 0 \
            and _step(via_tier) < _step(tier):
        return quantiles_from_dd(
            rollup_dd(points, via_tier, alpha=alpha, keys=keys),
            ps=ps, keys=keys, tier=tier)
    return quantiles_from_dd(rollup_dd(points, tier, alpha=alpha, keys=keys),
                             ps=ps, keys=keys)
