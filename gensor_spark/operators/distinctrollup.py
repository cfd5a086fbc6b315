"""Mergeable distinct-count tier rollups: Datasketches HLL partials.

The continuous-aggregate store (plans/incremental.py) keeps count/min/max/
mean/last partials because they are ASSOCIATIVE — coarser tiers merge from
finer ones without touching raw points. Distinct counts (distinct tokens per
bin = vocab coverage; distinct docs per source-bin = active-series density)
have no exact associative partial of bounded size, but the Datasketches HLL
sketch is the standard mergeable substitute: a union of sketches takes the
per-register MAX, so a cascaded union over 1m sketches carries the same
register information as a direct aggregation of the raw points. In the
sparse regime the estimates are EXACTLY equal (proven in tests at every
tier); across the sparse→dense conversion boundary (~2^lgk/8 items) a
direct sketch converts to the lossy dense representation earlier than a
union of small sparse contributions, so estimates there agree within the
standard error bound rather than bit-for-bit. The 1m→1h→1d cascade
contract of the store extends to sketches unchanged.

Spark 3.5+ exposes the Datasketches implementation natively
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``), so the
whole family stays JVM-side — no Python, no UDF, one partial-aggregated
shuffle per tier, binary sketch columns small enough (2^lgk registers) to
store next to the numeric partials.

At 100 TB: each bin row carries one ≤(2^lgk)-register sketch regardless of
bin cardinality; the cascade shuffles only bin-grain sketch rows (the same
≥60:1 reduction as the numeric tiers); accuracy is the standard HLL ±1.04/√m
(~1.6% at the default lgConfigK=12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.rollup import TIER_SECONDS, bin_ts, freq_to_seconds

KEYS = ("doc_id", "source")


def _step(tier: str) -> int:
    return TIER_SECONDS.get(tier) or freq_to_seconds(tier)


def rollup_distinct(
    points: DataFrame,
    tier: str = "1m",
    of: str = "value",
    keys: tuple[str, ...] = KEYS,
    ts_col: str = "ts",
    lgk: int = 12,
) -> DataFrame:
    """HLL sketch partials of ``count(DISTINCT of)`` per (keys, tier bin).

    Output: ``keys..., bin_ts, hll (binary)`` — feed to ``cascade_distinct``
    for coarser tiers and ``finalize_distinct`` for estimates. NULLs in
    ``of`` are ignored (SQL COUNT DISTINCT semantics). ``hll_sketch_agg``
    accepts int/bigint/string/binary only; float/double columns are adapted
    through Java's shortest round-trip string repr (injective on doubles,
    deterministic, codegen-friendly) — string distinctness, i.e. -0.0 and
    0.0 count separately and all NaNs collapse to one.
    """
    dt = dict(points.dtypes).get(of)
    col = F.col(of)
    if dt in ("double", "float"):
        col = F.col(of).cast("double").cast("string")
    binned = points.withColumn("bin_ts", bin_ts(F.col(ts_col), _step(tier)))
    return binned.groupBy(*keys, "bin_ts").agg(
        F.hll_sketch_agg(col, F.lit(lgk)).alias("hll")
    )


def cascade_distinct(
    finer: DataFrame,
    tier: str,
    keys: tuple[str, ...] = KEYS,
) -> DataFrame:
    """Coarser-tier sketches from finer-tier sketches — never re-reads raw
    points. Union takes per-register max, so registers and estimates are
    order-free and match a direct ``rollup_distinct`` at ``tier`` (within
    the module docstring's sparse/dense bound). The serialized ``hll``
    bytes depend on the order the union met its inputs: compare sketches
    by estimate, never by bytes."""
    rebinned = finer.withColumn("bin_ts", bin_ts(F.col("bin_ts"), _step(tier)))
    return rebinned.groupBy(*keys, "bin_ts").agg(
        F.hll_union_agg(F.col("hll")).alias("hll")
    )


def merge_distinct(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge same-bin sketch rows from multiple contributions (the store's
    cross-batch read-side merge). Associative; registers and estimates are
    order-free, but the serialized ``hll`` bytes depend on merge order, so
    compare merged sketches by estimate, never by bytes."""
    return partials.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col("hll")).alias("hll")
    )


def finalize_distinct(partials: DataFrame) -> DataFrame:
    """Partials → readable rows: adds ``n_distinct`` (the HLL estimate,
    rounded to the nearest long — exact in the sketch's sparse regime)."""
    return partials.withColumn(
        "n_distinct", F.hll_sketch_estimate(F.col("hll"))
    )
