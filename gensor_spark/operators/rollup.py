"""Retention-tier rollups: 1m → 1h → 1d continuous aggregates.

The north rule requires ``count/min/max/mean/last`` per tier, each coarser
tier derivable from the finer one, and incremental maintenance. The trick is
to materialize **partial states**, not finalized values: mean is carried as
``(sum, cnt)`` (never average-of-averages), and ``last`` is carried with its
timestamp so the cascade can ``max_by`` it. All partials are associative and
commutative, which is also what makes the salted two-phase aggregation and
the incremental merge (plans/incremental.py) correct.

gensor analogue: ``Timeseries.resample`` applied at three frequencies
(``/root/reference/gensor/core/base.py:147-170``) — except gensor recomputes
from raw every call, while these tiers compose: 1h is an 8,640× smaller input
read than the raw points when derived from 1m.

Partial-state schema per (doc_id, source, bin_ts)::

    cnt   bigint   -- non-null point count (pandas .count semantics)
    vmin  double
    vmax  double
    vsum  double
    last  double   -- last non-null value in the bin ...
    last_ts timestamp -- ... and when it occurred (cascade orders by this)
    vsumsq double  -- OPTIONAL (with_sumsq=True): Σx², the mergeable
                   -- variance/stddev state (TimescaleDB stats_agg analogue)
    first double   -- OPTIONAL (with_first=True): first non-null value ...
    first_ts timestamp -- ... and when — ``min_by`` merges it, the exact
                   -- mirror of the ``last`` pair; with min/max/last this
                   -- completes the OHLC bar (open=first, close=last)
    vsumcu double  -- OPTIONAL (with_moments=True): Σx³ ...
    vsumqu double  -- ... and Σx⁴ — the mergeable states behind per-bin
                   -- skewness/kurtosis (implies Σx², which they divide by)

``finalize_tier`` turns partials into the user-facing
``count/min/max/mean/last`` frame.

Skew: one hot series (giant token array / hot doc_id) lands every point in
the same ``(doc_id, source)`` hash bucket. The rollup key includes
``bin_ts`` so cardinality is already high, but a single hot *bin* can still
skew the 1d tier; ``rollup_tier(salt=N)`` splits each key N ways on a
deterministic hash of ``seq`` first (map-side partials stay small), then
merges the N sub-partials — classic salted two-phase aggregation. AQE skew
handling covers the join side; this covers the agg side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensor_spark.operators.resample import bin_ts, bin_ts_sql, freq_to_seconds

PARTIAL_COLS = ("cnt", "vmin", "vmax", "vsum", "last", "last_ts")

#: opt-in partial columns (with_sumsq / with_first / with_moments) — kept
#: out of PARTIAL_COLS, which also names the columns the Iceberg MERGE
#: updates on the standard tier tables
OPT_PARTIAL_COLS = ("vsumsq", "first", "first_ts", "vsumcu", "vsumqu")

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier, for column names that come from
    callers (series keys, group columns) inside an expression string."""
    return "`" + name.replace("`", "``") + "`"


def partial_aggs(v, ts, with_sumsq: bool = False, with_first: bool = False,
                 with_moments: bool = False) -> list:
    """The ONE partial-state aggregate list every producer shares
    (rollup_tier, rollup_calendar, streaming_rollup): a new opt-in partial
    family is added here once and exists in all of them. ``v``/``ts`` are
    the value and event-time Columns."""
    aggs = [
        F.count(v).alias("cnt"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum(v).alias("vsum"),
        F.max_by(v, F.when(v.isNotNull(), ts)).alias("last"),
        F.max(F.when(v.isNotNull(), ts)).alias("last_ts"),
    ]
    if with_first:
        aggs.append(F.min_by(v, F.when(v.isNotNull(), ts)).alias("first"))
        aggs.append(F.min(F.when(v.isNotNull(), ts)).alias("first_ts"))
    if with_sumsq or with_moments:
        aggs.append(F.sum(v * v).alias("vsumsq"))
    if with_moments:
        d = v.cast("double")
        aggs.append(F.sum(d * d * d).alias("vsumcu"))
        aggs.append(F.sum(d * d * (d * d)).alias("vsumqu"))
    return aggs


def rollup_tier(
    points: DataFrame,
    tier: str = "1m",
    keys: tuple[str, ...] = ("doc_id", "source"),
    salt: int = 0,
    with_sumsq: bool = False,
    with_first: bool = False,
    with_moments: bool = False,
) -> DataFrame:
    """Aggregate the point view into partial states at ``tier`` granularity.

    ``with_sumsq=True`` adds a ``vsumsq`` (sum of squares) partial — the
    mergeable state behind per-bin variance/stddev (TimescaleDB
    ``stats_agg`` analogue). It is associative like every other partial, so
    the cascade and the salted two-phase merge carry it unchanged; for
    integer-valued points (token ids) it is EXACT in doubles at any merge
    order (< 2^53), so cascaded stddev equals direct stddev bit-for-bit.

    ``with_first=True`` adds the ``first``/``first_ts`` pair (``min_by``
    mirror of ``last``) — with min/max/last this completes the OHLC bar
    (open=first, close=last), the classic financial tier rollup.

    ``with_moments=True`` adds Σx³/Σx⁴ (``vsumcu``/``vsumqu``) and implies
    ``vsumsq`` — the mergeable states behind per-bin skewness/kurtosis
    (``finalize_tier``). Plain sums, so every merge path carries them
    unchanged; unlike Σx², Σx⁴ of large token ids exceeds 2^53, so cascaded
    moments match direct ones to float accumulation order (~1 ulp), not
    bit-for-bit — ``finalize_tier`` guards the near-constant bins where
    that matters.
    """
    step = TIER_SECONDS.get(tier) or freq_to_seconds(tier)
    v = F.col("value")
    binned = points.withColumn("bin_ts", bin_ts(F.col("ts"), step))
    partials = partial_aggs(v, F.col("ts"), with_sumsq, with_first,
                            with_moments)

    if salt > 1:
        # two-phase: partial-agg on a salted key, then merge the sub-partials
        salted = binned.withColumn(
            "_salt", F.pmod(F.xxhash64("seq"), F.lit(salt))
        )
        sub = salted.groupBy(*keys, "bin_ts", "_salt").agg(*partials)
        return _merge_partials(sub, [*keys, "bin_ts"])
    return binned.groupBy(*keys, "bin_ts").agg(*partials)


def ragged_bins(pdf, k: int, dtype=None):
    """Per-Arrow-batch ragged-offset prefix sums shared by every affine
    token→bin kernel (``rollup_docs_arrow``,
    ``histquantiles.rollup_hist_docs_arrow``) — ONE owner for the
    empty-doc mask and the doc/bin offset arithmetic, so an edge-case fix
    lands in both kernels at once.

    Returns ``None`` for an all-empty batch, else the tuple
    ``(keep, flat, lens, nbins, doc_off, bin_off, bin_local, total_bins)``:
    ``keep`` the non-empty-doc mask over the incoming rows, ``flat`` the
    concatenation of the kept token arrays (cast to ``dtype``), ``lens``
    kept doc lengths, ``nbins`` per-doc bin counts at ``k`` ticks per bin,
    ``doc_off``/``bin_off`` exclusive prefix sums, and ``bin_local`` each
    global bin's index within its own doc.
    """
    import numpy as np

    toks = [np.asarray(t, dtype=dtype) for t in pdf["tokens"]]
    lens = np.fromiter((t.size for t in toks), dtype=np.int64,
                       count=len(toks))
    keep = lens > 0
    if not keep.any():
        return None
    toks = [t for t, kp in zip(toks, keep) if kp]
    lens = lens[keep]
    flat = np.concatenate(toks)
    nbins = -(-lens // k)
    doc_off = np.concatenate([[0], np.cumsum(lens)[:-1]])
    bin_off = np.concatenate([[0], np.cumsum(nbins)[:-1]])
    total_bins = int(nbins.sum())
    bin_local = np.arange(total_bins) - np.repeat(bin_off, nbins)
    return keep, flat, lens, nbins, doc_off, bin_off, bin_local, total_bins


#: the series columns of a token docs table — the only keys the docs
#: kernels (``rollup_docs_arrow``, ``rollup_hist_docs_arrow``) and
#: ``docs_to_points`` carry
_DOC_KEYS = ("doc_id", "source")


def rollup_docs_arrow(
    docs: DataFrame,
    tier: str = "1m",
    tick_seconds: int = 60,
    epoch0_us: int = 1_704_067_200_000_000,
    with_sumsq: bool = False,
    with_first: bool = False,
    with_moments: bool = False,
) -> DataFrame:
    """Affine-ts tier partials via a batched numpy kernel (the fast path).

    For pre-tokenized docs the timestamp is affine in ``seq`` (ts = epoch0 +
    seq·tick), so a tier bin is exactly a FIXED-SIZE SLICE of the token
    array: bin ``b`` covers ``tokens[b·k : (b+1)·k]`` with ``k = step/tick``.
    The kernel runs ONE set of ``ufunc.reduceat`` calls per Arrow batch: all
    docs' tokens are concatenated, global bin boundaries are computed
    arithmetically, and min/max/sum reduce every bin of every doc in single
    C passes. The bin starts tile the flat array exactly (each doc's last
    bin ends where the next doc begins), which is precisely reduceat's
    segment semantics.

    Why not pure SQL: a higher-order-function variant (array slices plus
    ``aggregate`` lambdas) evaluates an interpreted lambda per token (no
    codegen for HOFs — measured slower than exploding 60× more rows through
    codegen), and the explode variant shuffles a row per token. This kernel
    touches each token once at numpy speed and emits only bin rows. Output
    rows are keyed by the docs' series columns ``doc_id, source`` and are
    bit-identical to ``rollup_tier(docs_to_points(docs))`` (sums reduce in
    seq order) — asserted in tests.
    """
    import pandas as pd

    step = TIER_SECONDS.get(tier) or freq_to_seconds(tier)
    if step % tick_seconds:
        raise ValueError(f"tier step {step}s not a multiple of tick {tick_seconds}s")
    k = step // tick_seconds
    import numpy as np

    schema = (
        "".join(f"{key} string, " for key in _DOC_KEYS)
        + "bin_ts timestamp, cnt long, "
        "vmin double, vmax double, vsum double, last double, last_ts timestamp"
    )
    if with_first:
        schema += ", first double, first_ts timestamp"
    if with_sumsq or with_moments:
        schema += ", vsumsq double"
    if with_moments:
        schema += ", vsumcu double, vsumqu double"

    def kernel(batches):
        for pdf in batches:
            rb = ragged_bins(pdf, k, dtype=np.float64)
            if rb is None:
                continue
            keep, flat, lens, nbins, doc_off, bin_off, bin_local, total_bins = rb
            starts = np.repeat(doc_off, nbins) + bin_local * k
            ends = np.minimum(starts + k, np.repeat(doc_off + lens, nbins))
            cnt = ends - starts
            vmin = np.minimum.reduceat(flat, starts)
            vmax = np.maximum.reduceat(flat, starts)
            vsum = np.add.reduceat(flat, starts)
            last = flat[ends - 1]
            bin_ts = pd.to_datetime(
                epoch0_us + bin_local * (step * 1_000_000), unit="us"
            )
            last_ts = pd.to_datetime(
                epoch0_us + (bin_local * k + cnt - 1) * (tick_seconds * 1_000_000),
                unit="us",
            )
            out = {
                **{key: np.repeat(pdf[key].to_numpy()[keep], nbins)
                   for key in _DOC_KEYS},
                "bin_ts": bin_ts,
                "cnt": cnt,
                "vmin": vmin,
                "vmax": vmax,
                "vsum": vsum,
                "last": last,
                "last_ts": last_ts,
            }
            if with_first:
                out["first"] = flat[starts]
                out["first_ts"] = pd.to_datetime(
                    epoch0_us + bin_local * k * (tick_seconds * 1_000_000),
                    unit="us",
                )
            if with_sumsq or with_moments:
                out["vsumsq"] = np.add.reduceat(flat * flat, starts)
            if with_moments:
                # same per-element association as the Catalyst producers:
                # x³ = (x·x)·x, x⁴ = (x·x)·(x·x) — reduceat accumulates
                # left-to-right like F.aggregate, so partials stay bitwise
                sq = flat * flat
                out["vsumcu"] = np.add.reduceat(sq * flat, starts)
                out["vsumqu"] = np.add.reduceat(sq * sq, starts)
            yield pd.DataFrame(out)

    return docs.mapInPandas(kernel, schema=schema)


def _merge_partials(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """Combine partial states — associative, so safe at any nesting level.

    Sumsq-aware: a ``vsumsq`` column, when present, merges as a plain sum —
    so the cascade, the salted two-phase path, the incremental pipeline, and
    the streaming rollup all propagate the variance state without changes.

    The aggregates, like ``finalize_tier``'s projection, are SQL expression
    strings: one Py4J call each, where an ``F.*`` tree makes one per node
    (the same analysed plan; a tier read's build is half the calls).
    """
    cols = partials.columns
    aggs = [
        "sum(cnt) AS cnt",
        "min(vmin) AS vmin",
        "max(vmax) AS vmax",
        "sum(vsum) AS vsum",
        "max_by(`last`, CASE WHEN cnt > 0 THEN last_ts END) AS `last`",
        "max(CASE WHEN cnt > 0 THEN last_ts END) AS last_ts",
    ]
    if "first" in cols:
        aggs.append(
            "min_by(`first`, CASE WHEN cnt > 0 THEN first_ts END) AS `first`")
        aggs.append("min(CASE WHEN cnt > 0 THEN first_ts END) AS first_ts")
    aggs += [f"sum({c}) AS {c}" for c in ("vsumsq", "vsumcu", "vsumqu")
             if c in cols]
    return partials.groupBy(*group_cols).agg(*map(F.expr, aggs))


def cascade_tier(
    finer: DataFrame,
    tier: str,
    keys: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Derive a coarser tier from a finer tier's partial states.

    Reads the (much smaller) finer tier instead of raw points — the
    incremental-maintenance property the north rule asks for. Correct because
    every partial is associative; mean in particular is re-derived from
    (vsum, cnt), never averaged across bins.
    """
    step = TIER_SECONDS.get(tier) or freq_to_seconds(tier)
    rebinned = finer.withColumn("bin_ts", F.expr(bin_ts_sql("bin_ts", step)))
    return _merge_partials(rebinned, [*keys, "bin_ts"])


def finalize_tier(partials: DataFrame, ddof: int = 1) -> DataFrame:
    """Partial states → user-facing count/min/max/mean/last columns.

    All-null bins (cnt=0) finalize to null aggregates, matching pandas
    ``resample`` NaN semantics for empty/all-NaN bins.

    When the partials carry ``vsumsq`` (``rollup_tier(with_sumsq=True)``),
    also emits ``var``/``std`` at ``ddof`` (default 1, pandas
    ``resample(...).std()`` semantics; ``ddof=0`` for population). Bins with
    ``cnt <= ddof`` finalize to NULL, matching pandas. The textbook
    ``(Σx² − (Σx)²/n) / (n − ddof)`` can go a hair negative in floating
    point on near-constant bins — clamped to 0, never NaN.

    ``first`` partials (``with_first=True``) finalize as ``open`` — with
    min/max/last the row is the bin's OHLC bar.

    Moment partials (``with_moments=True``) finalize as ``skew``/``kurt``
    in the bias-adjusted Fisher-Pearson form pandas/DuckDB report (kurt is
    EXCESS kurtosis). Defined for n ≥ 3 (skew) / n ≥ 4 (kurt); NULL
    otherwise, and NULL on degenerate bins where the central second moment
    has lost ~all significant bits to cancellation (m₂ ≤ 1e-9·Σx²/n —
    covers exactly-constant bins and the near-constant ones where a
    one-pass moment formula, like DuckDB's own, is pure noise).
    """
    cols = [
        *(sql_ident(c) for c in partials.columns
          if c not in PARTIAL_COLS and c not in OPT_PARTIAL_COLS),
        "cnt AS `count`",
        "CASE WHEN cnt > 0 THEN vmin END AS `min`",
        "CASE WHEN cnt > 0 THEN vmax END AS `max`",
        "CASE WHEN cnt > 0 THEN vsum / cnt END AS mean",
        "CASE WHEN cnt > 0 THEN `last` END AS `last`",
    ]
    if "first" in partials.columns:
        cols.append("CASE WHEN cnt > 0 THEN `first` END AS `open`")
    if "vsumsq" in partials.columns:
        var = (f"CASE WHEN cnt > {ddof} THEN greatest("
               f"(vsumsq - vsum * vsum / cnt) / (cnt - {ddof}), 0.0D) END")
        cols.append(f"{var} AS var")
        cols.append(f"sqrt({var}) AS std")
    if "vsumcu" in partials.columns:
        n = "CAST(cnt AS DOUBLE)"
        mean = f"(vsum / {n})"
        m2 = f"(vsumsq / {n} - {mean} * {mean})"
        m3 = (f"(vsumcu / {n} - 3.0D * {mean} * (vsumsq / {n})"
              f" + 2.0D * {mean} * {mean} * {mean})")
        m4 = (f"(vsumqu / {n} - 4.0D * {mean} * (vsumcu / {n})"
              f" + 6.0D * {mean} * {mean} * (vsumsq / {n})"
              f" - 3.0D * {mean} * {mean} * ({mean} * {mean}))")
        ok = f"{m2} > 1.0E-9D * (vsumsq / {n})"
        skew = (f"(sqrt({n} * ({n} - 1)) / ({n} - 2)) * {m3}"
                f" / power({m2}, 1.5D)")
        kurt = (f"(({n} - 1) / (({n} - 2) * ({n} - 3)))"
                f" * (({n} + 1) * ({m4} / ({m2} * {m2}) - 3.0D) + 6.0D)")
        cols.append(f"CASE WHEN {ok} AND cnt >= 3 THEN {skew} END AS skew")
        cols.append(f"CASE WHEN {ok} AND cnt >= 4 THEN {kurt} END AS kurt")
    return partials.selectExpr(*cols)


# ---------------------------------------------------------------------------
# calendar tiers: month/quarter/year/week bins are NOT fixed-width, so the
# epoch-floor bin_ts arithmetic cannot express them — but they NEST exactly
# over the 1d tier (every day belongs to one week/month/quarter/year), so a
# calendar rollup is date_trunc + the same associative partial merge, and
# the incremental-maintenance property extends unchanged: the month tier
# cascades from the ~30× smaller 1d tier, never from raw points.
# ---------------------------------------------------------------------------

CALENDAR_UNITS = ("week", "month", "quarter", "year")


def rollup_calendar(
    points: DataFrame,
    unit: str = "month",
    keys: tuple[str, ...] = ("doc_id", "source"),
    with_sumsq: bool = False,
    with_first: bool = False,
    with_moments: bool = False,
) -> DataFrame:
    """Partial states at a CALENDAR granularity, direct from points.

    ``bin_ts`` is ``date_trunc(unit, ts)`` (weeks start Monday — the Spark
    and DuckDB convention both). Same partial schema and flags as
    ``rollup_tier``; prefer ``cascade_calendar`` over a stored 1d tier when
    one exists.
    """
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unit must be one of {CALENDAR_UNITS}, got {unit!r}")
    binned = points.withColumn("bin_ts", F.date_trunc(unit, F.col("ts")))
    partials = partial_aggs(F.col("value"), F.col("ts"), with_sumsq,
                            with_first, with_moments)
    return binned.groupBy(*keys, "bin_ts").agg(*partials)


#: calendar units a given calendar unit may cascade FROM (week nests in
#: nothing; month in quarter/year; quarter in year)
_CAL_NESTS = {"week": set(), "month": set(), "quarter": {"month"},
              "year": {"month", "quarter"}}


def cascade_calendar(
    finer: DataFrame,
    unit: str = "month",
    keys: tuple[str, ...] = ("doc_id", "source"),
    finer_unit: str | None = None,
) -> DataFrame:
    """Calendar tier from a FINER tier's partials (1d → month, month →
    quarter/year, week from 1d...). Correct only when the finer bins NEST
    inside the calendar unit: every fixed tier that divides a day nests in
    all four units; month nests in quarter/year; week nests in NEITHER
    month nor year (ISO weeks straddle month boundaries). Pass
    ``finer_unit`` (a tier string like '1d' or a calendar unit) to have
    the nesting rule ENFORCED — an illegal pair (e.g. month→week) raises
    instead of silently collapsing every month into the week containing
    its 1st. Without ``finer_unit`` the caller owns the invariant.
    Associativity does the rest; identical output to ``rollup_calendar``
    on the raw points (tested bitwise on tokens).
    """
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unit must be one of {CALENDAR_UNITS}, got {unit!r}")
    if finer_unit is not None:
        if finer_unit in CALENDAR_UNITS:
            if finer_unit not in _CAL_NESTS[unit]:
                raise ValueError(
                    f"{finer_unit!r} bins do not nest inside {unit!r} bins "
                    f"— cascade {unit!r} from a fixed tier (<= 1d) instead")
        else:
            step = TIER_SECONDS.get(finer_unit) or freq_to_seconds(finer_unit)
            if step > 86_400 or 86_400 % step:
                raise ValueError(
                    f"fixed tier {finer_unit!r} ({step}s) does not divide a "
                    f"day — its bins straddle {unit!r} boundaries")
    rebinned = finer.withColumn("bin_ts", F.date_trunc(unit, F.col("bin_ts")))
    return _merge_partials(rebinned, [*keys, "bin_ts"])
