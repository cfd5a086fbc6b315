"""Variance/stddev tier rollups (``rollup_tier(with_sumsq=True)``): the
mergeable Σx² partial behind per-bin var/std (TimescaleDB ``stats_agg``
analogue). Pinned here: pandas-resample parity (ddof semantics incl. NaN
bins), DuckDB oracle parity, cascade≡direct, salted≡plain, the two
producer paths bit-identical, and absence when not requested."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import (
    cascade_tier,
    finalize_tier,
    rollup_docs_arrow,
    rollup_tier,
)

KEY = ["doc_id", "source", "bin_ts"]


def test_std_matches_pandas_resample(spark, points_sdf, points_pdf):
    got = (
        finalize_tier(rollup_tier(points_sdf, "1h", with_sumsq=True))
        .orderBy(*KEY)
        .toPandas()
    )
    exp = (
        points_pdf.set_index("ts")
        .groupby(["doc_id", "source"])["value"]
        .resample("1h")
        .agg(["std", "var", "mean"])
        .dropna(how="all")  # empty grid bins: the sparse rollup has no row
        .reset_index()
        .rename(columns={"ts": "bin_ts"})
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    for col in ("std", "var", "mean"):
        np.testing.assert_allclose(
            got[col].to_numpy(float), exp[col].to_numpy(float),
            rtol=1e-9, atol=1e-12, err_msg=col,
        )


def test_std_matches_duckdb(spark, points_sdf, points_pdf):
    got = (
        finalize_tier(rollup_tier(points_sdf, "1d", with_sumsq=True))
        .orderBy(*KEY)
        .toPandas()
    )
    con = duckdb.connect()
    con.register("pts", points_pdf)
    exp = con.execute("""
        SELECT doc_id, source, date_trunc('day', ts) AS bin_ts,
               STDDEV_SAMP(value) AS std, VAR_SAMP(value) AS var
        FROM pts GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """).df()
    assert len(got) == len(exp) > 0
    for col in ("std", "var"):
        np.testing.assert_allclose(
            got[col].to_numpy(float), exp[col].to_numpy(float),
            rtol=1e-9, atol=1e-12, err_msg=col,
        )


def test_cascade_std_equals_direct_bitwise_on_tokens(spark, request):
    """Integer token values: Σx and Σx² are exact in doubles at any merge
    order, so the 1m→1h→1d cascaded std equals the direct-from-points std
    BIT-FOR-BIT — the lossless-cascade property the tier store relies on."""
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=120, seed=7, min_tok=0, max_tok=500,
                      hot_fraction=0.05, hot_factor=6).cache()
    request.addfinalizer(docs.unpersist)
    pts = docs_to_points(docs, tick_seconds=1)
    m1 = rollup_tier(pts, "1m", with_sumsq=True)
    for tier in ("1h", "1d"):
        direct = (
            finalize_tier(rollup_tier(pts, tier, with_sumsq=True))
            .orderBy(*KEY).toPandas().reset_index(drop=True)
        )
        casc = finalize_tier(cascade_tier(m1, tier))
        if tier == "1d":
            casc = finalize_tier(cascade_tier(cascade_tier(m1, "1h"), "1d"))
        casc = casc.orderBy(*KEY).toPandas().reset_index(drop=True)
        pd.testing.assert_frame_equal(direct, casc[direct.columns])


def test_salted_sumsq_equals_plain(spark, points_sdf):
    plain = (
        finalize_tier(rollup_tier(points_sdf, "1h", with_sumsq=True))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    salted = (
        finalize_tier(rollup_tier(points_sdf, "1h", salt=8, with_sumsq=True))
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    assert len(plain) == len(salted)
    np.testing.assert_allclose(
        plain["std"].to_numpy(float), salted["std"].to_numpy(float),
        rtol=1e-9, atol=1e-12,
    )


def test_producer_paths_bit_identical_with_sumsq(spark, request):
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=80, seed=13, min_tok=0, max_tok=300,
                      hot_fraction=0.05, hot_factor=5).cache()
    request.addfinalizer(docs.unpersist)
    a = (rollup_tier(docs_to_points(docs, tick_seconds=1), "1m",
                     with_sumsq=True)
         .orderBy(*KEY).toPandas().reset_index(drop=True))
    c = (rollup_docs_arrow(docs, "1m", tick_seconds=1, with_sumsq=True)
         .orderBy(*KEY).toPandas().reset_index(drop=True))
    pd.testing.assert_frame_equal(a, c[a.columns])


def test_ddof_semantics_and_clamp(spark):
    from datetime import datetime

    rows = [
        # singleton bin: ddof=1 -> NULL, ddof=0 -> 0.0
        ("a", "s", datetime(2024, 1, 1, 0, 0, 30), 5.0),
        # constant bin: exact 0 either way (clamp guards FP negatives)
        ("b", "s", datetime(2024, 1, 1, 0, 0, 10), 1e8 + 0.1),
        ("b", "s", datetime(2024, 1, 1, 0, 0, 20), 1e8 + 0.1),
        # all-null bin survives as cnt=0 with NULL std
        ("c", "s", datetime(2024, 1, 1, 0, 0, 40), None),
    ]
    pts = spark.createDataFrame(
        rows, "doc_id string, source string, ts timestamp, value double"
    )
    for ddof, single in ((1, None), (0, 0.0)):
        out = {
            (r["doc_id"]): r
            for _, r in finalize_tier(
                rollup_tier(pts, "1m", with_sumsq=True), ddof=ddof
            ).toPandas().iterrows()
        }
        a, b, c = out["a"], out["b"], out["c"]
        assert (a["std"] is None or pd.isna(a["std"])) if single is None \
            else a["std"] == single
        assert b["std"] == 0.0  # clamped, never NaN from sqrt(negative)
        assert pd.isna(c["std"]) and c["count"] == 0


def test_no_sumsq_requested_means_no_var_columns(spark, points_sdf):
    out = finalize_tier(rollup_tier(points_sdf, "1h"))
    assert "std" not in out.columns and "var" not in out.columns
    assert "vsumsq" not in rollup_tier(points_sdf, "1h").columns


def test_merge_partials_propagates_sumsq_through_streaming_merge(spark,
                                                                request):
    """The sumsq-aware _merge_partials is what the streaming rollup and the
    incremental pipeline call — splitting the input and merging must equal
    the single-pass partials exactly (integer values: bitwise)."""
    from gensor_spark.operators.rollup import _merge_partials
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=60, seed=3, min_tok=1, max_tok=200).cache()
    request.addfinalizer(docs.unpersist)
    pts = docs_to_points(docs, tick_seconds=1).cache()
    request.addfinalizer(pts.unpersist)
    whole = (rollup_tier(pts, "1h", with_sumsq=True)
             .orderBy(*KEY).toPandas().reset_index(drop=True))
    half_a = rollup_tier(pts.filter("seq % 2 = 0"), "1h", with_sumsq=True)
    half_b = rollup_tier(pts.filter("seq % 2 = 1"), "1h", with_sumsq=True)
    merged = (
        _merge_partials(half_a.unionByName(half_b), KEY)
        .orderBy(*KEY).toPandas().reset_index(drop=True)
    )
    for col in ("cnt", "vmin", "vmax", "vsum", "vsumsq"):
        np.testing.assert_array_equal(
            whole[col].to_numpy(), merged[col].to_numpy(), err_msg=col
        )
