"""DDSketch float-quantile tiers: quantizer guarantees, cascade identity,
split-merge associativity, the 2·alpha quantile bound vs DuckDB exact, and
the TierPipeline incremental path."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.ddsketch import (
    cascade_dd,
    dd_gamma,
    dd_quantize,
    merge_dd,
    quantiles_from_dd,
    rollup_dd,
    rollup_dd_quantiles,
)
from gensor_spark.operators.points import events_to_points

SF = "/root/testdata/sf0.001"
ALPHA = 0.01


@pytest.fixture(scope="module")
def pts(spark):
    df = events_to_points(
        spark.read.parquet(f"{SF}/events.parquet")).cache()
    yield df
    df.unpersist()


def _rows(df):
    cols = [c for c in df.columns]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- quantizer

def test_quantizer_relative_error_and_structure(spark):
    """Every representative is within alpha (relative) of its value; sign
    symmetric; exact on zero; NULL passthrough; monotone."""
    vals = ([0.0, 1e-9, 0.03, 0.5, 1.0, 1.5, 2.0, 327.53, 1e6, 1e12]
            + [-v for v in (1e-9, 0.5, 327.53)] + [None])
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select("v", dd_quantize(F.col("v"), ALPHA).alias("q")).collect()
    got = {r.v: r.q for r in out}
    assert got[0.0] == 0.0
    assert got[None] is None
    for v, q in got.items():
        if v is None or v == 0.0:
            continue
        assert abs(q - v) <= ALPHA * abs(v) + 1e-300, (v, q)
        assert (q > 0) == (v > 0)
    # sign symmetry exact
    for v in (1e-9, 0.5, 327.53):
        assert got[-v] == -got[v]
    # monotone on the positive axis
    pos = [(v, got[v]) for v in vals if v is not None and v > 0]
    pos.sort()
    reps = [q for _, q in pos]
    assert reps == sorted(reps)


def test_quantizer_bucket_count_bound(spark):
    """The whole point of the sketch: a high-cardinality float column
    collapses to <= ceil(log_gamma(vmax/vmin)) + 1 buckets."""
    n = 20_000
    df = spark.range(n).select(
        (F.rand(seed=7) * 1000 + 0.001).alias("v"))
    nb = df.select(dd_quantize(F.col("v"), ALPHA).alias("q")) \
        .agg(F.countDistinct("q")).collect()[0][0]
    bound = math.ceil(math.log(1000.001 / 0.001) / math.log(dd_gamma(ALPHA))) + 1
    assert nb <= bound
    # and it genuinely compressed (raw cardinality is ~n)
    assert nb < n / 10


# ------------------------------------------------------- cascade + merging

def test_cascade_equals_direct(spark, pts):
    """Quantization happens once at the leaves, so 1m->1h->1d cascades are
    bit-identical to direct aggregation at each tier."""
    m1 = rollup_dd(pts, "1m", alpha=ALPHA)
    h_casc = cascade_dd(m1, "1h")
    for tier, casc in (("1h", h_casc), ("1d", cascade_dd(h_casc, "1d"))):
        direct = rollup_dd(pts, tier, alpha=ALPHA)
        a = _rows(quantiles_from_dd(casc))
        b = _rows(quantiles_from_dd(direct))
        assert a == b, tier


def test_split_merge_associativity(spark, pts):
    """Sketches from arbitrary disjoint splits of the points merge to the
    sketch of the whole — the mergeability contract."""
    whole = rollup_dd(pts, "1h", alpha=ALPHA)
    part1 = rollup_dd(pts.filter(F.col("seq") % 3 == 0), "1h", alpha=ALPHA)
    part2 = rollup_dd(pts.filter(F.col("seq") % 3 == 1), "1h", alpha=ALPHA)
    part3 = rollup_dd(pts.filter(F.col("seq") % 3 == 2), "1h", alpha=ALPHA)
    merged = merge_dd(part1.unionByName(part2).unionByName(part3),
                      ["doc_id", "source", "bin_ts"])
    assert _rows(quantiles_from_dd(merged)) == _rows(
        quantiles_from_dd(whole))


# -------------------------------------------------------- accuracy vs exact

def test_quantiles_within_2alpha_of_duckdb_exact(spark, pts):
    """Every cascaded p50/p95/p99 lands within 2*alpha (relative) of DuckDB
    quantile_cont on the raw values (sign-uniform positive domain)."""
    got = {
        (r.doc_id, r.source, r.bin_ts): (r.p50, r.p95, r.p99)
        for r in rollup_dd_quantiles(pts, "1h", alpha=ALPHA).collect()
    }
    con = duckdb.connect()
    want = con.execute(f"""
        SELECT user_id::VARCHAR AS doc_id, event_type AS source,
               to_timestamp(floor(epoch(ts) / 3600) * 3600) AS bin_ts,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               quantile_cont(value, 0.99) AS p99
        FROM read_parquet('{SF}/events.parquet')
        WHERE value IS NOT NULL GROUP BY 1, 2, 3
    """).fetchall()
    assert len(want) == len(got) and len(got) > 50
    for doc_id, source, bin_ts, *exact in want:
        est = got[(doc_id, source, bin_ts.replace(tzinfo=None))]
        for e, s in zip(exact, est):
            assert abs(s - e) <= 2 * ALPHA * abs(e) + 1e-12, (
                doc_id, source, bin_ts, e, s)


# ---------------------------------------------------- incremental pipeline

def _dd_pipeline_matches_scratch(spark, tmp_path, tick_seconds):
    from gensor_spark.plans.incremental import TierPipeline
    from gensor_spark.operators.points import docs_to_points
    from gensor_spark.sources.synth import synth_docs

    docs = synth_docs(spark, n_docs=300, seed=11, num_partitions=4)
    # float-ize the token-derived values so the run exercises the float path
    pipe = TierPipeline(spark, str(tmp_path / "store"), n_batches=3,
                        hist_tiers=True, hist_quantize_alpha=ALPHA,
                        tick_seconds=tick_seconds)
    pipe.run(docs)
    stored = _rows(pipe.read_hist_quantiles("1h"))
    pts = docs_to_points(docs, tick_seconds=tick_seconds)
    scratch = _rows(rollup_dd_quantiles(pts, "1h", alpha=ALPHA))
    assert stored == scratch


def test_tierpipeline_dd_mode_matches_scratch(spark, tmp_path):
    """TierPipeline(hist_tiers=True, hist_quantize_alpha=...) maintains the
    DDSketch tiers incrementally: quantiles read from the store equal the
    from-scratch rollup over all batches' points."""
    _dd_pipeline_matches_scratch(spark, tmp_path, tick_seconds=60)


def test_tierpipeline_dd_mode_uses_pipeline_tick(spark, tmp_path):
    """DDSketch mode builds its 1m histograms on the point path, which must
    explode the docs at the pipeline's tick_seconds, not the 60 s default."""
    _dd_pipeline_matches_scratch(spark, tmp_path, tick_seconds=1)


def test_alpha_requires_hist_tiers(spark, tmp_path):
    from gensor_spark.plans.incremental import TierPipeline

    with pytest.raises(ValueError, match="hist_quantize_alpha"):
        TierPipeline(spark, str(tmp_path / "s2"), hist_quantize_alpha=0.01)
