"""Codec round-trip: decode(encode(x)) == x, the token-array-equality gate."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gensor_spark.codecs.gorilla import (
    EPOCH0_US,
    TICK_US,
    decode_docs,
    decode_series,
    encode_docs,
    encode_series,
)

# FIXTURES.md §5: uniform, constant, monotone, alternating-sign, extremes,
# lengths {0, 1, 2, 63, 64, 65, 512}
LENGTHS = [0, 1, 2, 63, 64, 65, 512]


def _cases():
    rng = np.random.default_rng(1)
    for n in LENGTHS:
        yield rng.integers(-(2**31), 2**31 - 1, size=n, dtype=np.int64)
        yield np.full(n, 7, dtype=np.int64)
        yield np.arange(n, dtype=np.int64)
        yield np.resize(np.array([2**31 - 1, -(2**31)], dtype=np.int64), n)
        yield (-1) ** np.arange(n) * np.arange(n)


@pytest.mark.parametrize("case", list(enumerate(_cases())), ids=lambda c: f"case{c[0]}")
def test_roundtrip_fixture_shapes(case):
    _, tokens = case
    ts = EPOCH0_US + np.arange(tokens.size, dtype=np.int64) * TICK_US
    blob = encode_series(ts, tokens.astype(np.float64))
    ts2, vals2 = decode_series(blob)
    np.testing.assert_array_equal(ts2, ts)
    np.testing.assert_array_equal(vals2, tokens.astype(np.float64))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=300),
    st.lists(
        st.floats(allow_nan=False, width=64), max_size=100
    ),
)
def test_roundtrip_property(tokens, floats):
    toks = np.array(tokens, dtype=np.int64)
    ts = EPOCH0_US + np.arange(toks.size, dtype=np.int64) * TICK_US
    ts2, vals2 = decode_series(encode_series(ts, toks.astype(np.float64)))
    np.testing.assert_array_equal(ts2, ts)
    np.testing.assert_array_equal(vals2, toks.astype(np.float64))

    # arbitrary float64 values over irregular timestamps
    fv = np.array(floats, dtype=np.float64)
    rng = np.random.default_rng(0)
    its = np.cumsum(rng.integers(1, 10**7, size=fv.size))
    ts3, vals3 = decode_series(encode_series(its, fv))
    np.testing.assert_array_equal(ts3, its)
    np.testing.assert_array_equal(vals3.view(np.uint64), fv.view(np.uint64))


def test_compression_ratio_regular_series():
    """Regular tick + small-range tokens must beat raw storage comfortably."""
    rng = np.random.default_rng(2)
    tokens = rng.integers(0, 50_000, size=4096, dtype=np.int64)
    ts = EPOCH0_US + np.arange(4096, dtype=np.int64) * TICK_US
    blob = encode_series(ts, tokens.astype(np.float64))
    raw = 4096 * 16  # int64 ts + float64 value
    assert len(blob) < raw * 0.45, f"ratio {len(blob)/raw:.2f}"
    # regular timestamps: dod==0 after slot 2 → ~3 bits/point for the ts side


def test_spark_encode_decode_docs(spark, docs_small):
    enc = encode_docs(docs_small)
    dec = decode_docs(enc)
    from pyspark.sql import functions as F

    j = docs_small.alias("a").join(dec.alias("b"), ["doc_id", "source"], "full")
    bad = j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
    )
    assert bad.count() == 0
    # blob is genuinely smaller than the raw token payload
    sizes = enc.select(
        F.sum(F.length("blob")).alias("blob"),
    ).collect()[0]
    n_tok = docs_small.agg(F.sum("n_tok")).collect()[0][0]
    assert sizes["blob"] < n_tok * 16 * 0.5


def test_docs_blobs_decode_with_the_series_api(spark, docs_small):
    """``encode_docs`` writes the same layout ``decode_series`` reads."""
    rows = encode_docs(docs_small).select("doc_id", "source", "blob").collect()
    want = {(r.doc_id, r.source): r.tokens for r in
            docs_small.select("doc_id", "source", "tokens").collect()}
    assert rows and len(rows) == len(want)
    for r in rows:
        ts, vals = decode_series(bytes(r.blob))
        toks = want[(r.doc_id, r.source)]
        np.testing.assert_array_equal(vals, np.asarray(toks, dtype=np.float64))
        np.testing.assert_array_equal(
            ts, EPOCH0_US + np.arange(len(toks), dtype=np.int64) * TICK_US)


# ------------------------------------------------- ticks and special values

@given(
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
             min_size=0, max_size=300),
    st.integers(min_value=1, max_value=10**7),
)
@settings(max_examples=60, deadline=None)
def test_fast_codec_roundtrip_property(tokens, tick_us):
    vals = np.asarray(tokens, dtype=np.float64)
    ts = np.arange(len(tokens), dtype=np.int64) * tick_us
    dts, dv = decode_series(encode_series(ts, vals))
    assert np.array_equal(dts, ts)
    assert np.array_equal(dv, vals)


def test_fast_codec_irregular_and_specials():
    rng = np.random.default_rng(9)
    ts = np.cumsum(rng.integers(1, 10**6, 4000)).astype(np.int64)
    vals = rng.normal(size=4000)
    vals[::97] = 0.0
    vals[1::101] = np.inf
    vals[2::103] = 5e-324
    dts, dv = decode_series(encode_series(ts, vals))
    assert np.array_equal(dts, ts)
    assert np.array_equal(dv.view(np.uint64), vals.view(np.uint64))  # bit-exact
