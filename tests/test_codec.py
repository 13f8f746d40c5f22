"""Property-based round-trip tests for the Gorilla / delta-of-delta codec —
the per-row token/value equality invariant (BASELINE.md) at the byte level."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsfresh_spark.functions.codec import (
    decode_dod,
    decode_gorilla,
    decode_series,
    encode_dod,
    encode_gorilla,
    encode_series,
)


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
@settings(max_examples=200, deadline=None)
def test_dod_roundtrip(ts):
    ts = np.array(ts, dtype=np.int64)
    assert np.array_equal(decode_dod(encode_dod(ts)), ts)


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200
    )
)
@settings(max_examples=200, deadline=None)
def test_gorilla_roundtrip_bitexact(values):
    values = np.array(values, dtype=np.float64)
    decoded = decode_gorilla(encode_gorilla(values))
    # bit-exact: compare raw uint64 patterns (NaN payloads included)
    assert np.array_equal(decoded.view(np.uint64), values.view(np.uint64))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        max_size=100,
    )
)
@settings(max_examples=100, deadline=None)
def test_series_roundtrip(pairs):
    ts = np.array([p[0] for p in pairs], dtype=np.int64)
    vs = np.array([p[1] for p in pairs], dtype=np.float64)
    dts, dvs = decode_series(encode_series(ts, vs))
    assert np.array_equal(dts, ts)
    assert np.array_equal(dvs.view(np.uint64), vs.view(np.uint64))


def test_compression_ratio_on_regular_series():
    # the Gorilla sweet spot: regular timestamps + slowly-varying values
    ts = np.arange(0, 3600, 60, dtype=np.int64)  # 60 points, regular minute grid
    vs = np.round(100 + np.cumsum(np.zeros(60)), 2)  # constant
    payload = encode_series(ts, vs)
    raw = 16 * len(ts)
    assert len(payload) < raw / 6  # >6x on the easy case
    # slowly varying still compresses
    vs2 = 100.0 + np.arange(60) * 0.5
    payload2 = encode_series(ts, vs2)
    assert len(payload2) < raw


def test_integer_valued_tokens_roundtrip():
    rng = np.random.RandomState(42)
    tokens = rng.randint(0, 50257, size=2048).astype(np.float64)
    ts = np.arange(2048, dtype=np.int64)
    dts, dvs = decode_series(encode_series(ts, tokens))
    assert np.array_equal(dvs, tokens)
    assert np.array_equal(dts, ts)
