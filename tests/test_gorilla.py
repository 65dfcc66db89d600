"""Gorilla / delta-of-delta codec round-trip fixtures (FIXTURES.md §2.3):
decode(encode(x)) == x exactly, including NaN slots."""

import numpy as np

from yatsm_spark.kernel.gorilla import (
    decode_floats,
    decode_timestamps,
    encode_floats,
    encode_timestamps,
)


def test_ts_roundtrip_regular():
    ts = np.arange(0, 86400, 60, dtype=np.int64) + 1_700_000_000
    enc = encode_timestamps(ts)
    np.testing.assert_array_equal(decode_timestamps(enc), ts)
    # regular 1m cadence: dod == 0 everywhere -> ~1 bit/point after header
    assert len(enc) < 4 + 8 + 8 + len(ts) // 8 + 2


def test_ts_roundtrip_irregular():
    rng = np.random.RandomState(42)
    deltas = rng.randint(1, 10_000, 500).astype(np.int64)
    deltas[::50] = rng.randint(10**6, 10**12, 10)  # huge jumps -> escape bucket
    ts = 1_700_000_000 + np.cumsum(deltas)
    np.testing.assert_array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_edges():
    for ts in ([], [5], [5, 5], [0, -10, 100], [2**62, -(2**62)]):
        a = np.array(ts, dtype=np.int64)
        np.testing.assert_array_equal(decode_timestamps(encode_timestamps(a)), a)


def test_float_roundtrip_with_nans():
    rng = np.random.RandomState(7)
    v = rng.normal(100, 5, 1000)
    v[::7] = np.nan
    v[::13] = 0.0
    v[1::97] = np.inf
    out = decode_floats(encode_floats(v))
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


def test_float_roundtrip_constant_is_tiny():
    v = np.full(10_000, 42.5)
    enc = encode_floats(v)
    np.testing.assert_array_equal(decode_floats(enc), v)
    assert len(enc) < 4 + 8 + 10_000 // 8 + 2  # 1 bit per repeated value


def test_float_edges():
    for v in ([], [1.5], [1.5, 1.5], [np.nan, np.nan], [-0.0, 0.0]):
        a = np.array(v, dtype=np.float64)
        out = decode_floats(encode_floats(a))
        np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_compression_ratio_on_rollup_like_data():
    # Turn counts per minute: small integers stored as doubles -> high ratio.
    rng = np.random.RandomState(1)
    counts = rng.poisson(3, 5000).astype(np.float64)
    ts = np.arange(5000, dtype=np.int64) * 60
    raw = 16 * len(ts)
    comp = len(encode_timestamps(ts)) + len(encode_floats(counts))
    assert comp < raw / 3


# --- vectorized block codecs (kernel/gorilla_vec.py) -------------------------

from yatsm_spark.kernel.gorilla_vec import (
    decode_timestamps_block,
    encode_ints_block,
    encode_timestamps_block,
)


def test_block_ts_roundtrip_cases():
    rng = np.random.RandomState(3)
    irregular = 1_700_000_000 + np.cumsum(rng.randint(1, 10_000, 500).astype(np.int64))
    jumps = irregular.copy()
    jumps[::50] += rng.randint(10**6, 10**12, 10)
    for case in (np.arange(0, 86400, 60, dtype=np.int64), irregular, np.sort(jumps),
                 np.array([], dtype=np.int64), np.array([5], dtype=np.int64),
                 np.array([5, 5], dtype=np.int64), np.array([0, -10, 100], dtype=np.int64),
                 np.array([2**62, -(2**62), 17], dtype=np.int64)):
        out = decode_timestamps_block(encode_timestamps_block(case))
        np.testing.assert_array_equal(out, case)


def test_block_codec_compresses_rollup_series():
    rng = np.random.RandomState(1)
    counts = rng.poisson(3, 5000)
    ts = np.arange(5000, dtype=np.int64) * 60
    assert len(encode_timestamps_block(ts)) < 8 * 5000 / 20
    assert len(encode_ints_block(counts)) < 8 * 5000 / 3
