"""Property-based round-trip tests for both codec families (hypothesis)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from yatsm_spark.kernel import gorilla as gs
from yatsm_spark.kernel import gorilla_vec as gv

floats = st.lists(
    st.one_of(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.integers(-1000, 1000).map(float),
    ),
    min_size=0, max_size=300,
)

timestamps = st.lists(st.integers(-(2**62), 2**62), min_size=0, max_size=300)


@settings(max_examples=60, deadline=None)
@given(floats)
def test_scalar_float_roundtrip(xs):
    a = np.array(xs, dtype=np.float64)
    out = gs.decode_floats(gs.encode_floats(a))
    np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


@settings(max_examples=60, deadline=None)
@given(timestamps)
def test_scalar_ts_roundtrip(xs):
    a = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(gs.decode_timestamps(gs.encode_timestamps(a)), a)


@settings(max_examples=60, deadline=None)
@given(timestamps)
def test_block_ts_roundtrip(xs):
    a = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(
        gv.decode_timestamps_block(gv.encode_timestamps_block(a)), a)


full_ints = st.lists(st.integers(-(2**63), 2**63 - 1), min_size=0, max_size=300)


@settings(max_examples=60, deadline=None)
@given(full_ints, st.randoms(use_true_random=False))
def test_int_block_roundtrip_full_range_with_nulls(xs, rng):
    """Nullable-int64 block codec: exact over the FULL int64 range (the
    float path loses integers above 2^53 — round-1 ADVICE) with an
    arbitrary null mask."""
    a = np.array(xs, dtype=np.int64)
    mask = np.array([rng.random() < 0.3 for _ in xs], dtype=bool)
    vals, null = gv.decode_ints_block(gv.encode_ints_block(a, mask))
    np.testing.assert_array_equal(null, mask)
    np.testing.assert_array_equal(vals[~mask], a[~mask])
    assert (vals[mask] == 0).all()


def test_int_block_exact_above_2p53():
    a = np.array([2**53 + 1, -(2**62) - 7, 2**63 - 1, -(2**63), 0], dtype=np.int64)
    vals, null = gv.decode_ints_block(gv.encode_ints_block(a))
    np.testing.assert_array_equal(vals, a)
    assert not null.any()
    # the float path demonstrably cannot represent these
    assert int(np.float64(2**53 + 1)) != 2**53 + 1
