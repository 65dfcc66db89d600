"""Chunk format pins: the persisted chunk bytes of a fixed rollup must not
move (resume fingerprints fold CHUNK_FORMAT_VERSION, not the bytes), and
streams in any format the engine does not write must fail loudly."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from yatsm_spark.kernel import gorilla as g_scalar
from yatsm_spark.kernel import gorilla_vec as g_vec
from yatsm_spark.operators.codec import (
    CHUNK_FORMAT_VERSION,
    ROLLUP_SCHEMA,
    _SERIES,
    _decode_chunk_columns,
    compact_chunks,
    encode_chunks,
)
from yatsm_spark.operators.rollup import MEASURES

#: sha256 of the sorted chunk rows of _fixed_rollup(), recorded with the
#: format-3 encoder. A change here is a chunk format change: bump
#: CHUNK_FORMAT_VERSION and re-record, never re-record alone.
PINNED = {
    ("plain", 64):
        "f0f3f697e792036b2a69fd39059a2fd3ee6c67854313282ff1d4610091eb9119",
    ("plain", 4096):
        "5bd40cfdb61a99f5a946638be60ee0f30f6add037b60712df08b79cb8750264e",
    ("densify", 64):
        "01c5b80075fc057169217356dd2123e8c02e446ff9fd0ab7e5cf6290c380eaba",
    ("densify", 4096):
        "ef67f243aa87758ce89d998b49a20c17d7d3b8e1eda8c4413f9580c87493c9e3",
    ("compact", 4096):
        "5bd40cfdb61a99f5a946638be60ee0f30f6add037b60712df08b79cb8750264e",
}


def _fixed_rollup() -> pd.DataFrame:
    """Three sparse 1m convs: a 5,200-slot one with gaps (two 4096-point
    chunks), a 300-slot one whose token_len_sumsq lies above 2^53, and a
    single point. About 10% of the stat slots are null."""
    rng = np.random.RandomState(11)
    base = 1_735_689_600  # 2025-01-01T00:00:00Z
    frames = []
    for conv, n_slots, keep in (("conv-a", 5200, 0.9), ("conv-b", 300, 0.6),
                                ("conv-c", 1, 1.0)):
        slots = np.flatnonzero(rng.rand(n_slots) < keep)
        n = len(slots)
        d = {"conv_id": conv,
             "window_start": pd.to_datetime(base + 60 * slots, unit="s")}
        for m in MEASURES:
            if m.endswith("_count"):
                d[m] = pd.array(rng.poisson(3, n), dtype="Int64")
            else:
                v = pd.array(rng.randint(0, 5000, n), dtype="Int64")
                v[rng.rand(n) < 0.1] = None
                d[m] = v
        d["token_len_sumsq"] = pd.array(
            rng.randint(0, 1 << 20, n) + (1 << 60) * (conv == "conv-b"), dtype="Int64")
        d["gap_filled"] = np.zeros(n, dtype=bool)
        frames.append(pd.DataFrame(d))
    return pd.concat(frames, ignore_index=True)


def _digest(chunks) -> str:
    rows = chunks.selectExpr(
        "conv_id", "tier", "CAST(chunk_start AS LONG) AS start", "n_points",
        "ts_codec", "val_codec").orderBy("conv_id", "tier", "start").collect()
    h = hashlib.sha256()
    for r in rows:
        for field in (r["conv_id"].encode(), r["tier"].encode(),
                      str(r["start"]).encode(), str(r["n_points"]).encode(),
                      bytes(r["ts_codec"]), bytes(r["val_codec"])):
            h.update(len(field).to_bytes(8, "big"))
            h.update(field)
    return h.hexdigest()


@pytest.fixture(scope="module")
def fixed(spark):
    return spark.createDataFrame(_fixed_rollup(), ROLLUP_SCHEMA).cache()


def test_chunk_bytes_are_pinned(fixed):
    assert CHUNK_FORMAT_VERSION == 3
    got = {}
    for cp in (64, 4096):
        got[("plain", cp)] = _digest(encode_chunks(fixed, "1m", cp))
        got[("densify", cp)] = _digest(encode_chunks(fixed, "1m", cp, densify=True))
    got[("compact", 4096)] = _digest(
        compact_chunks(encode_chunks(fixed, "1m", 64), 4096))
    assert got == PINNED


def _val_codec(n: int, stream=None) -> bytes:
    """A val_codec of n-point int blocks, the first series replaced by
    ``stream`` when given."""
    parts = []
    for i, _ in enumerate(_SERIES):
        body = stream if (i == 0 and stream is not None) else \
            g_vec.encode_ints_block(np.arange(n))
        parts += (len(body).to_bytes(4, "big"), body)
    return b"".join(parts)


def test_foreign_streams_raise_value_error():
    ts = np.array([0, 60, 120, 240], dtype=np.int64)
    good_ts = g_vec.encode_timestamps_block(ts)
    epochs, series = _decode_chunk_columns([4], [good_ts], [_val_codec(4)])
    np.testing.assert_array_equal(epochs, ts)
    np.testing.assert_array_equal(series["gap_filled"][0], np.arange(4))

    legacy_ts = bytes([0x02]) + good_ts[1:]
    with pytest.raises(ValueError, match="0x02"):
        _decode_chunk_columns([4], [legacy_ts], [_val_codec(4)])
    with pytest.raises(ValueError, match="timestamp block"):
        _decode_chunk_columns([4], [g_scalar.encode_timestamps(ts)], [_val_codec(4)])
    scalar_vals = _val_codec(4, g_scalar.encode_floats(np.arange(4.0)))
    with pytest.raises(ValueError, match="nullable-int64 block"):
        _decode_chunk_columns([4], [good_ts], [scalar_vals])
    with pytest.raises(ValueError, match="holds 4 points, n_points is 5"):
        _decode_chunk_columns([5], [g_vec.encode_timestamps_block(np.arange(5))],
                              [_val_codec(4)])
