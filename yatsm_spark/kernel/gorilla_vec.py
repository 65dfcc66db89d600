"""Vectorized (numpy) delta-of-delta block codecs — the chunk format.

The scalar codec in kernel/gorilla.py implements the exact per-point
Gorilla bit layout (paper §4.1) — a sequential state machine, inherently
loop-bound in pure Python — and is kept only as a test reference. The
engine writes this BLOCK variant of its delta-of-delta idea, restructured
so encode AND decode are single-pass numpy (the standard block-codec
variant, cf. the VLDB'20 compressed-TS line in PAPERS.md):

timestamp block layout (version byte 0xF3):
    [ver:8][n:32][first:64][first_delta:64]
    [codes: (n-2) * 2 bits]      0: dod=0, 1: 7-bit, 2: 12-bit, 3: 64-bit
    [payloads: variable]         zig-zag dod in the coded width

nullable-int64 block layout (version byte 0xF4):
    [ver:8][n:32][null flags: n bits, byte-padded]
    [ts-block stream of the non-null values]
Every rollup measure (counts, sums, min/max of int64 token lengths) takes
this path, so it round-trips EXACTLY over the full int64 range — a float
XOR path would be exact only below 2^53 (round-1 ADVICE).

Decoders check the version byte and raise ValueError on any other stream
(chunk bytes come from disk). Bit-exact round-trip is enforced by
tests/test_gorilla.py + tests/test_codec_property.py.
"""

from __future__ import annotations

import numpy as np

TS_BLOCK_VER = 0xF3
INT_BLOCK_VER = 0xF4

_TS_WIDTHS = np.array([0, 7, 12, 64], dtype=np.int64)


def _check_version(data: bytes, ver: int, kind: str) -> None:
    if not data or data[0] != ver:
        found = f"0x{data[0]:02x}" if data else "an empty stream"
        raise ValueError(f"not a {kind} block: found {found}, expected 0x{ver:02x}")


def _pack_words(values: np.ndarray, widths: np.ndarray, head: np.ndarray) -> bytes:
    """Pack `head` (a 0/1 uint8 bit array) followed by variable-width
    big-endian fields (values[i] in widths[i] bits) into bytes, built on
    64-bit words: each field touches at most TWO words (one np.where + one
    bitwise_or.reduceat per side), so temporaries are O(1) per VALUE
    instead of O(1) per BIT. Fields are placed MSB-first at offsets
    head_bits + cumsum(widths), exactly np.packbits' bit order."""
    head = np.asarray(head, dtype=np.uint8)
    values = np.asarray(values, dtype=np.uint64)
    widths = np.asarray(widths, dtype=np.int64)
    hbits = len(head)
    if len(values) == 0:
        return np.packbits(head).tobytes()
    total = hbits + int(widths.sum())
    n_words = (total + 63) // 64
    words = np.zeros(n_words, dtype=np.uint64)
    if hbits:
        hb = np.packbits(head)
        hw = np.zeros(((len(hb) + 7) // 8) * 8, dtype=np.uint8)
        hw[: len(hb)] = hb
        hview = hw.view(">u8").astype(np.uint64)
        words[: len(hview)] |= hview
    o = hbits + np.concatenate([[0], np.cumsum(widths)[:-1]]).astype(np.int64)
    w0 = o >> 6
    s = o & 63
    sh1 = s + widths - 64  # >0: field straddles into word w0+1
    ls = np.maximum(-sh1, 0).astype(np.uint64)
    rs = np.maximum(sh1, 0).astype(np.uint64)
    part1 = np.where(sh1 <= 0, values << ls, values >> rs)
    seg = np.flatnonzero(np.r_[True, w0[1:] != w0[:-1]])
    words[w0[seg]] |= np.bitwise_or.reduceat(part1, seg)
    strad = sh1 > 0
    if strad.any():
        w1 = w0[strad] + 1
        part2 = values[strad] << (np.uint64(64) - rs[strad])
        seg2 = np.flatnonzero(np.r_[True, w1[1:] != w1[:-1]])
        words[w1[seg2]] |= np.bitwise_or.reduceat(part2, seg2)
    return words.astype(">u8").tobytes()[: (total + 7) // 8]


def _gather_words(buf: np.ndarray, offsets: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Read variable-width big-endian uints straight from the
    BYTE buffer (uint8 array) — no unpackbits of the payload region, no
    per-bit temporaries. offsets are absolute bit positions (MSB-first
    np.packbits order); one width per field, each in 1..64."""
    offsets = np.asarray(offsets, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    if len(offsets) == 0:
        return np.array([], dtype=np.uint64)
    padded = np.zeros(((len(buf) + 7) // 8) * 8, dtype=np.uint8)
    padded[: len(buf)] = buf
    W = padded.view(">u8").astype(np.uint64)
    w0 = offsets >> 6
    s = offsets & 63
    sh1 = s + widths - 64
    ls = np.maximum(-sh1, 0).astype(np.uint64)
    rs = np.maximum(sh1, 1).astype(np.uint64)  # clamp: 64-rs stays < 64
    hi = W[w0]
    lo = W[np.minimum(w0 + 1, len(W) - 1)]
    vals = np.where(sh1 <= 0, hi >> ls,
                    (hi << rs) | (lo >> (np.uint64(64) - rs)))
    wc = np.minimum(widths, 63).astype(np.uint64)  # 64 selects the full mask
    mask = np.where(widths >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
                    (np.uint64(1) << wc) - np.uint64(1))
    return (vals & mask).astype(np.uint64)


# --- nullable int64 -----------------------------------------------------------


def encode_ints_block(vals: np.ndarray, null_mask: np.ndarray | None = None) -> bytes:
    """Exact int64 block codec: null-flag bitmap + delta-of-delta stream of
    the non-null values (reuses the timestamp machinery — dod wraps modulo
    2^64, so ANY int64 series round-trips bit-exactly)."""
    vals = np.asarray(vals, dtype=np.int64)
    n = len(vals)
    if null_mask is None:
        null_mask = np.zeros(n, dtype=bool)
    header = bytes([INT_BLOCK_VER]) + int(n).to_bytes(4, "big")
    flags = np.packbits(null_mask.astype(np.uint8)).tobytes()
    return header + flags + encode_timestamps_block(vals[~null_mask])


def decode_ints_block(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """-> (values int64 with 0 at null slots, null_mask bool)."""
    _check_version(data, INT_BLOCK_VER, "nullable-int64")
    n = int.from_bytes(data[1:5], "big")
    nflag_bytes = (n + 7) // 8
    null_mask = np.unpackbits(
        np.frombuffer(data[5 : 5 + nflag_bytes], dtype=np.uint8))[:n].astype(bool)
    present = decode_timestamps_block(data[5 + nflag_bytes :])
    out = np.zeros(n, dtype=np.int64)
    out[~null_mask] = present
    return out, null_mask


# --- timestamps ---------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


def encode_timestamps_block(ts: np.ndarray) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    header = bytearray()
    header.append(TS_BLOCK_VER)
    header += int(n).to_bytes(4, "big")
    if n == 0:
        return bytes(header)
    header += int(np.uint64(ts[0])).to_bytes(8, "big")
    if n == 1:
        return bytes(header)
    deltas = np.diff(ts)
    header += int(np.uint64(deltas[0])).to_bytes(8, "big")
    if n == 2:
        return bytes(header)
    dod = deltas[1:] - deltas[:-1]
    z = _zigzag(dod)
    codes = np.select([z == 0, z < (1 << 7), z < (1 << 12)], [0, 1, 2], default=3).astype(np.uint64)
    # 2-bit class codes packed first (fixed offsets), then payloads.
    code_bits = np.column_stack([(codes >> 1) & 1, codes & 1]).reshape(-1).astype(np.uint8)
    widths = _TS_WIDTHS[codes.astype(np.int64)]
    nzmask = widths > 0
    return bytes(header) + _pack_words(z[nzmask], widths[nzmask], code_bits)


def decode_timestamps_block(data: bytes) -> np.ndarray:
    _check_version(data, TS_BLOCK_VER, "timestamp")
    n = int.from_bytes(data[1:5], "big")
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = np.uint64(int.from_bytes(data[5:13], "big")).astype(np.int64)
    if n == 1:
        return out
    first_delta = np.uint64(int.from_bytes(data[13:21], "big")).astype(np.int64)
    if n == 2:
        # Contract: delta reconstruction is two's-complement modulo 2^64 —
        # at int64 extremes the add WRAPS and the round-trip is still
        # bit-exact (encode computed the delta under the same wraparound).
        # numpy warns on scalar int overflow; the wrap is intentional.
        with np.errstate(over="ignore"):
            out[1] = out[0] + first_delta
        return out
    buf = np.frombuffer(data[21:], dtype=np.uint8)
    m = n - 2
    bits = np.unpackbits(buf[: (2 * m + 7) // 8])
    codes = (bits[0 : 2 * m : 2].astype(np.int64) << 1) | bits[1 : 2 * m : 2]
    widths = _TS_WIDTHS[codes]
    nzmask = widths > 0
    nz_w = widths[nzmask]
    offsets = 2 * m + np.concatenate([[0], np.cumsum(nz_w)[:-1]]) if nzmask.any() else np.array([], dtype=np.int64)
    z = np.zeros(m, dtype=np.uint64)
    if nzmask.any():
        z[nzmask] = _gather_words(buf, offsets.astype(np.int64), nz_w)
    dod = _unzigzag(z)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = first_delta
    # Same modulo-2^64 contract as the n == 2 path: cumsum/add may wrap at
    # int64 extremes and MUST (two's-complement delta reconstruction).
    with np.errstate(over="ignore"):
        np.cumsum(np.concatenate([[first_delta], dod]), out=deltas)
        out[1:] = out[0] + np.cumsum(deltas)
    return out
