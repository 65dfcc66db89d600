"""Gorilla-style time-series compression codecs (pure numpy/python).

- Timestamps: delta-of-delta with the bucket layout from Pelkonen et al.,
  "Gorilla: A Fast, Scalable, In-Memory Time Series Database" (VLDB 2015)
  §4.1.1, widened to a 64-bit escape bucket so arbitrary int64 epochs
  round-trip.
- Values: XOR float compression (Gorilla §4.1.2): '0' = identical bits,
  '10' = meaningful bits fit the previous leading/trailing window,
  '11' + 5b leading + 6b length + bits = new window.

The reference has no compression (raw .npz, SURVEY.md §4 "Compression of
outputs" row). This per-point codec is the test-only reference of the
paper's bit layout; the engine's chunks use the block codec in
kernel/gorilla_vec.py. NaN round-trips exactly (bit pattern preserved).
Exactness contract: decode(encode(x)) == x bit-for-bit.
"""

from __future__ import annotations

import numpy as np


class BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        out = 0
        pos = self.pos
        for _ in range(nbits):
            byte = self.data[pos >> 3]
            out = (out << 1) | ((byte >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return out


# --- delta-of-delta timestamps (int64) -------------------------------------

# (prefix_bits, prefix_value, payload_bits, lo, hi) — Gorilla §4.1.1 buckets
# plus a 64-bit escape instead of the paper's 32-bit (epochs can jump by
# arbitrary amounts across retention chunks).
_DOD_BUCKETS = (
    (2, 0b10, 7, -63, 64),
    (3, 0b110, 9, -255, 256),
    (4, 0b1110, 12, -2047, 2048),
)


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Encode int64 timestamps (seconds or any monotone int64) to bytes."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    w = BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & (1 << 64) - 1, 64)
    if n == 1:
        return w.getvalue()
    first_delta = _wrap64(int(ts[1]) - int(ts[0]))
    w.write(first_delta & (1 << 64) - 1, 64)
    prev_delta = first_delta
    for i in range(2, n):
        delta = _wrap64(int(ts[i]) - int(ts[i - 1]))
        dod = _wrap64(delta - prev_delta)
        prev_delta = delta
        if dod == 0:
            w.write(0, 1)
            continue
        for pbits, pval, bits, lo, hi in _DOD_BUCKETS:
            if lo <= dod <= hi:
                w.write(pval, pbits)
                w.write(dod - lo, bits)  # bias to unsigned
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & (1 << 64) - 1, 64)
    return w.getvalue()


def _to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _wrap64(v: int) -> int:
    """Two's-complement wrap to int64 — delta/dod intermediates can exceed
    the int64 range even when every timestamp fits (e.g. deltas of ±2^62);
    wrapping keeps encode/decode consistent for the full int64 domain."""
    return ((v + (1 << 63)) & ((1 << 64) - 1)) - (1 << 63)


def decode_timestamps(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = _to_signed64(r.read(64))
    if n == 1:
        return out
    prev_delta = _to_signed64(r.read(64))
    out[1] = _wrap64(int(out[0]) + prev_delta)
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            for pbits, pval, bits, lo, hi in _DOD_BUCKETS:
                # prefixes after the leading 1: 0 -> bucket0, 10 -> bucket1...
                if r.read(1) == 0:
                    dod = r.read(bits) + lo
                    break
            else:
                dod = _to_signed64(r.read(64))
        prev_delta = _wrap64(prev_delta + dod)
        out[i] = _wrap64(int(out[i - 1]) + prev_delta)
    return out


# --- XOR float values --------------------------------------------------------


def encode_floats(vals: np.ndarray) -> bytes:
    """Gorilla XOR encoding of float64 values. NaN-safe (bit patterns)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    w = BitWriter()
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    prev = int(bits[0])
    w.write(prev, 64)
    lead, tail = 65, 65  # sentinel: no stored window yet
    for i in range(1, n):
        cur = int(bits[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        l = 64 - x.bit_length()          # leading zeros
        tz = (x & -x).bit_length() - 1   # trailing zeros
        if l > 31:
            l = 31  # 5-bit field, per the paper
        if lead <= 64 and l >= lead and tz >= tail:
            w.write(0b10, 2)
            w.write(x >> tail, 64 - lead - tail)
        else:
            lead, tail = l, tz
            mbits = 64 - lead - tail
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(mbits - 1, 6)  # 1..64 stored as 0..63
            w.write(x >> tail, mbits)
    return w.getvalue()


def decode_floats(data: bytes) -> np.ndarray:
    r = BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead = tail = 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:  # '10' — reuse window
            mbits = 64 - lead - tail
            x = r.read(mbits) << tail
        else:               # '11' — new window
            lead = r.read(5)
            mbits = r.read(6) + 1
            tail = 64 - lead - mbits
            x = r.read(mbits) << tail
        prev ^= x
        out[i] = prev
    return out.view(np.float64)
