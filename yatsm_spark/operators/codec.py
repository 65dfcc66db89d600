"""Compressed chunk encode/decode — Arrow UDF wrappers over kernel.gorilla_vec.

The reference stores raw .npz (no compression — SURVEY.md §4); the graft
stores finalized points as Gorilla-style delta-of-delta block streams
(BASELINE.json north_star, VLDB'20 compressed-TS lineage in PAPERS.md).
Chunk row schema per FIXTURES.md §2.3:

    (conv_id, tier, chunk_start, n_points, ts_codec binary, val_codec binary)

ts_codec is one timestamp block (0xF3). val_codec holds, for each measure
in rollup.MEASURES order and then gap_filled as a 0/1 series, a 4-byte
big-endian length followed by that series' nullable-int64 block (0xF4),
exact over the FULL int64 range (round-1 ADVICE). That is the one format
written and read; a stream in any other format raises ValueError.

Bounded chunks (default 4096 points ≈ 2.8 days of 1m) keep a mega-conv from
producing one giant row; groups stream through applyInPandas per conv.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from yatsm_spark.kernel import gorilla_vec as g_vec
from yatsm_spark.operators.rollup import MEASURES

_SERIES = MEASURES + ["gap_filled"]

#: Bumped whenever the persisted chunk byte layout changes; folded into the
#: pipeline's per-bucket checkpoint fingerprint so a resumed workdir written
#: by a different format re-encodes instead of mixing stream versions
#: (round-2 ADVICE).
CHUNK_FORMAT_VERSION = 3

CHUNK_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("chunk_start", T.TimestampType(), False),
    T.StructField("n_points", T.IntegerType(), False),
    T.StructField("ts_codec", T.BinaryType(), False),
    T.StructField("val_codec", T.BinaryType(), False),
])

ROLLUP_SCHEMA = T.StructType(
    [T.StructField("conv_id", T.StringType(), False),
     T.StructField("window_start", T.TimestampType(), False)]
    + [T.StructField(m, T.LongType(), True) for m in MEASURES]
    + [T.StructField("gap_filled", T.BooleanType(), False)]
)


def _frame_chunks(conv_id: str, tier: str, epochs: np.ndarray,
                  series: dict, chunk_points: int) -> pd.DataFrame:
    """One conv's time-ordered points -> chunk rows of <= chunk_points.
    ``series`` maps every _SERIES name to (int64 values, null mask or
    None); values at null slots are not stored."""
    starts = np.arange(0, len(epochs), chunk_points)
    ts_codec, val_codec = [], []
    for lo in starts:
        hi = lo + chunk_points
        ts_codec.append(g_vec.encode_timestamps_block(epochs[lo:hi]))
        parts = []
        for m in _SERIES:
            v, nm = series[m]
            stream = g_vec.encode_ints_block(v[lo:hi], None if nm is None else nm[lo:hi])
            parts += (struct.pack(">I", len(stream)), stream)
        val_codec.append(b"".join(parts))
    return pd.DataFrame({
        "conv_id": conv_id,
        "tier": tier,
        "chunk_start": pd.to_datetime(epochs[starts], unit="s"),
        "n_points": np.minimum(len(epochs) - starts, chunk_points),
        "ts_codec": ts_codec,
        "val_codec": val_codec,
    })


def _decode_chunk_columns(n_points, ts_codec, val_codec) -> tuple[np.ndarray, dict]:
    """Chunk columns -> (epochs, {series: (int64 values, null mask)}), each
    concatenated over the chunks in row order. Raises ValueError when a
    stream is not the format above or disagrees with its n_points."""
    epochs = []
    cols: dict[str, tuple[list, list]] = {m: ([], []) for m in _SERIES}
    for n, ts_buf, buf in zip(n_points, ts_codec, val_codec):
        ts = g_vec.decode_timestamps_block(ts_buf)
        if len(ts) != n:
            raise ValueError(f"ts_codec holds {len(ts)} points, n_points is {n}")
        epochs.append(ts)
        pos = 0
        for m in _SERIES:
            (ln,) = struct.unpack_from(">I", buf, pos)
            v, nm = g_vec.decode_ints_block(buf[pos + 4 : pos + 4 + ln])
            pos += 4 + ln
            if len(v) != n:
                raise ValueError(f"val_codec {m} holds {len(v)} points, n_points is {n}")
            cols[m][0].append(v)
            cols[m][1].append(nm)
    return np.concatenate(epochs), {
        m: (np.concatenate(v), np.concatenate(nm)) for m, (v, nm) in cols.items()}


def encode_chunks(rollup: DataFrame, tier: str, chunk_points: int = 4096,
                  densify: bool = False) -> DataFrame:
    """Rollup tier -> compressed chunk rows (one shuffle on conv_id).

    densify=True accepts the SPARSE tier and reindexes each conv onto the
    dense slot grid in the kernel (counts 0, stats null, gap_filled true)
    before encoding — gap slots then cost ~1 bit each in the codec instead
    of a shuffled row each. Output chunks are identical to encoding the
    gap-filled tier (tested)."""
    from yatsm_spark.operators.rollup import TIERS

    step = TIERS[tier]
    count_cols = [m for m in MEASURES if m.endswith("_count")]
    stat_cols = [m for m in MEASURES if not m.endswith("_count")]

    # Null stat slots are split into (coalesced long, notnull flag) BEFORE
    # the Arrow boundary: Arrow->pandas turns a long column CONTAINING nulls
    # into float64, which rounds values above 2^53 before the kernel ever
    # sees them (round-2 ADVICE). With no nulls present the transfer stays
    # int64 end to end; a non-integer measure now fails loudly at the cast
    # in Catalyst instead of being truncated silently.
    sel = [F.col("conv_id"), F.col("window_start"), F.col("gap_filled")]
    for m in count_cols:
        sel.append(F.coalesce(F.col(m), F.lit(0)).cast("long").alias(m))
    for m in stat_cols:
        sel.append(F.coalesce(F.col(m), F.lit(0)).cast("long").alias(m))
        sel.append(F.col(m).isNotNull().alias(f"_nn_{m}"))
    # NO extra-wide repartition here (r6, measured): unlike the CCDC stage,
    # the encode kernel is cheap (~0.7us/pt) and the grouped-map boundary's
    # per-partition fixed costs dominate — 32/64/128-partition A/B from the
    # cached tier read 14.5 / 15.7 / 17.0s, so the session shuffle width
    # (data-sized, AQE-coalesced) is kept. The wide setting stays where the
    # kernel is compute-heavy and group skew is the binding constraint
    # (changescore.py).
    rollup = rollup.select(*sel)
    int_cols = count_cols + [c for m in stat_cols for c in (m, f"_nn_{m}")]

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-conv numpy encode: every series is converted to
        (int64 values, null mask) ONCE per conv — int64-exact end to end,
        no float round-trip — then the chunk loop slices numpy arrays.
        (Per-chunk pandas ops were ~2x the actual codec cost.)"""
        epochs = pdf["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
        order = np.argsort(epochs, kind="stable")
        epochs = epochs[order]
        col = {c: pdf[c].to_numpy(dtype=np.int64)[order] for c in int_cols}
        if densify:
            from yatsm_spark.kernel.gapfill import gapfill_slots

            # stats travel as int64 + the notnull flag column: gap slots get
            # notnull=0 (int fill is 0), i.e. null — no float64 detour, so
            # values above 2^53 stay exact through densification too.
            col = gapfill_slots(epochs, col, step=step)
            epochs = col["slot_epoch"]
        else:
            col["gap_filled"] = pdf["gap_filled"].to_numpy(dtype=np.int64)[order]
        series = {c: (col[c], None) for c in count_cols + ["gap_filled"]}
        series.update({c: (col[c], col[f"_nn_{c}"] == 0) for c in stat_cols})
        return _frame_chunks(pdf["conv_id"].iloc[0], tier, epochs, series,
                             chunk_points)

    return rollup.groupBy("conv_id").applyInPandas(enc, CHUNK_SCHEMA)


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Compressed chunks -> rollup rows (decode-path reader for parity
    checks and tier-serving). mapInPandas: no shuffle at all."""

    def dec(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = pdf["n_points"].to_numpy()
            epochs, series = _decode_chunk_columns(n, pdf["ts_codec"], pdf["val_codec"])
            out = {"conv_id": np.repeat(pdf["conv_id"].to_numpy(), n),
                   "window_start": epochs.astype("datetime64[s]").astype("datetime64[us]")}
            for m in MEASURES:
                out[m] = pd.arrays.IntegerArray(*series[m])
            out["gap_filled"] = series["gap_filled"][0] > 0
            yield pd.DataFrame(out)

    return chunks.mapInPandas(dec, ROLLUP_SCHEMA)


def compact_chunks(chunks: DataFrame, chunk_points: int = 4096) -> DataFrame:
    """Chunk-table compaction (the TimescaleDB ``compress_chunk``
    maintenance analog): per (conv, tier), decode every chunk, stitch the
    point streams back together in chunk_start order, and re-encode at
    the target ``chunk_points`` — many small chunks (written by frequent
    incremental eviction runs) become few large ones, shrinking both the
    chunk-row count the serve path scans and the per-chunk codec framing
    overhead.

    Invariant (tested): ``decode_chunks(compact_chunks(x))`` is
    bit-identical to ``decode_chunks(x)`` — same slots, same values, same
    null mask, same gap flags — because the codec round-trip is exact and
    compaction only re-frames chunk boundaries. One groupBy shuffle on
    (conv_id, tier); per-group memory is the conv's decoded history,
    which the retention driver already bounds (chunks only cover the
    evicted window, rollup.py TTL contract)."""

    def compact(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_start", kind="mergesort")
        epochs, series = _decode_chunk_columns(
            pdf["n_points"], pdf["ts_codec"], pdf["val_codec"])
        return _frame_chunks(pdf["conv_id"].iloc[0], pdf["tier"].iloc[0],
                             epochs, series, chunk_points)

    return chunks.groupBy("conv_id", "tier").applyInPandas(
        compact, CHUNK_SCHEMA)
