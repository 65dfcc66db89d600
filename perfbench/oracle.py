"""Correctness oracles, built from raw turns by plain code paths.

The reference is computed in pandas from the generated transcripts,
sharing no code with the engine's ingest, rollup, cascade or gap-fill: per
tier, a ``groupby`` of the raw turns gives every real row, and each conv's
slot span gives the dense row count its gap-fill must produce. A stored
tier is compared by collecting its real rows and counting all of them.
Round trips within the engine's own tables (decoded chunks against the 1m
tier) compare the order-insensitive ``bit_xor(xxhash64(...))`` of both.
Serve range answers are compared with pandas aggregates of the raw turns,
and snapshots and changemaps with plain-Python picks over the collected
segments, row for row.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from yatsm_spark.operators.rollup import MEASURES, TIERS


def raw_measures(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Per-turn measures straight from the transcript columns."""
    return pd.DataFrame({
        "conv_id": transcripts["conv_id"].to_numpy(),
        "turn_idx": transcripts["turn_idx"].to_numpy(np.int64),
        "t": transcripts["ts"].to_numpy("datetime64[us]").astype(np.int64) // 1_000_000,
        "tl": transcripts["text"].str.len().to_numpy(np.int64),
        "tool": transcripts["tool"].notna().to_numpy(np.int64),
        "role": transcripts["role"].to_numpy(),
    })


def _moments(p: pd.DataFrame, key: list) -> pd.DataFrame:
    role = p["role"]
    g = p.assign(
        turn_count=1, token_len_sum=p["tl"], token_len_min=p["tl"], token_len_max=p["tl"],
        token_len_sumsq=p["tl"] * p["tl"], tool_call_count=p["tool"],
        role_user_count=(role == "user").astype(np.int64),
        role_assistant_count=(role == "assistant").astype(np.int64),
        role_other_count=(~role.isin(["user", "assistant"])).astype(np.int64),
    ).groupby(key).agg({m: "min" if m == "token_len_min" else "max" if m == "token_len_max"
                        else "sum" for m in MEASURES})
    return g.astype(np.int64).reset_index()


class TierReference:
    """A tier built from raw turns: its real rows and its dense row count."""

    def __init__(self, measures: pd.DataFrame, tier: str):
        sec = TIERS[tier]
        rows = _moments(measures.assign(ws=measures["t"] // sec * sec), ["conv_id", "ws"])
        span = rows.groupby("conv_id")["ws"].agg(["min", "max"])
        self.rows = rows
        self.real = len(rows)
        self.dense = int(((span["max"] - span["min"]) // sec + 1).sum())


def references(measures: pd.DataFrame, tiers) -> dict[str, TierReference]:
    return {t: TierReference(measures, t) for t in tiers}


def _tagged_union(tables: dict[str, DataFrame], project) -> DataFrame:
    """project(df) for every table, tagged with its name and unioned, so one
    Spark job reads them all."""
    parts = [project(df).withColumn("_table", F.lit(name)) for name, df in tables.items()]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _longs(df: DataFrame) -> DataFrame:
    return df.select("conv_id", F.unix_timestamp("window_start").cast("long").alias("ws"),
                     *[F.col(m).cast("long").alias(m) for m in MEASURES], "gap_filled")


def tier_mismatches(tables: dict[str, DataFrame], want: dict[str, TierReference]) -> list[str]:
    """Stored tiers (``{name: df}``) against their references (same keys):
    real rows value for value, and the number of all rows."""
    real = _tagged_union(tables, lambda df: _longs(df).where(~F.col("gap_filled"))
                         .drop("gap_filled")).toPandas()
    counts = dict(_tagged_union(tables, lambda df: df.select("conv_id"))
                  .groupBy("_table").count().collect())
    bad = []
    for name, ref in want.items():
        key = ["conv_id", "ws"]
        got = (real[real["_table"] == name].drop(columns="_table")
               .sort_values(key).reset_index(drop=True))
        exp = ref.rows.sort_values(key).reset_index(drop=True)
        if not (got.shape == exp.shape and (got.to_numpy() == exp.to_numpy()).all()):
            bad.append(f"{name}: real rows differ from the reference ({len(got)} rows, "
                       f"{ref.real} in the reference)")
        if counts.get(name, 0) != ref.dense:
            bad.append(f"{name}: {counts.get(name, 0)} rows, the reference gap-fills to "
                       f"{ref.dense}")
    return bad


def _hash_row(cols) -> F.Column:
    return F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")


def full_signatures(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """{name: (rows, hash over every column incl. gap rows)} for round trips."""
    cols = ["conv_id", "ws"] + MEASURES + ["gf"]
    rows = (_tagged_union(tables, lambda df: _longs(df).withColumn(
                "gf", F.col("gap_filled").cast("int")))
            .groupBy("_table").agg(F.count(F.lit(1)), _hash_row(cols)).collect())
    return {r[0]: (int(r[1]), int(r[2] or 0)) for r in rows}


# ---------------------------------------------------------------------------
# serve answers
# ---------------------------------------------------------------------------

def digest(rows) -> str:
    """Order-insensitive digest of collected rows (Row or tuple)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class TurnOracle:
    """Raw turns held in pandas; answers range aggregates without Spark."""

    def __init__(self, measures: pd.DataFrame):
        pdf = measures.sort_values("t", kind="stable")
        self.t = pdf["t"].to_numpy(np.int64)
        self.pdf = pdf.reset_index(drop=True)

    def range_answer(self, lo: int, hi: int) -> str:
        a, b = np.searchsorted(self.t, [lo, hi])
        g = _moments(self.pdf.iloc[a:b], ["conv_id"])
        return digest((c, *map(int, v)) for c, v in zip(g["conv_id"], g[MEASURES].to_numpy()))


def snapshot_answer(segments: list, at) -> str:
    """Per conv, the segment row with the latest start_ts <= at (ties: the
    highest segment_id), picked in plain Python from collected rows."""
    best = {}
    for r in segments:
        if r["start_ts"] <= at:
            k = (r["start_ts"], r["segment_id"])
            if r["conv_id"] not in best or k > best[r["conv_id"]][0]:
                best[r["conv_id"]] = (k, r)
    return digest(r for _, r in best.values())


def changemap_answer(segments: list) -> str:
    """First and last break and the break count per conv."""
    acc = {}
    for r in segments:
        b = r["break_ts"]
        if b is not None:
            lo, hi, n = acc.get(r["conv_id"], (b, b, 0))
            acc[r["conv_id"]] = (min(lo, b), max(hi, b), n + 1)
    return digest((c, *v) for c, v in acc.items())
