"""The three workloads: setup (untimed), one measured job, its oracle check.

Every workload generates its transcripts with ``synth.generate_transcripts``
from the run's seed, so the engine sees only generated inputs, and reads
every table from its paths on each job, so a job runs unchanged on a
restarted session.

* ``backfill``: one ``run_pipeline(resume=False)`` into an empty directory;
  the request unit is the bucket.
* ``serve``: one closed-loop client over stored, retention-evicted tables;
  a job is one pass through a short seeded request list, the request unit
  is the request.
* ``refresh``: merge a withheld late-turn delta into restored tables,
  re-cascade, re-chunk, evict and write back per bucket; the request unit
  is the bucket.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from yatsm_spark import pipeline, synth
from yatsm_spark.api import Engine
from yatsm_spark.checkpoint import CheckpointManager
from yatsm_spark.ingest import with_measures
from yatsm_spark.operators import codec, rollup as R
from yatsm_spark.operators.cascade import cascade, merge_rollups
from yatsm_spark.operators.changescore import CONV_PARAMS, change_scores
from yatsm_spark.operators.retention import evict
from yatsm_spark.operators.routing import route_range
from yatsm_spark.sources.storage import ParquetStorage, with_bucket

from perfbench import oracle

#: Input sizes. ``full`` is what the benchmark measures; ``tiny`` is the
#: self-check's. Convs are generated with Zipf lengths capped at
#: ``max_turns``; the input is the shortest prefix of them (in generation
#: order) that holds ``turns`` turns, so its size does not vary with the
#: seed. One bucket: a bucket's ~47 Spark jobs cost 7-15 s on 4 cores
#: whatever the input size, and a whole run must stay under a minute.
SIZES = {
    "full": {"max_turns": 200, "turns": 24_000, "buckets": 1},
    "tiny": {"max_turns": 60, "turns": 1_200, "buckets": 1},
}
#: serve range spans in minutes (1 h to 5 d). A pass sends one range of each
#: span at a seeded position (the 1-day one straddles the watermark, so the
#: fresh-tail path runs), a snapshot at a seeded segment start and a
#: changemap; a run repeats the same pass at least SERVE_PASSES times, the
#: first one cold (it runs ~30% slower; the medians over passes drop it).
RANGE_MINUTES = (60, 1440, 7200)
OFFSET_S = 17 * 60
SERVE_PASSES = 4
#: serve/refresh retention: 1m rows older than this (vs the conv's last
#: slot) and below the 1h watermark are evicted into chunks.
TTL_S = 3600
#: refresh withholds every K-th turn as the late delta.
DELTA_EVERY = 10
#: refresh writes small chunks first and compacts them to the table's size.
SMALL_CHUNK = 1024
CHUNK_POINTS = 4096
TIER_NAMES = ("1m", "1h", "1d")
#: backfill's warm-up job runs over this share of the convs
WARM_UP_SHARE = 0.25


@dataclass
class Job:
    """One measured job: its wall time, its request latencies, its ops."""
    wall_s: float = 0.0
    latencies_ms: list = field(default_factory=list)
    #: what each latency was of (request kind and span, or "bucket")
    labels: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _du(path: str) -> int:
    """Bytes of the data files under path (no checksum or marker files)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


class Workload:
    name = ""
    #: the tables ``stored_bytes`` counts
    stored_tables = ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m")
    #: a run measures at least this many jobs (and at least --seconds)
    min_jobs = 1

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.tx_path = os.path.join(work, "transcripts.parquet")
        self.convs = 0
        self.turns = 0
        self.ref: dict[str, oracle.TierReference] = {}
        self.result_rows = 0
        #: wall seconds of each set-up step
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    @property
    def buckets(self) -> int:
        return self.size["buckets"]

    def generate(self, spark) -> None:
        """Write the seeded transcripts: the shortest prefix of convs that
        holds the size's turns. A conv depends only on (seed, conv), so the
        driver generates the prefix's convs for the oracle, and Spark
        generates the table the engine reads."""
        with self.phase("generate"):
            convs = []
            while self.turns < self.size["turns"]:
                convs.append(synth._gen_conv(len(convs), self.seed, self.size["max_turns"]))
                self.turns += len(convs[-1])
            self.convs = len(convs)
            self.raw = oracle.raw_measures(pd.concat(convs, ignore_index=True))
            # one generator slice per core, so the table is written in one wave
            synth.generate_transcripts(
                spark, self.convs, seed=self.seed, max_turns=self.size["max_turns"],
                slice_size=self.convs // spark.sparkContext.defaultParallelism + 1,
            ).write.parquet(self.tx_path)

    def reference(self) -> dict[str, oracle.TierReference]:
        """The tiers built from the raw turns."""
        if not self.ref:
            with self.phase("oracle"):
                self.ref = oracle.references(self.raw, TIER_NAMES)
        return self.ref

    def setup(self, spark) -> None:
        raise NotImplementedError

    def job(self, spark, tracer=None) -> Job:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Untimed, after setup: one job, so the measured ones do not pay
        the JVM's and the Python workers' first-use costs (a cold job runs
        ~30% slower and varies more)."""
        self.job(spark)

    def check(self, spark) -> list[str]:
        """Oracle mismatches in the last job's stored output (untimed)."""
        return []

    def stored_bytes(self) -> int:
        return sum(_du(os.path.join(self.out, t)) for t in self.stored_tables)

    def trace_counts(self, spark) -> dict:
        """Counts ``trace.layer_table`` needs that the event log does not
        hold; taken after the traced job, outside its span."""
        ref = self.reference()["1m"]
        return {"buckets": self.buckets, "points": ref.dense, "rollup_rows": (ref.real, ref.dense),
                "result_rows": self.result_rows}

    def _evicted(self, spark) -> int:
        return self.reference()["1m"].dense - ParquetStorage(self.out).read(spark, "tier_1m").count()


class Backfill(Workload):
    name = "backfill"

    def setup(self, spark) -> None:
        self.generate(spark)
        self.reference()
        self.out = os.path.join(self.work, "out")

    def warm_up(self, spark) -> None:
        """One job over the first WARM_UP_SHARE of the convs: it runs the
        same plans and kernels as a full job, at a fraction of its cost."""
        first = spark.read.parquet(self.tx_path).where(
            F.col("conv_id") < f"conv{int(self.convs * WARM_UP_SHARE):08d}")
        self.job(spark, transcripts=first)

    def job(self, spark, tracer=None, transcripts=None) -> Job:
        shutil.rmtree(self.out, ignore_errors=True)
        tx = spark.read.parquet(self.tx_path) if transcripts is None else transcripts
        cfg = pipeline.PipelineConfig(workdir=self.out, n_buckets=self.buckets)
        j = Job(attempted=1)
        t0 = time.perf_counter()
        m = pipeline.run_pipeline(spark, tx, cfg, resume=False)
        j.wall_s = time.perf_counter() - t0
        j.latencies_ms = [b["wall_ms"] for b in m.buckets]
        j.labels = ["bucket"] * len(m.buckets)
        return j

    def check(self, spark) -> list[str]:
        """Each tier against the raw-turn reference; the decoded chunks
        against the stored 1m tier, gap rows included."""
        store = ParquetStorage(self.out, self.buckets)
        tiers = {t: store.read(spark, f"tier_{t}") for t in TIER_NAMES}
        bad = oracle.tier_mismatches(tiers, self.ref)
        full = oracle.full_signatures({
            "tier_1m": tiers["1m"],
            "decode_chunks(chunks_1m)": codec.decode_chunks(store.read(spark, "chunks_1m"))})
        if len(set(full.values())) != 1:
            bad.append(f"decoded chunks differ from the 1m tier: {full}")
        return bad


class Serve(Workload):
    name = "serve"
    min_jobs = SERVE_PASSES

    def setup(self, spark) -> None:
        self.generate(spark)
        self.out = os.path.join(self.work, "tables")
        with self.phase("tables"):
            self._tables(spark)
        with self.phase("oracle"):
            turns = oracle.TurnOracle(self.raw)
            segments = ParquetStorage(self.out).read(spark, "segments").collect()
            self.requests = self._pool(turns, segments)

    def _tables(self, spark) -> None:
        """The tables a backfill stores, with the 1m tier already evicted,
        written once each by the operators ``run_pipeline`` calls (without
        its staging, fingerprints, counts and manifests)."""
        store = ParquetStorage(self.out, self.buckets)
        meas = with_bucket(with_measures(spark.read.parquet(self.tx_path)), self.buckets)
        for b in range(self.buckets):
            sparse = R.rollup_from_turns(meas.where(F.col("bucket") == b).drop("bucket"),
                                         "1m").cache()
            store.write_bucket(evict(R.gapfill(sparse, "1m"), "1m", "1h", TTL_S), "tier_1m", b)
            h1 = cascade(sparse, "1m", "1h").cache()
            store.write_bucket(R.gapfill(h1, "1h"), "tier_1h", b)
            store.write_bucket(R.gapfill(cascade(h1, "1h", "1d"), "1d"), "tier_1d", b)
            store.write_bucket(change_scores(sparse, "turn_count", CONV_PARAMS, densify=True),
                               "segments", b)
            store.write_bucket(codec.encode_chunks(sparse, "1m", CHUNK_POINTS, densify=True),
                               "chunks_1m", b)
            sparse.unpersist()
            h1.unpersist()

    def _pool(self, turns: oracle.TurnOracle, segments: list) -> list[tuple]:
        """The seeded pass: minute-aligned ranges that hold a seeded turn
        and end before the watermark, and a 1-day range that straddles it; a
        snapshot at a seeded segment start; a changemap. Every range starts
        OFFSET_S past a tier boundary, so the seed moves a range but does
        not change how route_range splits it over the tiers and the fresh
        tail. Each request carries the digest of its raw-turn answer."""
        rng = random.Random(self.seed)
        self.watermark = synth.T0 + 28 * 86400
        # turns whose 1-hour and 5-day ranges end before the watermark
        inner = turns.t[turns.t < self.watermark - 4 * 86400]
        ranges = []
        for minutes in RANGE_MINUTES:
            if minutes == 1440:
                qs = self.watermark - 3600 * rng.randrange(1, 23) - OFFSET_S
            else:
                t = int(inner[rng.randrange(len(inner))])
                unit = 3600 if minutes <= 60 else 86400
                qs = (t - OFFSET_S) // unit * unit + OFFSET_S - (minutes * 60 - unit) // 2
                qs -= qs % 60
            ranges.append((qs, qs + 60 * minutes))
        reqs = [("range", r, turns.range_answer(*r)) for r in ranges]
        at = sorted(r["start_ts"] for r in segments)[rng.randrange(len(segments))]
        reqs.append(("snapshot", at, oracle.snapshot_answer(segments, at)))
        reqs.append(("changemap", None, oracle.changemap_answer(segments)))
        rng.shuffle(reqs)
        return reqs

    def request(self, spark, kind, arg, tracer=None):
        store = ParquetStorage(self.out, self.buckets)
        if kind == "range":
            tiers = {t: store.read(spark, f"tier_{t}") for t in TIER_NAMES}
            fresh = with_measures(spark.read.parquet(self.tx_path))
            with _span(tracer, "routing.route_range"):
                return route_range(tiers, arg[0], arg[1], fresh_measures=fresh,
                                   watermark=self.watermark,
                                   chunks=store.read(spark, "chunks_1m"),
                                   chunk_points=CHUNK_POINTS).collect()
        eng = Engine(spark, spark.read.parquet(self.tx_path))
        segs = store.read(spark, "segments")
        if kind == "snapshot":
            with _span(tracer, "api.snapshot_at"):
                return eng.snapshot_at(segs, arg).collect()
        with _span(tracer, "api.changemap"):
            return eng.changemap(segs).collect()

    def warm_up(self, spark) -> None:
        """None: the table build warms the session, and the medians over
        passes drop the first pass."""

    def job(self, spark, tracer=None) -> Job:
        """One pass through the requests."""
        j = Job()
        t0 = time.perf_counter()
        rows = 0
        for kind, arg, want in self.requests:
            j.attempted += 1
            r0 = time.perf_counter()
            try:
                got = self.request(spark, kind, arg, tracer)
            except Exception as e:  # a failed request counts, the loop goes on
                j.failed += 1
                j.errors.append(f"{kind} {arg}: {e!r}")
                continue
            j.latencies_ms.append((time.perf_counter() - r0) * 1000)
            j.labels.append(f"range_{(arg[1] - arg[0]) // 60}m" if kind == "range" else kind)
            rows += len(got) if kind == "range" else 0
            if oracle.digest(got) != want:
                j.failed += 1
                j.errors.append(f"{kind} {arg}: answer differs from the raw-turn oracle")
        j.wall_s = time.perf_counter() - t0
        self.result_rows = rows
        return j

    def trace_counts(self, spark) -> dict:
        return dict(super().trace_counts(spark), rows_evicted=self._evicted(spark))


class Refresh(Workload):
    name = "refresh"
    stored_tables = ("tier_1m", "tier_1h", "tier_1d", "chunks_1m")

    def setup(self, spark) -> None:
        self.generate(spark)
        self.reference()
        self.pristine = os.path.join(self.work, "pristine")
        self.out = os.path.join(self.work, "live")
        with self.phase("tables"):
            pipeline.run_pipeline(spark, self.transcripts(spark, late=False),
                                  pipeline.PipelineConfig(
                                      workdir=self.pristine, n_buckets=self.buckets,
                                      segments=False),
                                  resume=False)

    def transcripts(self, spark, late: bool):
        """The late delta (every DELTA_EVERY-th turn) or the rest."""
        is_late = F.col("turn_idx") % DELTA_EVERY == DELTA_EVERY - 1
        return spark.read.parquet(self.tx_path).where(is_late if late else ~is_late)

    def warm_up(self, spark) -> None:
        """None: the set-up build ran the rollup, cascade, chunk and write
        layers the job runs."""

    def restore(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.pristine, self.out)

    def job(self, spark, tracer=None) -> Job:
        self.restore()
        store = ParquetStorage(self.out, self.buckets)
        ckpt = CheckpointManager(self.out)
        late = with_bucket(with_measures(self.transcripts(spark, late=True)), self.buckets)
        j = Job(attempted=1)
        t0 = time.perf_counter()
        for b in range(self.buckets):
            b0 = time.perf_counter()
            with _span(tracer, "pipeline.bucket"):
                self._bucket(spark, store, ckpt, late, b, b0)
            j.latencies_ms.append((time.perf_counter() - b0) * 1000)
            j.labels.append("bucket")
        j.wall_s = time.perf_counter() - t0
        return j

    def _bucket(self, spark, store, ckpt, late, b, b0) -> None:
        dm = late.where(F.col("bucket") == b).drop("bucket")
        fp = pipeline._input_fingerprint(dm)
        merged = merge_rollups(store.read_bucket(spark, "tier_1m", b),
                               R.rollup_from_turns(dm, "1m"), tier_name="1m").cache()
        rows = merged.count()
        h1 = cascade(merged, "1m", "1h")
        store.write_bucket(h1, "tier_1h", b)
        store.write_bucket(cascade(h1, "1h", "1d"), "tier_1d", b)
        small = codec.encode_chunks(merged, "1m", SMALL_CHUNK)
        store.write_bucket(codec.compact_chunks(small, CHUNK_POINTS), "chunks_1m", b)
        # tier_1m is read by `merged`: overwrite it last
        store.write_bucket(evict(merged, "1m", "1h", TTL_S), "tier_1m", b)
        merged.unpersist()
        ckpt.commit("refresh", b, fp, rows, (time.perf_counter() - b0) * 1000)

    def check(self, spark) -> list[str]:
        """The re-cascaded tiers, the decoded chunks, and the retained 1m
        rows completed by the chunks, each against the base-and-delta
        reference."""
        store = ParquetStorage(self.out, self.buckets)
        dec = codec.decode_chunks(store.read(spark, "chunks_1m"))
        kept = store.read(spark, "tier_1m")
        cols = ["conv_id", "window_start", *R.MEASURES, "gap_filled"]
        whole = kept.select(*cols).unionByName(
            dec.join(kept.select("conv_id", "window_start"),
                     ["conv_id", "window_start"], "left_anti").select(*cols))
        return oracle.tier_mismatches(
            {"1h": store.read(spark, "tier_1h"), "1d": store.read(spark, "tier_1d"),
             "decoded chunks_1m": dec, "retained tier_1m + chunks": whole},
            {"1h": self.ref["1h"], "1d": self.ref["1d"],
             "decoded chunks_1m": self.ref["1m"], "retained tier_1m + chunks": self.ref["1m"]})

    def trace_counts(self, spark) -> dict:
        dref = oracle.references(self.raw[self.raw["turn_idx"] % DELTA_EVERY == DELTA_EVERY - 1],
                                 TIER_NAMES)
        return dict(super().trace_counts(spark), rows_evicted=self._evicted(spark),
                    changed_rows=sum(r.real for r in dref.values()),
                    rollup_rows=(dref["1m"].real, dref["1m"].dense))


WORKLOADS = {w.name: w for w in (Backfill, Serve, Refresh)}
