"""Spans around engine calls and a per-layer table from Spark's event log.

Spans are recorded in memory, by code that lives here and in the workloads,
not in the engine. ``patched(tracer)`` swaps the entry points
``pipeline.run_pipeline`` goes through (``ParquetStorage.write`` and
``write_bucket`` per table, ``CheckpointManager.is_done`` and ``commit``,
the input fingerprint) for wrappers that open a span; the serve workload
opens one span per request around the ``route_range`` or ``Engine`` call
and the collect that runs it. Each Spark job started inside a span carries
the span id as a thread-local Spark property.

``layer_table`` then reads the uncompressed event log of the traced
session and folds task metrics and SQL metrics into layers:

* a stage belongs to the layer of the first rule that matches it: the
  Python UDF it runs (by function name), the serve span its job ran in,
  the aggregate or window operators it updated, the table its write span
  wrote; everything else is ``storage``;
* wall-time metrics come from the spans themselves, and the job wall not
  covered by any span is ``pipeline.unattributed_s``; ``wall_problems``
  checks that the spans nest and, with it, account for the job wall.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

#: Tables the pipeline writes, in write order (storage.* metric names).
TABLES = ("staging_measures", "tier_1m", "tier_1h", "tier_1d", "segments",
          "chunks_1m")

PY_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "FlatMapGroupsInArrow",
            "MapInArrow", "ArrowEvalPython", "BatchEvalPython")
#: Python UDF function name -> layer.
UDF_LAYER = {"fit_conv": "changescore", "enc": "codec.encode",
             "dec": "codec.decode", "compact": "codec.compact"}
PY_FIELDS = {"time to start Python workers": "python_start_s",
             "time to initialize Python workers": "python_init_s",
             "time to run Python workers": "python_run_s",
             "data sent to Python workers": "arrow_bytes_to_py",
             "data returned from Python workers": "arrow_bytes_from_py"}
TASK_LAYERS = ("ingest", "rollup", "cascade", "changescore", "codec.encode",
               "codec.decode", "codec.compact", "retention", "routing", "api",
               "pipeline", "storage")


def metric_units() -> dict[str, str]:
    """Every per-layer metric ``layer_table`` reports, with its unit."""
    units: dict[str, str] = {}

    def add(unit, *names):
        units.update((n, unit) for n in names)

    add("count", "pipeline.spark_jobs")
    add("ratio", "pipeline.jobs_per_bucket")
    add("s", "pipeline.bucket_s_p50", "pipeline.bucket_s_max", "pipeline.fingerprint_s",
        "pipeline.driver_idle_s", "pipeline.unattributed_s")
    add("ms", "checkpoint.commit_ms")
    add("s", "ingest.task_s")
    add("B", "ingest.bytes_read")
    for t in TABLES:
        add("s", f"storage.write_s.{t}")
        add("B", f"storage.bytes_written.{t}")
    add("count", "storage.files_written")
    add("s", "rollup.task_s")
    add("B", "rollup.shuffle_bytes", "rollup.spill_bytes")
    add("count", "rollup.sparse_rows")
    add("ratio", "rollup.dense_per_sparse")
    add("s", "cascade.task_s")
    add("B", "cascade.shuffle_bytes")
    add("ratio", "cascade.merge_rows_per_changed_row")
    for prefix in ("changescore.", "codec.encode_"):
        add("s", *(prefix + f for f in ("task_s", "python_start_s", "python_init_s",
                                        "python_run_s")))
        add("B", prefix + "arrow_bytes_to_py", prefix + "arrow_bytes_from_py")
        add("ratio", prefix + "task_skew")
        add("us", prefix + "us_per_point")
    add("B", "codec.bytes_per_point")
    add("s", "codec.decode_s", "codec.compact_s")
    add("count", "codec.chunks_scanned")
    add("s", "retention.task_s")
    add("count", "retention.rows_evicted")
    add("ms", "routing.plan_ms")
    add("ratio", "routing.rows_scanned_per_result_row")
    add("count", "routing.files_read")
    add("ms", "api.snapshot_ms", "api.changemap_ms")
    add("s", "conf.session_start_s")
    add("s", *(f"{layer}.gc_s" for layer in TASK_LAYERS))
    add("s", "trace.overhead_s")
    return units


class Tracer:
    """In-memory span recorder. A span is [name, parent_id, t0, t1] in
    epoch seconds; its id is its index."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self.stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = [name, self.stack[-1] if self.stack else None, time.time(), None]
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec[3] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(self.stack[-1]) if self.stack else None)


def add_bucket_spans(tracer: Tracer, root: int) -> None:
    """Derive ``pipeline.bucket`` spans for a ``run_pipeline`` call: a
    bucket starts when its input fingerprint is taken and ends when its
    manifest commits. Spans in that window move under it, and
    ``layer_table`` moves the root's own jobs in it there too."""
    spans = tracer.spans
    kids = [i for i, s in enumerate(spans) if s[1] == root]
    start = None
    for i in kids:
        name = spans[i][0]
        if name == "pipeline.fingerprint":
            start = spans[i][2]
        elif name == "checkpoint.commit.bucket" and start is not None:
            bid = len(spans)
            spans.append(["pipeline.bucket", root, start, spans[i][3], "derived"])
            for k in kids:
                if start <= spans[k][2] and spans[k][3] <= spans[i][3]:
                    spans[k][1] = bid
            start = None


def _wrap(tracer: Tracer, fn, name):
    """fn wrapped in a span; name is a string or a callable of the args."""
    def wrapper(*args, **kw):
        label = name(*args, **kw) if callable(name) else name
        with tracer.span(label):
            return fn(*args, **kw)
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Wrap the engine entry points in spans for the duration of the block."""
    from yatsm_spark import pipeline
    from yatsm_spark.checkpoint import CheckpointManager
    from yatsm_spark.sources.storage import ParquetStorage

    targets = [
        (ParquetStorage, "write",
         lambda self, df, table, *a, **k: f"storage.write.{table}"),
        (ParquetStorage, "write_bucket",
         lambda self, df, table, *a, **k: f"storage.write.{table}"),
        (CheckpointManager, "is_done", "checkpoint.is_done"),
        (CheckpointManager, "commit",
         lambda self, stage, bucket, *a, **k: f"checkpoint.commit.{stage}"),
        (pipeline, "_input_fingerprint", "pipeline.fingerprint"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for (obj, attr, name), (_, _, fn) in zip(targets, saved):
            setattr(obj, attr, _wrap(tracer, fn, name))
        yield tracer
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """The parts of one application's event log the layer table needs."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        #: job id -> submit time, span id, stage ids, SQL execution id
        self.jobs: dict[int, dict] = {}
        #: stage id -> task records
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        #: SQL accumulator id -> (plan node name, node string, metric name)
        self.acc_node: dict[int, tuple[str, str, str]] = {}
        #: SQL execution id -> driver-side metric updates [(acc id, value)]
        self.driver_accums: dict[int, list] = defaultdict(list)
        for fn in files:
            with open(fn) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (
                info["nodeName"].strip(), info["simpleString"], m["name"])
        for c in info.get("children", []):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span, ex = props.get(SPAN_PROP), props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "span": int(span) if span is not None else None,
                "stages": e["Stage IDs"],
                "exec": int(ex) if ex is not None else None}
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks[e["Stage ID"]].append({
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "accums": [(a["ID"], _num(a.get("Update")))
                           for a in info.get("Accumulables", [])
                           if a.get("Metadata") == "sql"],
            })
        elif "sparkPlanInfo" in e:
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self.driver_accums[e["executionId"]].extend(
                (a, _num(v)) for a, v in e["accumUpdates"])

    def nodes(self, stage: int) -> set:
        """(node name, node string) of every plan node the stage updated."""
        return {self.acc_node[a][:2] for t in self.tasks[stage] for a, _ in t["accums"]
                if a in self.acc_node}

    def task_metric(self, stages, node_name: str, metric: str) -> float:
        """Sum of one SQL metric of one node kind over the stages' tasks."""
        total = 0.0
        for s in stages:
            for t in self.tasks[s]:
                for a, v in t["accums"]:
                    node = self.acc_node.get(a)
                    if node and node[0].startswith(node_name) and node[2] == metric:
                        total += v
        return total

    def driver_metric(self, execs, metric: str) -> float:
        """Sum of one driver-side SQL metric over SQL executions."""
        return sum(v for ex in execs for a, v in self.driver_accums.get(ex, ())
                   if a in self.acc_node and self.acc_node[a][2] == metric)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _covered(intervals, lo, hi) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _under(spans, sid, root) -> bool:
    while sid is not None and sid != root:
        sid = spans[sid][1]
    return sid == root


def unattributed_s(spans, root) -> float:
    """Wall of span ``root`` that no span below it covers."""
    lo, hi = spans[root][2], spans[root][3]
    below = [(s[2], s[3]) for i, s in enumerate(spans) if i != root and _under(spans, i, root)]
    return (hi - lo) - _covered(below, lo, hi)


def wall_problems(spans, root, tol=0.01) -> list[str]:
    """Ways the spans below ``root`` fail to account for its wall: a span
    that runs outside its parent, or root children whose walls plus
    ``unattributed_s`` differ from the root's wall by more than ``tol`` of
    it (children that overlap count their shared time twice)."""
    eps = 1e-3
    bad = [f"span {i} {s[0]} [{s[2]:.3f}, {s[3]:.3f}] runs outside its parent "
           f"{spans[s[1]][0]} [{spans[s[1]][2]:.3f}, {spans[s[1]][3]:.3f}]"
           for i, s in enumerate(spans) if i != root and _under(spans, i, root)
           and (s[2] < spans[s[1]][2] - eps or s[3] > spans[s[1]][3] + eps)]
    wall = spans[root][3] - spans[root][2]
    kids = sum(s[3] - s[2] for s in spans if s[1] == root)
    accounted = (kids + unattributed_s(spans, root)) / wall
    if abs(accounted - 1.0) > tol:
        bad.append(f"root children plus unattributed time are {accounted:.4f} of the wall")
    return bad


def _stage_layer(nodes, span_name: str) -> str:
    """The layer a stage's task time belongs to (first matching rule)."""
    for name, text in nodes:
        if name in PY_NODES:
            return next((layer for fn, layer in UDF_LAYER.items()
                         if re.search(rf"[ ,]{fn}\(", text)), "pipeline")
    for prefix in ("routing", "api"):
        if span_name.startswith(prefix):
            return prefix
    text = " ".join(s for _, s in nodes)
    if "bit_xor(xxhash64" in text:
        return "pipeline"             # the input fingerprint
    if "max(window_start" in text:
        return "retention"            # watermark and per-conv age
    if "count(1)" in text and "token_len" in text:
        return "rollup"               # turns -> 1m moments
    if "sum(turn_count" in text:
        return "cascade"              # cascade and merge_rollups
    if any(n == "Generate" for n, _ in nodes):
        return "rollup"               # gap-fill's sequence/explode
    if span_name == "storage.write.staging_measures":
        return "ingest"
    return "storage"


def layer_table(log_dir: str, tracer: Tracer, root: int, ctx: dict) -> dict:
    """Per-layer metrics of the traced job under span ``root``.

    ``ctx`` carries what the log cannot know: ``buckets``, ``points``
    (dense 1m slots the kernels processed), ``rollup_rows`` (sparse and
    dense 1m rows), ``changed_rows`` (tier rows a refresh delta touches),
    ``rows_evicted``, ``result_rows`` (rows the range requests returned),
    ``session_start_s`` and ``overhead_s``.
    """
    spans = tracer.spans
    bad = wall_problems(spans, root)
    if bad:
        raise RuntimeError("spans do not account for the traced wall: " + "; ".join(bad))
    log = EventLog(log_dir)

    def within(sid, name):
        """The nearest enclosing span of that name, or None."""
        while sid is not None and spans[sid][0] != name:
            sid = spans[sid][1]
        return sid

    jobs = [d for d in log.jobs.values()
            if d["span"] is not None and _under(spans, d["span"], root)]
    derived = [i for i, sp in enumerate(spans) if len(sp) > 4]
    for d in jobs:   # the root's own jobs inside a derived bucket span move there
        for i in derived:
            if spans[i][1] == d["span"] and spans[i][2] <= d["submit"] <= spans[i][3]:
                d["span"] = i
    stage_span = {s: spans[d["span"]][0] for d in jobs for s in d["stages"] if log.tasks.get(s)}
    wall = spans[root][3] - spans[root][2]
    out: dict[str, float] = {}

    # -- task time by layer ------------------------------------------------
    layer_stages: dict[str, list[int]] = defaultdict(list)
    for s, name in stage_span.items():
        layer_stages[_stage_layer(log.nodes(s), name)].append(s)

    def tsum(layer, key):
        return sum(t[key] for s in layer_stages.get(layer, ()) for t in log.tasks[s])

    points = ctx.get("points", 0)

    def py_split(layer, prefix):
        stages = layer_stages.get(layer, ())
        runs = [t["run_s"] for s in stages for t in log.tasks[s]]
        out[f"{prefix}task_s"] = sum(runs)
        for metric, field in PY_FIELDS.items():
            v = sum(log.task_metric(stages, n, metric) for n in PY_NODES)
            out[f"{prefix}{field}"] = v / 1000.0 if field.endswith("_s") else v
        med = _median(runs)
        out[f"{prefix}task_skew"] = max(runs) / med if med > 0 else 0.0
        out[f"{prefix}us_per_point"] = (out[f"{prefix}python_run_s"] * 1e6 / points
                                        if points and stages else 0.0)

    out["ingest.task_s"] = tsum("ingest", "run_s")
    out["ingest.bytes_read"] = tsum("ingest", "bytes_read")
    out["rollup.task_s"] = tsum("rollup", "run_s")
    out["rollup.shuffle_bytes"] = tsum("rollup", "shuffle_write")
    out["rollup.spill_bytes"] = tsum("rollup", "spill")
    sparse, dense = ctx.get("rollup_rows", (0, 0))
    out["rollup.sparse_rows"] = sparse
    out["rollup.dense_per_sparse"] = dense / sparse if sparse else 0.0
    out["cascade.task_s"] = tsum("cascade", "run_s")
    out["cascade.shuffle_bytes"] = tsum("cascade", "shuffle_write")
    py_split("changescore", "changescore.")
    py_split("codec.encode", "codec.encode_")
    out["codec.decode_s"] = tsum("codec.decode", "run_s")
    out["codec.compact_s"] = tsum("codec.compact", "run_s")
    out["codec.chunks_scanned"] = log.task_metric(
        layer_stages.get("codec.decode", ()), "Scan parquet", "number of output rows")
    out["retention.task_s"] = tsum("retention", "run_s")
    out["retention.rows_evicted"] = ctx.get("rows_evicted", 0)
    for layer in TASK_LAYERS:
        out[f"{layer}.gc_s"] = tsum(layer, "gc_s")

    # -- writes, from the write spans and their SQL executions ---------------
    execs: dict[str, set] = defaultdict(set)
    for d in jobs:
        if d["exec"] is not None:
            execs[spans[d["span"]][0]].add(d["exec"])
    files = 0.0
    for table in TABLES:
        name = f"storage.write.{table}"
        out[f"storage.write_s.{table}"] = sum(s[3] - s[2] for s in spans if s[0] == name)
        out[f"storage.bytes_written.{table}"] = log.driver_metric(execs[name], "written output")
        files += log.driver_metric(execs[name], "number of written files")
    out["storage.files_written"] = files
    out["codec.bytes_per_point"] = (out["storage.bytes_written.chunks_1m"] / points
                                    if points else 0.0)
    rewritten = sum(log.driver_metric(execs[f"storage.write.tier_{t}"], "number of output rows")
                    for t in ("1m", "1h", "1d"))
    changed = ctx.get("changed_rows", 0)
    out["cascade.merge_rows_per_changed_row"] = rewritten / changed if changed else 0.0

    # -- serve requests ------------------------------------------------------
    routes = [i for i, s in enumerate(spans) if s[0] == "routing.route_range"]
    first_job: dict[int, float] = {}
    for d in jobs:
        r = within(d["span"], "routing.route_range")
        if r is not None:
            first_job[r] = min(first_job.get(r, d["submit"]), d["submit"])
    out["routing.plan_ms"] = _median([(first_job[i] - spans[i][2]) * 1000
                                      for i in routes if i in first_job])
    route_stages = [s for s, name in stage_span.items() if name == "routing.route_range"]
    scanned = log.task_metric(route_stages, "Scan parquet", "number of output rows")
    res_rows = ctx.get("result_rows", 0)
    out["routing.rows_scanned_per_result_row"] = scanned / res_rows if res_rows else 0.0
    out["routing.files_read"] = log.driver_metric(execs["routing.route_range"],
                                                  "number of files read")
    out["api.snapshot_ms"] = _median([(s[3] - s[2]) * 1000 for s in spans
                                      if s[0] == "api.snapshot_at"])
    out["api.changemap_ms"] = _median([(s[3] - s[2]) * 1000 for s in spans
                                       if s[0] == "api.changemap"])

    # -- job-level wall accounting -------------------------------------------
    out["pipeline.spark_jobs"] = len(jobs)
    out["pipeline.jobs_per_bucket"] = len(jobs) / max(1, ctx.get("buckets", 1))
    bucket_s = [s[3] - s[2] for s in spans if s[0] == "pipeline.bucket"]
    out["pipeline.bucket_s_p50"] = _median(bucket_s)
    out["pipeline.bucket_s_max"] = max(bucket_s, default=0.0)
    out["pipeline.fingerprint_s"] = sum(s[3] - s[2] for s in spans
                                        if s[0] == "pipeline.fingerprint")
    out["checkpoint.commit_ms"] = sum((s[3] - s[2]) * 1000 for s in spans
                                      if s[0].startswith("checkpoint."))
    busy = [(t["launch"], t["finish"]) for s in stage_span for t in log.tasks[s]]
    out["pipeline.driver_idle_s"] = wall - _covered(busy, spans[root][2], spans[root][3])
    out["pipeline.unattributed_s"] = unattributed_s(spans, root)
    out["trace.overhead_s"] = ctx.get("overhead_s", 0.0)
    out["conf.session_start_s"] = ctx.get("session_start_s", 0.0)
    units = metric_units()
    if set(out) != set(units):
        raise KeyError(f"per-layer metrics differ from metric_units(): "
                       f"{sorted(set(out) ^ set(units))}")
    return {k: out[k] for k in units}
