"""Engine benchmark: backfill, serve and refresh on a local Spark session.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 [--trace 1]  # a table of every workload
    python3 perfbench/run.py --selfcheck                          # tiny-size self test

Run from the repository root. One process generates the seeded
inputs, sets up the workload's tables and warms up (untimed), then
repeats the workload's job until ``--seconds`` of job wall time have
passed and at least the workload's minimum number of jobs has run,
checking each job's output against an oracle (untimed). The last
stdout line is the result JSON; ``failed``/``attempted`` in it is the
share of jobs or requests that raised or failed their oracle. The line
before it (``perfbench-info``) records the run's configuration, the job
walls, each request kind's latencies and ``ops_failed_frac``.

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, each defined for every workload by the workload's job and
request unit (see workloads.py):

* ``setup_s``: session start, input generation, the oracle's reference,
  prerequisite tables and the warm-up (see ``Workload.warm_up``);
* ``job_s``: median job wall; ``turns_per_s``: input turns over ``job_s``;
* ``query_p50_ms``/``query_tail_ms``: latency of a request, which is a
  serve request or a backfill/refresh bucket: the median over all of a
  run's requests, and the median over jobs of each job's slowest request;
* ``peak_rss_mb``: peak summed RSS of the Spark JVM and its Python
  workers while jobs run;
* ``stored_bytes_per_turn``: data bytes of the workload's tables over input
  turns.

With ``--trace 1`` the session writes Spark's event log, and the measured
jobs are followed by one more untraced job and one job with spans around
the engine entry points; the metrics are the per-layer table of that job
(trace.py), which includes the traced minus the untraced job wall.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: Session sizing: a bounded heap keeps peak RSS steady and fits a small host.
HEAP = "2g"
YOUNG = "512m"
BLAS_THREADS = "1"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
#: workloads.WORKLOADS' names; workloads.py imports numpy, which must load
#: after configure_env has pinned its threads
WORKLOAD_NAMES = ("backfill", "serve", "refresh")
UNITS = {"setup_s": "s", "turns_per_s": "1/s", "job_s": "s", "query_p50_ms": "ms",
         "query_tail_ms": "ms", "peak_rss_mb": "MB", "stored_bytes_per_turn": "B"}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Process env, set before pyspark or numpy load: fixed BLAS threads
    (kernel output depends on them), temp files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in BLAS_VARS:
        os.environ[k] = BLAS_THREADS
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, event_log: str | None = None):
    from yatsm_spark.conf import get_spark

    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and young generation: the collector then neither
        # resizes the heap nor touches more eden pages depending on pause
        # times, and RSS follows the pages the engine's live data needs
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{HEAP} -Xmn{YOUNG}"),
    }
    for k in BLAS_VARS:
        confs[f"spark.executorEnv.{k}"] = BLAS_THREADS
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_log,
                      "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", master=f"local[{host_cores()}]",
                     extra_confs=confs)


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process in /proc."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        end = stat.rindex(")")
        procs[int(d)] = (int(stat[end + 2:].split()[1]), stat[stat.index("(") + 1:end])
    return procs


def _descendants(procs: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _descendants(_process_table(), os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def settle(spark) -> None:
    """Untimed, before a measured job: a full collection in the JVM, so
    every job starts from the same heap and the previous job's shuffle
    files and cached blocks are cleaned before, not during, it."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


class PeakRss:
    """Peak summed RSS of the Spark JVM and its Python workers, sampled
    from /proc every 50 ms, and the peak of each part."""

    def __init__(self):
        self.peak_kb = 0
        self.part_kb = {"java": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _sample() -> dict[str, int]:
        """Summed VmRSS of the JVM and of the Python processes under this
        one. A short-lived fork of the JVM (Hadoop runs shell commands)
        would count the parent's pages a second time, so it is left out."""
        procs = _process_table()
        total = {"java": 0, "python": 0}
        for pid in _descendants(procs, os.getpid()):
            ppid, comm = procs[pid]
            parent = procs.get(ppid, (0, ""))[1]
            part = ("python" if comm.startswith("python") else
                    "java" if comm == "java" and parent != "java" else None)
            if part is None:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total[part] += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            sample = self._sample()
            self.peak_kb = max(self.peak_kb, sum(sample.values()))
            for k, v in sample.items():
                self.part_kb[k] = max(self.part_kb[k], v)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def by_label(jobs) -> dict[str, list[int]]:
    """Each request label's latencies in ms, in the order they ran."""
    out: dict[str, list[int]] = {}
    for j in jobs:
        for label, ms in zip(j.labels, j.latencies_ms):
            out.setdefault(label, []).append(round(ms))
    return out


def tail_ms(jobs) -> float:
    """The median over jobs of each job's slowest request. The issue's
    tail, the highest percentile with at least ten samples beyond it, lies
    below the median at the 15-25 requests a run has; the maximum of them
    moves with a single stall."""
    return statistics.median(max(j.latencies_ms) for j in jobs)


def run_workload(args) -> int:
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    from perfbench.workloads import WORKLOADS

    t_setup = time.perf_counter()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, event_log=log_dir)
    session_s = time.perf_counter() - t_setup
    wl = WORKLOADS[args.workload](work, args.seed, args.size)
    attempted = failed = 0
    errors: list[str] = []

    def record(j):
        """Check the job's output against the oracle and count its ops."""
        nonlocal attempted, failed
        bad = wl.check(spark)
        attempted += j.attempted
        failed += j.failed + (1 if bad and not j.failed else 0)
        errors.extend(j.errors + bad)

    try:
        wl.setup(spark)
        with wl.phase("warm_up"):
            wl.warm_up(spark)
        setup_s = time.perf_counter() - t_setup
        jobs = []
        with PeakRss() as rss:
            # measured time is job wall only; the oracle checks are untimed
            while len(jobs) < wl.min_jobs or sum(j.wall_s for j in jobs) < args.seconds:
                settle(spark)
                jobs.append(wl.job(spark))
                record(jobs[-1])
        stored = wl.stored_bytes()
        if args.trace:
            settle(spark)
            untraced = wl.job(spark)
            record(untraced)
            settle(spark)
            traced = trace_job(spark, wl, untraced.wall_s, session_s)
    finally:
        stop_jvm(spark)
    if args.trace:   # the event log is complete once the session has stopped
        from perfbench import trace

        metrics = trace.layer_table(log_dir, *traced)
    for e in errors:
        print(f"perfbench: FAILED: {e}", file=sys.stderr)

    lat = [x for j in jobs for x in j.latencies_ms]
    job_s = statistics.median(j.wall_s for j in jobs)
    e2e = {"setup_s": setup_s, "turns_per_s": wl.turns / job_s, "job_s": job_s,
           "query_p50_ms": statistics.median(lat), "query_tail_ms": tail_ms(jobs),
           "peak_rss_mb": rss.peak_kb / 1024.0,
           "stored_bytes_per_turn": stored / wl.turns}
    info = {"perfbench-info": args.workload, "seed": args.seed, "size": args.size,
            "convs": wl.convs, "max_turns": wl.size["max_turns"],
            "turns": wl.turns, "buckets": wl.buckets,
            "master": f"local[{host_cores()}]", "heap": HEAP, "host_cores": os.cpu_count(),
            "blas_threads": int(BLAS_THREADS), "job_walls_s": [round(j.wall_s, 3) for j in jobs],
            "requests": len(lat), "latency_ms_by_label": by_label(jobs),
            "query_tail": "median over jobs of the slowest request of a job",
            "ops_failed_frac": failed / max(1, attempted),
            "session_start_s": session_s,
            "peak_rss_part_mb": {k: round(v / 1024.0) for k, v in rss.part_kb.items()},
            "setup_phases_s": {k: round(v, 3) for k, v in wl.phases.items()}}
    units = dict(UNITS)
    if args.trace:
        from perfbench.trace import metric_units

        info["end_to_end"] = e2e
        units.update(metric_units())
    else:
        metrics = e2e
    print(json.dumps(info))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def trace_job(spark, wl, untraced_s, session_s):
    """One job with spans on, right after an untraced one on the same
    session (which writes the event log throughout). Returns what
    ``trace.layer_table`` needs besides the log."""
    from perfbench import trace

    tracer = trace.Tracer(spark)
    with trace.patched(tracer):
        with tracer.span("pipeline.job") as root:
            j = wl.job(spark, tracer)
    root_id = tracer.spans.index(root)
    if wl.name == "backfill":
        trace.add_bucket_spans(tracer, root_id)
    bad = j.errors + wl.check(spark)
    if bad:
        raise RuntimeError(f"traced job failed its oracle: {bad}")
    ctx = dict(wl.trace_counts(spark), session_start_s=session_s,
               overhead_s=j.wall_s - untraced_s)
    return tracer, root_id, ctx


def run_all(args) -> int:
    """Each workload in its own process; a table of every metric."""
    rows = {}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(p.stderr[-4000:], file=sys.stderr)
            print(f"perfbench: workload {w} exited {p.returncode}", file=sys.stderr)
            return 1
        rows[w] = (json.loads(lines[-2]), json.loads(lines[-1]))
        print(lines[-2])
        print(lines[-1])
    units = {m: v["unit"] for _, r in rows.values() for m, v in r["metrics"].items()}
    units["ops_failed_frac"] = "frac"
    print(f"{'metric [unit]':48s}" + "".join(f"{w:>16s}" for w in rows))
    for m in units:
        cells = []
        for info, r in rows.values():
            v = info[m] if m == "ops_failed_frac" else r["metrics"][m]["value"]
            cells.append(f"{v:16.6g}")
        print(f"{m + ' [' + units[m] + ']':48s}" + "".join(cells))
    ok = all(r["correct"] for _, r in rows.values())
    print(json.dumps({"correct": ok, "workloads": {w: r for w, (_, r) in rows.items()}}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "yatsm_spark")):
        print(f"perfbench: no yatsm_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.selfcheck:
        from perfbench import selfcheck
        return selfcheck.main(ROOT)
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    try:
        return run_workload(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
