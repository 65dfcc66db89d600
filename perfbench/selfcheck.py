"""Self-check of the benchmark itself (``run.py --selfcheck``).

1. Every workload at the tiny size, untraced and traced, must exit 0, pass
   its oracle and print exactly the metrics BENCHMARK.json names.
2. The oracles must catch damage: a backfill whose stored tier value or
   chunk row is corrupted in a copy, and a serve answer with one value
   changed, must each be reported as failed.
3. The trace's wall check must reject spans that overlap or run outside
   their parent, and accept spans that nest.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys


def _run(root: str, workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _metric_problems(root: str) -> list[str]:
    from perfbench import run

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in run.WORKLOAD_NAMES:
        for trace in (0, 1):
            r = _run(root, w, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w} trace={trace}: clean run failed its oracle")
            print(f"selfcheck: {w} trace={trace}: {len(got)} metrics, "
                  f"{r['attempted']} ops ok", flush=True)
    return problems


def _first_file(table_dir: str, pred):
    import pyarrow.parquet as pq

    for d, _, files in sorted(os.walk(table_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f))
                if pred(t):
                    return os.path.join(d, f), t
    raise FileNotFoundError(f"no matching parquet file under {table_dir}")


def _rewrite(path: str, table) -> None:
    """Overwrite a parquet file the way Spark wrote it (INT96 timestamps),
    dropping its stale checksum file."""
    import pyarrow.parquet as pq

    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _bump_value(out: str) -> None:
    """+1 on the turn_count of one real tier_1h row."""
    import pyarrow as pa

    path, t = _first_file(os.path.join(out, "tier_1h"),
                          lambda t: False in t.column("gap_filled").to_pylist())
    i = t.column("gap_filled").to_pylist().index(False)
    vals = t.column("turn_count").to_pylist()
    vals[i] += 1
    col = t.schema.get_field_index("turn_count")
    _rewrite(path, t.set_column(col, t.schema.field(col), pa.array(vals, pa.int64())))


def _drop_chunk(out: str) -> None:
    """Remove one row of the chunk table."""
    path, t = _first_file(os.path.join(out, "chunks_1m"), lambda t: t.num_rows > 0)
    _rewrite(path, t.slice(0, t.num_rows - 1))


def _oracle_problems(root: str) -> list[str]:
    from perfbench import oracle, run
    from perfbench.workloads import Backfill, Serve

    work = os.path.join(run.WORK, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    run.configure_env(work)
    spark = run.start_session(work)
    problems = []
    try:
        wl = Backfill(os.path.join(work, "backfill"), seed=7, size="tiny")
        wl.setup(spark)
        wl.job(spark)
        if wl.check(spark):
            problems.append("clean backfill output failed its oracle")
        good = wl.out
        for what, corrupt in (("tier value", _bump_value), ("chunk row", _drop_chunk)):
            wl.out = f"{good}-{what.replace(' ', '-')}"
            shutil.copytree(good, wl.out)
            corrupt(wl.out)
            caught = wl.check(spark)
            print(f"selfcheck: corrupted {what}: {caught or 'NOT caught'}", flush=True)
            if not caught:
                problems.append(f"a corrupted {what} passed the backfill oracle")

        sv = Serve(os.path.join(work, "serve"), seed=7, size="tiny")
        sv.setup(spark)
        for kind, arg, want in sv.requests:   # a range request with rows
            rows = [tuple(r) for r in sv.request(spark, kind, arg)] if kind == "range" else []
            if rows:
                break
        if oracle.digest(rows) != want:
            problems.append("a clean serve answer failed its oracle")
        bad = [(rows[0][0], rows[0][1] + 1, *rows[0][2:])] + rows[1:]
        caught = oracle.digest(bad) != want
        print(f"selfcheck: corrupted serve answer caught: {caught}", flush=True)
        if not caught:
            problems.append("a corrupted serve answer passed the oracle")
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return problems


def _wall_check_problems() -> list[str]:
    from perfbench import trace

    # [name, parent, t0, t1]; span 0 is the traced job
    nested = [["job", None, 0.0, 10.0], ["a", 0, 1.0, 4.0], ["b", 0, 5.0, 9.0],
              ["a.x", 1, 2.0, 3.0]]
    cases = {"nested": (nested, False),
             "overlapping": ([*nested[:2], ["b", 0, 3.0, 9.0], nested[3]], True),
             "escaping": ([*nested[:3], ["a.x", 1, 3.0, 4.5]], True)}
    problems = []
    for name, (spans, should_fail) in cases.items():
        found = trace.wall_problems(spans, 0)
        print(f"selfcheck: {name} spans: {found or 'accepted'}", flush=True)
        if bool(found) != should_fail:
            problems.append(f"the wall check {'accepted' if should_fail else 'rejected'} "
                            f"{name} spans")
    return problems


def main(root: str) -> int:
    problems = _wall_check_problems() + _oracle_problems(root) + _metric_problems(root)
    for p in problems:
        print(f"selfcheck: FAILED: {p}", file=sys.stderr)
    print("selfcheck: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0
