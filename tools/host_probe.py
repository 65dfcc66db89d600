"""Host-weather probe: single-thread AND parallel memory bandwidth.

bench.py's probe gate (round 5) is single-threaded; round 6 found a
second host degradation mode it cannot see: the sandbox host sometimes
throttles PARALLEL bandwidth (16-thread aggregate ~11 GB/s, ~0.6
GB/s/thread) while the single-thread probe still reads healthy
(~15 GB/s cache-resident).  In that mode Arrow/numpy-streaming bench
lines (gorilla_encode, segments_ccdc) ran up to 5x slow on identical
code (BENCH/bench_r06_run7.json vs run4).  bench.py is FROZEN for
measurement, so the parallel probe lives here; run it next to any
suspicious bench number.

Usage: python tools/host_probe.py [n_threads]   (default 16)
Prints one JSON line:
  {"st_cache_gbs": .., "st_dram_gbs": .., "par_threads": N,
   "par_agg_gbs": .., "par_per_thread_gbs": ..}
Each pass computes x * 1.5 + 2.0 into a preallocated buffer in two ufunc
sweeps (multiply into buf, add in place), so the figures count the bytes
those sweeps really move: read x + write buf + read buf + write buf, 32 B
per element. Parallel threads allocate first and start their timed
windows together at a barrier, so par_agg_gbs is a concurrent aggregate.
Healthy anchors from the 32-core round-6 host, measured before both fixes
with a formula counting 16 B per element: st_cache 10-15+, st_dram 5.5+,
par_agg well above ~25 (degraded windows measured ~11).
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


_BYTES_PER_ELEM = 8 * 4  # read x, write buf, read buf, write buf


def _pass(x: np.ndarray, buf: np.ndarray) -> None:
    np.multiply(x, 1.5, out=buf)
    buf += 2.0


def _bw(n: int) -> float:
    x = np.random.rand(n)
    buf = np.empty_like(x)
    outs = []
    for _ in range(3):
        t0 = time.time()
        _pass(x, buf)
        outs.append(n * _BYTES_PER_ELEM / (time.time() - t0) / 1e9)
    return round(statistics.median(outs), 2)


def _par(n_threads: int) -> tuple[float, float]:
    start = threading.Barrier(n_threads)

    def work(_):
        x = np.random.rand(8_000_000)
        buf = np.empty_like(x)
        start.wait()
        t0 = time.time()
        for _ in range(3):
            _pass(x, buf)
        return 8_000_000 * _BYTES_PER_ELEM * 3 / (time.time() - t0) / 1e9

    with ThreadPoolExecutor(n_threads) as ex:
        outs = sorted(ex.map(work, range(n_threads)))
    return round(sum(outs), 1), round(outs[len(outs) // 2], 2)


def main() -> None:
    n_threads = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    _bw(1_000_000)  # allocator/page-fault warm-up (same as bench.py)
    st_cache = _bw(1_000_000)
    st_dram = _bw(30_000_000)
    agg, per = _par(n_threads)
    print(json.dumps({"st_cache_gbs": st_cache, "st_dram_gbs": st_dram,
                      "par_threads": n_threads, "par_agg_gbs": agg,
                      "par_per_thread_gbs": per}))


if __name__ == "__main__":
    main()
