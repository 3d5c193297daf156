"""Quick host-state probe (~1 s) embedded in every bench.py emission.

This VM is burst-credit throttled: identical code swings 1.5-2x between an
idle host and one drained by a preceding test battery (see BENCH/BASELINE.md
"Round-4 sf0.1 snapshots" — that round needed a hand-committed calibration
pair to clear a phantom regression). Embedding two platform scalars in the
bench output makes every BENCH_r{N}.json self-calibrating: before reading a
per-query delta as a plan regression, place both snapshots on the host-state
axis first.

Scalars:
- ``mem_gb_s``  — single-process NumPy copy rate over a 64 MB working set
  (memory bandwidth; the resource string-heavy extraction consumes).
- ``alu_mloops_s`` — tight integer-loop rate (CPU scheduling capacity;
  collapses when burst credits are drained).

Interpretation: query walls scale roughly inversely with these. If round
N's probe reads 0.6x of round N-1's, a 1.6x query-wall regression is host
state, not code.
"""

from __future__ import annotations

import time

import numpy as np


def quick_probe(seconds: float = 0.5) -> dict[str, float]:
    """~2*seconds total; returns {'mem_gb_s': ..., 'alu_mloops_s': ...}."""
    a = np.zeros(64 * 1024 * 1024 // 8, dtype=np.int64)
    b = np.empty_like(a)
    for _ in range(3):  # fault both buffers' pages before timing
        np.copyto(b, a)
    def mem_window(win: float) -> float:
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < win:
            np.copyto(b, a)  # fixed buffers: pure stream bandwidth
            n += 1
        return n * a.nbytes * 2 / (time.perf_counter() - t0) / 1e9  # rd+wr

    def alu_window(win: float) -> float:
        t0 = time.perf_counter()
        loops = 0
        while time.perf_counter() - t0 < win:
            x = 0
            for i in range(100_000):
                x += i * i
            loops += 1
        return loops * 0.1 / (time.perf_counter() - t0)

    # best of 3 short windows: the max is the least CPU-stolen window,
    # i.e. the host's current capacity rather than a scheduling accident
    w = seconds / 3
    return {
        "mem_gb_s": round(max(mem_window(w) for _ in range(3)), 2),
        "alu_mloops_s": round(max(alu_window(w) for _ in range(3)), 2),
    }


if __name__ == "__main__":
    import json

    print(json.dumps(quick_probe()))
