"""Honest pages-generator speedup measurement (noisy-VM protocol:
interleave variants round-robin, take the min per variant — see
BASELINE.md measurement notes).

Usage: python tools/bench_pagegen.py [n_docs] [rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from isimip_qa_spark.sources.pages import _text_for, _texts_vec

    loop_n = max(n // 10, 1)  # the loop is slow; time a slice, scale up
    t_vec, t_loop = [], []
    for _ in range(rounds):
        t0 = time.time()
        _texts_vec(np.arange(n))
        t_vec.append(time.time() - t0)
        t0 = time.time()
        for i in range(loop_n):
            _text_for(i)
        t_loop.append((time.time() - t0) * (n / loop_n))
    v, l = min(t_vec), min(t_loop)
    print(
        f"n={n} rounds={rounds} vectorized={v:.2f}s per-id-loop={l:.2f}s "
        f"speedup={l / v:.1f}x (min-of-{rounds}, interleaved)"
    )


if __name__ == "__main__":
    main()
