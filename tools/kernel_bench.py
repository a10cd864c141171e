"""Single-core kernel micro-benchmark, apples-to-apples with BASELINE.md.

BASELINE.md measured the reference's exact kernel math on a 480,000-sample
channel (10 s @ 48 kHz, seeded Gaussian noise) — but could not measure the
SciPy-delegated kernels (filtfilt / lfilter / periodogram / Welch / SRS /
spline interp) because SciPy is not installable in this sandbox.  This
engine's kernels are vendored NumPy, so the SAME harness can time the full
surface: the numbers here are what one executor core contributes inside an
``applyInPandas`` task, directly comparable row-for-row with BASELINE.md's
table ("the engine's BENCH harness must measure them at parity time").

Usage: python tools/kernel_bench.py  ->  markdown table on stdout, after
a line naming the CPU and its core count.
"""

from __future__ import annotations

import os
import platform
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pandas_sigproc_spark.kernels import (
    a_weighting,
    butter,
    count_cycles,
    filtfilt,
    interp1d,
    lfilter,
    srs,
    welch_psd,
)
from pandas_sigproc_spark.kernels.rolling import window_sums
from pandas_sigproc_spark.kernels.spectral import periodogram

N = 480_000
FS = 48_000.0
REPS = 7


def best_of(fn, reps=REPS):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return best


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.machine()


def main():
    rng = np.random.default_rng(42)
    t = np.arange(N) / FS
    x = rng.standard_normal(N)

    rows = []

    def add(name, seconds, baseline_ms=None):
        thr = N / seconds / 1e6
        base = f"{baseline_ms} ms" if baseline_ms is not None else "not measured"
        rows.append(
            f"| {name} | {seconds * 1e3:.2f} ms | {thr:,.0f} M samples/s | {base} |"
        )

    # --- rows BASELINE.md measured (reference math, same machine) ---------
    add("rms", best_of(lambda: np.sqrt(np.mean(x * x))), 0.58)
    lo, hi = 2.0, 8.0
    add("between mask", best_of(lambda: x[(t >= lo) & (t <= hi)]), 1.31)
    w = 4800  # mov_rms's arithmetic: dyadic window sums of the squares
    add(
        "mov_rms (0.1 s window)",
        best_of(lambda: np.sqrt(window_sums(x * x, w) / w)),
        14.62,
    )

    def integral():
        return np.concatenate(
            [[0.0], np.cumsum(0.5 * (x[1:] + x[:-1]) * np.diff(t))]
        )

    add("cumulative trapezoid", best_of(integral), 8.84)
    x2 = np.arange(0.0, t[-1], 1.0 / 44100.0)
    add("linear interp -> 44.1 kHz", best_of(lambda: np.interp(x2, t, x)), 2.81)

    # --- rows BASELINE.md could NOT measure (SciPy absent there) ----------
    b, a = butter(2, 500.0 / (FS / 2.0), "lowpass")
    add("filt_butter (filtfilt, order 4 eff.)", best_of(lambda: filtfilt(b, a, x)))
    ba, aa = a_weighting(FS)
    lfilter(ba, aa, x)  # warm the cached impulse response once
    add("filt_a (causal lfilter)", best_of(lambda: lfilter(ba, aa, x)))
    add("periodogram (480k FFT)", best_of(lambda: periodogram(x, FS)))
    add(
        "welch_psd (1 s windows, 50% overlap)",
        best_of(lambda: welch_psd(x, FS, window_length=1.0)),
    )
    srs_n = 48_000  # SRS is per-frequency recursive; 1 s is the unit of work
    t1s, x1s = t[:srs_n], x[:srs_n]
    el = best_of(lambda: srs(t1s, x1s), reps=3)
    rows.append(
        f"| srs (81-freq grid, 48k samples) | {el * 1e3:.2f} ms |"
        f" {srs_n / el / 1e6:,.1f} M samples/s | not measured |"
    )
    rev = np.cumsum(rng.standard_normal(10_000))  # rainflow is per-reversal
    el = best_of(lambda: count_cycles(rev), reps=3)
    rows.append(
        f"| rainflow (10k reversals) | {el * 1e3:.2f} ms |"
        f" {len(rev) / el / 1e6:,.2f} M reversals/s | not measured |"
    )
    el = best_of(lambda: interp1d(t, x, x2, "cubic"), reps=3)
    add("cubic spline interp -> 44.1 kHz", el)

    print(
        f"Single core, best of {REPS} (3 for srs, rainflow and the cubic"
        f" spline) on {_cpu_model()}, {os.cpu_count()} cores.\n"
    )
    print("| Kernel | 480k-sample time | Throughput | BASELINE.md (ref math) |")
    print("|---|---|---|---|")
    for r in rows:
        print(r)


if __name__ == "__main__":
    main()
