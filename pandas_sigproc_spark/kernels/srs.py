"""Shock response spectrum (SRS) via Smallwood's ramp-invariant recursion.

Computes, for each natural frequency on an octave-spaced grid, the peak
absolute acceleration of a single-degree-of-freedom oscillator driven by
the input record — the maximax SRS.  Coefficient formulas are from the
published Smallwood paper ("An Improved Recursive Formula for Calculating
Shock Response Spectra", Sandia; see also vibrationdata.com/ramp_invariant),
the same source the reference cites (``tools.py:315-317``).

Reference behavior being matched (``tools.py:304-376``,
``extension.py:627-662``):

- default grid 10 -> 1000 Hz at 1/12-octave steps (``tools.py:379-413``);
- damping ``zeta = 1 / (2 Q)``, default Q = 50;
- sample interval taken as ``mean(diff(time))``;
- per-frequency digital filter ``(b, a)`` applied causally; the reported
  envelope is ``max(max(y), |min(y)|)`` per frequency.

Unlike the reference's serial Python loop over frequencies
(``tools.py:371-374``), one recursion (:func:`srs_multi`) runs every
(channel, frequency) pair of a call at once: the order-2 step is a
handful of NumPy operations over one flat vector, so the Python-level
loop is over samples only, shared by every channel and frequency.
"""

from __future__ import annotations

import numpy as np

# Bytes of input expanded to the flat (channel x frequency) vector at a
# time: the recursion reads one expanded row per sample, and a block of
# rows bounds the copy whatever the channel count, grid size and length.
_BLOCK_BYTES = 1 << 22


def build_freq_array(
    fn_start: float = 10.0, fn_end: float = 1000.0, oct_step_size: float = 1.0 / 12.0
) -> np.ndarray:
    """Octave-spaced natural-frequency grid.

    Multiplicative ladder ``f_{k+1} = f_k * 2^step`` from ``fn_start`` until
    the first point exceeding ``fn_end`` (inclusive of that point), matching
    the reference's loop-with-break construction (``tools.py:404-410``)
    including its quirk of keeping the first point past ``fn_end``.
    """
    out = [fn_start]
    f = fn_start
    limit = int(fn_end - fn_start)
    for _ in range(limit):
        f = f * 2.0 ** oct_step_size
        out.append(f)
        if f > fn_end:
            break
    return np.asarray(out, dtype=np.float64)


def smallwood_coefficients(fn_array: np.ndarray, dt: float, quality_factor: float):
    """Ramp-invariant SDOF filter coefficients for each natural frequency.

    Returns ``(b, a)`` arrays of shape (F, 3) with ``a[:, 0] == 1``.
    """
    fn_array = np.asarray(fn_array, dtype=np.float64)
    zeta = 1.0 / (2.0 * quality_factor)
    omega_n = 2.0 * np.pi * fn_array
    omega_d = omega_n * np.sqrt(1.0 - zeta ** 2)
    e = np.exp(-zeta * omega_n * dt)
    k = dt * omega_d
    c = e * np.cos(k)
    s = e * np.sin(k)
    s_over_k = s / k
    b = np.stack(
        [1.0 - s_over_k, 2.0 * (s_over_k - c), e ** 2 - s_over_k], axis=1
    )
    a = np.stack([np.ones_like(fn_array), -2.0 * c, e ** 2], axis=1)
    return b, a


def srs_multi(
    X: np.ndarray,
    dt: float,
    fn_array: np.ndarray,
    quality_factor: float = 50.0,
):
    """SRS for many equal-length, equal-rate channels at once.

    ``X[channels, time]`` -> ``(pos[channels, F], abs_neg[channels, F])``.
    Direct form II transposed over one flat vector of channels x
    frequencies (element ``c * F + f``), with the running extremes kept
    in place; the input is expanded to that layout ``_BLOCK_BYTES`` at
    a time.  Every element sees the same multiply-adds in the same order
    whatever else shares the call, so a channel's peaks do not depend on
    how channels are batched.
    """
    X = np.asarray(X, dtype=np.float64)
    b, a = smallwood_coefficients(fn_array, dt, quality_factor)
    nb, n = X.shape
    nf = b.shape[0]
    b0, b1, b2 = (np.tile(b[:, j], nb) for j in range(3))
    a1, a2 = (np.tile(a[:, j], nb) for j in (1, 2))
    z1 = np.zeros(nb * nf)
    z2 = np.zeros(nb * nf)
    y = np.empty(nb * nf)
    tmp = np.empty(nb * nf)
    pos = np.full(nb * nf, -np.inf)
    neg = np.full(nb * nf, np.inf)
    block = max(_BLOCK_BYTES // (8 * nb * nf), 1)
    for s in range(0, n, block):
        for x in np.repeat(X[:, s : s + block].T, nf, axis=1):
            # y = b0 x + z1;  z1 = b1 x + z2 - a1 y;  z2 = b2 x - a2 y
            np.multiply(b0, x, out=y)
            y += z1
            np.multiply(b1, x, out=z1)
            z1 += z2
            np.multiply(a1, y, out=tmp)
            z1 -= tmp
            np.multiply(b2, x, out=z2)
            np.multiply(a2, y, out=tmp)
            z2 -= tmp
            np.maximum(pos, y, out=pos)
            np.minimum(neg, y, out=neg)
    return pos.reshape(nb, nf), np.abs(neg).reshape(nb, nf)


def srs(
    time: np.ndarray,
    accel: np.ndarray,
    fn_array: np.ndarray | None = None,
    quality_factor: float = 50.0,
):
    """Maximax SRS of one channel: ``(pos_peaks, abs_neg_peaks)`` per
    frequency, with the reference's sample interval ``mean(diff(time))``."""
    if fn_array is None:
        fn_array = build_freq_array()
    dt = float(np.mean(np.diff(np.asarray(time, dtype=np.float64))))
    pos, neg = srs_multi(np.asarray(accel)[None, :], dt, fn_array, quality_factor)
    return pos[0], neg[0]
