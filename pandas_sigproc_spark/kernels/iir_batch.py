"""Batched IIR execution: filter MANY channels in one call.

``lfilter``/``filtfilt`` in :mod:`.iir` are 1-D.  At scale the dominant
cost is not the math but per-channel overhead (Arrow group dispatch,
Python call overhead) — 1500 channels of 700 samples each cost far more
as 1500 scalar recursions than as one recursion over a (1500, 700)
matrix.  The entry points take a list of UNEQUAL-length channels sharing
one filter:

- ``lfilter_batch_ragged(b, a, arrays, zis=None)`` — causal filter,
  optionally from per-channel initial states.
- ``filtfilt_batch_ragged(b, a, arrays)`` — SciPy-default zero-phase.

Each channel takes the 1-D kernel's path rule (len <= _LOOP_CUTOVER or
order > 16 -> exact recursion).  Short channels share one exact DF2T
recursion (:func:`_loop_ragged`), bit-identical per row to the 1-D loop;
every long channel runs the 1-D kernel itself (its FFT setup is already
amortised over more than 2,048 samples).  So every row is bit-identical
to per-channel filtering at any length, whatever channels share the call.
"""

from __future__ import annotations

import numpy as np

from pandas_sigproc_spark.kernels.iir import (
    _LOOP_CUTOVER,
    _lfilter_loop,
    _normalize_ba,
    filtfilt,
    lfilter,
    lfilter_zi,
)

# Below this many live rows the vectorized recursion's per-step array
# overhead costs more than the scalar 1-D loop it replaces (100-200
# samples through 2nd-8th order filters cross over at 8 rows on a 4-core
# x86 host); the two are bit-identical per row, so only speed depends on
# the choice.
_BATCH_MIN_ROWS = 8


def _lfilter_loop_batch(b, a, X: np.ndarray, Zi: np.ndarray):
    """DF2T recursion vectorized across the batch axis, from per-row
    initial states ``Zi``; returns ``(outputs, final_states)``.

    The same per-sample difference equation as ``iir._lfilter_loop``, with
    every scalar op replaced by the elementwise op over the batch column —
    IEEE semantics are identical per element, so each row's output is
    BIT-IDENTICAL to running the 1-D loop on that row.  This is what makes
    bucketed execution exactly equal (not merely rtol-close) to
    per-channel execution for short channels, and what lets the
    production-leg DuckDB oracles (oracle_prod.py) replay bucketed filter
    queries bit-for-bit.
    """
    nlen = X.shape[1]
    n = max(len(a), len(b))
    bp = np.zeros(n)
    ap = np.zeros(n)
    bp[: len(b)] = b
    ap[: len(a)] = a
    Z = np.asarray(Zi, dtype=np.float64).copy()
    Y = np.empty_like(X)
    if n == 1:
        Y[:] = bp[0] * X
        return Y, Z
    for i in range(nlen):
        x = X[:, i]
        y = bp[0] * x + Z[:, 0]
        for j in range(n - 2):
            Z[:, j] = bp[j + 1] * x + Z[:, j + 1] - ap[j + 1] * y
        Z[:, n - 2] = bp[n - 1] * x - ap[n - 1] * y
        Y[:, i] = y
    return Y, Z


def _pad_stack(arrays: list[np.ndarray]) -> np.ndarray:
    n = max(len(a) for a in arrays)
    X = np.zeros((len(arrays), n))
    for i, a in enumerate(arrays):
        X[i, : len(a)] = a
    return X


def _loop_ragged(b, a, arrays: list[np.ndarray], Zi: np.ndarray):
    """Exact DF2T recursion over UNEQUAL-length rows from per-row initial
    states ``Zi``; returns ``(outputs, final_states)``.

    The rows are right-zero-padded into one matrix and the recursion runs
    in segments between consecutive distinct lengths, each over only the
    rows still live: every row's final state is taken at its own length,
    and no padding is filtered.  A segment with fewer than
    ``_BATCH_MIN_ROWS`` live rows runs the scalar 1-D loop per row.
    Rows never interact, so each row is bit-identical to
    ``iir._lfilter_loop`` on that row alone.
    """
    lens = np.array([len(x) for x in arrays])
    X = _pad_stack(arrays)
    Y = np.empty_like(X)
    Z = np.array(Zi, dtype=np.float64)
    start = 0
    for stop in np.unique(lens).tolist():
        if stop == start:
            continue
        rows = np.flatnonzero(lens >= stop)
        if len(rows) >= _BATCH_MIN_ROWS:
            Y[rows, start:stop], Z[rows] = _lfilter_loop_batch(
                b, a, X[rows, start:stop], Z[rows]
            )
        else:
            for r in rows:
                Y[r, start:stop], Z[r] = _lfilter_loop(
                    b, a, X[r, start:stop], Z[r]
                )
        start = stop
    return [Y[r, :n].copy() for r, n in enumerate(lens.tolist())], list(Z)


def lfilter_batch_ragged(b, a, arrays: list[np.ndarray], zis=None):
    """Causal filter for UNEQUAL-length channels in one call.

    Short channels (the 1-D loop-path rule: len <= _LOOP_CUTOVER, or
    order > 16) share ONE exact recursion (:func:`_loop_ragged`) — rows
    never interact in the elementwise DF2T step, so each row is
    bit-identical to filtering it alone, regardless of which channels
    share the batch.  Long channels run the 1-D ``iir.lfilter`` one by
    one.  This is what lets the channel operators group by samplerate
    alone instead of (length, samplerate) — one call per bucket instead
    of one per distinct length.

    With ``zis`` (one initial delay line per channel) the call returns
    ``(outputs, final_states)`` and every row matches the 1-D
    ``iir.lfilter(b, a, x, zi=zi)`` bit for bit: short rows start the
    shared recursion from their own state, and long rows pass theirs to
    the 1-D kernel.
    """
    bn, an = _normalize_ba(b, a)
    ntaps = max(len(bn), len(an))
    out: list = [None] * len(arrays)
    zf: list = [None] * len(arrays)
    shorts = [
        i for i, x in enumerate(arrays)
        if len(x) <= _LOOP_CUTOVER or ntaps > 16
    ]
    if shorts:
        Zi = (
            np.zeros((len(shorts), max(ntaps - 1, 1)))
            if zis is None
            else np.stack([np.asarray(zis[i], np.float64) for i in shorts])
        )
        ys, zs = _loop_ragged(
            bn, an, [np.asarray(arrays[i], np.float64) for i in shorts], Zi
        )
        for i, y, z in zip(shorts, ys, zs):
            out[i], zf[i] = y, z
    for i in range(len(arrays)):
        if out[i] is None:
            if zis is None:
                out[i] = lfilter(b, a, arrays[i])
            else:
                out[i], zf[i] = lfilter(b, a, arrays[i], zi=zis[i])
    return out if zis is None else (out, zf)


def filtfilt_batch_ragged(b, a, arrays: list[np.ndarray]) -> list[np.ndarray]:
    """Zero-phase filtering for UNEQUAL-length channels in one call —
    same path rules and bit-exactness contract as lfilter_batch_ragged
    (the short path replays iir.filtfilt's two seeded loop passes as two
    :func:`_loop_ragged` passes; a long channel runs ``iir.filtfilt``)."""
    bn, an = _normalize_ba(b, a)
    ntaps = max(len(bn), len(an))
    padlen = 3 * ntaps
    out: list = [None] * len(arrays)
    shorts = [
        i for i, x in enumerate(arrays)
        if len(x) + 2 * padlen <= _LOOP_CUTOVER or ntaps > 16
    ]
    if shorts:
        zi = lfilter_zi(bn, an)
        exts = []
        for i in shorts:
            x = np.asarray(arrays[i], np.float64)
            if len(x) <= padlen:
                raise ValueError(
                    f"input length ({len(x)}) must exceed padlen ({padlen}) "
                    "for filtfilt"
                )
            front = 2.0 * x[0] - x[padlen:0:-1]
            back = 2.0 * x[-1] - x[-2: -padlen - 2: -1]
            exts.append(np.concatenate([front, x, back]))
        ys, _ = _loop_ragged(bn, an, exts, np.stack([zi * e[0] for e in exts]))
        rs = [y[::-1] for y in ys]
        ys, _ = _loop_ragged(bn, an, rs, np.stack([zi * r[0] for r in rs]))
        for i, y in zip(shorts, ys):
            out[i] = y[::-1][padlen:-padlen].copy()
    for i, x in enumerate(arrays):
        if out[i] is None:
            out[i] = filtfilt(b, a, x)
    return out
