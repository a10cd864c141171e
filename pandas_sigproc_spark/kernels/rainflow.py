"""ASTM E1049-85 rainflow cycle counting, pure Python/NumPy.

The reference delegates to the third-party ``rainflow`` package
(``extension.py:936-961``, ``requirements.txt``), which implements the
standard's three-point counting rule.  That package isn't available here,
so the standard algorithm is implemented from the ASTM E1049-85 spec
(section 5.4.4, "Rainflow Counting"):

1. reduce the series to reversals (local extrema; first and last points
   always kept);
2. stream reversals through a deque: whenever the last three reversals
   X, Y (with ranges ``|X2-X1|``, ``|Y2-Y1|``) satisfy ``rangeY <=
   rangeX``, count Y — as a *full* cycle if Y doesn't contain the first
   data point, else as a *half* cycle — and discard its points;
3. the residue at the end is counted as half cycles.

``count_cycles`` mirrors the public API surface the reference forwards
(``ndigits``, ``nbins``, ``binsize``) and returns sorted (range, count)
pairs.
"""

from __future__ import annotations

from collections import defaultdict, deque
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def _round_half_up(x: float, ndigits: int) -> float:
    """Decimal HALF_UP rounding of the float's shortest repr.

    Matches Spark's ``F.round`` on doubles (BigDecimal.valueOf ->
    setScale(HALF_UP)) so the whole-channel kernel, the chunked
    operator's relational binning, and the SQL oracles all bin a
    boundary range the same way.  Documented deviation: Python's builtin
    ``round`` (what the reference's third-party ``rainflow`` dependency
    uses) is banker's rounding, which disagrees at exactly-representable
    .5 midpoints (e.g. range 0.125 at ndigits=2).
    """
    import decimal
    import math

    if not math.isfinite(x):
        # builtin round() and Spark ROUND pass inf/nan through; Decimal
        # would raise InvalidOperation.
        return float(x)
    q = Decimal(1).scaleb(-ndigits)
    # A double can need ~310 significant digits once quantized to 1e-2;
    # the default 28-digit context raises InvalidOperation on huge
    # ranges (1e27+) that builtin round() and Spark's BigDecimal accept.
    with decimal.localcontext() as ctx:
        ctx.prec = 400
        return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def reversals(series: np.ndarray):
    """Indices+values of the reversal points of ``series`` (E1049 5.4.4.1).

    First and last samples are always kept; interior points survive only
    where the (plateau-collapsed) slope changes sign.  A step's sign is
    +1 when it rises, 0 when it is flat and -1 otherwise (a NaN step
    counts as falling); flat steps drop out, and a turn sits at the
    start of every nonzero step whose sign differs from the previous
    nonzero step's.
    """
    series = np.asarray(series, dtype=np.float64)
    n = len(series)
    if n == 0:
        return []
    with np.errstate(invalid="ignore"):
        d = series[1:] - series[:-1]
    sign = np.where(d > 0, 1, np.where(d == 0, 0, -1))
    steps = np.flatnonzero(sign)
    turns = steps[1:][sign[steps[1:]] != sign[steps[:-1]]]
    idx = np.concatenate(([0], turns, [n - 1] if n > 1 else [])).astype(np.intp)
    return list(zip(idx.tolist(), series[idx].tolist()))


def extract_cycles(series: np.ndarray):
    """Return ``(range, mean, count, i_start, i_end)`` per counted cycle."""
    results = []
    points_list = reversals(series)
    stack: deque = deque()
    for idx, val in points_list:
        stack.append((idx, val))
        while len(stack) >= 3:
            x1, x2, x3 = stack[-3], stack[-2], stack[-1]
            range_x = abs(x3[1] - x2[1])
            range_y = abs(x2[1] - x1[1])
            if range_y > range_x:
                break
            if len(stack) == 3:
                # Y contains the starting point -> half cycle; drop the
                # first point and keep scanning.
                results.append(
                    (range_y, 0.5 * (x1[1] + x2[1]), 0.5, x1[0], x2[0])
                )
                stack.popleft()
            else:
                # Full cycle: remove the pair (x1, x2).
                results.append(
                    (range_y, 0.5 * (x1[1] + x2[1]), 1.0, x1[0], x2[0])
                )
                last = stack.pop()
                stack.pop()
                stack.pop()
                stack.append(last)
    # Residue: half cycles.
    stack = list(stack)
    for i in range(len(stack) - 1):
        a, b = stack[i], stack[i + 1]
        results.append((abs(b[1] - a[1]), 0.5 * (a[1] + b[1]), 0.5, a[0], b[0]))
    return results


def count_cycles(
    series: np.ndarray,
    ndigits: int | None = None,
    nbins: int | None = None,
    binsize: float | None = None,
):
    """Sorted (range, cycles) pairs, with the reference's binning kwargs.

    Exactly one of ``ndigits`` / ``nbins`` / ``binsize`` may be given
    (matching the forwarded kwargs at ``extension.py:961``).  With
    ``nbins``/``binsize`` the reported key is the bin's *upper* edge.
    """
    given = sum(arg is not None for arg in (ndigits, nbins, binsize))
    if given > 1:
        raise ValueError("specify at most one of ndigits, nbins, binsize")
    cycles = extract_cycles(series)
    counts: defaultdict = defaultdict(float)

    if nbins is not None or binsize is not None:
        ranges = [c[0] for c in cycles]
        if not ranges:
            return []
        if binsize is None:
            max_range = max(ranges)
            binsize = max_range / nbins
        nb = nbins if nbins is not None else int(np.ceil(max(ranges) / binsize))
        nb = max(nb, 1)
        for rng, _mean, cnt, _i0, _i1 in cycles:
            if rng == 0:
                b = 0
            else:
                b = min(int(np.ceil(rng / binsize)) - 1, nb - 1)
                b = max(b, 0)
            counts[(b + 1) * binsize] += cnt
        return sorted(counts.items())

    for rng, _mean, cnt, _i0, _i1 in cycles:
        key = _round_half_up(rng, ndigits) if ndigits is not None else rng
        counts[key] += cnt
    return sorted(counts.items())


def extract_full_cycles_4pt(series: np.ndarray):
    """Segment-safe counting: full cycles + residue (no half cycles).

    The 4-point rule: with reversals t1..t4 on the stack top, count
    (t2, t3) as one full cycle when ``|t3-t2| <= |t2-t1|`` and
    ``|t3-t2| <= |t4-t3|``.  Unlike the 3-point E1049 rule this never
    counts a cycle touching the stack bottom, which is what makes rainflow
    *mergeable*: cycles(AB) = fulls(A) + fulls(B) + cycles(res(A) ++
    res(B)) and the residues concatenate associatively — the basis of the
    segmented scale path (SURVEY.md §7.3.1).  Returns
    ``([(range, 1.0), ...], residue_values)``.
    """
    results = []
    stack: deque = deque()
    for _idx, val in reversals(series):
        stack.append(val)
        while len(stack) >= 4:
            t1, t2, t3, t4 = stack[-4], stack[-3], stack[-2], stack[-1]
            r = abs(t3 - t2)
            if r <= abs(t2 - t1) and r <= abs(t4 - t3):
                results.append((r, 1.0))
                stack.pop()
                stack.pop()
                stack.pop()
                stack.append(t4)
            else:
                break
    return results, list(stack)


def count_cycles_from_values(values, **kwargs):
    """count_cycles over a pre-extracted reversal-value sequence (the
    concatenated residues of a segmented run)."""
    return count_cycles(np.asarray(values, dtype=np.float64), **kwargs)
