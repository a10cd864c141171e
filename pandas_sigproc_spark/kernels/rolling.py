"""Trailing window sums by dyadic block sums: the mov_rms arithmetic."""

import numpy as np


def window_sums(x: np.ndarray, n: int) -> np.ndarray:
    """Sums of the ``len(x) - n + 1`` windows of ``n`` samples of ``x``.

    Level ``k`` holds the ``2**k``-sample block sums, ``S_k[j] =
    S_{k-1}[j] + S_{k-1}[j + 2**(k-1)]``; a window adds the blocks for
    the set bits of ``n`` end to end, smallest first.  Each window's sum
    is one fixed addition tree over its own samples, so it has the same
    bits wherever the array starts, a NaN or infinity reaches only the
    windows that hold it, and non-negative terms take at most
    ``n.bit_length()`` roundings on any path of the tree.
    """
    if n < 1:
        raise ValueError("window shorter than one sample")
    # A working copy, summed into itself level by level: numpy reads an
    # operand that overlaps the output as if it were copied first.
    s = np.array(x, dtype=np.float64)
    m = len(s) - n + 1
    if m <= 0:
        return np.empty(0)
    out, size, off, length = None, 1, 0, len(s)
    with np.errstate(over="ignore", invalid="ignore"):
        while True:
            if n & size:
                piece = s[off : off + m]
                out = piece.copy() if out is None else np.add(out, piece, out=out)
                off += size
            if 2 * size > n:
                return out
            np.add(s[: length - size], s[size:length], out=s[: length - size])
            length -= size
            size *= 2
