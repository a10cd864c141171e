"""Spectral estimation in pure NumPy: periodogram + Welch PSD + summarize.

Re-implements what the reference gets from ``scipy.signal.periodogram``
(``extension.py:611``, ``tools.py:72``) and its Welch wrapper
(``tools.py:13-100``):

- segmentation: window length in seconds -> ``n_window = int(sr * wl)``,
  ``n_overlap = round(n_window * overlap)``, step ``n_window - n_overlap``,
  trailing partial segment dropped (the strided view at ``tools.py:67-69``
  truncates — replicated here arithmetically);
- per-segment one-sided density periodogram with window + detrend;
- summarize over segments: mean / median / max / min / all / 'max rms'
  (mean PSD rescaled by ``(max_rms/mean_rms)^2``) / 'damage' (mean PSD
  scaled by the squared mean fatigue acceleration factor), per
  ``tools.py:74-98``.

In the Spark operator the *segmentation* is relational (segment ids from a
window function) and only the FFT runs in this kernel per
``(channel, segment)`` group — see operators/psd.py.
"""

from __future__ import annotations

import numpy as np


def get_window(window_type: str, n: int) -> np.ndarray:
    """Periodic (DFT-even) window, matching scipy.signal.get_window defaults."""
    if n < 1:
        raise ValueError("window length must be >= 1")
    m = np.arange(n, dtype=np.float64)
    wt = window_type.lower()
    if wt in ("boxcar", "rect", "rectangular", "ones"):
        return np.ones(n)
    if wt in ("hann", "hanning"):
        return 0.5 - 0.5 * np.cos(2.0 * np.pi * m / n)
    if wt == "hamming":
        return 0.54 - 0.46 * np.cos(2.0 * np.pi * m / n)
    if wt == "blackman":
        return (
            0.42
            - 0.5 * np.cos(2.0 * np.pi * m / n)
            + 0.08 * np.cos(4.0 * np.pi * m / n)
        )
    if wt in ("bartlett", "triang"):
        # Periodic Bartlett: linear ramp peaking at n/2.
        return 1.0 - np.abs((m - n / 2.0) / (n / 2.0))
    if wt == "flattop":
        coefs = [0.21557895, 0.41663158, 0.277263158, 0.083578947, 0.006947368]
        w = np.zeros(n)
        for k, c in enumerate(coefs):
            w += ((-1) ** k) * c * np.cos(2.0 * np.pi * k * m / n)
        return w
    raise ValueError(f"unsupported window type {window_type!r}")


def detrend_array(x: np.ndarray, kind, axis: int = -1) -> np.ndarray:
    """Remove a constant or linear trend along ``axis``.

    ``kind`` in {'constant', 'linear', False/None} — the surface accepted by
    the reference's ``detrend=`` arguments (``tools.py:14``,
    ``extension.py:571``).
    """
    if kind in (False, None, "none"):
        return x
    x = np.asarray(x, dtype=np.float64)
    if kind == "constant":
        return x - np.mean(x, axis=axis, keepdims=True)
    if kind == "linear":
        n = x.shape[axis]
        t = np.arange(n, dtype=np.float64)
        xm = np.moveaxis(x, axis, -1)
        tm = t - t.mean()
        denom = float(np.dot(tm, tm))
        # Row-wise product-sum, not ``xm @ tm``: BLAS blocks a matrix-
        # vector product by the number of rows, so a row's slope would
        # depend on how many segments are stacked with it.
        slope = (xm * tm).sum(axis=-1) / denom
        mean = xm.mean(axis=-1)
        fit = mean[..., None] + slope[..., None] * tm
        return np.moveaxis(xm - fit, -1, axis)
    raise ValueError(f"unsupported detrend kind {kind!r}")


def periodogram(
    x: np.ndarray,
    fs: float,
    window: str = "boxcar",
    detrend="constant",
    axis: int = -1,
):
    """One-sided power spectral density estimate of a (batch of) segment(s).

    Density scaling: ``Pxx = |rfft(w*x)|^2 / (fs * sum(w^2))`` with all bins
    except DC (and Nyquist for even n) doubled — the standard one-sided
    periodogram definition the reference relies on.
    Returns ``(freq, pxx)`` with the transformed axis last.
    """
    x = np.asarray(x, dtype=np.float64)
    x = np.moveaxis(x, axis, -1)
    n = x.shape[-1]
    win = get_window(window, n)
    xd = detrend_array(x, detrend, axis=-1)
    spec = np.fft.rfft(xd * win, axis=-1)
    scale = 1.0 / (fs * float(np.dot(win, win)))
    pxx = (spec.real ** 2 + spec.imag ** 2) * scale
    if n % 2 == 0:
        pxx[..., 1:-1] *= 2.0
    else:
        pxx[..., 1:] *= 2.0
    freq = np.fft.rfftfreq(n, d=1.0 / fs)
    return freq, pxx


def welch_segment_bounds(n_total: int, n_window: int, n_overlap: int):
    """Start offsets of full Welch segments (trailing partial dropped)."""
    n_step = n_window - n_overlap
    if n_step <= 0:
        raise ValueError("overlap must leave a positive step")
    n_seg = (n_total - n_overlap) // n_step
    return [i * n_step for i in range(max(n_seg, 0))]


def summarize_psds(
    psd_all: np.ndarray,
    freq: np.ndarray,
    summarize: str = "mean",
    fatigue_exponent: float = 4.0,
):
    """Reduce a (segments x bins) PSD matrix per the reference's modes
    (``tools.py:74-98``)."""
    if summarize == "mean":
        return psd_all.mean(axis=0)
    if summarize == "median":
        return np.median(psd_all, axis=0)
    if summarize == "max":
        return psd_all.max(axis=0)
    if summarize == "min":
        return psd_all.min(axis=0)
    if summarize == "all":
        return psd_all
    if summarize in ("max rms", "damage"):
        mean_psd = psd_all.mean(axis=0)
        mean_rms = np.sqrt(np.trapz(mean_psd, x=freq))
        seg_rms = np.sqrt(np.trapz(psd_all, x=freq, axis=1))
        if summarize == "max rms":
            return mean_psd * (seg_rms.max() / mean_rms) ** 2
        accel = np.mean((seg_rms / mean_rms) ** fatigue_exponent) ** (
            1.0 / fatigue_exponent
        )
        return mean_psd * accel ** 2
    raise ValueError(f"{summarize!r} is not a valid summary type")


def welch_psd(
    values: np.ndarray,
    sample_rate: float,
    window_length: float | None = None,
    overlap: float = 0.5,
    window_type: str = "hann",
    summarize: str = "mean",
    fatigue_exponent: float = 4.0,
    detrend="constant",
):
    """Whole-channel PSD, reference-equivalent (``extension.py:604-620``).

    ``window_length=None`` -> plain boxcar periodogram of the whole series;
    else Welch segmentation with the given window/overlap and a summarize
    reduce.  Returns positive-frequency ``(freq, pxx)`` only.
    """
    values = np.asarray(values, dtype=np.float64)
    if window_length is None:
        freq, pxx = periodogram(values, sample_rate, "boxcar", "constant")
    else:
        n_window = int(sample_rate * window_length)
        n_overlap = int(round(n_window * overlap))
        starts = welch_segment_bounds(len(values), n_window, n_overlap)
        if not starts:
            raise ValueError("window_length longer than the signal")
        segs = np.stack([values[s : s + n_window] for s in starts])
        freq, psd_all = periodogram(segs, sample_rate, window_type, detrend, axis=1)
        pxx = summarize_psds(psd_all, freq, summarize, fatigue_exponent)
    if summarize == "all" and window_length is not None:
        keep = freq > 0
        return freq[keep], pxx[..., keep]
    keep = freq > 0
    return freq[keep], pxx[keep]
