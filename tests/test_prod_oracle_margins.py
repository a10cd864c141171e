"""Margin audit for the rounded production-PSD oracles (oracle_prod.py).

The PSD legs compare an rfft kernel against an O(N^2) DFT oracle; both
sides round HALF_UP at oracle_prod.PSD_ROUND digits.  That is stable iff,
on the fixed driver datasets, every output value sits much farther from a
rounding boundary than the worst FFT-vs-DFT (plus summation-order)
divergence.  This test re-measures both per dataset so a data refresh that
erodes the margin fails loudly here instead of flaking the driver gate.

The filter/SRS/spline legs need no such audit: their oracles replay the
exact kernel recursions bit-for-bit (no rounding anywhere).
"""

import os

import duckdb
import numpy as np
import pytest

import oracle_prod as OP
from pandas_sigproc_spark.kernels.spectral import (
    get_window,
    welch_psd,
    welch_segment_bounds,
)

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                       "/root/testdata/sf0.1") if os.path.isdir(d)]
# Strict correctness on fixed data only needs margin > err (both are
# measured over the same values, so margin > err == zero rounding flips).
# The extra factor is headroom for DuckDB summation orders beyond the two
# this test enumerates (order-variation scales with the same eps*|p| as
# the measured divergence, so ~30x headroom covers any reordering).
MIN_SAFETY = 30.0


def _uniform_channels(sf_dir: str):
    """Replicate the _uniform prep (dedup + hourly linear resample) in
    numpy — same expressions as the operator and the oracle CTEs."""
    con = duckdb.connect()
    df = con.sql(f"""
        WITH sig AS (
          SELECT CAST(user_id AS VARCHAR) AS channel_id, epoch(ts) AS t,
                 CAST(value AS DOUBLE) AS val
          FROM '{sf_dir}/events.parquet')
        SELECT channel_id, t, AVG(val) AS v
        FROM sig GROUP BY channel_id, t ORDER BY channel_id, t
    """).df()
    out = {}
    for cid, g in df.groupby("channel_id"):
        t = g["t"].to_numpy()
        v = g["v"].to_numpy()
        t0, t1 = t.min(), t.max()
        if not t1 > t0:
            continue
        n = int(np.ceil((t1 - t0) / 3600.0))
        tg = t0 + np.arange(n) * 3600.0
        idx = np.searchsorted(t, tg, side="right") - 1
        y = np.empty(n)
        for j, (x_, i_) in enumerate(zip(tg, idx)):
            if x_ == t[i_]:
                y[j] = v[i_]
            else:
                x0, x1 = t[i_], t[i_ + 1]
                y[j] = v[i_] + (v[i_ + 1] - v[i_]) * (x_ - x0) / (x1 - x0)
        out[cid] = y
    return out


def _dft_psd_estimates(y, n_window, n_ov, fs):
    """Per-segment one-sided-density periodograms via a naive DFT, in two
    different summation orders — a proxy bound for the oracle's
    (order-unspecified) SQL SUM."""
    win = get_window("hann", n_window)
    scale = 1.0 / (fs * float(np.dot(win, win)))
    starts = welch_segment_bounds(len(y), n_window, n_ov)
    m = np.arange(n_window)
    ks = np.arange(n_window // 2 + 1)
    ang = (2.0 * np.pi / n_window) * ((m[:, None] * ks[None, :]) % n_window)
    C, S = np.cos(ang), np.sin(ang)
    outs = []
    for rev in (False, True):
        psegs = []
        for s in starts:
            seg = y[s: s + n_window]
            xw = (seg - np.mean(seg)) * win
            if rev:
                re = (xw[::-1, None] * C[::-1]).sum(axis=0)
                im = (xw[::-1, None] * S[::-1]).sum(axis=0)
            else:
                re = (xw[:, None] * C).sum(axis=0)
                im = (xw[:, None] * S).sum(axis=0)
            p = (re * re + im * im) * scale
            if n_window % 2 == 0:
                p[1:-1] *= 2.0
            else:
                p[1:] *= 2.0
            psegs.append(p)
        outs.append(np.stack(psegs))
    return outs


def _margin(vals, digits):
    sc = 10.0 ** digits
    return float(np.min(np.abs((np.asarray(vals) * sc) % 1.0 - 0.5)) / sc)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("n_window", [64, 128])
def test_psd_round_margin(sf_dir, n_window):
    chans = _uniform_channels(sf_dir)
    if sf_dir.endswith("0.1"):
        # sf0.1 has 1500 channels; a 150-channel sample bounds the same
        # error/margin statistics at 10% of the runtime.
        chans = dict(list(chans.items())[:150])
    n_ov = n_window // 2
    maxerr = 0.0
    outs_mean = []
    for fs in (round(OP.HOURLY, 9), OP.HOURLY):
        for y in chans.values():
            if len(y) < n_window:
                continue
            _, kernel_mean = welch_psd(
                y, fs, window_length=n_window / fs, overlap=0.5,
                window_type="hann", summarize="mean", detrend="constant",
            )
            ests = _dft_psd_estimates(y, n_window, n_ov, fs)
            for e in ests:
                err = np.max(np.abs(e.mean(axis=0)[1:] - kernel_mean))
                maxerr = max(maxerr, float(err))
            outs_mean.append(kernel_mean)
    vals = np.concatenate(outs_mean)
    margin = _margin(vals, OP.PSD_ROUND)
    assert margin > MIN_SAFETY * maxerr, (
        f"PSD rounding margin {margin:.3e} no longer dominates DFT/FFT "
        f"divergence {maxerr:.3e} at {sf_dir} n={n_window}; re-pick "
        "oracle_prod.PSD_ROUND"
    )


def _idx_channels(sf_dir: str):
    """Replicate the 48 kHz index time base (q_filt_a / q_accessor_chain):
    dedup'd raw values per channel, t = (i-1)/48000."""
    con = duckdb.connect()
    df = con.sql(f"""
        WITH sig AS (
          SELECT CAST(user_id AS VARCHAR) AS channel_id, epoch(ts) AS t,
                 CAST(value AS DOUBLE) AS val
          FROM '{sf_dir}/events.parquet')
        SELECT channel_id, t, AVG(val) AS v
        FROM sig GROUP BY channel_id, t ORDER BY channel_id, t
    """).df()
    out = {}
    for cid, g in df.groupby("channel_id"):
        v = g["v"].to_numpy()
        out[cid] = (np.arange(len(v), dtype=np.float64) / 48000.0, v)
    return out


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_accessor_chain_round_margin(sf_dir):
    """q_accessor_chain rounds its VALUE to 6 digits against a chain
    replay whose detrend means / rolling mean-of-squares differ from the
    kernel's (numpy pairwise means, dyadic window sums) summation order.
    Re-measure that the rounding margin of the shipped fused stages
    dominates a summation-order perturbation proxy (sequential-mean
    detrend, sequential cumsum window) on each dataset."""
    from pandas_sigproc_spark.kernels.design import a_weighting, butter
    from pandas_sigproc_spark.kernels.iir import filtfilt, lfilter
    from pandas_sigproc_spark.pipeline.fused import _MovRmsStage

    b1, a1 = butter(2, 8000.0 / 24000.0, "lowpass")
    b2, a2 = a_weighting(48000.0)
    chans = _idx_channels(sf_dir)
    if sf_dir.endswith("0.1"):
        chans = dict(list(chans.items())[:150])
    vals, errs = [], []
    for t, v in chans.values():
        if len(v) <= 21:
            continue
        xb = filtfilt(b1, a1, v)

        def detrend(ys, seq):
            mt = (np.sum(t) / len(t)) if seq else t.mean()
            my = (np.sum(ys) / len(ys)) if seq else ys.mean()
            tc, yc = t - mt, ys - my
            den = (np.sum(tc * tc) / len(t)) if seq else np.mean(tc * tc)
            cov = (np.sum(tc * yc) / len(t)) if seq else np.mean(tc * yc)
            return yc - (cov / den if den > 0 else 0.0) * tc

        # the shipped fused stage (24 samples, drop-last) ...
        ya = lfilter(b2, a2, detrend(xb, False))
        outs = [_MovRmsStage(0.0005, samplerate=48000.0).run(t, ya, 48000.0)[1]]
        # ... against the sequential-sum proxy
        ya = lfilter(b2, a2, detrend(xb, True))
        cs = np.concatenate([[0.0], np.cumsum(ya * ya)])
        outs.append(np.sqrt(np.maximum((cs[24:] - cs[:-24]) / 24, 0.0))[:-1])
        vals.append(outs[0])
        errs.append(np.max(np.abs(outs[0] - outs[1])))
    allv = np.concatenate(vals)
    maxerr = max(errs)
    margin = _margin(allv, 6)
    assert margin > MIN_SAFETY * maxerr, (
        f"accessor_chain margin {margin:.3e} vs divergence {maxerr:.3e} "
        f"at {sf_dir}"
    )


# ---------------------------------------------------------------------------
# k-means assignment margins (production-mode semdedup / corpus_curate)
# ---------------------------------------------------------------------------
#
# In exact_sums=False mode the centroid means come from a partial-agg SUM
# whose summation order is engine- and run-dependent.  The production
# semdedup / corpus_curate outputs are DISCRETE (assignments + keep
# flags), so cross-engine parity only needs the argmin decisions to
# survive centroid jitter.  Two independent defenses, both measured here:
#
# 1. The embeddings table stores FLOAT (24-bit mantissas, similar
#    magnitudes), so float64 accumulation incurs ZERO rounding up to
#    ~2^29 members per cluster: every summation order yields the SAME
#    BITS (measured jitter is exactly 0.0 on all three gate corpora) —
#    plain SUM is order-independent here as a matter of arithmetic, not
#    luck.
# 2. Even if a future data refresh ships full-precision doubles, the
#    smallest best-vs-second argmin margin must dwarf the largest
#    cross-order distance perturbation, so no assignment can flip.
#
# This audit replays the two Lloyd rounds on the gate corpora under
# several member-summation orders and asserts (a) assignments never
# flip, and (b) margin > 1e6 x jitter whenever jitter is nonzero.

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_MIN_SAFETY = 1e6


def _load_embeddings(sf_dir: str):
    con = duckdb.connect()
    df = con.sql(
        f"""SELECT CAST(vec_id AS BIGINT) AS vid,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM '{sf_dir}/embeddings.parquet' ORDER BY vid"""
    ).df()
    return df["vid"].to_numpy(), np.array(df["v"].tolist())


def _fold_sum(vals: np.ndarray) -> float:
    acc = 0.0
    for x in vals:
        acc = acc + x
    return acc


def _kmeans_orders(sf_dir: str):
    """Run KMEANS_ITERS Lloyd rounds under several summation orders;
    return per-iteration assignment sets, min margins, max cross-order
    distance jitter."""
    vids, pts = _load_embeddings(sf_dir)
    n, dim = pts.shape
    rng = np.random.default_rng(0)
    orders = {
        "vid_asc": lambda m: np.arange(m),
        "vid_desc": lambda m: np.arange(m)[::-1],
        "perm_a": lambda m: rng.permutation(m),
        "perm_b": lambda m: rng.permutation(m),
    }
    cents = {name: pts[:KMEANS_K].copy() for name in orders}
    per_iter = []
    for _ in range(KMEANS_ITERS):
        dists, assigns = {}, {}
        for name in orders:
            diff = pts[:, None, :] - cents[name][None, :, :]
            d = (diff * diff).sum(axis=2)
            dists[name] = d
            assigns[name] = d.argmin(axis=1)  # first min = smallest cluster
        ref = assigns["vid_asc"]
        flips = {k: int((v != ref).sum()) for k, v in assigns.items()}
        ds = np.sort(dists["vid_asc"], axis=1)
        margin = float((ds[:, 1] - ds[:, 0]).min())
        jitter = max(
            float(np.abs(dists[k] - dists["vid_asc"]).max()) for k in orders
        )
        per_iter.append((flips, margin, jitter))
        # centroid update per order: sequential fold over members in that
        # order (mirrors a partial-agg whose partition order is `name`)
        for name, orderfn in orders.items():
            newc = np.empty((KMEANS_K, dim))
            for c in range(KMEANS_K):
                members = np.where(ref == c)[0]
                if len(members) == 0:
                    newc[c] = cents[name][c]
                    continue
                perm = members[orderfn(len(members))]
                for j in range(dim):
                    newc[c, j] = _fold_sum(pts[perm, j]) / len(members)
            cents[name] = newc
    return per_iter


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_kmeans_assignment_margin(sf_dir):
    per_iter = _kmeans_orders(sf_dir)
    for it, (flips, margin, jitter) in enumerate(per_iter):
        assert all(v == 0 for v in flips.values()), (
            f"iter {it}: assignment flips across summation orders {flips} "
            f"at {sf_dir} — production-mode semdedup oracle unsound"
        )
        # iter 0 centroids are seed vectors (no sums yet): jitter is 0 by
        # construction, so only the updated-centroid iterations bound it.
        if jitter > 0:
            assert margin > KMEANS_MIN_SAFETY * jitter, (
                f"iter {it}: margin {margin:.3e} vs jitter {jitter:.3e} "
                f"at {sf_dir} — below {KMEANS_MIN_SAFETY}x safety"
            )
        else:
            assert margin > 0
