"""Seeded input generation for every workload.

Everything the engine sees comes from here, as a pure function of the
workload's geometry and ``--seed``: the same seed gives byte-identical
arrays (and so identical digests), another seed gives different ones.
Generation uses NumPy and pyarrow only, never the engine under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIGNALS_ARROW = pa.schema(
    [("channel_id", pa.string()), ("t", pa.float64()), ("value", pa.float64())]
)


@dataclass(frozen=True)
class Geometry:
    """Channel geometry of a signals workload."""

    n_channels: int
    n_samples: int
    samplerate: float
    prefix: str

    @property
    def rows(self) -> int:
        return self.n_channels * self.n_samples

    def channel_ids(self) -> list[str]:
        return [f"{self.prefix}{c:05d}" for c in range(self.n_channels)]


# Few long channels: above planner.SMALL_CHANNEL_ROWS, below
# HUGE_CHANNEL_ROWS, so every kernel operator resolves to per-channel.
RECORDING = Geometry(4, 81_920, 20_000.0, "rec")
# Many short channels with the same row count: resolves to bucketed.
FLEET = Geometry(320, 1024, 1_000.0, "dev")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per (seed, purpose), so adding a consumer
    # never shifts the values another consumer draws.
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def channel_values(rng: np.random.Generator, n: int, sr: float) -> np.ndarray:
    """One accelerometer-like axis: two tones, a slow drift, broadband
    noise and a few decaying shocks (so rainflow and SRS see real
    reversals and peaks)."""
    t = np.arange(n, dtype=np.float64) / sr
    f1, f2 = rng.uniform(0.01, 0.05) * sr, rng.uniform(0.1, 0.2) * sr
    a1, a2 = rng.uniform(0.5, 2.0), rng.uniform(0.1, 0.5)
    p1, p2 = rng.uniform(0, 2 * np.pi, 2)
    drift = rng.uniform(-0.2, 0.2)
    v = a1 * np.sin(2 * np.pi * f1 * t + p1) + a2 * np.sin(2 * np.pi * f2 * t + p2)
    v += drift * t
    v += rng.normal(0.0, 0.3, n)
    for _ in range(3):
        k = int(rng.integers(0, n))
        m = min(n - k, int(0.01 * sr) + 1)
        v[k : k + m] += rng.uniform(2, 5) * np.exp(-np.arange(m) / (0.002 * sr + 1))
    return v


def signals(geo: Geometry, seed: int) -> dict[str, np.ndarray]:
    """channel_id -> values for a signals workload (t = index / sr)."""
    out = {}
    for cid in geo.channel_ids():
        out[cid] = channel_values(_rng(seed, f"sig:{cid}"), geo.n_samples, geo.samplerate)
    return out


def time_axis(geo: Geometry) -> np.ndarray:
    return np.arange(geo.n_samples, dtype=np.float64) / geo.samplerate


def signals_table(chans: dict[str, np.ndarray], t: np.ndarray) -> pa.Table:
    cids = list(chans)
    return pa.table(
        {
            "channel_id": pa.array(np.repeat(np.array(cids, dtype=object), len(t))),
            "t": np.tile(t, len(cids)),
            "value": np.concatenate([chans[c] for c in cids]),
        },
        schema=SIGNALS_ARROW,
    )


def write_signals(chans: dict[str, np.ndarray], t: np.ndarray, out_dir: str, n_files: int) -> str:
    """Write channels as ``n_files`` parquet files (whole channels per
    file, so the scan has at least ``n_files`` splits).  Returns the
    table directory."""
    path = os.path.join(out_dir, "signals")
    os.makedirs(path, exist_ok=True)
    cids = list(chans)
    for k, part in enumerate(np.array_split(np.arange(len(cids)), n_files)):
        sub = {cids[i]: chans[cids[i]] for i in part}
        pq.write_table(signals_table(sub, t), os.path.join(path, f"part-{k:03d}.parquet"))
    return path


# -- stream ------------------------------------------------------------------

STREAM_CHANNELS = 256
STREAM_SLICE = 100  # samples of every channel per tick file
STREAM_SR = 48_000.0


def stream_ticks(seed: int, n_ticks: int) -> list[pa.Table]:
    """``n_ticks`` consecutive slices of every stream channel; tick i
    holds samples [i*STREAM_SLICE, (i+1)*STREAM_SLICE) of each one."""
    geo = Geometry(STREAM_CHANNELS, STREAM_SLICE * n_ticks, STREAM_SR, "str")
    chans = signals(geo, seed)
    t = time_axis(geo)
    out = []
    for i in range(n_ticks):
        sl = slice(i * STREAM_SLICE, (i + 1) * STREAM_SLICE)
        out.append(signals_table({c: v[sl] for c, v in chans.items()}, t[sl]))
    return out


# -- digests -----------------------------------------------------------------


def digest_arrays(arrays: dict[str, np.ndarray]) -> str:
    h = hashlib.sha256()
    for k in sorted(arrays):
        h.update(k.encode())
        h.update(np.ascontiguousarray(arrays[k]).tobytes())
    return h.hexdigest()
