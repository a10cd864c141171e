"""The ``recording`` and ``fleet`` workloads: one closed-loop client
running the signal-processing operation mix over a seeded signals
table.  The two differ only in channel geometry (4 x 262,144 samples at
20 kHz versus 1,024 x 1,024 at 1 kHz, the same row count), which the
planner turns into its per-channel and bucketed modes."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from pandas_sigproc_spark import kernels as K
from pandas_sigproc_spark import operators as ops
from pandas_sigproc_spark import planner
from pandas_sigproc_spark.api import sigproc

import eventlog
import gen
import harness

MOV_N = 100  # mov_rms window, samples
PSD_N = 1024  # Welch window, samples
SRS_T0, SRS_T1 = 0.2, 0.7  # the 0.5 s `between` slice fed to get_srs
N_FILES = 4


class SignalsWorkload:
    """Set-up, operation mix, geometry guard, reference check and
    kernel baseline for one channel geometry."""

    def __init__(self, name: str, geo: gen.Geometry, expect_mode: str):
        self.name = name
        self.geo = geo
        self.expect_mode = expect_mode

    # -- set-up --------------------------------------------------------------

    def prepare(self, spark, seed: int) -> dict:
        """Generate and write the seeded input, open it, and run the
        geometry guard with cold planner stats.  Returns timings."""
        t0 = time.perf_counter()
        self.chans = gen.signals(self.geo, seed)
        self.t = gen.time_axis(self.geo)
        self.path = gen.write_signals(self.chans, self.t, harness.fresh_dir(self.name, "in"), N_FILES)
        gen_s = time.perf_counter() - t0
        self.spark = spark
        df = self.load()
        planner.invalidate_stats(df)
        t1 = time.perf_counter()
        stats = planner.get_stats(df)
        stats_s = time.perf_counter() - t1
        self.guard(df, stats)
        return {"gen_s": gen_s, "stats_s": stats_s}

    def load(self):
        return self.spark.read.parquet(self.path)

    def guard(self, df, stats) -> None:
        """Fail loudly unless the planner resolves this input to the mode
        the workload exists to measure (and never to chunked)."""
        sr = self.geo.samplerate
        nb, chunk = planner.auto_filter_mode(df, sr)
        psd_nb, seg = planner.auto_psd_mode(df, sr, PSD_N / sr)
        srs_nb, slices = planner.auto_srs_mode(df)
        got = {
            "filter": "chunked" if chunk else ("bucketed" if nb else "per-channel"),
            "psd": "chunked" if seg else ("bucketed" if psd_nb else "per-channel"),
            "srs": "chunked" if slices > 1 else ("bucketed" if srs_nb else "per-channel"),
        }
        bad = {k: v for k, v in got.items() if v != self.expect_mode}
        if bad or stats.total_rows != self.geo.rows:
            raise SystemExit(
                f"geometry guard: {self.name} must resolve to {self.expect_mode} "
                f"on {self.geo.rows} rows; planner gave {got} on {stats}"
            )
        self.n_buckets = nb
        self.modes = got

    # -- the operation mix -----------------------------------------------------

    def mix(self) -> dict:
        sr, nb, load = self.geo.samplerate, self.n_buckets, self.load
        return {
            "mov_rms": lambda: ops.mov_rms(load(), MOV_N / sr, samplerate=sr),
            "resample": lambda: ops.resample(load(), sr / 2),
            "fused": lambda: sigproc(load(), n_buckets=nb)
            .filt_butter(sr / 10, 4, "lowpass")
            .filt_a()
            .df,
            "psd": lambda: ops.get_psd(load(), window_length=PSD_N / sr),
            "srs": lambda: ops.get_srs(ops.between(load(), SRS_T0, SRS_T1)),
            "rainflow": lambda: ops.rainflow(load()),
        }

    def rows(self) -> dict:
        return {k: self.geo.rows for k in self.mix()}

    # -- correctness -----------------------------------------------------------

    def warm_up(self, groups) -> dict:
        """One pass of the mix over the input, each operation writing its
        complete output as parquet: it fills the JVM's code caches and
        boots the Python workers, and its output is what :meth:`check`
        compares.  Returns {op: output path or error}."""
        out_root = harness.fresh_dir(self.name, "out")

        def one(item):
            name, build = item
            groups.other(f"warmup:{name}")
            path = os.path.join(out_root, name)
            try:
                build().write.mode("overwrite").parquet(path)
            except Exception as exc:  # noqa: BLE001 - a failing op is a mismatch
                return name, f"raised {type(exc).__name__}: {exc}"[:500]
            return name, path

        return dict(one(item) for item in self.mix().items())

    def check(self, outputs: dict, rng) -> list[str]:
        """Compare every operation's warm-up output on sampled channels
        against NumPy / ``kernels`` references.  Returns named
        mismatches, at most one per operation."""
        k = 2 if self.geo.n_channels <= 8 else 8
        sample = sorted(rng.choice(list(self.chans), k, replace=False).tolist())
        bad = []
        for name, path in outputs.items():
            if not os.path.isdir(path):
                bad.append(f"{self.name}/{name}: {path}")
                continue
            out = pq.read_table(path, filters=[("channel_id", "in", sample)]).to_pandas()
            for cid in sample:
                err = self._compare(name, out[out["channel_id"] == cid], self.chans[cid])
                if err:
                    bad.append(f"{self.name}/{name}/{cid}: {err}")
                    break
        return bad

    def _compare(self, name, got, v) -> str | None:
        t, sr = self.t, self.geo.samplerate
        got = got.sort_values([c for c in ("t", "freq", "bin") if c in got.columns])
        if name == "mov_rms":
            sq = np.lib.stride_tricks.sliding_window_view(v * v, MOV_N).mean(axis=1)
            return _close(got["value"].to_numpy(), np.sqrt(sq)[:-1], 1e-9) or _close(
                got["t"].to_numpy(), t[MOV_N - 1 : -1] - (MOV_N / sr) / 2, 1e-12
            )
        if name == "resample":
            dt = 1.0 / (sr / 2)
            grid = t[0] + np.arange(int(np.ceil((t[-1] - t[0]) / dt))) * dt
            return _close(got["t"].to_numpy(), grid, 1e-12) or _close(
                got["value"].to_numpy(), K.interp1d(t, v, grid), 1e-9
            )
        if name == "fused":
            b, a = K.butter(2, (sr / 10) / (sr / 2), "lowpass")
            y = K.filtfilt(b, a, v)
            ba, aa = K.a_weighting(sr)
            ref = K.lfilter(ba, aa, y)
            return _close(got["value"].to_numpy(), ref, 1e-9)
        if name == "psd":
            f, p = K.welch_psd(v, sr, window_length=PSD_N / sr)
            return _close(got["freq"].to_numpy(), f, 1e-12) or _close(
                got["power"].to_numpy(), p, 1e-6
            )
        if name == "srs":
            m = (t >= SRS_T0) & (t <= SRS_T1)
            pos, neg = K.srs(t[m], v[m])
            return _close(got["freq"].to_numpy(), K.build_freq_array(), 1e-12) or _close(
                got["power"].to_numpy(), np.maximum(pos, neg), 1e-9
            )
        if name == "rainflow":
            pairs = K.count_cycles(v)
            return _close(got["bin"].to_numpy(), [p[0] for p in pairs], 1e-12) or _close(
                got["cycles"].to_numpy(), [p[1] for p in pairs], 0
            )
        raise KeyError(name)

    # -- per-layer: kernels ------------------------------------------------------

    # Python-tier ops of the mix and the kernels each one runs.
    KERNEL_OPS = {
        "fused": ("filtfilt", "lfilter"),
        "psd": ("welch_psd",),
        "srs": ("srs",),
        "rainflow": ("count_cycles",),
    }
    MAX_KERNEL_SAMPLES = 1 << 18

    def kernel_times(self) -> dict:
        """Single-thread self time of each kernel over the whole input
        (the single-process baseline), timed in this process on the
        workload's own arrays.  Timed on the first channels up to
        MAX_KERNEL_SAMPLES and scaled to all channels."""
        sr, t = self.geo.samplerate, self.t
        cids = list(self.chans)
        n_used = max(1, min(len(cids), self.MAX_KERNEL_SAMPLES // self.geo.n_samples))
        scale = len(cids) / n_used
        b, a = K.butter(2, (sr / 10) / (sr / 2), "lowpass")
        ba, aa = K.a_weighting(sr)
        m = (t >= SRS_T0) & (t <= SRS_T1)
        grid = t[0] + np.arange(int(np.ceil((t[-1] - t[0]) * sr / 2))) * (2 / sr)
        runs = {
            "filtfilt": lambda v: K.filtfilt(b, a, v),
            "lfilter": lambda v: K.lfilter(ba, aa, v),
            "welch_psd": lambda v: K.welch_psd(v, sr, window_length=PSD_N / sr),
            "srs": lambda v: K.srs(t[m], v[m]),
            "count_cycles": lambda v: K.count_cycles(v),
            "interp1d": lambda v: K.interp1d(t, v, grid),
        }
        out = {}
        for kname, fn in runs.items():
            t0 = time.perf_counter()
            for cid in cids[:n_used]:
                fn(self.chans[cid])
            out[kname] = (time.perf_counter() - t0) * scale
        return out

    def kernel_layer(self, records, layers: dict, cal: harness.Calibrator) -> dict:
        kt, _, f = cal.span(self.kernel_times)
        kt = {k: v * f for k, v in kt.items()}
        n_slice = int(((self.t >= SRS_T0) & (self.t <= SRS_T1)).sum())
        per_op_samples = {
            "fused": 2 * self.geo.rows,
            "psd": self.geo.rows,
            "srs": n_slice * self.geo.n_channels,
            "rainflow": self.geo.rows,
        }
        ok = [r for r in records if r.ok and r.group]
        samples = sum(per_op_samples.get(r.name, 0) for r in ok) / max(len(ok), 1)
        kernel_s = sum(
            sum(kt[k] for k in self.KERNEL_OPS.get(r.name, ())) for r in ok
        ) / max(len(ok), 1)
        py_total = layers.get("py.total_s", (0.0, "s"))[0]
        out = {f"kernels.{k}_s": (v, "s") for k, v in kt.items()}
        out["kernels.samples"] = (samples, "count")
        # computed, not measured: 8 bytes read + 8 written per sample
        out["kernels.bytes"] = (16.0 * samples, "bytes")
        out["kernels.share"] = (kernel_s / py_total if py_total else 0.0, "ratio")
        return out

    def groups_per_op(self) -> dict:
        """Arrow groups each Python-tier op sends, from the resolved
        planner modes (not a Spark metric)."""
        nch = self.geo.n_channels
        per = self.n_buckets if self.n_buckets else nch
        return {"fused": per, "psd": per, "srs": per, "rainflow": per}


def _close(got, ref, rtol) -> str | None:
    got, ref = np.asarray(got, np.float64), np.asarray(ref, np.float64)
    if got.shape != ref.shape:
        return f"{len(got)} rows, reference has {len(ref)}"
    scale = max(float(np.max(np.abs(ref))) if ref.size else 0.0, 1e-300)
    err = float(np.max(np.abs(got - ref))) if ref.size else 0.0
    if not err <= rtol * scale:
        return f"max abs error {err:.3g} exceeds {rtol:g} x scale {scale:.3g}"
    return None


def scan_seconds(workload: SignalsWorkload, reps: int = 3) -> float:
    """Median wall of a bare full scan of the input (sources layer)."""
    return harness.median(
        [harness.timed(harness.execute, workload.load())[1] for _ in range(reps)]
    )


WORKLOADS = {
    "recording": lambda: SignalsWorkload("recording", gen.RECORDING, "per-channel"),
    "fleet": lambda: SignalsWorkload("fleet", gen.FLEET, "bucketed"),
}


def run(name: str, seed: int, seconds: float, trace: bool, session) -> harness.Result:
    """Set up, warm up, check and measure one signals workload."""
    w = WORKLOADS[name]()
    spark = session.spark
    cal = session.cal
    preps = [cal.span(lambda: w.prepare(spark, seed)) for _ in range(session.N_SETUPS)]
    groups = harness.JobGroups(spark)
    outputs, warm_raw, warm_f = cal.span(lambda: w.warm_up(groups))
    session.setup_done(harness.median([raw * f for _, raw, f in preps]), warm_raw * warm_f)
    c0 = time.perf_counter()
    mismatches = w.check(outputs, np.random.default_rng(seed + 1))
    check_s = time.perf_counter() - c0

    rng = np.random.default_rng(seed)
    mix = w.mix()
    budget = seconds / 2 if trace else seconds
    records, cycles = harness.closed_loop(groups, mix, w.rows(), rng, budget, cal)
    session.timed_done()
    metrics = harness.loop_metrics(records)
    details = {
        "cycles_s": cycles,
        "prep_s": [p for p, _, _ in preps],
        "warmup_s": warm_raw,
        "check_s": check_s,
        "modes": w.modes,
        "n_buckets": w.n_buckets,
        "op_latency_s": [(r.name, round(r.latency, 3), round(r.factor, 3)) for r in records],
    }
    layers = {}
    if trace:
        spark = w.spark = session.traced()
        groups = harness.JobGroups(spark)
        # re-warm the new context, so the overhead compares like with like
        w.warm_up(groups)
        t_rec, t_cycles = harness.closed_loop(groups, mix, w.rows(), rng, budget, cal)
        groups.other("scan")
        scan_s, _, scan_f = cal.span(lambda: scan_seconds(w))
        session.stop()
        layers = eventlog.op_layers(t_rec, eventlog.read(session.eventlog_dir))
        layers.update(w.kernel_layer(t_rec, layers, cal))
        layers.update(harness.per_op_p50(t_rec))
        ok = [r for r in t_rec if r.ok]
        gpo = w.groups_per_op()
        layers["py.groups"] = (sum(gpo.get(r.name, 0) for r in ok) / max(len(ok), 1), "count")
        layers["sources.scan_s"] = (scan_s * scan_f, "s")
        layers["planner.stats_s"] = (harness.median([p["stats_s"] * f for p, _, f in preps]), "s")
        layers["trace_overhead_frac"] = (
            harness.loop_metrics(t_rec)["query_p50_s"][0] / metrics["query_p50_s"][0] - 1.0,
            "ratio",
        )
        records = records + t_rec
    mismatches += [f"{name}/{r.name}: {r.error}" for r in records if not r.ok]
    # every timed operation and every checked output is one attempt, and
    # each failure of either is one mismatch
    return harness.result(
        len(records) + len(outputs),
        len(mismatches),
        mismatches,
        metrics,
        details,
        layers,
    )
