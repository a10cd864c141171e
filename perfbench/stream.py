"""The ``stream`` workload: open loop.

A generator thread writes one parquet file per tick into a file source
at a fixed offered rate, whatever the engine does; each file holds the
next slice of every stream channel and carries its due time in its
name.  Two queries consume the source — ``streaming_lfilter`` with
A-weighting coefficients and ``streaming_rainflow`` — both keyed by
channel bucket, reading one file per micro-batch into their own parquet
sink from a fresh checkpoint.  Lag is measured per (query, file) from
the file's due time to the commit of the micro-batch that consumed it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from pandas_sigproc_spark import kernels as K
from pandas_sigproc_spark.kernels.rainflow import extract_full_cycles_4pt
from pandas_sigproc_spark.streaming import streaming_lfilter, streaming_rainflow

import eventlog
import gen
import harness

TICK_S = 5.0  # offered rate: one file every TICK_S seconds
WARM_TICKS = 2
SCHEMA = "channel_id string, t double, value double"
QUERIES = ("stream_lfilter", "stream_rainflow")
_DUE = re.compile(r"tick-(\d+)-due-(\d+)\.parquet$")


def _ab():
    return K.a_weighting(gen.STREAM_SR)


def _start_queries(spark, src: str, root: str, buckets: int) -> dict:
    def source():
        return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)

    b, a = _ab()
    plans = {
        "stream_lfilter": streaming_lfilter(source(), b, a, channel_buckets=buckets),
        "stream_rainflow": streaming_rainflow(source(), channel_buckets=buckets),
    }
    return {
        name: df.writeStream.format("parquet")
        .option("path", os.path.join(root, "sink", name))
        .option("checkpointLocation", os.path.join(root, "ck", name))
        .queryName(name)
        .start()
        for name, df in plans.items()
    }


def _write_tick(src: str, i: int, due: float, table) -> None:
    tmp = os.path.join(src, f".tmp-{i:05d}.parquet")  # hidden from the source
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, f"tick-{i:05d}-due-{int(round(due * 1000))}.parquet"))


class Generator(threading.Thread):
    """Writes tick i at start + i * TICK_S, on schedule, never waiting
    for the engine.  Records how late each write landed."""

    def __init__(self, src: str, ticks: list, start: float):
        super().__init__(daemon=True)
        self.src, self.ticks, self.start_at = src, ticks, start
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for i, table in enumerate(self.ticks):
                due = self.start_at + i * TICK_S
                time.sleep(max(0.0, due - time.time()))
                _write_tick(self.src, i, due, table)
                self.late.append(time.time() - due)
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


def _consumed(ck: str) -> dict[int, list[tuple[int, float]]]:
    """batchId -> [(tick, due)] from the file source's metadata log
    (compacted and plain log files may repeat an entry)."""
    out: dict[int, set[tuple[int, float]]] = {}
    for path in glob.glob(os.path.join(ck, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                m = _DUE.search(entry["path"])
                if m:
                    out.setdefault(entry["batchId"], set()).add(
                        (int(m.group(1)), int(m.group(2)) / 1000.0)
                    )
    return {k: sorted(v) for k, v in out.items()}


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class Phase:
    """One measured stream: both queries over a fresh source, sinks and
    checkpoints, fed by the generator until the last tick, then drained.

    Stream timings are raw walls, not reference-speed ones: a
    micro-batch is mostly fixed per-batch overhead (state store,
    checkpoint and sink files) that does not follow the CPU
    calibration, and scaling it widened the run-to-run spread."""

    def __init__(self, spark, tag: str, ticks: list, buckets: int):
        self.root = harness.fresh_dir("stream", tag)
        self.src = os.path.join(self.root, "src")
        os.makedirs(self.src)
        self.ticks = ticks
        queries = _start_queries(spark, self.src, self.root, buckets)
        self.start_at = time.time() + 0.5
        gen_thread = Generator(self.src, ticks, self.start_at)
        gen_thread.start()
        gen_thread.join()
        if gen_thread.error is not None:
            raise gen_thread.error
        self.late = gen_thread.late
        self.errors = []
        self.progress = {}
        self.files = {}
        self.run_ids = {}
        for name, q in queries.items():
            try:
                q.processAllAvailable()
            except Exception as exc:  # noqa: BLE001 - a failed query is measured
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            self.progress[name] = [json.loads(p.json) for p in q.recentProgress]
            self.run_ids[name] = str(q.runId)
            q.stop()
            self.files[name] = _consumed(os.path.join(self.root, "ck", name))

    def batches(self):
        """(query, progress, consumed ticks) for every batch with input."""
        for name, progs in self.progress.items():
            for p in progs:
                if p["numInputRows"] > 0:
                    yield name, p, self.files[name].get(p["batchId"], [])

    def metrics(self) -> dict:
        """End-to-end metrics.  A file is processed once both queries have committed it: its lag
        runs from its due time to the later commit, and its operation
        latency is the longer of the two micro-batches (they run side
        by side).  A file either query never committed counts as
        infinitely late."""
        rows, busy = 0, 0.0
        done: dict[int, list[tuple[float, float]]] = {}
        due_of = {}
        for _, p, files in self.batches():
            dur = p["durationMs"]["triggerExecution"] / 1e3
            end = _ts(p["timestamp"]) + dur
            for i, due in files:
                done.setdefault(i, []).append((end, dur))
                due_of[i] = due
            rows += p["numInputRows"]
            busy += dur
        n_q = len(self.progress)
        lags, ops = [], []
        for i in range(len(self.ticks)):
            commits = done.get(i, [])
            if len(commits) < n_q:
                lags.append(math.inf)
                ops.append(math.inf)
                continue
            lags.append(max(e for e, _ in commits) - due_of[i])
            ops.append(max(d for _, d in commits))
        lag_v, lag_p = harness.tail(lags)
        return {
            # processing rate: rows per second a query spends in batches
            "rows_per_s": (rows / busy, "rows/s"),
            "query_p50_s": (harness.median(ops), "s"),
            "query_tail_s": (harness.tail(ops)[0], "s"),
            "lag_p50_s": (harness.median(lags), "s"),
            "lag_tail_s": (lag_v, "s"),
            "_tail_percentile": lag_p,
            "_samples": len(lags),
            "_missing": sum(len(c) < n_q for c in (done.get(i, []) for i in range(len(self.ticks)))),
        }

    def stream_layers(self) -> dict:
        batches = list(self.batches())
        dur = [p["durationMs"]["triggerExecution"] / 1e3 for _, p, _ in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for _, p, _ in batches]
        backlog = []
        for _, p, files in batches:
            start = _ts(p["timestamp"])
            due = int((start - self.start_at) // TICK_S) + 1
            first = min((i for i, _ in files), default=due)
            backlog.append(max(0, min(due, len(self.ticks)) - first))
        state_rows = state_bytes = 0
        for name, progs in self.progress.items():
            last = [p for p in progs if p.get("stateOperators")]
            if last:
                ops = last[-1]["stateOperators"]
                state_rows += sum(o["numRowsTotal"] for o in ops)
                state_bytes += sum(o["memoryUsedBytes"] for o in ops)
        out = {
            "streaming.batch_s": (harness.median(dur), "s"),
            "streaming.rows_per_batch": (
                sum(p["numInputRows"] for _, p, _ in batches) / len(batches),
                "rows",
            ),
            "streaming.state_rows": (state_rows, "rows"),
            "streaming.state_bytes": (state_bytes, "bytes"),
            "streaming.backlog_files": (max(backlog), "count"),
            "sink.write_s": (harness.median(add), "s"),
            "gen.late_s": (max(self.late), "s"),
        }
        for name in QUERIES:
            d = [p["durationMs"]["triggerExecution"] / 1e3 for q, p, _ in batches if q == name]
            out[f"op.{name}.p50_s"] = (harness.median(d), "s")
        return out

    def check(self, chans: dict, rng) -> list[str]:
        """Sinks against one-shot references on sampled channels:
        streaming_lfilter must be bit-identical to ``kernels.lfilter``
        over the whole consumed series, and the streamed full cycles
        must equal the one-shot 4-point full cycles.  At most one
        mismatch per sink."""
        b, a = _ab()
        sample = sorted(rng.choice(list(chans), 8, replace=False).tolist())
        filt = pq.read_table(
            os.path.join(self.root, "sink", "stream_lfilter"), filters=[("channel_id", "in", sample)]
        ).to_pandas()
        cyc = pq.read_table(
            os.path.join(self.root, "sink", "stream_rainflow"), filters=[("channel_id", "in", sample)]
        ).to_pandas()
        bad = {}
        for cid in sample:
            v = chans[cid]
            got = filt[filt["channel_id"] == cid].sort_values("t")["value"].to_numpy()
            ref = K.lfilter(b, a, v)
            if got.shape != ref.shape or not np.array_equal(got, ref):
                bad.setdefault("lfilter", f"stream/stream_lfilter/{cid}: not bit-identical to one-shot lfilter")
            fulls, _ = extract_full_cycles_4pt(v)
            g = cyc[cyc["channel_id"] == cid]
            if sorted(g["rng"]) != sorted(r for r, _ in fulls) or (g["cnt"] != 1.0).any():
                bad.setdefault("rainflow", f"stream/stream_rainflow/{cid}: full cycles differ from one-shot")
        return list(bad.values())


def _ticks(seed: int, n: int):
    ticks = gen.stream_ticks(seed, n)
    chans = {}
    for tb in ticks:
        pdf = tb.to_pandas()
        for cid, g in pdf.groupby("channel_id", sort=False):
            chans.setdefault(cid, []).append(g["value"].to_numpy())
    return ticks, {c: np.concatenate(v) for c, v in chans.items()}


def kernel_times(chans: dict) -> tuple[float, float]:
    """Single-thread self time of the two stream kernels over every
    consumed sample (the single-process baseline)."""
    b, a = _ab()
    _, t_lf = harness.timed(lambda: [K.lfilter(b, a, v) for v in chans.values()])
    _, t_rf = harness.timed(lambda: [extract_full_cycles_4pt(v) for v in chans.values()])
    return t_lf, t_rf


def kernel_layer(kt, factor: float, chans: dict, layers: dict, n_batches: int) -> dict:
    t_lf, t_rf = kt[0] * factor, kt[1] * factor
    per_batch = 2 * sum(len(v) for v in chans.values()) / max(n_batches, 1)
    py_total = layers.get("py.total_s", (0.0, "s"))[0]
    return {
        "kernels.lfilter_s": (t_lf, "s"),
        "kernels.count_cycles_s": (t_rf, "s"),
        "kernels.samples": (per_batch, "count"),
        # computed, not measured: 8 bytes read + 8 written per sample
        "kernels.bytes": (16.0 * per_batch, "bytes"),
        "kernels.share": (
            (t_lf + t_rf) / max(n_batches, 1) / py_total if py_total else 0.0,
            "ratio",
        ),
    }


def _warm_up(spark, ticks: list, buckets: int) -> None:
    """Both queries over a few pre-written files, run to completion from
    a fresh checkpoint: plans, code caches and Python workers warm."""
    root = harness.fresh_dir("stream", "warm")
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, tb in enumerate(ticks):
        _write_tick(src, i, time.time(), tb)
    for q in _start_queries(spark, src, root, buckets).values():
        q.processAllAvailable()
        q.stop()


def run(name: str, seed: int, seconds: float, trace: bool, session) -> harness.Result:
    spark = session.spark
    buckets = 4 * harness.cpus()
    budget = seconds / 2 if trace else seconds
    n_ticks = math.ceil(budget / TICK_S) + 1
    cal = session.cal
    preps = [
        cal.span(lambda: (_ticks(seed + 1_000_003, WARM_TICKS), _ticks(seed, n_ticks)))
        for _ in range(session.N_SETUPS)
    ]
    (warm_ticks, _), (ticks, chans) = preps[-1][0]
    _, warm_raw, warm_f = cal.span(lambda: _warm_up(spark, warm_ticks, buckets))
    session.setup_done(harness.median([raw * f for _, raw, f in preps]), warm_raw * warm_f)

    phase = Phase(spark, "run", ticks, buckets)
    session.timed_done()
    metrics = phase.metrics()
    bad_sinks = phase.check(chans, np.random.default_rng(seed + 1))
    mismatches = phase.errors + bad_sinks
    details = {
        "offered_files_per_s": 1 / TICK_S,
        "offered_rows_per_s": gen.STREAM_CHANNELS * gen.STREAM_SLICE / TICK_S,
        "files": n_ticks,
        "channel_buckets": buckets,
        "files_not_committed": metrics.pop("_missing"),
        "gen_late_max_s": max(phase.late),
        "batch_s": {
            q: [round(p["durationMs"]["triggerExecution"] / 1e3, 3) for n, p, _ in phase.batches() if n == q]
            for q in QUERIES
        },
    }
    layers = {}
    if trace:
        spark = session.traced()
        _warm_up(spark, warm_ticks, buckets)
        t_phase = Phase(spark, "traced", ticks, buckets)
        session.stop()
        layers = t_phase.stream_layers()
        n_batches = sum(1 for _ in t_phase.batches())
        # stream jobs are grouped by query run id: one record per query,
        # its totals then spread over the query's micro-batches
        recs = [
            harness.OpRecord(q, 0, t_phase.start_at, t_phase.start_at, t_phase.start_at, group="r" + rid)
            for q, rid in t_phase.run_ids.items()
        ]
        logged = {"r" + k: v for k, v in eventlog.read(session.eventlog_dir).items()}
        per_batch = len(recs) / max(n_batches, 1)
        for k, (v, unit) in eventlog.op_layers(recs, logged).items():
            if k not in ("driver.plan_build_s", "driver.sched_s"):
                layers[k] = (v * per_batch, unit)
        kt, _, k_factor = cal.span(lambda: kernel_times(chans))
        layers.update(kernel_layer(kt, k_factor, chans, layers, n_batches))
        # derived: each query's state op sends one Arrow group per bucket
        layers["py.groups"] = (buckets, "count")
        layers["trace_overhead_frac"] = (
            t_phase.metrics()["query_p50_s"][0] / metrics["query_p50_s"][0] - 1.0,
            "ratio",
        )
        mismatches += t_phase.errors
    # each tick file must be committed by both queries, and each sink
    # checked; a query that failed shows as files not committed
    return harness.result(
        n_ticks + 2,
        details["files_not_committed"] + len(bad_sinks),
        mismatches,
        metrics,
        details,
        layers,
    )
