"""Process-level plumbing shared by the workloads: the Spark launcher,
the /proc RSS sampler, per-operation job groups and the summary
statistics every metric is reported with."""

from __future__ import annotations

import math
import os
import shlex
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def eventlog_confs(eventlog_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + eventlog_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_spark():
    """The package's own session (``session.get_spark``) at
    ``local[<host cores>]``.  Launcher-only settings go in as submit
    arguments, so ``session.py`` is used unchanged: no console progress
    bar, scratch and temp space inside the work dir, and a long
    streaming progress history."""
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    # Python workers import the package from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # session.py reads the driver heap from here; 2 GiB holds every
    # workload and keeps the heap (and so peak RSS) from wandering.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    from pandas_sigproc_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Calibrator:
    """Host-speed calibrations, taken while the engine is idle.

    On a shared host the CPU speed drifts by up to 2x within a run,
    and every layer of the engine (JVM, Python, NumPy) drifts with it.
    Every reported time is therefore the measured wall times
    ``CALIB_REF_S / c``, where ``c`` is the median calibration taken in
    or at the edges of that phase (a set-up step, the timed loop):
    seconds at the reference speed.
    """

    def __init__(self):
        self.samples: list[tuple[float, float]] = []

    def measure(self, n: int = 2) -> None:
        for _ in range(n):
            c = calibrate()
            self.samples.append((time.time(), c))

    def factor(self, a: float, b: float) -> float:
        """Speed factor of the interval [a, b]: from the median of the
        calibrations taken in it or at its edges."""
        return CALIB_REF_S / median(c for t, c in self.samples if a - 1.0 <= t <= b + 1.0)

    def span(self, fn):
        """Run ``fn`` between two calibrations; returns (result, raw
        seconds, speed factor)."""
        self.measure()
        a = time.time()
        out = fn()
        b = time.time()
        self.measure()
        return out, b - a, self.factor(a, b)


class Session:
    """The Spark session of one run.

    ``setup_s`` = session start (JVM launch included) + the median of
    ``N_SETUPS`` seeded data set-ups + one warm-up pass, each at the
    reference speed.  The traced half of a ``--trace 1`` run restarts
    the session in the same JVM with the event log switched on (a JVM
    system property, read when the next context is created), so the
    untraced half runs without it.
    """

    #: set-ups per run; setup_s takes their median
    N_SETUPS = 3

    def __init__(self, rss: "RssSampler"):
        self.cal = Calibrator()
        self.rss = rss
        self.spark = None
        self.eventlog_dir = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0

    def start(self):
        self.spark, raw, f = self.cal.span(start_spark)
        self.session_s = raw * f
        return self.spark

    def setup_done(self, prep_s: float, warm_s: float) -> None:
        self.setup_s = self.session_s + prep_s + warm_s
        self.rss.samples.clear()

    def timed_done(self) -> None:
        """The untraced timed region ended: its memory peak is the metric."""
        self.peak_rss_mb = self.rss.peak_mb()

    def traced(self):
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        self.eventlog_dir = fresh_dir("eventlog")
        for k, v in eventlog_confs(self.eventlog_dir).items():
            jvm.java.lang.System.setProperty(k, v)
        self.spark = start_spark()
        return self.spark

    def stop(self) -> None:
        """Stop the context (flushing the event log)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout_s: float = 30.0) -> None:
        """Stop the context, then the JVM and every process under it,
        and wait until all of them have ended."""
        from pyspark import SparkContext

        self.stop()
        pids = _descendants()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout_s)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + timeout_s
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, 9)
            except OSError:
                pass


class JobGroups:
    """Tags every Spark job with the operation that caused it, so the
    event log can be split by operation: ``b<i>:<op>`` while the plan is
    built (eager planner jobs), ``r<i>:<op>`` while it runs."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.n = 0

    def build(self, op: str) -> str:
        self.n += 1
        gid = f"b{self.n}:{op}"
        self._sc.setJobGroup(gid, op)
        return gid

    def run(self, op: str) -> str:
        gid = f"r{self.n}:{op}"
        self._sc.setJobGroup(gid, op)
        return gid

    def other(self, what: str) -> None:
        self._sc.setJobGroup(f"x:{what}", what)


# -- peak RSS ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def _rss_kb(pid: int) -> int:
    """Proportional resident memory of ``pid``: shared pages (the forked
    Python workers share their daemon's) are split among the sharers,
    so a sum over processes counts each resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Summed resident memory (PSS) of this process's descendants — the
    driver JVM, the PySpark daemon and its workers — sampled every
    ``period_s`` from /proc (psutil is not available).  The benchmark's
    own client process is excluded: it holds the generated inputs and
    the reference results.  Samples are cleared when set-up ends, so the
    peak covers the timed region."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.samples.append(sum(_rss_kb(p) for p in _descendants()))

    def _loop(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        """90th percentile of the samples: the peak, less the brief
        spikes (a garbage collection, a worker fork) that make the
        maximum of 0.2 s samples wander between runs."""
        self.sample()
        s = sorted(self.samples)
        return s[int(0.9 * (len(s) - 1))] / 1024.0


# -- statistics ------------------------------------------------------------------


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else 0.5 * (s[m - 1] + s[m])


def tail(xs) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it.  Below 21 samples no such percentile lies above
    the median, so the median is reported (percentile 50)."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return median(s), 50.0
    i = n - 11
    return s[i], 100.0 * i / (n - 1)


@dataclass
class OpRecord:
    """One closed-loop operation: when it was due, built and finished."""

    name: str
    rows: int
    due: float
    built: float
    end: float
    ok: bool = True
    group: str = ""
    error: str = ""
    factor: float = 1.0  # host-speed factor (Calibrator)

    @property
    def latency(self) -> float:
        return self.end - self.due


@dataclass
class Result:
    """What a workload hands back to the CLI."""

    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    details: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    mismatches: list[str] = field(default_factory=list)


#: Calibration time at the reference CPU speed (see Calibrator).
CALIB_REF_S = 0.0125


def _calib_work() -> None:
    import numpy as np

    x = np.linspace(0.0, 1.0, 100_000)
    for _ in range(10):
        x = np.sqrt(np.abs(np.sin(x) * 1.0001 + 0.5))


def calibrate(reps: int = 3) -> float:
    """Seconds for a fixed NumPy workload run on every core at once (one
    thread per core; NumPy releases the interpreter lock), the fastest
    of ``reps`` runs (contention only ever slows it).  All cores, because
    the engine's speed depends on the whole machine's capacity, not on
    one core's."""
    n = cpus()
    best = math.inf
    for _ in range(reps):
        threads = [threading.Thread(target=_calib_work) for _ in range(n)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        best = min(best, time.perf_counter() - t0)
    return best


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def execute(df) -> None:
    """Run a plan to completion without collecting it: the ``noop``
    sink computes every row and writes none."""
    df.write.format("noop").mode("overwrite").save()


def run_op(groups: JobGroups, name: str, build, rows: int) -> OpRecord:
    """One closed-loop operation: build the plan (eager planner jobs land
    in the build group), then execute it.  A failure is recorded, not
    raised, so it counts against ``ok_frac`` and the loop goes on."""
    due = time.time()
    groups.build(name)
    rec = OpRecord(name, rows, due, due, due)
    try:
        df = build()
        rec.built = time.time()
        rec.group = groups.run(name)
        execute(df)
    except Exception as exc:  # noqa: BLE001 - a failed op is a measured outcome
        rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:500]
    rec.end = time.time()
    return rec


def closed_loop(groups: JobGroups, mix: dict, rows: dict, rng, seconds: float, cal: Calibrator):
    """One client, closed loop: whole cycles of the mix, each in a
    seeded order.  Another cycle starts only while it is expected to end
    within ``seconds``; at least one always runs.  The engine is idle
    between operations, which is when the host speed is calibrated.
    Returns (records, raw cycle walls)."""
    records, cycles = [], []
    t0 = time.time()
    while not cycles or time.time() - t0 + sum(cycles) / len(cycles) <= seconds:
        c0 = time.time()
        for name in rng.permutation(list(mix)):
            cal.measure(1)
            records.append(run_op(groups, name, mix[name], rows[name]))
        cycles.append(time.time() - c0)
    cal.measure(1)
    factor = cal.factor(t0, time.time())
    for r in records:
        r.factor = factor
    return records, cycles


def loop_metrics(records: list[OpRecord]) -> dict:
    """End-to-end metrics of a closed loop.  Each operation is due when
    the previous one completes, so its lag equals its latency; the
    client is busy exactly for the sum of the latencies."""
    lat = [r.latency * r.factor if r.ok else math.inf for r in records]
    tail_v, tail_p = tail(lat)
    ok_rows = sum(r.rows for r in records if r.ok)
    return {
        "rows_per_s": (ok_rows / sum(r.latency * r.factor for r in records), "rows/s"),
        "query_p50_s": (median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
        "lag_p50_s": (median(lat), "s"),
        "lag_tail_s": (tail_v, "s"),
        "_tail_percentile": tail_p,
        "_samples": len(lat),
    }


def result(attempted, failed, mismatches, metrics, details, layers) -> Result:
    """Fold a workload's outcome into one Result; ``ok_frac`` is the
    share of attempted operations that neither failed nor gave output
    that differs from its reference."""
    metrics["ok_frac"] = (1.0 - failed / attempted, "ratio")
    return Result(attempted, failed, metrics, details, layers, mismatches)


def per_op_p50(records: list[OpRecord]) -> dict:
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r.name, []).append(r.latency * r.factor if r.ok else math.inf)
    return {f"op.{k}.p50_s": (median(v), "s") for k, v in by.items()}
