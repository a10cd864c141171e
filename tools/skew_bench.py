"""Skewed-channel probe: what happens when ONE channel dwarfs the rest.

The uniform scale leg in bench.py replicates channels evenly, so it never
measures the skew story (SURVEY.md "Optimize for scale": "skewed keys
hurt").  This probe builds a deliberately skewed signals table — one hot
channel holding ~85% of all rows — and times the per-channel plan against
the planner's AUTO mode, which detects the hot channel from the row
statistics and switches the kernel tier to the overlap-save chunked plan
(bounded task size regardless of channel length).

Usage: python tools/skew_bench.py  ->  markdown table on stdout
(redirect to SKEW.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.operators import detrend, filt_butter, integral, mov_rms, rms
from pandas_sigproc_spark.session import get_spark

HOT_ROWS = int(os.environ.get("SKEW_HOT_ROWS", 5_000_000))  # > planner.HUGE_CHANNEL_ROWS (4M)
COLD_CHANNELS = 31
COLD_ROWS = 20_000
SR = 100.0                    # uniform grid so the filters can design


def _materialize(spark, out_dir: str) -> str:
    import pyspark.sql.functions as F

    path = os.path.join(out_dir, f"skewed_signals_{HOT_ROWS}.parquet")
    marker = os.path.join(out_dir, f".skew_done_v2_{HOT_ROWS}")
    if os.path.exists(marker):
        return path
    os.makedirs(out_dir, exist_ok=True)
    cpus = spark.sparkContext.defaultParallelism
    hot = spark.range(HOT_ROWS, numPartitions=cpus).select(
        F.lit("hot").alias("channel_id"),
        (F.col("id") / SR).alias("t"),
        F.sin(F.col("id") / 17.0).alias("value"),
    )
    cold = spark.range(COLD_CHANNELS * COLD_ROWS, numPartitions=cpus).select(
        F.concat(F.lit("c"), (F.col("id") % COLD_CHANNELS)).alias("channel_id"),
        ((F.col("id") / COLD_CHANNELS).cast("long") / SR).alias("t"),
        F.cos(F.col("id") / 23.0).alias("value"),
    )
    hot.unionByName(cold).repartition(cpus).write.mode("overwrite").parquet(path)
    open(marker, "w").close()
    return path


def _time(fn, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    return best


def main():
    spark = get_spark("skew_bench")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".bench_scale")
    path = _materialize(spark, out_dir)
    df = spark.read.parquet(path)
    df.count()  # warm

    def noop(out):
        out.write.mode("overwrite").format("noop").save()

    rows = []
    rows.append(("rms (native agg)", _time(lambda: noop(rms(df))), "-"))
    t_win = _time(lambda: noop(mov_rms(df, 0.5, samplerate=SR, chunk_rows=None)))
    rows.append(("mov_rms single-window (hot channel = ONE task)", t_win, "-"))
    planner._STATS_CACHE.clear()
    t_wauto = _time(lambda: noop(mov_rms(df, 0.5, samplerate=SR)))  # auto -> chunked
    rows.append((
        "mov_rms AUTO (planner -> overlap-chunked windows)",
        t_wauto,
        f"{t_win / t_wauto:.2f}x",
    ))
    t_dwin = _time(lambda: noop(detrend(df, "linear", mode="window")))
    rows.append(("detrend single-window (hot channel = ONE task)", t_dwin, "-"))
    t_dagg = _time(lambda: noop(detrend(df, "linear", mode="agg")))
    rows.append((
        "detrend AGG (groupBy stats + broadcast joins)",
        t_dagg,
        f"{t_dwin / t_dagg:.2f}x",
    ))
    t_iwin = _time(lambda: noop(integral(df, chunk_rows=None)))
    rows.append(("integral single-window (hot channel = ONE task)", t_iwin, "-"))
    t_iauto = _time(lambda: noop(integral(df)))  # auto -> chunked prefix-sum
    rows.append((
        "integral AUTO (planner -> chunked prefix-sum)",
        t_iauto,
        f"{t_iwin / t_iauto:.2f}x",
    ))
    import pyspark.sql.functions as F

    from pandas_sigproc_spark.operators import interp1d_native, resample

    grid = spark.range(HOT_ROWS // 10).select(
        F.lit("hot").alias("channel_id"),
        (F.col("id") * 10 / SR + 0.5 / SR).alias("t"),
    )
    t_gi = _time(
        lambda: noop(interp1d_native(df, grid, kind="linear", chunk_rows=None)),
        reps=2,
    )
    rows.append(("interp1d single-window (hot channel = ONE task)", t_gi, "-"))
    planner._STATS_CACHE.clear()
    t_ci = _time(lambda: noop(interp1d_native(df, grid, kind="linear")), reps=2)
    rows.append((
        "interp1d AUTO (planner -> range-chunked as-of)",
        t_ci,
        f"{t_gi / t_ci:.2f}x",
    ))
    t_gr = _time(lambda: noop(resample(df, SR / 10.0, chunk_rows=None)), reps=2)
    rows.append(("resample single-window (hot channel = ONE task)", t_gr, "-"))
    planner._STATS_CACHE.clear()
    t_cr = _time(lambda: noop(resample(df, SR / 10.0)), reps=2)
    rows.append((
        "resample AUTO (planner -> range-chunked pairs)",
        t_cr,
        f"{t_gr / t_cr:.2f}x",
    ))
    t_per = _time(
        lambda: noop(filt_butter(df, 10.0, 4, "lowpass", n_buckets=None)), reps=2
    )
    planner._STATS_CACHE.clear()
    t_auto = _time(
        lambda: noop(
            filt_butter(df, 10.0, 4, "lowpass", samplerate=SR)  # auto mode
        ),
        reps=2,
    )
    rows.append(("filt_butter per-channel (hot channel = ONE task)", t_per, "-"))
    rows.append((
        "filt_butter AUTO (planner -> overlap-save chunks)",
        t_auto,
        f"{t_per / t_auto:.2f}x",
    ))

    print("| probe | wall (s) | speedup |")
    print("|---|---|---|")
    for name, sec, sp in rows:
        print(f"| {name} | {sec:.2f} | {sp} |")
    print()
    print(
        f"Skewed table: 1 hot channel x {HOT_ROWS:,} rows + "
        f"{COLD_CHANNELS} channels x {COLD_ROWS:,} rows "
        f"({HOT_ROWS / (HOT_ROWS + COLD_CHANNELS * COLD_ROWS):.0%} of rows "
        "in one key)."
    )


if __name__ == "__main__":
    main()
