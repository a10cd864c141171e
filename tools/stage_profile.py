"""Per-stage time attribution for ONE query (optimization round tool).

Runs the named query through the noop sink with the event log enabled,
then prints every stage: task-time, wall (submission->completion),
shuffle bytes, input bytes, task count, and the stage's callsite name —
the finest local stand-in for the Spark UI's stage table (the UI is
disabled in the bench session).  Repeats the run twice and reports the
second (warm) run so JVM/codegen startup isn't attributed to operators.

Usage: python tools/stage_profile.py <query> [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    from pandas_sigproc_spark.session import host_cpus

    cpus = host_cpus()

    el_dir = tempfile.mkdtemp(prefix="stage_profile_el_")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{el_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("stage_profile")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entry_mod.queries()
    # warm run (unlabelled)
    t0 = time.time()
    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    entry_mod.release_caches()
    warm = time.time() - t0
    # measured run
    spark.sparkContext.setJobGroup("measured", name)
    t0 = time.time()
    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    entry_mod.release_caches()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)

    paths = glob.glob(f"{el_dir}/eventlog_v2_{app_id}/events_*") or glob.glob(
        f"{el_dir}/{app_id}*"
    )
    measured_stages: set[int] = set()
    info: dict[int, dict] = {}
    for path in sorted(paths):
        if path.endswith(".zstd"):
            text = subprocess.run(
                ["zstd", "-d", "-c", path], capture_output=True, check=True
            ).stdout.decode()
        else:
            text = open(path).read()
        for line in text.splitlines():
            ev = json.loads(line)
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if grp == "measured":
                    measured_stages.update(ev.get("Stage IDs", []))
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                if sid in measured_stages:
                    d = info.setdefault(sid, {
                        "name": si.get("Stage Name", "?")[:90],
                        "sub": si.get("Submission Time", 0),
                        "done": si.get("Completion Time", 0),
                        "task_ms": 0, "tasks": 0, "input": 0,
                        "sread": 0, "swrite": 0,
                    })
                    d["name"] = si.get("Stage Name", "?")[:90]
                    d["sub"] = si.get("Submission Time", 0)
                    d["done"] = si.get("Completion Time", 0)
            elif t == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid in measured_stages:
                    tm = ev.get("Task Metrics") or {}
                    d = info.setdefault(sid, {
                        "name": "?", "sub": 0, "done": 0,
                        "task_ms": 0, "tasks": 0, "input": 0,
                        "sread": 0, "swrite": 0,
                    })
                    d["task_ms"] += tm.get("Executor Run Time", 0)
                    d["tasks"] += 1
                    d["input"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    rm = tm.get("Shuffle Read Metrics") or {}
                    d["sread"] += rm.get("Local Bytes Read", 0) + rm.get(
                        "Remote Bytes Read", 0)
                    d["swrite"] += (tm.get("Shuffle Write Metrics") or {}
                                    ).get("Shuffle Bytes Written", 0)

    print(f"query={name} warm_run={warm:.2f}s measured_wall={wall:.2f}s "
          f"stages={len(info)}")
    print(f"{'sid':>5} {'wall_s':>7} {'task_s':>7} {'tasks':>5} "
          f"{'in_MB':>8} {'sr_MB':>7} {'sw_MB':>7}  name")
    total_task = 0.0
    for sid in sorted(info, key=lambda s: -(info[s]["done"] - info[s]["sub"])):
        d = info[sid]
        stage_wall = (d["done"] - d["sub"]) / 1e3
        total_task += d["task_ms"] / 1e3
        print(f"{sid:>5} {stage_wall:>7.2f} {d['task_ms']/1e3:>7.2f} "
              f"{d['tasks']:>5} {d['input']/1e6:>8.2f} {d['sread']/1e6:>7.2f} "
              f"{d['swrite']/1e6:>7.2f}  {d['name']}")
    print(f"total task_s={total_task:.2f}")


if __name__ == "__main__":
    main()
