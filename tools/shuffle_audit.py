"""Event-log shuffle audit: MEASURED shuffle read/write bytes per query.

plan_audit.py counts exchanges; this tool weighs them (and totals the
executor task time — where the wall actually goes).  Each named
query runs through the noop sink inside its own job group with the
Spark event log enabled, then the log's TaskEnd metrics are summed per
group — total shuffle bytes written, shuffle bytes read, and input
bytes.  This is the number a 1000-executor network actually prices
(local mode hides exchange width in memory bandwidth), and it is how
the r10 dedup_embed narrow-join claim was verified (23.46 MB -> 6.51
MB at sf0.1).

Usage: python tools/shuffle_audit.py [query ...]   # default: a small
representative set (the biggest shufflers by plan audit)
Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
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

DEFAULT = [
    "dedup_embed", "dedup_jaccard_pairs", "incr_dedup", "training_mix",
    "corpus_curate", "seq_pack", "ann_int8", "audio_fp_pairs",
]


def main():
    import __spark_entry__ as entry_mod
    from pandas_sigproc_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or DEFAULT
    el_dir = tempfile.mkdtemp(prefix="shuffle_audit_el_")
    from pyspark.sql import SparkSession

    from pandas_sigproc_spark.session import host_cpus

    cpus = host_cpus()

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{el_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.driver.memory", "24g")
        .appName("shuffle_audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = entry_mod.queries()
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        entry_mod.release_caches()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)

    # v2 event logs live in a per-app directory; events may be .zstd
    paths = glob.glob(f"{el_dir}/eventlog_v2_{app_id}/events_*") or glob.glob(
        f"{el_dir}/{app_id}*"
    )
    group_of_stage: dict[int, str] = {}
    stats: dict[str, dict[str, int]] = {}
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
                for sid in ev.get("Stage IDs", []):
                    group_of_stage[sid] = grp
            elif t == "SparkListenerTaskEnd":
                grp = group_of_stage.get(ev["Stage ID"], "?")
                tm = ev.get("Task Metrics") or {}
                d = stats.setdefault(
                    grp,
                    {"write": 0, "read": 0, "input": 0, "cpu_ms": 0,
                     "tasks": 0},
                )
                d["write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rm = tm.get("Shuffle Read Metrics") or {}
                d["read"] += rm.get("Local Bytes Read", 0) + rm.get(
                    "Remote Bytes Read", 0
                )
                d["input"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
                d["cpu_ms"] += tm.get("Executor Run Time", 0)
                d["tasks"] += 1
    w = max(len(n) for n in names)
    print(
        f"{'query':<{w}}  shuffle_write_MB  shuffle_read_MB  input_MB"
        f"  task_time_s  tasks"
    )
    for name in names:
        d = stats.get(
            name, {"write": 0, "read": 0, "input": 0, "cpu_ms": 0, "tasks": 0}
        )
        print(
            f"{name:<{w}}  {d['write'] / 1e6:>16.2f}  "
            f"{d['read'] / 1e6:>15.2f}  {d['input'] / 1e6:>8.2f}  "
            f"{d['cpu_ms'] / 1e3:>11.2f}  {d['tasks']:>5}"
        )


if __name__ == "__main__":
    main()
