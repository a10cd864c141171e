"""A registered query's rows do not depend on the core count.

A sample of oracle slots runs at the test session's width and again at
``local[1]`` in a separate process; the sorted-row digests must match.
The k-means production mode is the one documented exception (its
centroids depend on the batch layout, ROADMAP known defects), and it is
not sampled here.

Run as a script, the module prints the digests of the named slots at
``local[1]``: ``python tests/test_parallelism_invariance.py windows psd``.
"""

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = ["windows", "psd", "shock_spectrum", "rainflow", "filt"]


def digests(spark, names):
    """{slot: sha256 of its rows, columns sorted by name, rows sorted}."""
    import pandas as pd

    import __spark_entry__ as entry_mod
    from tests.test_ann_recall import SF_DIR  # the correctness gate's sf0.01 data

    qs = entry_mod.queries()
    out = {}
    for name in names:
        pdf = qs[name](spark, SF_DIR).toPandas()
        entry_mod.release_caches()
        pdf = pdf.reindex(sorted(pdf.columns), axis=1)
        pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
        h = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
        out[name] = hashlib.sha256(h.tobytes()).hexdigest()
    return out


def test_sampled_slots_hash_equal_at_one_core(spark):
    width = spark.sparkContext.defaultParallelism
    assert width > 1, "the session must be wider than local[1]"
    wide = digests(spark, SLOTS)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *SLOTS],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    narrow = json.loads(proc.stdout.strip().splitlines()[-1])
    differ = [n for n in SLOTS if wide[n] != narrow[n]]
    assert not differ, f"rows differ between local[{width}] and local[1]: {differ}"


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    from pandas_sigproc_spark.session import get_spark

    print(json.dumps(digests(get_spark("invariance_local1", cpus=1), sys.argv[1:])))
