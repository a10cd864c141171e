"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 (or $SPARK_GRAFT_SF_DIR), sorts columns by name, sorts rows, and
compares values exactly (floats must already be rounded identically inside
the queries).  An entry without an oracle fails.  Usage: python
tools/oracle_check.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry_mod
from pandas_sigproc_spark.session import get_spark, host_cpus

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Canonical-bytes comparison mirroring the driver's value hash.

    The driver sorts columns by name, then byte-hashes the values — so it is
    sensitive to (a) dtype drift (DuckDB HUGEINT -> pandas float64 vs Spark
    int64) and (b) float sign bits (-0.0 vs +0.0).  Round 1 shipped two
    queries green locally (np.isclose) that failed the driver on exactly
    those two classes; this gate now reproduces the driver's verdict.
    """
    errs = []
    s_cols = sorted(spark_pdf.columns)
    d_cols = sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return [f"schema mismatch: spark={s_cols} duck={d_cols}"]
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return errs
    s = normalize(spark_pdf)
    d = normalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        sk, dk = sv.dtype.kind, dv.dtype.kind
        # dtype drift is a driver hash failure even when values are equal —
        # and WIDTH drift (int32 vs int64, float32 vs float64) hashes
        # differently just like kind drift, so compare the exact dtype.
        # (object columns from the two engines are compared by value below.)
        if sv.dtype != dv.dtype and not (sk == "O" or dk == "O"):
            errs.append(f"col {col}: dtype drift spark={sv.dtype} duck={dv.dtype}")
            continue
        if sk == "f" and dk == "f":
            both_nan = sv.isna() & dv.isna()
            eq = (sv.to_numpy() == dv.to_numpy()) | both_nan.to_numpy()
            # sign bit of zero differs in bytes though == says equal
            sb = np.signbit(sv.to_numpy()) == np.signbit(dv.to_numpy())
            eq = eq & (sb | both_nan.to_numpy())
        else:
            eq = (sv == dv) | (sv.isna() & dv.isna())
        eq = np.asarray(eq)
        if not eq.all():
            bad = int(np.argmax(~eq))
            errs.append(
                f"col {col}: {int((~eq).sum())}/{len(eq)} differ; first at row {bad}: "
                f"spark={s[col].iloc[bad]!r} duck={d[col].iloc[bad]!r}"
            )
    return errs


def failing_paths(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """The ``path`` labels of a composed slot whose rows differ between
    the engines, so a red slot names the branch that broke.  Each label
    is compared alone, without the columns its branch lacks (all NULL in
    its rows)."""
    if "path" not in spark_pdf.columns or "path" not in duck_pdf.columns:
        return []
    labels = sorted(set(spark_pdf["path"].dropna()) | set(duck_pdf["path"].dropna()))
    bad = []
    for label in labels:
        s = spark_pdf[spark_pdf["path"] == label].dropna(axis=1, how="all")
        d = duck_pdf[duck_pdf["path"] == label].dropna(axis=1, how="all")
        if compare(label, s, d):
            bad.append(label)
    return bad


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name used to match NOTHING and print "0 pass, 0
        # fail" with exit 0 — the per-query re-proof workflow would
        # read that as green; checked BEFORE the ~30 s Spark/DuckDB
        # startup so the fast-fail is actually fast (r15 review
        # findings, both)
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    spark = get_spark("oracle_check", cpus=host_cpus())
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle_sql() entry")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        errs = compare(name, spark_pdf, duck_pdf)
        if errs:
            print(f"FAIL {name} rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            for e in errs:
                print(f"     {e}")
            bad = failing_paths(spark_pdf, duck_pdf)
            if bad:
                print(f"     failing paths: {', '.join(bad)}")
            n_fail += 1
        else:
            print(f"PASS {name} rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
