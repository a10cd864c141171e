"""Rainflow cycle counting operator (fatigue analysis).

Reference ``timedomain.rainflow`` (``extension.py:936-961``) → the
vendored ASTM E1049-85 kernel per channel.  The stack algorithm is
inherently sequential per channel (SURVEY.md §2.4), so this is a
grouped-map UDF producing the ``rainflow_counts`` table
(channel_id, bin, cycles).

Scale path for channels exceeding one task (SURVEY.md §7.3.1): segmented
counting with residue-stack merge — count full cycles inside chunks, carry
each chunk's unresolved reversal residue to a final merge pass.  The
residues are tiny (monotone-envelope stacks), so the merge is a cheap
second round.  The default ``rainflow(n_buckets="auto")`` switches to it
for a channel above ``planner.HUGE_CHANNEL_ROWS``; the counts equal the
whole-channel kernel's.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pandas_sigproc_spark.planner import channel_codes, group_apply, range_chunks

from pandas_sigproc_spark.kernels import rainflow as _rf

_OUT_SCHEMA = "channel_id string, bin double, cycles double"


def rainflow(
    df: DataFrame,
    ndigits: int | None = None,
    nbins: int | None = None,
    binsize: float | None = None,
    n_buckets: int | None | str = "auto",
    order_cols: tuple[str, ...] = ("t",),
) -> DataFrame:
    """Per-channel (bin, cycles) pairs, kwargs forwarded like the
    reference (``extension.py:961``).

    ``n_buckets``: hash channels into K buckets, one Arrow group per
    bucket, looping channels inside the kernel — the kernel itself is
    ~30 ns/sample, so for many small channels the per-group Arrow/job
    overhead dominates and bucketing amortizes it (same trade as the
    filters, operators/filters.py).  The default ``"auto"`` picks the
    mode from channel statistics (planner.py): small-channel fleets
    bucket, a channel above the per-task bound switches to the segmented
    residue-merge plan (``rainflow_chunked`` — identical counts by the
    residue decomposition theorem), explicit values win.

    ``order_cols``: intra-channel sample ordering.  Rainflow is
    order-sensitive, so when timestamps can tie, pass a tiebreak column
    (e.g. ``("t", "seq")``) — otherwise equal-stamp samples arrive in
    nondeterministic shuffle order and the counts can vary run to run.
    """
    if n_buckets == "auto":
        from pandas_sigproc_spark import planner

        n_buckets, chunk_rows = planner.auto_rainflow_mode(df)
        if chunk_rows is not None:
            return rainflow_chunked(
                df,
                chunk_rows=chunk_rows,
                ndigits=ndigits,
                nbins=nbins,
                binsize=binsize,
                order_cols=order_cols,
            )

    def one(cid, y: np.ndarray) -> pd.DataFrame:
        pairs = _rf.count_cycles(y, ndigits=ndigits, nbins=nbins, binsize=binsize)
        if not pairs:
            return pd.DataFrame(columns=["channel_id", "bin", "cycles"])
        bins, cycles = zip(*pairs)
        return pd.DataFrame(
            {
                "channel_id": cid,
                "bin": np.asarray(bins, dtype=np.float64),
                "cycles": np.asarray(cycles, dtype=np.float64),
            }
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # Channels by dense code, so a NULL channel_id is a channel of
        # its own (a pandas groupby would drop it); the stable sort keeps
        # arrival order among rows that tie on order_cols.
        codes, cids = channel_codes(pdf["channel_id"].to_numpy())
        pdf = pdf.assign(_c=codes).sort_values(["_c", *order_cols], kind="mergesort")
        cuts = np.cumsum(np.bincount(codes, minlength=len(cids)))[:-1]
        ys = np.split(pdf["value"].to_numpy(dtype=np.float64), cuts)
        pieces = [one(cid, y) for cid, y in zip(cids, ys)]
        if not pieces:
            return pd.DataFrame(columns=["channel_id", "bin", "cycles"])
        return pd.concat(pieces, ignore_index=True)

    return group_apply(
        df.select("channel_id", *order_cols, "value"), kernel, _OUT_SCHEMA, n_buckets
    )


def rainflow_chunked(
    df: DataFrame,
    chunk_rows: int,
    ndigits: int | None = None,
    nbins: int | None = None,
    binsize: float | None = None,
    order_cols: tuple[str, ...] = ("t",),
) -> DataFrame:
    """Segmented rainflow for channels exceeding one task (SURVEY.md §7.3.1).

    Chunks are :func:`planner.range_chunks` spans of ``order_cols[0]``
    (``ceil(n / chunk_rows)`` equal spans per channel, so no stage sorts
    a whole channel; they balance rows where the sample density is
    even).  Rows that tie on it share a chunk, so the further
    ``order_cols`` order them inside it.

    Stage 1 (parallel over (channel, chunk)): the 4-point rule extracts
    every *full* cycle whose reversals live inside the chunk and emits the
    chunk's residue — the divergent reversal envelope, typically a few
    dozen points regardless of chunk length.  Stage 2 (per channel, tiny):
    residues concatenate in chunk order and the standard 3-point E1049
    pass counts the rest (cross-chunk fulls + half cycles).  The merge is
    exact for any contiguous cut in sample order — rainflow's residue
    decomposition theorem, pinned against the whole-channel kernel in
    tests/test_rainflow_chunked.py over random signals, chunk sizes, and
    every binning mode.

    Binning runs relationally on the unioned cycle stream (groupBy after a
    per-channel max-range window for nbins/binsize), so no stage ever
    needs the whole channel.
    """
    from pyspark.sql import Window, functions as F

    given = sum(arg is not None for arg in (ndigits, nbins, binsize))
    if given > 1:
        raise ValueError("specify at most one of ndigits, nbins, binsize")

    cols = ["channel_id", *order_cols, "value"]
    src = range_chunks(df.select(*cols), chunk_rows, x=order_cols[0])

    stage1_schema = (
        "channel_id string, seg long, pos long, rng double, cnt double, val double"
    )

    def stage1(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        fulls, residue = _rf.extract_full_cycles_4pt(
            pdf["value"].to_numpy(dtype=np.float64)
        )
        cid = pdf["channel_id"].iloc[0]
        seg = int(pdf["_seg"].iloc[0])
        rows = [(cid, seg, -1, r, c, np.nan) for r, c in fulls]
        rows += [(cid, seg, i, np.nan, np.nan, v) for i, v in enumerate(residue)]
        return pd.DataFrame(
            rows, columns=["channel_id", "seg", "pos", "rng", "cnt", "val"]
        )

    mixed = (
        src.select(*cols, "_seg")
        .groupBy("channel_id", "_seg")
        .applyInPandas(stage1, stage1_schema)
    )
    mixed = mixed.persist()
    cycle_rows = mixed.filter(F.col("pos") == -1).select("channel_id", "rng", "cnt")

    residue_schema = "channel_id string, rng double, cnt double"

    def stage2(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["seg", "pos"])
        pairs = _rf.extract_cycles(pdf["val"].to_numpy(dtype=np.float64))
        cid = pdf["channel_id"].iloc[0]
        return pd.DataFrame(
            [(cid, r, c) for r, _m, c, _i0, _i1 in pairs],
            columns=["channel_id", "rng", "cnt"],
        )

    residue_rows = (
        mixed.filter(F.col("pos") >= 0)
        .select("channel_id", "seg", "pos", "val")
        .groupBy("channel_id")
        .applyInPandas(stage2, residue_schema)
    )
    cycles = cycle_rows.unionByName(residue_rows)

    if ndigits is not None:
        key = F.round(F.col("rng"), ndigits)
    elif nbins is not None or binsize is not None:
        wch = Window.partitionBy("channel_id")
        max_rng = F.max("rng").over(wch)
        bsz = F.lit(float(binsize)) if binsize is not None else max_rng / nbins
        nb = (
            F.lit(int(nbins))
            if nbins is not None
            else F.greatest(F.ceil(max_rng / bsz), F.lit(1))
        )
        b = F.when(F.col("rng") == 0, F.lit(0)).otherwise(
            F.greatest(
                F.least(F.ceil(F.col("rng") / bsz) - 1, nb.cast("long") - 1),
                F.lit(0),
            )
        )
        key = (b + 1) * bsz
    else:
        key = F.col("rng")
    # Materialize the key first: window expressions (the per-channel max
    # range) are not allowed inside GROUP BY.
    return (
        cycles.withColumn("bin", key)
        .groupBy("channel_id", "bin")
        .agg(F.sum("cnt").alias("cycles"))
        .select("channel_id", "bin", "cycles")
    )
