"""Lineage-name and unit propagation over the channel catalog.

The reference rewrites every output Series' ``name`` into a derivation
expression — ``'filt(' + name + ')'`` (extension.py:494), ``'CFC%d(%s)'``
(:536), ``'mov_rms(%s,%s)'`` (:693), ``'srs(%s,Q=%s)'`` (:657),
``'int(…)'``/``'diff(…)'``/``'detrend(…)'``/``'rss(…)'``/``'interp(…)'``
(:719, :742, :778, :800-809, :843) — and tracks units ad hoc: PSD derives
``unit^2/Hz`` (:624), SRS keeps the input unit (:661), integral/derivative
give up with ``"none"`` (:722-723, :748-749).

In this engine that metadata is a *table*, so propagation is a relational
rewrite of the ``channels`` catalog (SURVEY.md §1.3 row "name"), applied
alongside the data operator.  Because the catalog is data, the lineage
string survives lazy plans, checkpoints, and round-trips to parquet —
fixing the reference's silently-dropped-unit fragility (§1.3 item 2).

Each ``after_*`` function takes and returns a catalog DataFrame
(CHANNELS_SCHEMA).  Compose them in the same order as the data operators::

    cat = after_filt_butter(cat)
    cat = after_get_psd(cat)        # unit -> unit^2/Hz
    sig = get_psd(filt_butter(sig, ...), ...)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _wrap(cat: DataFrame, prefix, suffix=")") -> DataFrame:
    return cat.withColumn(
        "name", F.concat(F.lit(prefix), F.col("name"), F.lit(suffix))
    )


def after_filt_butter(cat: DataFrame) -> DataFrame:
    """``filt(x)`` — extension.py:494; unit unchanged."""
    return _wrap(cat, "filt(")


def after_filt_cfc(cat: DataFrame, cfc: float) -> DataFrame:
    """``CFC%d(x)`` — extension.py:536; unit unchanged."""
    return _wrap(cat, f"CFC{int(cfc)}(")


def after_filt_a(cat: DataFrame) -> DataFrame:
    """``filt_a(x)`` — extension.py:564; unit unchanged."""
    return _wrap(cat, "filt_a(")


def after_mov_rms(cat: DataFrame, window: float) -> DataFrame:
    """``mov_rms(x,w)`` — extension.py:693; unit unchanged."""
    return cat.withColumn(
        "name",
        F.concat(F.lit("mov_rms("), F.col("name"), F.lit(f",{window})")),
    )


def after_get_psd(cat: DataFrame) -> DataFrame:
    """``psd(x)``; unit -> ``unit^2/Hz`` — extension.py:624."""
    return _wrap(cat, "psd(").withColumn(
        "unit", F.concat(F.col("unit"), F.lit("^2/Hz"))
    )


def after_get_srs(cat: DataFrame, quality_factor: float) -> DataFrame:
    """``srs(x,Q=q)`` — extension.py:657; unit kept (extension.py:661)."""
    return cat.withColumn(
        "name",
        F.concat(
            F.lit("srs("), F.col("name"), F.lit(f",Q={quality_factor})")
        ),
    )


def after_integral(cat: DataFrame) -> DataFrame:
    """``int(x)``; unit -> ``none`` — extension.py:719-723 ("To-do: unit
    calculator" in the reference; the engine keeps its honest ``none``)."""
    return _wrap(cat, "int(").withColumn("unit", F.lit("none"))


def after_derivative(cat: DataFrame) -> DataFrame:
    """``diff(x)``; unit -> ``none`` — extension.py:742-749."""
    return _wrap(cat, "diff(").withColumn("unit", F.lit("none"))


def after_detrend(cat: DataFrame) -> DataFrame:
    """``detrend(x)`` — extension.py:778; unit unchanged."""
    return _wrap(cat, "detrend(")


def after_interp1d(cat: DataFrame) -> DataFrame:
    """``interp(x)`` — extension.py:843.  (``resample`` keeps the original
    name, extension.py:891 — no rewrite there.)"""
    return _wrap(cat, "interp(")


def after_rss(cat: DataFrame, channel_ids=None, out_channel: str = "rss") -> DataFrame:
    """``rss(a,b,c)`` — extension.py:800-809: one NEW catalog row whose
    name concatenates the member names in channel order; unit/start_time/
    samplerate taken from the FIRST member BY CHANNEL ID (the reference
    implicitly assumes homogeneous units).  ``channel_ids=None`` means
    every catalog channel — mirroring the paired data operator
    ``joins.rss``'s default (a review finding: ``list(None)`` crashed
    the composition the module itself documents).

    Determinism note (a review finding): the member order is imposed
    INSIDE the aggregation — ``array_sort`` over (channel_id, name)
    structs and ``min_by``-style struct minima — because orderBy before
    a shuffle-aggregated collect_list does not survive partial-
    aggregation merge order, and ``F.first`` after a shuffle is
    documented non-deterministic; the old form could emit
    ``rss(ay,ax)`` on one run and ``rss(ax,ay)`` on the next.
    """
    members = cat
    if channel_ids is not None:
        members = members.filter(F.col("channel_id").isin(list(channel_ids)))
    first_member = F.min(
        F.struct("channel_id", "unit", "start_time", "samplerate")
    )
    agg = members.agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("channel_id", "name"))),
                lambda x: x["name"],
            ),
        ).alias("_names"),
        F.count("*").alias("_n"),
        first_member.getField("unit").alias("unit"),
        first_member.getField("start_time").alias("start_time"),
        first_member.getField("samplerate").alias("samplerate"),
    )
    # No members -> no synthetic row (concat_ws of an empty list is "",
    # not NULL, so gate on the member count).
    row = agg.where(F.col("_n") > 0).select(
        F.lit(out_channel).alias("channel_id"),
        F.concat(F.lit("rss("), F.col("_names"), F.lit(")")).alias("name"),
        "unit",
        "start_time",
        "samplerate",
    )
    return cat.unionByName(row)

