"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-channel signal pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (signal operators run over the ``events`` table viewed as the
canonical ``signals`` long format: channel_id = user_id, t = epoch
seconds); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for every
relational (native-tier) query.  The kernel tier is hash-anchored too:
recursive-CTE oracles replay rainflow (full E1049), the causal and
zero-phase IIR recursions, and the Smallwood SRS resonator bit-exactly,
and O(N^2) DFT oracles anchor the spectral tier (psd_dft /
psd_welch_dft / psd_summary_dft / psd_rms_dft).  The full-length
FFT/spline production queries are oracle-checked too (``oracle_prod.py``
replays the splines bit-exactly and the FFT legs under measured-margin
rounding), so no query is rows-only.

Float policy: row-level expressions are bit-identical across engines, so
they are returned raw; any result downstream of a reduction (sum/avg) is
rounded on BOTH sides to absorb summation-order differences.
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pandas_sigproc_spark.sources.events import ts_seconds
from pandas_sigproc_spark.operators import ann as _ann
from pandas_sigproc_spark.operators import (
    between,
    filt_chunked,
    rainflow_chunked,
    deduplicate,
    derivative,
    detrend,
    filt_a,
    filt_butter,
    filt_cfc,
    get_psd,
    get_srs,
    integral,
    interp1d_linear,
    interp1d_log,
    interp1d_native,
    mov_rms,
    rainflow,
    resample,
    rms,
    rms_lin,
    rms_log,
    rss,
    samplerate,
    segment_stats,
    spl,
    interp1d_spline,
    jaccard_near_dupes,
    jaccard_ppjoin,
    guard_bucket_rows,
    pack_sequences,
    assign_shards,
)

import oracle_prod as _oracle_prod

DAY = 86400.0

# ---------------------------------------------------------------------------
# Cache lifecycle: these query functions return LAZY DataFrames, so a
# persist() inside one cannot be unpersisted before the caller's terminal
# action.  Every persist goes through _persist() below, which records the
# DataFrame; callers that run many queries in one session (bench.py, a
# notebook, a service) call release_caches() between terminal actions to
# drop exactly the blocks this module pinned — no blanket
# spark.catalog.clearCache() that would evict the caller's own caches.
# Blocks use the default MEMORY_AND_DISK level (they spill, never OOM)
# and are LRU-reclaimed regardless, so forgetting release_caches() costs
# memory pressure, not correctness.
# ---------------------------------------------------------------------------

_PERSISTED: list = []


def _persist(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df.persist()


def release_caches() -> int:
    """Unpersist every block a queries() call pinned; returns the count."""
    n = 0
    for df in _PERSISTED:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session gone / already unpersisted
            pass
    _PERSISTED.clear()
    return n



# ---------------------------------------------------------------------------
# signals view over the events table
# ---------------------------------------------------------------------------


def _signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark 4
    # rejects unless read as raw nanos.  DuckDB truncates ns -> µs at scan,
    # so mirror that exactly with integer division (bit-exact, unlike a
    # double divide at 1e18 magnitude).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # AQE coalescing keeps small-SF runs from scheduling 200-task shuffles
    # on kilobyte exchanges; both are already on in tuned sessions.  Cached
    # plans bypass AQE unless canChangeCachedPlanOutputPartitioning is set
    # (entry() persists its shared aggregate).
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("user_id").cast("string").alias("channel_id"),
        ts_seconds(ev).alias("t"),
        F.col("value").cast("double").alias("value"),
        F.col("event_id").cast("long").alias("seq"),
    )


_SIG_CTE = """
sig AS (
  SELECT CAST(user_id AS VARCHAR) AS channel_id,
         epoch(ts) AS t,
         CAST(value AS DOUBLE) AS value,
         CAST(event_id AS BIGINT) AS seq
  FROM events
)
"""

def _sig_ch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _signals hash-partitioned on channel_id: ONE exchange up front that
    # every per-channel groupBy/window downstream reuses (a grouping on
    # (channel_id, ...) is satisfied by hash partitioning on the subset
    # channel_id), instead of each operator forcing its own exchange.
    return _signals(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "channel_id"
    )


# Window bounds used by q_between (days 3..10 of the 2024-01 data month).
_T_LO = 1704240000.0  # 2024-01-03 00:00:00 UTC
_T_HI = 1704844800.0  # 2024-01-10 00:00:00 UTC


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ensure_par(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Parallelism ENSURED, not forced: repartition only when the scan
    yields fewer splits than cores (the bench SFs are one tiny parquet
    file = one split, which would run every map-side query
    single-core).  When file splits already cover the cores — any real
    deployment, and the bench's replicated scale leg — an unconditional
    repartition is a corpus-wide shuffle of the full payload for
    nothing: the r13 scale-leg A/B measured dedup_minhash at 8x data
    1.21s with it vs 0.70s without (the r12 verdict's wall_ratio 4.02
    outlier was mostly this shuffle tax growing with the corpus).  ONE
    home for the rule (a review finding: _docs_par/_embeds_par carried
    hand-kept copies)."""
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan through the :func:`_ensure_par` rule."""
    return _ensure_par(spark, _docs(spark, sf_dir))


def _embeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _embeds_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan through the :func:`_ensure_par` rule (r14: six
    ANN/kmeans sites previously shuffled the full vector payload
    unconditionally)."""
    return _ensure_par(spark, _embeds(spark, sf_dir))


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """SURVEY.md §7.1 minimum slice on sf0.001: dedup -> uniform hourly
    resample -> zero-phase Butterworth lowpass -> per-channel RMS, plus the
    all-channel RSS track's RMS appended as channel 'rss(all)'.

    Both outputs come from ONE pass over the filtered table via grouping
    sets: rms(ch) = sqrt(avg(v^2) by channel) and rms(rss) =
    sqrt(avg_t(sum_ch v^2 at t)) share the same sufficient statistics, so
    a GROUPING SETS ((channel_id), (t)) aggregation computes both in a
    single shuffle — without it the union re-runs the whole
    dedup/resample/filtfilt subtree per branch (two kernel passes, four
    scans)."""
    sf_dir = "/root/testdata/sf0.001"
    sig = deduplicate(_sig_ch(spark, sf_dir))
    uni = resample(sig, sample_rate=1.0 / 3600.0)  # hourly grid
    filt = filt_butter(uni, cutoff=0.3 * (0.5 / 3600.0), order=4, btype="lowpass")
    gs = (
        filt.groupingSets([["channel_id"], ["t"]], "channel_id", "t")
        .agg(
            F.sum(F.col("value") * F.col("value")).alias("ss"),
            F.count("*").alias("n"),
        )
    )
    # Persist the tiny aggregate (|channels| + |distinct t| rows): both
    # union branches read it, and without materialization Spark re-executes
    # the whole kernel subtree per branch (exchange reuse only caught one
    # of the duplicated exchanges here).
    gs = _persist(gs)
    per_channel = gs.filter(F.col("channel_id").isNotNull()).select(
        "channel_id", F.sqrt(F.col("ss") / F.col("n")).alias("rms")
    )
    rss_rms = (
        gs.filter(F.col("channel_id").isNull())
        .agg(F.sqrt(F.avg("ss")).alias("rms"))
        .select(F.lit("rss(all)").alias("channel_id"), "rms")
    )
    return per_channel.unionByName(rss_rms)


# ---------------------------------------------------------------------------
# native tier: Spark query + DuckDB oracle pairs
# ---------------------------------------------------------------------------


def q_between(spark, sf_dir):
    # The semantic filter is on derived t = trunc(ts_nanos/1000)/1e6, which
    # parquet can't prune on; add the equivalent *raw* ts bounds so the
    # predicate reaches the scan (PushedFilters -> row-group min/max
    # pruning).  t >= LO  <=>  ts >= LO*1e9;  t <= HI  <=>  ts <= HI*1e9+999
    # (floor-to-us truncation).  At 100 TB this is the difference between
    # reading one day's row groups and reading the month.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dt = dict(ev.dtypes).get("ts")
    if ts_dt == "bigint":
        ev = ev.filter(
            (F.col("ts") >= int(_T_LO * 1e9)) & (F.col("ts") <= int(_T_HI * 1e9) + 999)
        )
    elif ts_dt == "timestamp_ntz":
        # ts is already µs-truncated at read, so plain inclusive bounds at
        # whole-µs literals are exact — and comparable against the parquet
        # nanos row-group stats.
        lo = F.timestamp_micros(F.lit(int(_T_LO * 1e6))).cast("timestamp_ntz")
        hi = F.timestamp_micros(F.lit(int(_T_HI * 1e6))).cast("timestamp_ntz")
        ev = ev.filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
    sig = ev.select(
        F.col("user_id").cast("string").alias("channel_id"),
        ts_seconds(ev).alias("t"),
        F.col("value").cast("double").alias("value"),
    )
    return between(sig, _T_LO, _T_HI).select("channel_id", "t", "value")


SQL_BETWEEN = f"""
WITH {_SIG_CTE}
SELECT channel_id, t, value FROM sig WHERE t BETWEEN {_T_LO!r} AND {_T_HI!r}
"""


def q_between_freq(spark, sf_dir):
    # freqdomain.between (extension.py:100-124) through the driver gate:
    # the same operator on axis="freq", over the relational daily-RMS
    # spectrum used by q_interp_log (freq = 1-based day index, power =
    # daily RMS), keeping bins with 3 <= freq <= 10 inclusive.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    daily = sig.groupBy(
        "channel_id", F.floor(F.col("t") / DAY).alias("day")
    ).agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("power"))
    w = Window.partitionBy("channel_id")
    spectra = daily.select(
        "channel_id",
        (F.col("day") - F.min("day").over(w) + 1).cast("double").alias("freq"),
        "power",
    )
    return between(spectra, 3.0, 10.0, axis="freq").select(
        "channel_id", "freq", F.round("power", 6).alias("power")
    )


SQL_BETWEEN_FREQ = f"""
WITH {_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
daily AS (
  SELECT channel_id, FLOOR(t / {DAY!r}) AS day,
         SQRT(AVG(value * value)) AS power
  FROM dedup GROUP BY channel_id, FLOOR(t / {DAY!r})
),
spectra AS (
  SELECT channel_id,
         CAST(day - MIN(day) OVER (PARTITION BY channel_id) + 1 AS DOUBLE) AS freq,
         power
  FROM daily
)
SELECT channel_id, freq, ROUND(power, 6) AS power
FROM spectra WHERE freq BETWEEN 3.0 AND 10.0
"""


def q_timeshift(spark, sf_dir):
    from pandas_sigproc_spark.operators.relational import timeshift

    return timeshift(_signals(spark, sf_dir).select("channel_id", "t", "value"), 3600.0)


SQL_TIMESHIFT = f"""
WITH {_SIG_CTE}
SELECT channel_id, t + 3600.0 AS t, value FROM sig
"""


def q_deduplicate(spark, sf_dir):
    return deduplicate(_sig_ch(spark, sf_dir))


SQL_DEDUPLICATE = f"""
WITH {_SIG_CTE}
SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
"""


def q_rms(spark, sf_dir):
    return rms(_signals(spark, sf_dir)).select(
        "channel_id", F.round("rms", 6).alias("rms")
    )


SQL_RMS = f"""
WITH {_SIG_CTE}
SELECT channel_id, ROUND(SQRT(AVG(value * value)), 6) AS rms
FROM sig GROUP BY channel_id
"""


def q_spl(spark, sf_dir):
    return spl(_signals(spark, sf_dir)).select(
        "channel_id", F.round("spl", 6).alias("spl")
    )


SQL_SPL = f"""
WITH {_SIG_CTE}
SELECT channel_id, ROUND(20.0 * LOG10(SQRT(AVG(value * value)) / 2e-05), 6) AS spl
FROM sig GROUP BY channel_id
"""


def q_samplerate(spark, sf_dir):
    out = samplerate(_signals(spark, sf_dir), order_col="seq")
    return out.select("channel_id", F.round("samplerate", 6).alias("samplerate"))


SQL_SAMPLERATE = f"""
WITH {_SIG_CTE},
d AS (
  SELECT channel_id, t - LAG(t) OVER (PARTITION BY channel_id ORDER BY t, seq) AS dt
  FROM sig
),
s AS (
  SELECT channel_id, MAX(dt) AS max_dt, MIN(dt) AS min_dt, AVG(dt) AS mean_dt
  FROM d WHERE dt IS NOT NULL GROUP BY channel_id
)
SELECT channel_id,
       ROUND(CASE WHEN min_dt > 0 AND (max_dt - min_dt) / mean_dt <= 0.0001
             THEN CASE WHEN ABS(1.0/mean_dt - ROUND(1.0/mean_dt)) < 0.01
                        AND 1.0/mean_dt >= 1
                       THEN ROUND(1.0/mean_dt) ELSE 1.0/mean_dt END
             ELSE NULL END, 6) AS samplerate
FROM s
"""


# Spark's name of an integer or boolean type -> DuckDB's typeof().
_EXACT_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "boolean": "BOOLEAN",
}


def _compose_paths(*branches, exact=(), nested=()):
    """One registry slot over several (label, DataFrame) branches: each
    branch rides as its own rows under a ``path`` marker, so the slot
    hash-proves every branch, and, because the oracle emits the same
    labeled union (:func:`_compose_oracle`), their agreement with it.
    A branch that is itself composed is named in ``nested`` and nests
    as ``label/path``; any other branch with a ``path`` column of its
    own raises, as the oracle's union refuses the clash.

    Branches are unioned by column name and must agree on the type of
    every column they share.  A column a branch lacks is NULL in its
    rows, so an integer or boolean one would reach pandas as float64,
    losing its width and, past 2**53, its value.  ``exact`` names
    exactly those columns; each rides as text tagged with its SQL type
    (``BIGINT:42``, NULL where the branch lacks it), which keeps both."""
    tagged, types = [], {}
    for label, df in branches:
        tag = F.lit(label)
        if label in nested:
            tag = F.concat(tag, F.lit("/"), F.col("path"))
        elif "path" in df.columns:
            raise ValueError(
                f"branch {label!r} emits its own path column, which is "
                f"the branch marker; rename it"
            )
        b = df.select(tag.alias("path"), *(c for c in df.columns if c != "path"))
        for f in b.schema.fields:
            if types.setdefault(f.name, f.dataType) != f.dataType:
                raise ValueError(
                    f"branch {label!r} has {f.name} "
                    f"{f.dataType.simpleString()}, another branch "
                    f"{types[f.name].simpleString()}"
                )
        tagged.append(b)
    lacking = sorted(
        c
        for c, t in types.items()
        if t.simpleString() in _EXACT_TYPES
        and any(c not in b.columns for b in tagged)
    )
    if lacking != sorted(exact):
        raise ValueError(
            f"exact= must name the integer/boolean columns some branch "
            f"lacks: {lacking}, not {sorted(exact)}"
        )
    out = tagged[0]
    for b in tagged[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out.withColumns(
        {
            c: F.concat(
                F.lit(_EXACT_TYPES[types[c].simpleString()] + ":"),
                F.col(c).cast("string"),
            )
            for c in exact
        }
    )


def _compose_oracle(*branches, exact=()) -> str:
    """:func:`_compose_paths` in DuckDB SQL over (label, sql) branches.
    A branch whose query is itself composed gives a list of
    (path, sql) and nests as ``label/path``."""
    flat = []
    for label, sql in branches:
        if isinstance(sql, str):
            flat.append((label, sql))
        else:
            flat += [(f"{label}/{sub}", s) for sub, s in sql]
    union = "\nUNION ALL BY NAME\n".join(
        f"SELECT '{label}' AS path, * FROM ({sql.strip().rstrip(';')})"
        for label, sql in flat
    )
    if not exact:
        return union
    tags = ", ".join(
        f"typeof({c}) || ':' || CAST({c} AS VARCHAR) AS {c}" for c in exact
    )
    return f"SELECT * REPLACE ({tags}) FROM (\n{union}\n)"


def _slot(*branches, exact=()):
    """A registry slot over (``q_<label>``, oracle) branches: the union
    of their outputs under :func:`_compose_paths`, each labeled
    ``<label>``, carrying its oracle (:func:`_compose_oracle`) as
    ``.oracle`` and its branch queries as ``.branches``.  A branch whose
    oracle is a list is itself composed and nests, on both sides."""
    nested = {fn.__name__[2:] for fn, sql in branches if not isinstance(sql, str)}

    def q(spark, sf_dir):
        return _compose_paths(
            *((fn.__name__[2:], fn(spark, sf_dir)) for fn, _ in branches),
            exact=exact,
            nested=nested,
        )

    q.oracle = _compose_oracle(
        *((fn.__name__[2:], sql) for fn, sql in branches), exact=exact
    )
    q.branches = tuple(fn for fn, _ in branches)
    return q


def q_mov_rms(spark, sf_dir):
    # Row-based trailing window of 10 samples on the (non-uniform) event
    # channels — the row-window flavor of mov_rms (extension.py:690-691's
    # rolling(window_n) with warm-up dropped; window=10 s at a declared
    # 1 Hz gives n=10 and re-centers t by 5 s), through the operator's
    # whole-channel kernel.  r13: CONSOLIDATED with the chunked twin (one
    # slot proves both paths; see _compose_paths).
    sig = _signals(spark, sf_dir)
    base = mov_rms(sig, 10.0, 1.0, tiebreak_col="seq", drop_last=False).select(
        "channel_id", "t", F.round("value", 6).alias("value")
    )
    return _compose_paths(
        ("global", base), ("chunked", _mov_rms_chunked_branch(spark, sf_dir))
    )


SQL_MOV_RMS = f"""
WITH {_SIG_CTE},
r AS (
  SELECT channel_id, t,
         ROW_NUMBER() OVER w AS rn,
         SQRT(AVG(value * value) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS value
  FROM sig
  WINDOW w AS (PARTITION BY channel_id ORDER BY t, seq)
)
SELECT channel_id, t - 5.0 AS t, ROUND(value, 6) AS value FROM r WHERE rn >= 10
"""


def q_integral(spark, sf_dir):
    # r13: consolidated with the chunked prefix-sum twin (one slot
    # proves both associations; see _compose_paths).
    sig = _signals(spark, sf_dir)
    out = integral(sig, tiebreak_col="seq")
    base = out.select("channel_id", "t", F.round("value", 4).alias("value"))
    return _compose_paths(
        ("global", base), ("chunked", _integral_chunked_branch(spark, sf_dir))
    )


SQL_INTEGRAL = f"""
WITH {_SIG_CTE},
seg AS (
  SELECT channel_id, t, seq,
         COALESCE((value + LAG(value) OVER w) / 2.0 * (t - LAG(t) OVER w), 0.0) AS area
  FROM sig
  WINDOW w AS (PARTITION BY channel_id ORDER BY t, seq)
)
SELECT channel_id, t,
       ROUND(SUM(area) OVER (PARTITION BY channel_id ORDER BY t, seq
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value
FROM seg
"""


def q_derivative(spark, sf_dir):
    # `+ 0.0` on both engines: ROUND can yield -0.0 on one side and +0.0 on
    # the other (equal under isclose, different bytes under the driver's
    # hash).  IEEE -0.0 + 0.0 == +0.0, so adding zero canonicalizes both.
    # r13: consolidated with the chunked twin (see _compose_paths).
    sig = _signals(spark, sf_dir)
    base = derivative(sig, tiebreak_col="seq").select(
        "channel_id", "t", (F.round("value", 6) + F.lit(0.0)).alias("value")
    )
    return _compose_paths(
        ("global", base),
        ("chunked", _derivative_chunked_branch(spark, sf_dir)),
    )


SQL_DERIVATIVE = f"""
WITH {_SIG_CTE},
p AS (
  SELECT channel_id, t, value,
         LEAD(t) OVER w AS t2, LEAD(value) OVER w AS y2
  FROM sig
  WINDOW w AS (PARTITION BY channel_id ORDER BY t, seq)
)
SELECT channel_id, (t + t2) / 2.0 AS t,
       ROUND((y2 - value) / (t2 - t), 6) + 0.0 AS value
FROM p WHERE t2 IS NOT NULL
"""


# Detrend residuals are value - mean with 2-decimal inputs and power-of-two
# channel counts: they land EXACTLY on .5e-6 rounding boundaries, where the
# two engines' last-bit avg differences flip the rounded digit.  A 1e-9
# nudge moves the boundary off the attainable 0.25e-6 grid (grid step >>
# nudge >> cross-engine fp difference), making the round deterministic.
_NUDGE = 1e-9


def q_detrend_constant(spark, sf_dir):
    sig = _signals(spark, sf_dir).select("channel_id", "t", "value")
    return detrend(sig, "constant").select(
        "channel_id", "t", F.round(F.col("value") + _NUDGE, 6).alias("value")
    )


SQL_DETREND_CONSTANT = f"""
WITH {_SIG_CTE}
SELECT channel_id, t,
       ROUND(value - AVG(value) OVER (PARTITION BY channel_id) + {_NUDGE!r}, 6) AS value
FROM sig
"""


def q_detrend_linear(spark, sf_dir):
    # r14: CONSOLIDATED with the agg-plan twin (one slot proves the
    # whole-channel-window plan AND the groupBy+broadcast scale plan;
    # see _compose_paths / PLANS.md capacity plan).
    sig = _signals(spark, sf_dir).select("channel_id", "t", "value")
    base = detrend(sig, "linear").select(
        "channel_id", "t", F.round(F.col("value") + _NUDGE, 6).alias("value")
    )
    return _compose_paths(
        ("global", base), ("agg", _detrend_agg_branch(spark, sf_dir))
    )


SQL_DETREND_LINEAR = f"""
WITH {_SIG_CTE},
c AS (
  SELECT channel_id, t, value,
         t - AVG(t) OVER w AS tc,
         value - AVG(value) OVER w AS yc
  FROM sig
  WINDOW w AS (PARTITION BY channel_id)
),
s AS (
  SELECT channel_id, t, yc, tc,
         AVG(tc * yc) OVER w2 / AVG(tc * tc) OVER w2 AS slope
  FROM c
  WINDOW w2 AS (PARTITION BY channel_id)
)
SELECT channel_id, t, ROUND(yc - slope * tc + {_NUDGE!r}, 6) AS value
FROM s
"""


def _detrend_agg_branch(spark, sf_dir):
    # The scale-safe detrend plan (groupBy sufficient stats + broadcast
    # joins, zero whole-channel windows — what `auto` picks above
    # HUGE_CHANNEL_ROWS) forced through the hash gate at sf0.01.  Same
    # oracle arm as detrend_linear: the two plans differ only in
    # summation association, absorbed by the nudge+round contract.
    # r14: rides as the 'agg' path of the consolidated q_detrend_linear
    # gate.
    sig = _signals(spark, sf_dir).select("channel_id", "t", "value")
    return detrend(sig, "linear", mode="agg").select(
        "channel_id", "t", F.round(F.col("value") + _NUDGE, 6).alias("value")
    )


_DETREND_BPS = (200, 400)


def q_detrend_piecewise(spark, sf_dir):
    # detrend(breakpoints=...) (extension.py:751-781 via scipy bp
    # semantics): per-channel sample-index breakpoints split each channel
    # into segments, each removed by its own OLS line — still fully
    # native (row_number bucket + the same centered-OLS window per
    # (channel, segment)).  Dedup first so row_number is total.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    out = detrend(sig, "linear", breakpoints=list(_DETREND_BPS))
    return out.select(
        "channel_id", "t", F.round(F.col("value") + _NUDGE, 6).alias("value")
    )


SQL_DETREND_PIECEWISE = f"""
WITH {_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
idx AS (
  SELECT channel_id, t, value,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) - 1 AS i
  FROM dedup
),
segd AS (
  SELECT channel_id, t, value,
         {" + ".join(f"CASE WHEN i >= {b} THEN 1 ELSE 0 END" for b in _DETREND_BPS)} AS seg
  FROM idx
),
c AS (
  SELECT channel_id, t, value, seg,
         t - AVG(t) OVER w AS tc,
         value - AVG(value) OVER w AS yc
  FROM segd
  WINDOW w AS (PARTITION BY channel_id, seg)
),
s AS (
  SELECT channel_id, t, yc, tc,
         AVG(tc * yc) OVER w2 / NULLIF(AVG(tc * tc) OVER w2, 0) AS slope
  FROM c
  WINDOW w2 AS (PARTITION BY channel_id, seg)
)
SELECT channel_id, t, ROUND(yc - COALESCE(slope, 0) * tc + {_NUDGE!r}, 6) AS value
FROM s
"""


# ---------------------------------------------------------------------------
# overlap-chunked native window ops (operators/windows.py scale path) —
# forced small chunk_rows so the chunked plan itself goes through the
# driver hash gate at sf0.01 (the planner would only auto-select it above
# HUGE_CHANNEL_ROWS).  Input: per-channel index time base t = (rn-1)/100
# (strictly-increasing uniform grid, same trick as q_filt_a) so the
# arithmetic chunk index is exact.
# ---------------------------------------------------------------------------

_CHUNK_SR = 100.0
_CHUNK_L = 512


def _idx_sig(spark, sf_dir):
    sig = deduplicate(_sig_ch(spark, sf_dir))
    w = Window.partitionBy("channel_id").orderBy("t")
    return sig.select(
        "channel_id",
        ((F.row_number().over(w) - 1) / F.lit(_CHUNK_SR)).alias("t"),
        "value",
    )


_IDX_CTE = f"""
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
idx AS (
  SELECT channel_id,
         (ROW_NUMBER() OVER w - 1) / {_CHUNK_SR!r} AS t,
         value,
         ROW_NUMBER() OVER w - 1 AS i,
         COUNT(*) OVER (PARTITION BY channel_id) AS n
  FROM dedup
  WINDOW w AS (PARTITION BY channel_id ORDER BY t)
)
"""


def _mov_rms_chunked_branch(spark, sf_dir):
    # Chunked == single-window is BIT-exact (one body, and a frame's sum
    # depends on its own rows only; tests/test_chunked_windows.py).  r13:
    # rides as the 'chunked' path of the consolidated q_mov_rms gate.
    out = mov_rms(
        _idx_sig(spark, sf_dir), 0.1, _CHUNK_SR, chunk_rows=_CHUNK_L
    )
    return out.select(
        "channel_id", "t", F.round("value", 6).alias("value")
    )


SQL_MOV_RMS_CHUNKED = f"""
WITH {_SIG_CTE},
{_IDX_CTE},
r AS (
  SELECT channel_id, t, i, n,
         SQRT(AVG(value * value) OVER (w2 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS value
  FROM idx
  WINDOW w2 AS (PARTITION BY channel_id ORDER BY i)
)
SELECT channel_id, t - 0.05 AS t, ROUND(value, 6) AS value
FROM r WHERE i >= 9 AND i < n - 1
"""


def _integral_chunked_branch(spark, sf_dir):
    # The distributed prefix-sum integral: per-chunk running sums + a
    # cumulative offset over chunk totals.  Association differs from the
    # global fold, so the oracle replays the CHUNKED association (every
    # partial sum is an ordered left fold on both engines).  r13: the
    # 'chunked' path of the consolidated q_integral gate.
    out = integral(_idx_sig(spark, sf_dir), chunk_rows=_CHUNK_L)
    return out.select(
        "channel_id", "t", F.round("value", 6).alias("value")
    )


SQL_INTEGRAL_CHUNKED = f"""
WITH {_SIG_CTE},
{_IDX_CTE},
mem AS (
  SELECT channel_id, t, value, i, n, i // {_CHUNK_L} AS seg FROM idx
  UNION ALL
  SELECT channel_id, t, value, i, n, i // {_CHUNK_L} + 1 AS seg FROM idx
  WHERE i % {_CHUNK_L} = {_CHUNK_L - 1}
),
ar AS (
  SELECT channel_id, t, i, n, seg,
         COALESCE((value + LAG(value) OVER w) / 2.0 * (t - LAG(t) OVER w), 0.0) AS area
  FROM mem
  WINDOW w AS (PARTITION BY channel_id, seg ORDER BY i)
),
pre AS (
  SELECT channel_id, t, i, n, seg,
         SUM(area) OVER (w2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM ar
  WINDOW w2 AS (PARTITION BY channel_id, seg ORDER BY i)
),
tots AS (
  SELECT channel_id, seg, prefix AS tt
  FROM pre WHERE i = LEAST(n - 1, (seg + 1) * {_CHUNK_L} - 1)
),
offs AS (
  SELECT channel_id, seg,
         COALESCE(SUM(tt) OVER (PARTITION BY channel_id ORDER BY seg
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS off
  FROM tots
)
SELECT p.channel_id, p.t, ROUND(o.off + p.prefix, 6) AS value
FROM pre p JOIN offs o ON p.channel_id = o.channel_id AND p.seg = o.seg
WHERE p.i // {_CHUNK_L} = p.seg
"""


def _derivative_chunked_branch(spark, sf_dir):
    # Chunked derivative is bit-exact vs the global plan (row-local
    # arithmetic; the forward 1-row overlap supplies each chunk-tail
    # lead).  r13: the 'chunked' path of the consolidated q_derivative
    # gate (its oracle arm is the global LEAD form on the idx base).
    out = derivative(_idx_sig(spark, sf_dir), chunk_rows=_CHUNK_L)
    return out.select(
        "channel_id", "t", (F.round("value", 6) + F.lit(0.0)).alias("value")
    )


SQL_DERIVATIVE_CHUNKED = f"""
WITH {_SIG_CTE},
{_IDX_CTE},
p AS (
  SELECT channel_id, t, value,
         LEAD(t) OVER w2 AS t2, LEAD(value) OVER w2 AS y2
  FROM idx
  WINDOW w2 AS (PARTITION BY channel_id ORDER BY i)
)
SELECT channel_id, (t + t2) / 2.0 AS t,
       ROUND((y2 - value) / (t2 - t), 6) + 0.0 AS value
FROM p WHERE t2 IS NOT NULL
"""


def q_rss_daily(spark, sf_dir):
    # RSS across all channels on a shared daily time base (the equi-join-on-
    # time operator, extension.py:783-817, bucketed to day grain so stamps
    # actually align).
    sig = _signals(spark, sf_dir).withColumn("day", F.floor(F.col("t") / DAY))
    return (
        sig.groupBy("day")
        .agg(
            F.round(F.sqrt(F.sum(F.col("value") * F.col("value"))), 6).alias("value"),
            F.count("*").alias("n_channels"),
        )
        .select(F.col("day").cast("long").alias("day"), "value", "n_channels")
    )


SQL_RSS_DAILY = f"""
WITH {_SIG_CTE}
SELECT CAST(FLOOR(t / {DAY!r}) AS BIGINT) AS day,
       ROUND(SQRT(SUM(value * value)), 6) AS value,
       COUNT(*) AS n_channels
FROM sig GROUP BY 1
"""

# Derived per-channel spectrum for the freq-domain aggregates: freq =
# seconds since channel start + 1 (strictly positive), power = value^2 + 1
# (strictly positive for the log-log path), deduplicated.
_SPEC_CTE = f"""
{_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
spec AS (
  SELECT channel_id,
         t - MIN(t) OVER (PARTITION BY channel_id) + 1.0 AS freq,
         value * value + 1.0 AS power
  FROM dedup
)
"""


def _spec(spark, sf_dir):
    sig = deduplicate(_sig_ch(spark, sf_dir))
    return sig.select(
        "channel_id",
        (
            F.col("t") - F.min("t").over(Window.partitionBy("channel_id")) + 1.0
        ).alias("freq"),
        (F.col("value") * F.col("value") + 1.0).alias("power"),
    )


def q_rms_lin(spark, sf_dir):
    return rms_lin(_spec(spark, sf_dir)).select(
        "channel_id", F.round("rms_lin", 4).alias("rms_lin")
    )


SQL_RMS_LIN = f"""
WITH {_SPEC_CTE},
p AS (
  SELECT channel_id, freq, power,
         LEAD(freq) OVER w AS f2, LEAD(power) OVER w AS p2
  FROM spec WINDOW w AS (PARTITION BY channel_id ORDER BY freq)
)
SELECT channel_id,
       ROUND(SQRT(SUM((power + p2) / 2.0 * (f2 - freq))), 4) AS rms_lin
FROM p WHERE f2 IS NOT NULL GROUP BY channel_id
"""


def q_rms_log(spark, sf_dir):
    return rms_log(_spec(spark, sf_dir)).select(
        "channel_id", F.round("rms_log", 4).alias("rms_log")
    )


SQL_RMS_LOG = f"""
WITH {_SPEC_CTE},
p AS (
  SELECT channel_id, freq AS f1, power AS p1,
         LEAD(freq) OVER w AS f2, LEAD(power) OVER w AS p2
  FROM spec WINDOW w AS (PARTITION BY channel_id ORDER BY freq)
),
seg AS (
  SELECT channel_id, f1, p1, f2, p2,
         LOG10(p2 / p1) / LOG10(f2 / f1) AS n
  FROM p WHERE f2 IS NOT NULL
),
areas AS (
  SELECT channel_id,
         CASE WHEN ABS(n + 1.0) < 1e-10 THEN p1 * f1 * LN(f2 / f1)
              ELSE (p1 / POW(f1, n)) * (1.0 / (n + 1.0)) * (POW(f2, n + 1.0) - POW(f1, n + 1.0))
         END AS raw_area,
         (p1 + p2) / 2.0 * (f2 - f1) AS trap_area
  FROM seg
)
SELECT channel_id,
       ROUND(SQRT(SUM(CASE WHEN raw_area IS NULL OR ISNAN(raw_area)
                            OR raw_area = 0.0
                            OR ABS(raw_area) = CAST('Infinity' AS DOUBLE)
                           THEN trap_area ELSE raw_area END)), 4) AS rms_log
FROM areas GROUP BY channel_id
"""


def _day_grid(sig: DataFrame) -> DataFrame:
    # Whole-day grid points inside each channel's own [t0, t1] span.  The
    # lo <= hi guard matters: Spark's sequence(start, stop) runs
    # DESCENDING when start > stop (a channel living inside one day), and
    # the resulting out-of-span targets crash the spline kernel's bounds
    # check — while DuckDB's generate_series returns empty, which is also
    # the sensible semantics.
    bounds = sig.groupBy("channel_id").agg(
        F.min("t").alias("t0"), F.max("t").alias("t1")
    )
    lo = F.ceil(F.col("t0") / DAY).cast("long")
    hi = F.floor(F.col("t1") / DAY).cast("long")
    return (
        bounds.filter(lo <= hi)
        .select("channel_id", F.explode(F.sequence(lo, hi)).alias("day"))
        .select("channel_id", (F.col("day") * DAY).alias("t"))
    )


def q_interp_daily(spark, sf_dir):
    # Linear interpolation (as-of join) of every channel onto the daily
    # grid inside its own time span (extension.py:819-851 linear kind).
    # r14: CONSOLIDATED with the range-chunked twin (one slot proves
    # both plans; see _compose_paths / PLANS.md capacity plan).
    sig = deduplicate(_sig_ch(spark, sf_dir))
    grid = _day_grid(sig)
    out = interp1d_linear(sig, grid, axis="t")
    base = out.select("channel_id", "t", F.round("value", 6).alias("value"))
    return _compose_paths(
        ("global", base), ("chunked", _interp_chunked_branch(spark, sf_dir))
    )


def _interp_chunked_branch(spark, sf_dir):
    # The range-chunked as-of interpolation plan (planner.range_chunks:
    # time-range chunks + injected boundary sources) forced through the
    # hash gate — bit-identical to the global plan, so its oracle arm is
    # SQL_INTERP_DAILY verbatim.  Chunk size 400 puts every channel
    # across many chunks at sf0.01, exercising empty-chunk fills and
    # boundary injection.  r14: rides as the 'chunked' path of the
    # consolidated q_interp_daily gate.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    grid = _day_grid(sig)
    out = interp1d_linear(sig, grid, axis="t", chunk_rows=400)
    return out.select("channel_id", "t", F.round("value", 6).alias("value"))


SQL_INTERP_DAILY = f"""
WITH {_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
b AS (
  SELECT channel_id, MIN(t) AS t0, MAX(t) AS t1 FROM dedup GROUP BY channel_id
),
grid AS (
  SELECT channel_id,
         UNNEST(RANGE(CAST(CEIL(t0 / {DAY!r}) AS BIGINT),
                      CAST(FLOOR(t1 / {DAY!r}) AS BIGINT) + 1)) * {DAY!r} AS t
  FROM b
),
u AS (
  SELECT channel_id, t AS x, value AS y, 1 AS is_src FROM dedup
  UNION ALL
  SELECT channel_id, t, NULL, 0 FROM grid
),
m AS (
  SELECT channel_id, x, is_src,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y1
  FROM u
)
SELECT channel_id, x AS t,
       ROUND(CASE WHEN x1 = x0 THEN y0
                  ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END, 6) AS value
FROM m WHERE is_src = 0 AND x0 IS NOT NULL AND x1 IS NOT NULL
"""

# 6-hour uniform resample grid: coarse enough that the oracle's windowed
# CTE stays cheap, fine enough to exercise many brackets per channel.
_RS_DT = 21600.0


def q_resample(spark, sf_dir):
    # Reference resample (extension.py:853-894): end-exclusive arange grid
    # from each channel's span, then linear interp.  Grid generation is
    # distributed (sequence/explode), interp is the single-sort as-of join.
    # r13: consolidated with the range-chunked twin (see _compose_paths).
    sig = deduplicate(_sig_ch(spark, sf_dir))
    out = resample(sig, 1.0 / _RS_DT, kind="linear")
    base = out.select(
        "channel_id", F.round("t", 6).alias("t"), F.round("value", 6).alias("value")
    )
    return _compose_paths(
        ("global", base), ("chunked", _resample_chunked_branch(spark, sf_dir))
    )


def _resample_chunked_branch(spark, sf_dir):
    # The range-chunked resample plan (planner.range_chunks: per-chunk
    # lead with the injected global successor) — pairs and
    # emitted grid points are bit-identical to the global plan, so its
    # oracle arm is SQL_RESAMPLE verbatim.  r13: the 'chunked' path of
    # the consolidated q_resample gate.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    out = resample(sig, 1.0 / _RS_DT, kind="linear", chunk_rows=400)
    return out.select(
        "channel_id", F.round("t", 6).alias("t"), F.round("value", 6).alias("value")
    )


def q_interp_nearest(spark, sf_dir):
    # Step-kind interpolation stays fully relational (interp1d_native):
    # nearest-sample onto the daily grid, half-intervals rounding down
    # (kernels/interp.py tie rule == SciPy kind='nearest').
    sig = deduplicate(_sig_ch(spark, sf_dir))
    grid = _day_grid(sig)
    out = interp1d_native(sig, grid, axis="t", kind="nearest")
    return out.select("channel_id", "t", F.round("value", 6).alias("value"))


# Shared bracket CTE (same machinery as SQL_INTERP_DAILY) parameterized by
# the grid CTE and the final combiner expression.
def _sql_bracket_interp(grid_sql: str, combiner: str) -> str:
    return f"""
WITH {_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
b AS (
  SELECT channel_id, MIN(t) AS t0, MAX(t) AS t1 FROM dedup GROUP BY channel_id
),
grid AS (
{grid_sql}
),
u AS (
  SELECT channel_id, t AS x, value AS y, 1 AS is_src FROM dedup
  UNION ALL
  SELECT channel_id, t, NULL, 0 FROM grid
),
m AS (
  SELECT channel_id, x, is_src,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y1
  FROM u
)
SELECT channel_id, {combiner}
FROM m WHERE is_src = 0 AND x0 IS NOT NULL AND (x1 IS NOT NULL OR x0 = x)
"""


SQL_RESAMPLE = _sql_bracket_interp(
    f"""  SELECT channel_id,
         t0 + UNNEST(RANGE(0, CAST(CEIL((t1 - t0) / {_RS_DT!r}) AS BIGINT))) * {_RS_DT!r} AS t
  FROM b WHERE t1 > t0""",
    """ROUND(x, 6) AS t,
       ROUND(CASE WHEN x0 = x THEN y0
                  WHEN x1 = x0 THEN y0
                  ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END, 6) AS value""",
)

SQL_INTERP_NEAREST = _sql_bracket_interp(
    f"""  SELECT channel_id,
         UNNEST(RANGE(CAST(CEIL(t0 / {DAY!r}) AS BIGINT),
                      CAST(FLOOR(t1 / {DAY!r}) AS BIGINT) + 1)) * {DAY!r} AS t
  FROM b""",
    """x AS t,
       ROUND(CASE WHEN x0 = x THEN y0
                  WHEN x1 = x0 THEN y0
                  WHEN x <= 0.5 * (x0 + x1) THEN y0
                  ELSE y1 END, 6) AS value""",
)


def q_segment_stats(spark, sf_dir):
    sig = _signals(spark, sf_dir)
    out = segment_stats(sig, n_window=8, order_col="t", tiebreak_col="seq")
    return out.select(
        "channel_id",
        "n_segments",
        F.round("mean_rms", 6).alias("mean_rms"),
        F.round("median_rms", 6).alias("median_rms"),
        F.round("max_rms", 6).alias("max_rms"),
        F.round("min_rms", 6).alias("min_rms"),
        F.round("max_rms_scale", 6).alias("max_rms_scale"),
        F.round("damage_scale", 6).alias("damage_scale"),
    )


SQL_SEGMENT_STATS = f"""
WITH {_SIG_CTE},
r AS (
  SELECT channel_id, value,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) - 1) / 8) AS BIGINT) AS seg
  FROM sig
),
s AS (
  SELECT channel_id, seg, SQRT(AVG(value * value)) AS seg_rms, COUNT(*) AS n
  FROM r GROUP BY channel_id, seg
),
full_segs AS (SELECT * FROM s WHERE n = 8),
agg AS (
  SELECT channel_id, COUNT(*) AS n_segments,
         AVG(seg_rms) AS mean_rms,
         QUANTILE_CONT(seg_rms, 0.5) AS median_rms,
         MAX(seg_rms) AS max_rms, MIN(seg_rms) AS min_rms,
         AVG(POW(seg_rms, 4.0)) AS mean_pow
  FROM full_segs GROUP BY channel_id
)
SELECT channel_id, n_segments,
       ROUND(mean_rms, 6) AS mean_rms, ROUND(median_rms, 6) AS median_rms,
       ROUND(max_rms, 6) AS max_rms, ROUND(min_rms, 6) AS min_rms,
       ROUND(POW(max_rms / mean_rms, 2.0), 6) AS max_rms_scale,
       ROUND(POW(POW(mean_pow, 0.25) / mean_rms, 2.0), 6) AS damage_scale
FROM agg
"""


# --- classic relational coverage (joins + grouped aggregation) -------------


def q_tpch_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_revenue_join(spark, sf_dir):
    # Join order matters without table stats: reduce orders by the
    # broadcast segment-filtered customer dim FIRST (the filter reaches
    # the customer scan as a pushed parquet predicate), so the big
    # lineitem join shuffles against ~1/5 of orders instead of all of
    # them.  At 100 TB lineitem<->orders is the one unavoidable big-big
    # shuffle; everything else stays broadcast.
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od_b = od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey).select("o_orderkey")
    return (
        li.join(od_b, li.l_orderkey == od_b.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "revenue", "n_items")
    )


SQL_TPCH_REVENUE_JOIN = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
"""


def q_tpch_order_priority(spark, sf_dir):
    # TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join: orders in
    # a half-year window having at least one returned lineitem, counted
    # per priority.  The semi join never materializes lineitem columns
    # (probe-only — Spark builds/streams just the key) and the date
    # predicate reaches the orders parquet scan.  Adds the semi-join row
    # of SURVEY §2.3 to the oracle-checked surface.
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        od.join(li, od.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_TPCH_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_tpch_rollup(spark, sf_dir):
    # ROLLUP pricing summary — the grouping-sets row of SURVEY §2.4
    # ("free in Spark") exercised under the oracle: subtotals per
    # (returnflag, linestatus), per returnflag, and grand total in ONE
    # aggregation pass (Spark expands the sets map-side; still a single
    # shuffle with partial combine).  NULL marks the rolled-up level in
    # both engines.
    # ``+ 0.0`` — the repo-wide sign-bit policy on rounded reductions: a
    # zero-valued rounded sum must not hash-differ on -0.0 under the
    # signbit-sensitive gate.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.round(F.sum("l_quantity"), 4) + F.lit(0.0)).alias("sum_qty"),
        (
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            + F.lit(0.0)
        ).alias("sum_disc_price"),
        F.count("*").alias("n_rows"),
    )


SQL_TPCH_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) + 0.0 AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) + 0.0 AS sum_disc_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_tpch_custdist(spark, sf_dir):
    # TPC-H Q13 shape — customer order-count distribution: LEFT OUTER
    # join so order-less customers land in the c_count=0 bucket, then a
    # second aggregation over the first (histogram of group sizes).
    # Adds the outer-join row of SURVEY §2.3 to the oracle-checked
    # surface; both aggs get map-side partial combine.
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_TPCH_CUSTDIST = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_local_supplier(spark, sf_dir):
    # TPC-H Q5 shape: revenue by nation for orders where the customer and
    # the line's supplier sit in the SAME nation, region-filtered, one
    # order-date year.  Scale shape: every dim (region -> nation ->
    # customer, supplier) broadcasts down the chain; lineitem<->orders is
    # again the one big-big shuffle, and it runs on orders already cut to
    # the region + year slice.
    re_ = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nr = na.join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cu_n = cu.join(F.broadcast(nr), cu.c_nationkey == nr.n_nationkey).select(
        "c_custkey", F.col("n_nationkey").alias("c_nkey"), "n_name"
    )
    od_c = od.join(F.broadcast(cu_n), od.o_custkey == cu_n.c_custkey).select(
        "o_orderkey", "c_nkey", "n_name"
    )
    su_k = su.select("s_suppkey", F.col("s_nationkey").alias("s_nkey"))
    return (
        li.join(od_c, li.l_orderkey == od_c.o_orderkey)
        .join(F.broadcast(su_k), li.l_suppkey == su_k.s_suppkey)
        .filter(F.col("c_nkey") == F.col("s_nkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_TPCH_LOCAL_SUPPLIER = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_nationkey = c_nationkey
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
"""


# --- LLM-data-pipeline operators (documents / embeddings) -------------------


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    stop = F.filter(words, lambda w: w.isin("the", "a"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(words).cast("long").alias("n_tokens"),
        F.size(stop).cast("long").alias("n_stopwords"),
        F.round(F.size(stop) / F.size(words), 6).alias("stopword_ratio"),
        F.round(F.length("text") / F.size(words), 6).alias("avg_token_len"),
    )


SQL_TEXT_STATS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       LENGTH(text) AS n_chars_actual,
       LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
       LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a'))) AS n_stopwords,
       ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the', 'a')))
             / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
       ROUND(LENGTH(text) / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE), 6) AS avg_token_len
FROM documents
"""


def q_text_normalize(spark, sf_dir):
    """Unicode text normalization under the hash gate — the cleanup
    stage every crawl pipeline runs BEFORE hashing/dedup (CCNet,
    RefinedWeb), as operators/text.py NORMALIZE_STEPS: CRLF folding,
    zero-width/BOM strip, unicode-space mapping, control-char strip,
    quote/dash/ellipsis canonicalization, whitespace collapse, trim.
    Each sf document is decorated NATIVELY with a deterministic mess
    (doc_id%3 picks curly-quoted stopwords / all-NBSP spaces /
    untouched; doc_id%2 appends an en-dash CRLF tail; some rows stay
    byte-clean so `changed=false` is exercised).  The oracle builds
    the SAME messy text in SQL and normalizes it through the MIRROR
    GENERATED FROM THE SAME STEP TABLE (normalize_duckdb_sql), with
    Java-vs-RE2 automaton agreement pinned separately on adversarial
    strings in tests/test_normalize.py.

    Scale shape: twelve chained JVM regexp_replace calls — one
    codegen span, zero shuffle, zero Python; a page costs its own
    bytes."""
    from pandas_sigproc_spark.operators.text import normalize_text

    d = _docs_par(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    body = (
        F.when(
            did % 3 == 0,
            F.replace(
                F.col("text"), F.lit("the"), F.lit("\u201cthe\u201d")
            ),
        )
        .when(
            did % 3 == 1,
            F.replace(F.col("text"), F.lit(" "), F.lit("\u00a0")),
        )
        .otherwise(F.col("text"))
    )
    prefix = (
        F.when(did % 3 == 0, F.lit("\ufeff"))
        .when(did % 3 == 1, F.lit("\u200b \t "))
        .otherwise(F.lit(""))
    )
    suffix = F.when(did % 2 == 0, F.lit(" \u2013 end\r\n")).otherwise(
        F.lit("")
    )
    messy = d.select(
        did.alias("doc_id"), F.concat(prefix, body, suffix).alias("text")
    )
    return normalize_text(messy)


def _sql_text_normalize() -> str:
    from pandas_sigproc_spark.operators.text import normalize_duckdb_sql

    bom, zw, nbsp = "\ufeff", "\u200b", "\u00a0"
    lq, rq, nd = "\u201c", "\u201d", "\u2013"
    norm = normalize_duckdb_sql("text")
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         (CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN '{bom}'
            WHEN 1 THEN '{zw} ' || chr(9) || ' '
            ELSE '' END)
         || (CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN REPLACE(text, 'the', '{lq}the{rq}')
            WHEN 1 THEN REPLACE(text, ' ', '{nbsp}')
            ELSE text END)
         || (CASE CAST(doc_id % 2 AS INTEGER)
            WHEN 0 THEN ' {nd} end' || chr(13) || chr(10)
            ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
       CAST(LENGTH(text) AS INTEGER) AS n_chars_raw,
       CAST(LENGTH({norm}) AS INTEGER) AS n_chars_norm,
       ({norm} != text) AS changed,
       {norm} AS norm_text
FROM base
"""


SQL_TEXT_NORMALIZE = _sql_text_normalize()


def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT MD5(text) AS digest, COUNT(*) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM documents GROUP BY MD5(text)
"""

# MinHash: word-3-gram shingles -> portable 60-bit md5 hash -> 4 affine
# permutations mod the Mersenne prime 2^31-1 -> per-doc signature.
_MINHASH_P = 2147483647
_MINHASH_PERMS = [(1299721, 104729), (15485863, 32452843), (49979687, 67867967), (86028121, 23)]


def _minhash_sig_expr():
    # shingle -> hash -> all 4 permutation minima in ONE aggregate() pass
    # over the row's own shingle array.  A single aggregate matters
    # because Spark inlines the shingle-hash expression into every output
    # column: four transform()+array_min() columns would re-run md5 per
    # shingle 4x (measured 3.5x slower).  NO array_distinct: min is
    # idempotent over duplicates, so the signature over the shingle
    # MULTISET equals the one over the set — the distinct pass was pure
    # cost (r13 scale A/B: 22% of the 8x wall) and the oracle (which
    # does dedupe) is unchanged by construction.
    p = _MINHASH_P
    acc0 = "array(" + ",".join([f"cast({p} as bigint)"] * len(_MINHASH_PERMS)) + ")"
    upd = ",".join(
        f"least(acc[{i}], ({a}L * h + {b}L) % {p}L)"
        for i, (a, b) in enumerate(_MINHASH_PERMS)
    )
    return F.expr(
        f"""
        aggregate(
          transform(
            {_text.gram_sql(3, "text")},
            s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {p}L),
          {acc0}, (acc, h) -> array({upd}))
        """
    )


def q_dedup_minhash(spark, sf_dir):
    # Fully map-side: no explode, no distinct, no groupBy — zero
    # shuffles, so the plan is embarrassingly parallel at any scale
    # (each task emits one signature row per doc; _docs_par only
    # repartitions when the local scan is split-starved).  r15 A/B
    # note: the Arrow-kernel signature twin (curation.minhash_sig_map)
    # was measured here and LOST — 0.37 s (expression) vs 0.70 s
    # (kernel) interleaved min-of-4 at sf0.1; the JVM md5 fold emits 8
    # longs per doc and beats per-gram hashlib in Python.  The kernel
    # wins only where it removes an explode (source_overlap).
    d = _docs_par(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"), _minhash_sig_expr().alias("mh")
    ).select(
        "doc_id",
        *[F.col("mh")[i].alias(f"mh{i}") for i in range(len(_MINHASH_PERMS))],
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    # The full MinHash+LSH near-dup pipeline (shingle -> minhash -> band
    # -> bucket-join): signatures band into 2 bands x 2 rows; candidate
    # pairs agree on at least one whole band; similarity estimate = the
    # fraction of agreeing permutations.  Scale shape: band rows are
    # (band_id, band hash) bigint pairs, so the self-join is a bounded
    # integer equi-join (shuffle on the band bucket) and the quadratic
    # blow-up is confined to same-bucket docs — never the whole corpus.
    # Exact-integer arithmetic end to end = oracle-exact.
    d = _docs_par(spark, sf_dir)
    sig = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), _minhash_sig_expr().alias("mh")
    )
    n_bands = len(_MINHASH_PERMS) // 2
    bands = sig.select(
        "doc_id",
        "mh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.col("mh")[2 * bi].alias("b0"),
                        F.col("mh")[2 * bi + 1].alias("b1"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "mh", "band.band_id", "band.b0", "band.b1")
    a, b = bands.alias("a"), bands.alias("b")
    agree = sum(
        (F.col("a.mh")[i] == F.col("b.mh")[i]).cast("int") for i in range(4)
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.b0") == F.col("b.b0"))
            & (F.col("a.b1") == F.col("b.b1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            (agree / 4.0).alias("est_jaccard"),
        )
        .distinct()
    )


SQL_DEDUP_MINHASH = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                               i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS sh
  FROM tok
),
hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTR(MD5(sh), 1, 15)) AS BIGINT) % {_MINHASH_P} AS h
  FROM sh
)
SELECT doc_id,
       {", ".join(f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(_MINHASH_PERMS))}
FROM hashed GROUP BY doc_id
"""


_SQL_MINHASH_SIG_CTES = f"""
tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                               i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS sh
  FROM tok
),
hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTR(MD5(sh), 1, 15)) AS BIGINT) % {_MINHASH_P} AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(_MINHASH_PERMS))}
  FROM hashed GROUP BY doc_id
)
"""

SQL_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_MINHASH_SIG_CTES}
SELECT a.doc_id AS d1, b.doc_id AS d2,
       ({" + ".join(f"CAST(a.mh{i} = b.mh{i} AS INTEGER)" for i in range(4))}) / 4.0
         AS est_jaccard
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id
 AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
"""


def q_dedup_clusters(spark, sf_dir):
    # Pairs -> duplicate GROUPS: connected components over the LSH
    # candidate-pair graph (operators/graph.py, min-label propagation
    # with pointer jumping — O(log diameter) join rounds).  Corpus
    # dedup needs this step because duplicates chain (A~B~C without A~C);
    # keeping min(doc_id) per component is the canonical keeper rule.
    # Every document appears: singletons are their own component, so
    # `component != doc_id` IS the drop set.
    from pandas_sigproc_spark.operators import connected_components

    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    comp = connected_components(
        pairs, vertices=docs, src="d1", dst="d2", id_col="doc_id"
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") != F.col("component")).alias("is_dropped"),
    )


# DuckDB oracle: transitive closure via recursive CTE — min reachable id
# per document over the same symmetrized LSH pair graph.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_MINHASH_SIG_CTES},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
),
edges AS (
  SELECT d1 AS s, d2 AS t FROM pairs
  UNION
  SELECT d2 AS s, d1 AS t FROM pairs
),
reach(id, comp) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT e.s, r.comp FROM edges e JOIN reach r ON e.t = r.id
)
SELECT id AS doc_id, MIN(comp) AS component,
       (id != MIN(comp)) AS is_dropped
FROM reach GROUP BY id
"""


def q_cluster_rep(spark, sf_dir):
    """Quality-aware near-dup collapse under the hash gate
    (operators/curation.py cluster_representatives): LSH candidate
    pairs -> connected components -> keep each cluster's
    MAX-QUALITY member (smaller id on ties) instead of the arbitrary
    min-id keeper — the RefinedWeb/FineWeb representative-selection
    rule that stops a broken scrape from evicting the well-formatted
    original.  The oracle replays the whole composition: the
    recursive-CTE transitive closure over the same LSH pair graph,
    the 6-dp quality score, and an independent window-ranked argmax.

    Scale shape: the pair graph and components are the audited
    dedup_clusters plan; the argmax is a partial-agg max over a
    (score, -id) struct (hot clusters combine map-side — never a
    single window task), joined back on the component key."""
    from pandas_sigproc_spark.operators import connected_components
    from pandas_sigproc_spark.operators.curation import (
        cluster_representatives,
    )

    d = _docs_par(spark, sf_dir)
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    docs = d.select(F.col("doc_id").cast("long").alias("doc_id"))
    comp = connected_components(
        pairs, vertices=docs, src="d1", dst="d2", id_col="doc_id"
    )
    scores = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _text.quality_expr().alias("score"),
    )
    return cluster_representatives(
        comp.select(F.col("id").alias("doc_id"), "component"), scores
    )


_SQL_QUALITY_SCORE_EXPR = """ROUND(0.3 * LEAST(1.0, LENGTH(text) / 400.0)
           + 0.25 * GREATEST(0.0, 1.0 - ABS(LENGTH(text) / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) - 4.7) / 4.7)
           + 0.25 * LEAST(1.0, LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w IN ('the','a','of','and','is')))
                               / (LEN(STRING_SPLIT(text, ' ')) * 0.05))
           + 0.2 * (LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)), 6)"""

SQL_CLUSTER_REP = f"""
WITH RECURSIVE {_SQL_MINHASH_SIG_CTES},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
),
edges AS (
  SELECT d1 AS s, d2 AS t FROM pairs
  UNION
  SELECT d2 AS s, d1 AS t FROM pairs
),
reach(id, comp) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT e.s, r.comp FROM edges e JOIN reach r ON e.t = r.id
),
comp AS (SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id),
q AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SQL_QUALITY_SCORE_EXPR} AS score
  FROM documents
),
jq AS (SELECT c.doc_id, c.component, q.score FROM comp c JOIN q USING (doc_id)),
rep AS (
  SELECT component, doc_id AS rep_doc_id FROM (
    SELECT component, doc_id,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY score DESC, doc_id) AS rk
    FROM jq)
  WHERE rk = 1
)
SELECT jq.doc_id, jq.component, jq.score, rep.rep_doc_id,
       (jq.doc_id = rep.rep_doc_id) AS kept
FROM jq JOIN rep USING (component)
"""


def q_dedup_simhash(spark, sf_dir):
    # 32-bit SimHash over word hashes: bit j set iff sum of per-word
    # (+1/-1 on bit j) is positive. Computed map-side per row: hash the
    # row's word array once, then for each bit j count set bits with a
    # filter() over that array (s_j = 2*n_set - n). Zero shuffles.
    # One aggregate() with a finish lambda: the word-hash array is built
    # exactly once per row (naming it in a prior select would let the
    # projection-collapse rule inline it into every reference, re-running
    # md5 per word dozens of times).  merge keeps 32 running bit-sums;
    # finish folds them into the integer fingerprint.  Per-bit probe via
    # exact integer division by 2^j (pow(2, j) cast to bigint is exact).
    d = _docs_par(spark, sf_dir)
    expr = """
      aggregate(
        transform(split(text, ' '),
          w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)),
        array_repeat(cast(0 as bigint), 32),
        (acc, h) -> transform(sequence(0, 31), j ->
          acc[j] + CASE WHEN (h div cast(pow(2, j) as bigint)) % 2 = 1
                        THEN 1L ELSE -1L END),
        acc -> aggregate(
          transform(sequence(0, 31), j ->
            CASE WHEN acc[j] > 0 THEN cast(pow(2, j) as bigint) ELSE 0L END),
          cast(0 as bigint), (s, x) -> s + x))
    """
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.expr(expr).alias("simhash")
    )


SQL_DEDUP_SIMHASH = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS w
  FROM documents
),
h AS (
  SELECT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 15)) AS BIGINT) AS h FROM w
),
bits AS (
  SELECT doc_id, UNNEST(RANGE(0, 32)) AS j, h FROM h
),
contrib AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, j
)
SELECT doc_id,
       -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which pandas widens to
       -- float64 and the driver's dtype-sensitive hash then mismatches.
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
"""


_JACCARD_T = 0.5


def q_dedup_jaccard_pairs(spark, sf_dir):
    # n-gram Jaccard near-dup pairs through the DEFAULT dispatcher
    # (operators/dedup.py jaccard_near_dupes, plan='auto' -> PPJoin):
    # prefix-filter + size bound produce a candidate set whose distinct
    # replaces the O(df^2)-per-shingle (d1,d2) pair aggregation of the
    # old jaccard_pairs default — that plan regressed 50% at sf0.1 in r3
    # and is quadratic in hot-shingle document frequency at corpus scale.
    # Results are bit-identical (exact string-array verification), so the
    # oracle is unchanged; jaccard_pairs stays available as the
    # documented small-corpus plan (plan='pairs').
    d = _docs_par(spark, sf_dir)
    return jaccard_near_dupes(d, _JACCARD_T)


def q_dedup_jaccard_ppjoin(spark, sf_dir):
    # Same result as q_dedup_jaccard_pairs via the EXACT prefix-filtered
    # PPJoin-style plan in operators/dedup.py jaccard_ppjoin — the 100 TB
    # scale path: prefix-filter + size bound produce a candidate set whose
    # distinct replaces the quadratic (d1,d2) aggregation; each candidate
    # verified once with array_intersect against the full arrays.
    d = _docs_par(spark, sf_dir)
    return jaccard_ppjoin(d, _JACCARD_T)


SQL_DEDUP_JACCARD_PAIRS = """
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                               i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS sh
  FROM tok
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(n_inter / CAST(s1.n_sh + s2.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE n_inter / CAST(s1.n_sh + s2.n_sh - n_inter AS DOUBLE) >= 0.5
"""


def q_embed_cosine_topk(spark, sf_dir):
    # Brute-force cosine top-5 neighbors for the first 50 query vectors —
    # the exact baseline for ANN (similarity-search operator family).
    # DO NOT USE AT SCALE: the crossJoin below is a true cartesian
    # product, kept deliberately un-broadcast as the labeled recall
    # baseline.  Production similarity search goes through q_ann_lsh /
    # q_ann_ivf / q_ann_int8 (bucketed probes, broadcast quantizers).
    e = _embeds_par(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    from pandas_sigproc_spark.operators.ann import cosine_topk_bruteforce

    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    out = cosine_topk_bruteforce(e, q, k=5)
    return (
        out.select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


# --- text analysis family (language-ID, tokenization, quality, fingerprint) --

# Shared expression builders live in operators/text.py (the library
# surface); the entry queries compose them so batch, streaming, and
# end-to-end pipelines all evaluate the SAME expression trees.  The
# module-level aliases keep the DuckDB SQL builders and tests in sync
# with the single definition.
from pandas_sigproc_spark.operators import text as _text

_LANG_STOPS = _text.LANG_STOPS
_LANG_ORDER = _text.LANG_ORDER


def q_lang_id(spark, sf_dir):
    # Stopword-hit language ID: score each language by how many of the
    # doc's words hit its stopword set; argmax with fixed priority order,
    # 'und' (undetermined) when every score is zero.  Fully map-side.
    d = _docs_par(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    row = d.select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws"))
    scores = _text.lang_scores_expr("ws")
    out = row.select(
        "doc_id",
        _text.lang_pred_expr("ws").alias("pred_lang"),
        sum(scores.values(), F.lit(0)).cast("long").alias("n_stopword_hits"),
    )
    return out


def _lang_score_sql(lang):
    stops = ", ".join(f"'{s}'" for s in _LANG_STOPS[lang])
    return f"LEN(LIST_FILTER(ws, w -> w IN ({stops})))"


def _lang_pred_sql():
    total = " + ".join(_lang_score_sql(l) for l in _LANG_ORDER)
    cases = []
    for lang in _LANG_ORDER:
        conds = " AND ".join(
            f"{_lang_score_sql(lang)} >= {_lang_score_sql(o)}"
            for o in _LANG_ORDER
            if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return f"CASE WHEN ({total}) = 0 THEN 'und' {' '.join(cases)} END"


SQL_LANG_ID = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS ws
  FROM documents
)
SELECT doc_id,
       {_lang_pred_sql()} AS pred_lang,
       {" + ".join(_lang_score_sql(l) for l in _LANG_ORDER)} AS n_stopword_hits
FROM tok
"""


def q_lang_id_model(spark, sf_dir):
    # Model-based language ID (operators/langid.py): a fastText-style
    # hashed character-trigram linear classifier — per-gram md5 bucket
    # weights, BIGINT milli-weight sums (no float associativity before
    # the final division), argmax with fixed priority, 'und' when no
    # gram matches — plus disagreement stats vs the stopword heuristic
    # (pred_heur, agree).  One Arrow pass per batch, zero shuffles; the
    # oracle replays the relational explode/join/groupBy form.  NULL
    # text counts as empty on both sides.
    from pandas_sigproc_spark.operators.langid import lang_id_model

    d = _docs_par(spark, sf_dir)
    return lang_id_model(d)


def _sql_lang_id_model() -> str:
    from pandas_sigproc_spark.operators.langid import (
        LANG_MODEL_BUCKETS,
        MODEL_LANGS,
        lang_model_rows,
    )

    values = ",\n         ".join(
        f"({b}, {we}, {wd}, {ws_}, {wf})"
        for b, we, wd, ws_, wf in lang_model_rows()
    )
    sums = ",\n         ".join(
        f"CAST(SUM(COALESCE(w_{l}, 0)) AS BIGINT) AS s_{l}"
        for l in MODEL_LANGS
    )
    argmax_cases = " ".join(
        "WHEN "
        + " AND ".join(
            f"s_{l} >= s_{o}" for o in MODEL_LANGS if o != l
        )
        + f" THEN '{l}'"
        for l in MODEL_LANGS
    )
    scores = ",\n       ".join(
        f"ROUND(CAST(s_{l} AS DOUBLE) / (n_grams * 1000.0), 6) AS score_{l}"
        for l in MODEL_LANGS
    )
    return f"""
WITH w(bucket, w_en, w_de, w_es, w_fr) AS (
  VALUES {values}
),
tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CONCAT(' ', TRIM(REGEXP_REPLACE(LOWER(t), '[^a-z]+', ' ', 'g')),
                ' ') AS s,
         STRING_SPLIT(t, ' ') AS ws
  FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents)
),
heur AS (
  SELECT doc_id, s, {_lang_pred_sql()} AS pred_heur FROM tok
),
g AS (
  SELECT doc_id, pred_heur,
         UNNEST(list_transform(
           range(1, GREATEST(LENGTH(s) - 2, 1) + 1),
           i -> SUBSTRING(s, CAST(i AS INTEGER), 3))) AS g
  FROM heur
),
b AS (
  SELECT doc_id, pred_heur,
         CAST(CONCAT('0x', SUBSTR(MD5(g), 1, 15)) AS BIGINT)
           % {LANG_MODEL_BUCKETS} AS bucket
  FROM g
),
a AS (
  SELECT doc_id,
         MIN(pred_heur) AS pred_heur,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN w_en IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
         {sums}
  FROM b LEFT JOIN w USING (bucket)
  GROUP BY doc_id
),
p AS (
  SELECT doc_id,
         CASE WHEN n_hits = 0 THEN 'und' {argmax_cases} END AS pred_lang,
         {scores},
         CAST(n_grams AS BIGINT) AS n_grams, n_hits, pred_heur
  FROM a
)
SELECT *, (pred_lang = pred_heur) AS agree FROM p
"""


_TOKEN_RE = "[a-z0-9]+|[^a-z0-9 ]"


def q_token_count(spark, sf_dir):
    # BPE-ish regex tokenization: alnum runs plus single non-alnum marks,
    # versus plain whitespace tokens.  Both counts map-side.
    d = _docs_par(spark, sf_dir)
    toks = F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(toks).cast("long").alias("n_re_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       LEN(STRING_SPLIT(text, ' ')) AS n_ws_tokens,
       LEN(REGEXP_EXTRACT_ALL(text, '{_TOKEN_RE}')) AS n_re_tokens,
       LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '{_TOKEN_RE}'))) AS n_unique_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    # Composite document-quality heuristic (operators/text.py
    # quality_expr): length saturation, mean word length proximity to
    # English prose (~4.7), stopword presence, and type-token ratio.
    # Pure arithmetic -> identical in both engines.
    d = _docs_par(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _text.quality_expr().alias("quality"),
    )


SQL_QUALITY_SCORE = """
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, STRING_SPLIT(text, ' ') AS ws
  FROM documents
)
SELECT doc_id,
       ROUND(0.3 * LEAST(1.0, LENGTH(text) / 400.0)
           + 0.25 * GREATEST(0.0, 1.0 - ABS(LENGTH(text) / CAST(LEN(ws) AS DOUBLE) - 4.7) / 4.7)
           + 0.25 * LEAST(1.0, LEN(LIST_FILTER(ws, w -> w IN ('the','a','of','and','is')))
                               / (LEN(ws) * 0.05))
           + 0.2 * (LEN(LIST_DISTINCT(ws)) / CAST(LEN(ws) AS DOUBLE)), 6) AS quality
FROM tok
"""


# Karp-Rabin rolling hash over word hashes, window w=4: the document
# fingerprint is the minimum window hash (winnowing-style).  Spark computes
# it map-side in ONE aggregate() pass (array accumulator = 3 trailing word
# hashes, count, running min); the oracle is the equivalent relational
# form (explode + LAG window + MIN) — different plans, same values.
_FP_B = 1000003
_FP_P = 2147483647
_FP_B2 = (_FP_B * _FP_B) % _FP_P
_FP_B3 = (_FP_B * _FP_B2) % _FP_P


def q_doc_fingerprint(spark, sf_dir):
    d = _docs_par(spark, sf_dir)
    p, b, b2, b3 = _FP_P, _FP_B, _FP_B2, _FP_B3
    expr = f"""
      aggregate(
        transform(split(text, ' '),
          w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % {p}L),
        array(0L, 0L, 0L, 0L, 9223372036854775807L),
        (acc, h) -> array(
          acc[1], acc[2], h, acc[3] + 1L,
          CASE WHEN acc[3] >= 3 THEN least(
                 acc[4],
                 ((acc[0] * {b3}L) % {p}L + (acc[1] * {b2}L) % {p}L
                  + (acc[2] * {b}L) % {p}L + h) % {p}L)
               ELSE acc[4] END),
        acc -> CASE WHEN acc[3] >= 4 THEN acc[4] ELSE -1L END)
    """
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(expr).alias("fingerprint"),
    )


SQL_DOC_FINGERPRINT = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS ws
  FROM documents
),
w AS (
  SELECT doc_id, u.w, u.i
  FROM tok, LATERAL (SELECT UNNEST(ws) AS w, generate_subscripts(ws, 1) AS i) u
),
h AS (
  SELECT doc_id, i,
         CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 15)) AS BIGINT) % {_FP_P} AS h
  FROM w
),
r AS (
  SELECT doc_id,
         ((LAG(h, 3) OVER win * {_FP_B3}) % {_FP_P}
          + (LAG(h, 2) OVER win * {_FP_B2}) % {_FP_P}
          + (LAG(h, 1) OVER win * {_FP_B}) % {_FP_P} + h) % {_FP_P} AS r
  FROM h
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
)
SELECT doc_id, COALESCE(MIN(r), -1) AS fingerprint
FROM r GROUP BY doc_id
"""


def q_rep_stats(spark, sf_dir):
    # Gopher-style repetition filters (operators/text.py
    # repetition_stats): dup-line fraction + top-bigram occupancy.  The
    # input derives a multi-line text deterministically (docs have no
    # newlines: every third doc gets its text duplicated as a second
    # line) so the line arithmetic is exercised with varied values.
    from pandas_sigproc_spark.operators.text import repetition_stats

    # _docs_par, not _docs: the kernel plan is zero-shuffle, so without
    # the _ensure_par widener the whole leg would run as the scan's one
    # task (the §2 single-split rule).
    d = _docs_par(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(d)


SQL_REP_STATS = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
              THEN text || chr(10) || text ELSE text END AS text
  FROM documents
),
base AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS ls,
         string_split(text, ' ') AS ws
  FROM d
),
bg AS (
  SELECT doc_id, ws[g.i] || ' ' || ws[g.i + 1] AS b
  FROM base, LATERAL (SELECT UNNEST(RANGE(1, LEN(ws))) AS i) g
),
top AS (
  SELECT doc_id, MAX(c) AS topc, SUM(c) AS tot
  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
  GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(LEN(l.ls) AS BIGINT) AS n_lines,
       ROUND((LEN(l.ls) - LEN(list_distinct(l.ls))) / CAST(LEN(l.ls) AS DOUBLE), 6)
         AS dup_line_frac,
       ROUND(COALESCE(t.topc / CAST(t.tot AS DOUBLE), 0.0), 6) AS top_bigram_frac
FROM base l LEFT JOIN top t USING (doc_id)
"""

_CHUNK_TOKENS, _CHUNK_OVERLAP = 40, 8


def q_doc_chunks(spark, sf_dir):
    # Sliding-token-window document chunking (operators/text.py
    # chunk_documents) — the context-length prep step: 40-token chunks,
    # 8-token overlap, map-side posexplode only.
    from pandas_sigproc_spark.operators.text import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), _CHUNK_TOKENS, _CHUNK_OVERLAP
    )


SQL_DOC_CHUNKS = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
  FROM documents
),
st AS (
  SELECT doc_id, ws,
         CAST(g.k AS INTEGER) AS chunk_id,
         1 + g.k * {_CHUNK_TOKENS - _CHUNK_OVERLAP} AS s
  FROM base, LATERAL (
    SELECT UNNEST(RANGE(0,
      CAST(FLOOR((GREATEST(LEN(ws) - {_CHUNK_OVERLAP}, 1) - 1)
                 / {float(_CHUNK_TOKENS - _CHUNK_OVERLAP)!r}) AS BIGINT) + 1)) AS k
  ) g
)
SELECT doc_id, chunk_id,
       CAST(LEAST({_CHUNK_TOKENS}, LEN(ws) - s + 1) AS INTEGER) AS n_tokens,
       array_to_string(ws[s : s + {_CHUNK_TOKENS - 1}], ' ') AS chunk_text
FROM st
"""


_SUBSTR_N = 8


def q_substr_dedup(spark, sf_dir):
    # Exact substring-span dedup (operators/text.py substring_dedup —
    # word-level ExactSubstr after Lee et al. 2022): tokens covered by
    # any corpus-duplicated word-8-gram are marked and removed.  Gram
    # generation is map-side (one split per row, zip_with slice chain);
    # the duplicate test is a partial-agg count on md5 keys; covered
    # positions fold into one per-doc set.  Linear in corpus tokens.
    from pandas_sigproc_spark.operators.text import substring_dedup

    d = _docs_par(spark, sf_dir)
    return substring_dedup(d, n=_SUBSTR_N)


# The substring-span CTE block (tokenize -> gram hash -> duplicated grams
# -> covered positions -> per-doc dup counts) shared by the substr_dedup
# and corpus_curate oracles — a named composition point, not string
# surgery on rendered SQL (r5 advice).
_SQL_SUBSTR_CTES = f"""t AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS w
  FROM documents
),
g AS MATERIALIZED (
  SELECT doc_id, CAST(s.i AS INTEGER) AS pos,
         MD5(ARRAY_TO_STRING(w[s.i : s.i + {_SUBSTR_N - 1}], ' ')) AS h
  FROM t, LATERAL (
    SELECT UNNEST(RANGE(1, GREATEST(LEN(w) - {_SUBSTR_N - 1}, 0) + 1)) AS i
  ) s
),
dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
cov AS MATERIALIZED (
  SELECT DISTINCT g.doc_id, g.pos + u.j AS tp
  FROM g JOIN dup USING (h),
       LATERAL (SELECT UNNEST(RANGE(0, {_SUBSTR_N})) AS j) u
),
cagg AS (SELECT doc_id, COUNT(*) AS nd FROM cov GROUP BY doc_id)"""


SQL_SUBSTR_DEDUP = f"""
WITH {_SQL_SUBSTR_CTES},
tok AS (
  SELECT t.doc_id, CAST(s.p AS INTEGER) AS p, t.w[s.p] AS tokw
  FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) + 1)) AS p) s
),
kept AS (
  SELECT k.doc_id, k.p, k.tokw FROM tok k
  ANTI JOIN cov ON k.doc_id = cov.doc_id AND k.p = cov.tp
),
ct AS (
  SELECT doc_id, STRING_AGG(tokw, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(LEN(t.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.nd, 0) AS BIGINT) AS n_dup_tokens,
       ROUND(CAST(COALESCE(c.nd, 0) AS DOUBLE) / LEN(t.w), 6) AS dup_frac,
       COALESCE(ct.clean_text, '') AS clean_text
FROM t LEFT JOIN cagg c USING (doc_id) LEFT JOIN ct USING (doc_id)
"""


def q_corpus_curate(spark, sf_dir):
    """Composed curation pipeline over BOTH new dedup tiers: substring-
    span dedup (docs with more than half their tokens inside corpus-
    duplicated 8-gram spans are dropped) AND SemDeDup semantic dedup
    (embedding vec_id aligns 1:1 with doc_id in the test corpus), then a
    per-language yield report.  All metrics are integer sums (plus one
    rounded integer-ratio division), so the cross-engine compare has no
    float-summation-order surface.

    Scale shape: the two dedup stages are the audited substr_dedup /
    semdedup plans IN PRODUCTION MODE (partial-agg centroid sums — the
    exact_sums ordered fold is audit-only; see q_semdedup); the gates
    compose as equi-joins on doc id (uniform key); the final agg is a
    tiny per-language partial agg.  The semantic gate consumes only the
    DISCRETE keep flags, so the margin argument of q_semdedup carries
    over unchanged; the bit-pinned replay survives as the audit twin
    `corpus_curate_exact`, a branch of the same slot.
    """
    return _corpus_curate_impl(spark, sf_dir, exact_sums=False)


def q_corpus_curate_exact(spark, sf_dir):
    """Audit twin of `corpus_curate`: the semantic gate runs exact_sums
    ordered-fold centroids so the composed pipeline replays bit-exact in
    DuckDB with no margin argument.  Audit scale only — not benchmarked."""
    return _corpus_curate_impl(spark, sf_dir, exact_sums=True)


def _corpus_curate_impl(spark, sf_dir, *, exact_sums):
    from pandas_sigproc_spark.operators.kmeans import semantic_dedup
    from pandas_sigproc_spark.operators.text import substring_dedup

    d = _docs_par(spark, sf_dir)
    spans = substring_dedup(d, n=_SUBSTR_N)
    sem = semantic_dedup(
        _embeds_par(spark, sf_dir),
        k=8,
        iters=2,
        threshold=_SEMDEDUP_THRESHOLD,
        exact_sums=exact_sums,
        persist=_persist,
    )
    kept = (
        spans.filter(F.col("dup_frac") <= 0.5)
        .join(
            sem.filter("keep").select(F.col("vec_id").alias("doc_id")),
            "doc_id",
        )
        .join(
            d.select(F.col("doc_id").cast("long").alias("doc_id"), "lang"),
            "doc_id",
        )
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("n_tokens") - F.col("n_dup_tokens"))
        .cast("long")
        .alias("clean_tokens"),
        F.round(
            F.sum("n_dup_tokens").cast("double") / F.sum("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


def _sql_corpus_curate(exact: bool = False) -> str:
    # Composes the NAMED shared CTE blocks (k-means rounds, semantic drop
    # set, substring-span coverage) — no split/rsplit surgery on rendered
    # SQL (r5 advice): an edit to any source block reaches this oracle by
    # construction.
    return f"""
WITH {_sql_kmeans_ctes(exact=exact)},
{_SQL_SEMDEDUP_DRP},
keepvec AS (
  SELECT a.vid FROM i2asg a LEFT JOIN drp d ON a.vid = d.vid
  WHERE d.vid IS NULL
),
{_SQL_SUBSTR_CTES},
ds AS (
  SELECT t.doc_id, LEN(t.w) AS n_tokens, COALESCE(c.nd, 0) AS nd,
         ROUND(CAST(COALESCE(c.nd, 0) AS DOUBLE) / LEN(t.w), 6) AS dup_frac
  FROM t LEFT JOIN cagg c USING (doc_id)
),
kept AS (
  SELECT dd.lang, s.n_tokens, s.nd
  FROM ds s
  JOIN keepvec k ON s.doc_id = k.vid
  JOIN documents dd ON CAST(dd.doc_id AS BIGINT) = s.doc_id
  WHERE s.dup_frac <= CAST('0.5' AS DOUBLE)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens - nd) AS BIGINT) AS clean_tokens,
       ROUND(CAST(SUM(nd) AS DOUBLE) / SUM(n_tokens), 6) AS dup_token_frac
FROM kept GROUP BY lang
"""


def q_corpus_prep(spark, sf_dir):
    # End-to-end training-corpus preparation — the pipeline a pretraining
    # data job runs, as ONE declarative plan: quality gate -> exact dedup
    # -> MinHash-LSH near-dup removal -> per-language corpus stats.
    # Composes the standalone text operators (quality_score, lang_id,
    # token_count, dedup_exact, dedup_minhash_lsh) with identical
    # arithmetic, so every stage stays oracle-exact.
    #
    # Scale shape: scoring/lang-ID/tokenization are map-side expressions
    # inlined into the scan (no shuffle); exact dedup is one hash
    # aggregation on md5(text) (uniformly distributed key — no skew);
    # LSH banding confines the near-dup self-join to same-bucket docs
    # (bounded integer equi-join); the final per-language agg is tiny.
    # The signature table feeds THREE consumers (both self-join sides and
    # the survivor set), and differing column pruning per branch defeats
    # Catalyst's exchange reuse — without intervention the full corpus
    # would be scanned and md5-aggregated three times.  Persisting `sig`
    # (~40 bytes/doc — 0.05% of corpus size) caps the pipeline at ONE
    # corpus scan; everything downstream joins over the cached table.
    d = _docs_par(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    toks = F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
    scored = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        words.alias("ws"),
        _text.quality_expr().alias("quality"),
        F.size(toks).alias("n_re_tokens"),
    )
    filtered = scored.select(
        "doc_id", "text", "quality", "n_re_tokens",
        _text.lang_pred_expr("ws").alias("pred_lang"),
    ).filter(F.col("quality") >= 0.6)
    # Exact dedup: copies share the text, hence every derived column —
    # MIN picks the keeper doc_id and passes the rest through unchanged.
    dedup = filtered.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
        F.min("quality").alias("quality"),
        F.min("n_re_tokens").alias("n_re_tokens"),
        F.min("pred_lang").alias("pred_lang"),
    )
    sig = _persist(dedup.select(
        "doc_id", "quality", "n_re_tokens", "pred_lang", _minhash_sig_expr().alias("mh")
    ))
    n_bands = len(_MINHASH_PERMS) // 2
    bands = sig.select(
        "doc_id",
        "mh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.col("mh")[2 * bi].alias("b0"),
                        F.col("mh")[2 * bi + 1].alias("b1"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "mh", "band.band_id", "band.b0", "band.b1")
    a, b = bands.alias("a"), bands.alias("b")
    agree = sum(
        (F.col("a.mh")[i] == F.col("b.mh")[i]).cast("int") for i in range(4)
    )
    near_dups = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.b0") == F.col("b.b0"))
            & (F.col("a.b1") == F.col("b.b1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(agree >= 3)  # est_jaccard >= 0.75: drop the later twin
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    # Removal here is the PAIR rule (drop any doc with a smaller direct
    # near-dup), one shuffle, fully SQL-expressible.  Transitive chains
    # (A~B~C without A~C) can leave both chain ends alive; when full
    # cluster semantics is required, route the pairs through
    # operators/graph.connected_components instead (see dedup_clusters —
    # O(log diameter) iterative rounds, keeper = component min).
    survivors = sig.join(near_dups, "doc_id", "left_anti")
    return survivors.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_re_tokens").cast("long").alias("n_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


def q_accessor_chain(spark, sf_dir):
    # The reference's idiomatic chained-accessor usage
    # (``series.timedomain.filt_butter(...).timedomain.detrend()...``,
    # extension.py:241-961) through our fluent surface: between ->
    # filt_butter -> detrend -> filt_a -> mov_rms.  The accessor buffers
    # the kernel + window-math stages and flushes them as ONE
    # applyInPandas (pinned in tests/test_api.py), so the whole chain
    # costs one shuffle + one Arrow round-trip at any scale.
    from pandas_sigproc_spark.api import sigproc

    sig = deduplicate(_sig_ch(spark, sf_dir))
    w = Window.partitionBy("channel_id").orderBy("t")
    idx = sig.select(
        "channel_id",
        ((F.row_number().over(w) - 1) / F.lit(48000.0)).alias("t"),
        "value",
    )
    return (
        sigproc(idx)
        .between(0.0, 1.0)
        .filt_butter(8000.0, 4, "lowpass")
        .detrend("linear")
        .filt_a()
        # 24-sample window: valid for every SF's channel length (sf0.001
        # channels are only ~90 samples on the 48 kHz index time base)
        .mov_rms(0.0005, samplerate=48000.0)
        .df
        # Rounded for the hash gate vs the chain-replay oracle
        # (oracle_prod.sql_accessor_chain): the detrend means (NumPy
        # pairwise) and the rolling mean-of-squares (dyadic window sums)
        # sum in another order than the oracle's AVG (~1e-13); the time
        # base is exact.
        .select("channel_id", "t", F.round("value", 6).alias("value"))
    )


SQL_CORPUS_PREP = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, STRING_SPLIT(text, ' ') AS ws
  FROM documents
),
scored AS (
  SELECT doc_id, text,
         ROUND(0.3 * LEAST(1.0, LENGTH(text) / 400.0)
             + 0.25 * GREATEST(0.0, 1.0 - ABS(LENGTH(text) / CAST(LEN(ws) AS DOUBLE) - 4.7) / 4.7)
             + 0.25 * LEAST(1.0, LEN(LIST_FILTER(ws, w -> w IN ('the','a','of','and','is')))
                                 / (LEN(ws) * 0.05))
             + 0.2 * (LEN(LIST_DISTINCT(ws)) / CAST(LEN(ws) AS DOUBLE)), 6) AS quality,
         LEN(REGEXP_EXTRACT_ALL(text, '{_TOKEN_RE}')) AS n_re_tokens,
         {_lang_pred_sql()} AS pred_lang
  FROM tok
),
filtered AS (SELECT * FROM scored WHERE quality >= 0.6),
dedup AS (
  SELECT MD5(text) AS digest, MIN(doc_id) AS doc_id, MIN(text) AS text,
         MIN(quality) AS quality, MIN(n_re_tokens) AS n_re_tokens,
         MIN(pred_lang) AS pred_lang
  FROM filtered GROUP BY MD5(text)
),
dwords AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM dedup),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                               i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS sh
  FROM dwords
),
hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTR(MD5(sh), 1, 15)) AS BIGINT) % {_MINHASH_P} AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * h + {b}) % {_MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(_MINHASH_PERMS))}
  FROM hashed GROUP BY doc_id
),
near_dups AS (
  SELECT DISTINCT b.doc_id
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
   AND ({" + ".join(f"CAST(a.mh{i} = b.mh{i} AS INTEGER)" for i in range(4))}) >= 3
)
SELECT pred_lang, COUNT(*) AS n_docs,
       CAST(SUM(n_re_tokens) AS BIGINT) AS n_tokens,
       ROUND(AVG(quality), 6) AS avg_quality
FROM dedup
WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
GROUP BY pred_lang
"""


SQL_EMBED_COSINE_TOPK = """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
pairs AS (
  SELECT qid, vec_id,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i -> qv[i] * v[i]))
         / (SQRT(LIST_SUM(LIST_TRANSFORM(qv, x -> x * x)))
            * SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x)))) AS cos
  FROM q, e WHERE qid != vec_id
),
ranked AS (
  SELECT qid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT qid, vec_id, ROUND(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


# --- multimodal: binary payload features via Arrow-batched mapInPandas ------


def q_media_features(spark, sf_dir):
    # Media pipeline plumbing end-to-end: documents -> synthetic binary
    # payloads -> mapInPandas feature extraction (deterministic fake codec,
    # operators/multimodal.py).  Because the fake codec is arithmetic over
    # the payload bytes and the payloads are ASCII text, the whole
    # mapInPandas output is value-checkable against a pure-SQL oracle —
    # a correctness gate most UDF plumbing never gets.
    from pandas_sigproc_spark.operators.multimodal import (
        extract_media_features,
        synthesize_media,
    )

    media = synthesize_media(
        _docs_par(spark, sf_dir)
    )
    out = extract_media_features(media, codec="fake")
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "width",
        "height",
        "n_frames",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        "head_hash",
    )


SQL_MEDIA_FEATURES = """
WITH m AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
         text,
         LENGTH(text) AS n
  FROM documents
),
codes AS (
  SELECT media_id, kind, n,
         LIST_TRANSFORM(RANGE(1, n + 1), i -> UNICODE(SUBSTR(text, i, 1))) AS bs,
         SUBSTR(text, 1, 64) AS head
  FROM m
)
SELECT media_id, kind, n AS n_bytes,
       CAST(CASE WHEN kind = 'image' THEN 16 + n % 640
                 WHEN kind = 'video' THEN 16 + n % 320
                 ELSE n END AS INTEGER) AS width,
       CAST(CASE WHEN kind = 'image' THEN 16 + (n * 7) % 480
                 WHEN kind = 'video' THEN 16 + (n * 7) % 240
                 ELSE 1 END AS INTEGER) AS height,
       CAST(CASE WHEN kind = 'video' THEN 1 + n % 30 ELSE 1 END AS INTEGER) AS n_frames,
       ROUND(LIST_AVG(bs), 6) AS byte_mean,
       ROUND(LIST_AGGREGATE(bs, 'stddev_pop'), 6) AS byte_std,
       SUBSTR(MD5(head), 1, 16) AS head_hash
FROM codes
"""


# --- LSH-bucketed similarity search (the scale path for ANN / near-dup) -----

# BANDED sign-random-projection LSH: L independent tables of b Rademacher
# (+1/-1) hyperplanes each, drawn deterministically from md5 so Spark and
# DuckDB bucket identically (database-friendly sparse projections per
# Achlioptas 2003).  A pair is a CANDIDATE if it co-buckets in ANY table
# — the OR-of-ANDs banding that MinHash-LSH (operators/dedup.py) already
# uses: per-table match probability (1-theta/pi)^b, union over L tables.
# The r5 design used ONE 8-plane table; on this corpus (true top-3
# neighbors at cos~0.34 ~= 70 degrees, per-plane flip prob ~0.39) its
# single-bucket probe recalled 2-3% of true neighbors — banding with
# b=4, L=8 measures recall@3 ~0.70 at a 0.4 candidate fraction, and the
# r9 Hamming-1 multiprobe (query side additionally probes each bucket
# one bit-flip away) lifts that to 0.99-1.00 with the corpus side
# untouched.  At corpus scale b grows with
# log2(n / target_bucket_rows), L stays a recall knob, and the
# multiprobe radius is the free one (query-side-only cost); the gate
# corpora (500-2000 rows) use b=4 so buckets hold ~30-125 rows.
_LSH_DIM = 64
_LSH_TABLES = 8
_LSH_BAND = 4
# Hamming-radius-1 multiprobe masks (query-side fan-out; r9 recall
# lift for the LSH tiers — operators/ann.py multiprobe_masks)
_MP_MASKS = _ann.multiprobe_masks(_LSH_BAND, 1)


def _lsh_planes(table: int):
    # canonical implementation lives in the package API (operators/ann.py)
    return _ann.lsh_plane_signs(table, band=_LSH_BAND, dim=_LSH_DIM)


def _lsh_bucket_sql(table: int, one_based: bool) -> str:
    # bucket = sum_p 2^p * [v . w_p > 0], with w_p baked in as +/-1 literals
    # so each dot is a signed sum over the vector's own elements (map-side,
    # no join, no md5 at query time).
    off = 1 if one_based else 0
    terms = []
    for p, row in enumerate(_lsh_planes(table)):
        dot = " + ".join(
            f"{'' if w > 0 else '-'}v[{d + off}]" for d, w in enumerate(row)
        )
        terms.append(f"CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(terms)


def _embeds_base(spark, sf_dir):
    return (
        _embeds_par(spark, sf_dir)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        )
    )


def _lsh_keys(df):
    """Explode a (.., v, ..) table to one row per (table, bucket) key —
    L map-side plane-dot folds per row, then posexplode; no shuffle.
    Delegates to the package API (operators/ann.py lsh_bucket_keys)."""
    return _ann.lsh_bucket_keys(
        df, tables=_LSH_TABLES, band=_LSH_BAND, dim=_LSH_DIM
    )


def _sql_ebt(
    one_based: bool = True, src: str = "e", cols: str = "vec_id, v"
) -> str:
    """The exploded ({cols}, t, bucket) table as a UNION ALL over the
    L banded tables — the DuckDB replay of _lsh_keys.  The
    bucket exprs always read column ``v`` of {src}; {cols} picks what
    rides along (e.g. the int8 funnel carries codes, not vectors)."""
    parts = [
        f"SELECT {cols}, {t} AS t, {_lsh_bucket_sql(t, one_based)} AS bucket FROM {src}"
        for t in range(_LSH_TABLES)
    ]
    return "\n  UNION ALL ".join(parts)


def _cos(va, vb):
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return dot / (nrm(va) * nrm(vb))


def q_embed_kmeans(spark, sf_dir):
    """Embedding k-means (fixed-iteration Lloyd's, deterministic seeds) —
    cluster-based corpus curation under the FULL hash gate.  Two assign/
    update rounds over the embeddings table with exact_sums=True: every
    arithmetic step (squared-distance left-folds, argmin with stable tie
    break, ordered-fold centroid means) is replayed expression-for-
    expression by the DuckDB oracle, so the comparison is BIT-EXACT with
    no rounding — a full correctness gate for an ITERATIVE algorithm.

    Scale shape: per iteration, centroids are a k-row broadcast table
    (map-side assignment, no corpus shuffle) + one groupBy(cluster, dim)
    update — the canonical distributed k-means plan
    (operators/kmeans.py).
    """
    from pandas_sigproc_spark.operators.kmeans import kmeans_embeddings

    e = _embeds_par(spark, sf_dir)
    return kmeans_embeddings(e, k=8, iters=2, exact_sums=True)


def _sql_kmeans_iter(src_e: str, src_c: str, tag: str, exact: bool = True) -> str:
    """One Lloyd iteration as CTEs: assign against {src_c}, update ->
    {tag}cent(cluster, c) + {tag}asg(vid, cluster).  Distances are LEFT
    FOLDS in element order (both engines fold identically).  Centroid
    sums: ``exact=True`` replays operators/kmeans.py exact_sums mode
    (ordered fold over members in vid order — bit-pure on any layout);
    ``exact=False`` mirrors the PRODUCTION plan's partial-agg SUM, whose
    summation order is engine-dependent — sound for queries whose output
    is DISCRETE (assignments / keep flags) because argmin margins dwarf
    summation jitter (tests/test_prod_oracle_margins.py measures the
    gate corpus)."""
    if exact:
        cm_expr = (
            "LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),"
            " LIST(val ORDER BY vid)),\n"
            "                     (acc, x) -> acc + x) / COUNT(*)"
        )
    else:
        cm_expr = "SUM(val) / COUNT(*)"
    return f"""{tag}pair AS (
  SELECT e.vid, e.v, c.cluster,
         LIST_REDUCE(
           LIST_PREPEND(CAST(0.0 AS DOUBLE),
             LIST_TRANSFORM(RANGE(1, LEN(e.v) + 1),
                            i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))),
           (acc, x) -> acc + x) AS d
  FROM {src_e} e CROSS JOIN {src_c} c
),
{tag}asg AS MATERIALIZED (
  SELECT vid, v, cluster FROM {tag}pair
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cluster) = 1
),
{tag}pd AS (
  SELECT a.cluster, a.vid, g.i - 1 AS dim, a.v[g.i] AS val
  FROM {tag}asg a, LATERAL (SELECT UNNEST(RANGE(1, LEN(a.v) + 1)) AS i) g
),
{tag}cm AS (
  SELECT cluster, dim,
         {cm_expr} AS cval
  FROM {tag}pd GROUP BY cluster, dim
),
{tag}cent AS MATERIALIZED (
  SELECT cluster, LIST(cval ORDER BY dim) AS c FROM {tag}cm GROUP BY cluster
)"""


def _sql_kmeans_ctes(exact: bool = True) -> str:
    """The shared two-round Lloyd CTE block (e, c0, i1*, i2*) composed by
    the embed_kmeans / cluster_sample / semdedup / corpus_curate oracles.
    A named composition point — NOT string surgery on rendered SQL — so
    edits here reach every consumer (r5 advice)."""
    return f"""e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INTEGER) AS cluster,
         v AS c
  FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vid) <= 8
),
{_sql_kmeans_iter("e", "c0", "i1", exact)},
{_sql_kmeans_iter("e", "i1cent", "i2", exact)}"""


def _sql_embed_kmeans() -> str:
    return f"""
WITH {_sql_kmeans_ctes(exact=True)},
cnt AS (SELECT cluster, COUNT(*) AS n FROM i2asg GROUP BY cluster)
SELECT CAST(c.cluster AS INTEGER) AS cluster,
       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n,
       CAST(g.i - 1 AS INTEGER) AS dim,
       CAST(c.c[g.i] AS DOUBLE) AS c
FROM i2cent c
LEFT JOIN cnt USING (cluster),
LATERAL (SELECT UNNEST(RANGE(1, LEN(c.c) + 1)) AS i) g
"""


_CLUSTER_SAMPLE_TARGET = 32


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced sampling — the diversity-curation recipe: k-means
    over the embeddings (q_embed_kmeans's exact mode), then a
    deterministic per-cluster down-sample toward a uniform target of
    {target} vectors per cluster.  The keep rule is PURE INTEGER
    arithmetic — keep iff ``u * n_c < target * 1e6`` with u the salted
    md5 bucket — so the oracle comparison has no float boundary at all;
    the k-means assignments are bit-exact (see q_embed_kmeans).

    Scale shape: assignment is the broadcast-centroid map-side plan; the
    sampling predicate is map-side over (cluster count) broadcast — one
    small aggregation beyond the k-means rounds, no corpus shuffle.
    """
    from pandas_sigproc_spark.operators.kmeans import kmeans_assignments

    e = _embeds_par(spark, sf_dir)
    asg = kmeans_assignments(e, k=8, iters=2, exact_sums=True)
    counts = asg.groupBy("cluster").agg(F.count("*").alias("n"))
    u = F.expr(
        "cast(conv(substring(md5(concat(cast(vec_id as string), ':csample')),"
        " 1, 15), 16, 10) as bigint)"
    ) % 1_000_000
    kept = (
        asg.join(F.broadcast(counts), "cluster")
        .withColumn("u", u)
        .filter(F.col("u") * F.col("n") < F.lit(_CLUSTER_SAMPLE_TARGET * 1_000_000))
    )
    return kept.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("u").cast("long").alias("u"),
    )


def _sql_cluster_sample() -> str:
    # Reuses the bit-exact k-means CTEs; i2asg(vid, cluster) is the
    # second-round assignment.
    return f"""
WITH {_sql_kmeans_ctes(exact=True)},
cnt AS (SELECT cluster, COUNT(*) AS n FROM i2asg GROUP BY cluster),
uu AS (
  SELECT a.vid, a.cluster, c.n,
         CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(a.vid AS VARCHAR), ':csample')), 1, 15))
              AS BIGINT) % 1000000 AS u
  FROM i2asg a JOIN cnt c USING (cluster)
)
SELECT CAST(vid AS BIGINT) AS vec_id, CAST(cluster AS INTEGER) AS cluster,
       CAST(u AS BIGINT) AS u
FROM uu WHERE u * n < {_CLUSTER_SAMPLE_TARGET} * 1000000
"""


_SEMDEDUP_THRESHOLD = 0.4


def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/kmeans.py
    semantic_dedup, after Abbas et al. 2023) — PRODUCTION mode: k-means
    assignment uses the partial-agg centroid SUM (the scale path; the
    exact_sums ordered fold collects every member value per (cluster,
    dim) into one array — a scale-killer the r5 verdict flagged), then
    drop every vector with a smaller-id within-cluster neighbour at
    round(cos, 6) >= 0.4.  The output is fully DISCRETE (vec_id,
    cluster, keep) and cosines are computed from the RAW input vectors
    (engine-identical left folds), so cross-engine parity needs only
    stable ASSIGNMENTS — doubly protected: the float32-sourced
    embeddings sum EXACTLY (zero rounding) in float64 up to ~2^29
    members per cluster, so every summation order yields identical
    centroid bits, and even under full-precision jitter the argmin
    margins dominate by > 1e6x (tests/test_prod_oracle_margins.py
    measures both on the gate corpora).  The bit-pinned exact_sums
    replay survives as the audit twin `semdedup_exact`, a branch of the
    same slot.

    Pairs are WITHIN-CLUSTER only, so the quadratic cost is bounded by
    the largest cluster — k is the knob at corpus scale, and the
    default-on "auto" guard fails loudly on degenerate clusterings.
    """
    from pandas_sigproc_spark.operators.kmeans import semantic_dedup

    e = _embeds_par(spark, sf_dir)
    return semantic_dedup(
        e,
        k=8,
        iters=2,
        threshold=_SEMDEDUP_THRESHOLD,
        exact_sums=False,
        persist=_persist,
    )


def q_semdedup_exact(spark, sf_dir):
    """Audit twin of `semdedup`: exact_sums ordered-fold centroids make
    every arithmetic step a pure function of the data, so the DuckDB
    Lloyd replay compares BIT-EXACT with no margin argument — the full
    correctness gate for the iterative algorithm.  NOT the benchmarked
    path (the ordered fold funnels each (cluster, dim) group through one
    collected array — audit scale only)."""
    from pandas_sigproc_spark.operators.kmeans import semantic_dedup

    e = _embeds_par(spark, sf_dir)
    return semantic_dedup(
        e,
        k=8,
        iters=2,
        threshold=_SEMDEDUP_THRESHOLD,
        exact_sums=True,
        persist=_persist,
    )


# Vectors are normalized ONCE per row (norm as a scalar first, then the
# per-element division), so the per-pair cosine is a single dot fold —
# the exact arithmetic of operators/kmeans.py semantic_dedup.
_SQL_SEMDEDUP_DRP = f"""un AS MATERIALIZED (
  SELECT vid, cluster,
         LIST_TRANSFORM(v, x -> x / nr) AS u
  FROM (SELECT vid, cluster, v,
               SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nr
        FROM i2asg)
),
drp AS (
  SELECT DISTINCT a.vid
  FROM un a JOIN un b ON a.cluster = b.cluster AND b.vid < a.vid
  WHERE ROUND(
    LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.u) + 1), i -> a.u[i] * b.u[i])),
    6) >= CAST('{_SEMDEDUP_THRESHOLD!r}' AS DOUBLE)
)"""


def _sql_semdedup(exact: bool = False) -> str:
    # Composes the shared k-means CTE block; i2asg(vid, v, cluster) is
    # the second-round assignment with the vector attached.
    return f"""
WITH {_sql_kmeans_ctes(exact=exact)},
{_SQL_SEMDEDUP_DRP}
SELECT CAST(a.vid AS BIGINT) AS vec_id,
       CAST(a.cluster AS INTEGER) AS cluster,
       (d.vid IS NULL) AS keep
FROM i2asg a LEFT JOIN drp d ON a.vid = d.vid
"""


def q_ann_lsh(spark, sf_dir):
    # ANN top-3 per query vector over BANDED multi-table LSH with
    # Hamming-1 MULTIPROBE: a corpus vector is a candidate if it
    # co-buckets with the query — or a bucket one bit-flip away — in ANY
    # of the L tables (the old single-table probe recalled 2-3% on this
    # corpus; banding alone ~0.70; multiprobe measures 0.99-1.00
    # recall@3 for a query-side-only fan-out).  The (t, bucket) equi-join
    # replaces the brute-force cross join and shuffles on a bounded
    # integer key; duplicate candidates (pairs co-bucketing in several
    # tables) collapse with a (qid, vec_id) MAX — the cosine is identical
    # across tables, so MAX is pure dedup.  Exact cosine rescoring;
    # deterministic buckets = oracle-exact.
    # Vectors are normalized ONCE per row (norm as a scalar column
    # first), so the per-pair cosine is a single dot fold — same
    # arithmetic staging as semantic_dedup; the oracle mirrors it.
    # Buckets are computed from the RAW vector so the sign sums match
    # _sql_ebt's literal ±v terms bit-for-bit.  Delegates to the package
    # API (operators/ann.py lsh_topk — identical plan, oracle-proven).
    return _ann.lsh_topk(
        _embeds_base(spark, sf_dir),
        F.col("vec_id") < 50,
        k=3,
        tables=_LSH_TABLES,
        band=_LSH_BAND,
        dim=_LSH_DIM,
    )


def _sql_ann_lsh():
    return f"""
WITH e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
un AS (
  SELECT vec_id, v, LIST_TRANSFORM(v, x -> x / nr) AS u
  FROM (SELECT vec_id, v,
               SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nr
        FROM e)
),
ebt AS MATERIALIZED (
  {_sql_ebt(one_based=True, src="un", cols="vec_id, u")}
),
masks AS (SELECT UNNEST({_MP_MASKS}) AS m),
q AS (SELECT vec_id AS qid, u AS qu, t, xor(bucket, m) AS bucket
      FROM ebt CROSS JOIN masks WHERE vec_id < 50),
pairs AS (
  SELECT qid, vec_id,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qu) + 1), i -> qu[i] * u[i])) AS cos
  FROM q JOIN ebt USING (t, bucket) WHERE qid != vec_id
),
scored AS (SELECT qid, vec_id, MAX(cos) AS cos FROM pairs GROUP BY qid, vec_id),
ranked AS (
  SELECT qid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT qid, vec_id, ROUND(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def q_dedup_embed(spark, sf_dir):
    # Embedding-cosine near-dup candidates: pairs co-bucketing in ANY of
    # the L banded LSH tables with cosine >= 0.4.  Delegates to the
    # package API (operators/ann.py embedding_near_pairs — identical
    # plan, oracle-proven), guard default-on with the original op_name
    # so its refusal message stays stable.
    return _ann.embedding_near_pairs(
        _embeds_base(spark, sf_dir),
        0.4,
        tables=_LSH_TABLES,
        band=_LSH_BAND,
        dim=_LSH_DIM,
        op_name="dedup_embed",
    )


def _sql_dedup_embed():
    return f"""
WITH e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
un AS (
  SELECT vec_id, v, LIST_TRANSFORM(v, x -> x / nr) AS u
  FROM (SELECT vec_id, v,
               SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nr
        FROM e)
),
ebt AS MATERIALIZED (
  {_sql_ebt(one_based=True, src="un", cols="vec_id, u")}
),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.u) + 1), i -> a.u[i] * b.u[i])) AS cos
  FROM ebt a JOIN ebt b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (SELECT v1, v2, MAX(cos) AS cos FROM pairs GROUP BY v1, v2)
SELECT v1, v2, ROUND(cos, 6) AS cos FROM scored WHERE cos >= 0.4
"""


# IVF-style ANN: a deterministic coarse quantizer (the first NLIST vectors
# as centroids) partitions the corpus into inverted lists; each query
# probes its NPROBE closest lists and exact-rescores only those
# candidates.  Complements q_ann_lsh: IVF recall degrades gracefully with
# nprobe while LSH recall is fixed by the plane count.
_IVF_NLIST = 32
# r8 (nlist, nprobe) sweep on the gate corpora — on this near-random
# corpus (true neighbors at cos~0.34, ~70 deg) recall tracks the probed
# fraction nprobe/nlist plus a structural lift that GROWS with list
# granularity, so finer quantization buys recall at constant scan cost:
#   frac=0.50:  8/4 -> 0.74-0.80   16/8 -> 0.85-0.87   32/16 -> 0.92/0.92
#   frac=0.62:  8/5 -> 0.84-0.89   16/10 -> 0.93        32/20 -> 0.94-0.97
#   frac=0.75:  8/6 -> 0.92-0.97   16/12 -> 0.97        32/24 -> 0.97-0.98
# (sf0.01/sf0.1, recall@3 vs brute-force truth).  32/16 is the default:
# >= 0.9 recall at the SAME 0.5 candidate fraction the old 8/4 default
# scanned for 0.74.  nprobe stays the runtime recall/cost knob; at
# production scale nlist grows ~sqrt(n) and the probed fraction drops
# orders of magnitude once the data is actually clustered — the uniform
# gate corpus is the worst case.  bench.py reports the live curve.
_IVF_NPROBE = 16


def q_ann_ivf(spark, sf_dir):
    # Scale shape: the centroid set is collapsed into ONE broadcast row
    # (collect_list of structs), so list assignment is a map-side
    # array_sort — no shuffle, no per-vector window — and the only
    # shuffles are the list-id equi-join and the final top-k window.
    # Centroid cosines are rounded to 9 digits before ranking in both
    # engines so the argmin can't flip on last-ulp summation-order
    # differences.  Delegates to the package API (operators/ann.py
    # ivf_topk — identical plan, oracle-proven).
    # r16: persist the encoded (vec_id, v, _rk) table — the probe and
    # list sides of the candidate join otherwise each re-run the
    # vectorized encode kernel (the r15 regression on this leg was that
    # doubled Arrow stage).
    return _ann.ivf_topk(
        _embeds_base(spark, sf_dir),
        F.col("vec_id") < 50,
        k=5,
        nlist=_IVF_NLIST,
        nprobe=_IVF_NPROBE,
        persist=_persist,
    )


_SQL_COS = (
    "LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN({a}) + 1), i -> {a}[i] * {b}[i]))"
    " / (SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> x * x)))"
    " * SQRT(LIST_SUM(LIST_TRANSFORM({b}, x -> x * x))))"
)

SQL_ANN_IVF = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_IVF_NLIST}),
ac AS (
  SELECT e.vec_id, e.v, c.cid,
         ROUND({_SQL_COS.format(a="e.v", b="c.cv")}, 9) AS ccos
  FROM e CROSS JOIN c
),
ranked_c AS (
  SELECT vec_id, v, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS r
  FROM ac
),
lists AS (SELECT vec_id, v, cid AS list_id FROM ranked_c WHERE r = 1),
probes AS (
  SELECT vec_id AS qid, v AS qv, cid AS list_id
  FROM ranked_c WHERE r <= {_IVF_NPROBE} AND vec_id < 50
),
pairs AS (
  SELECT qid, l.vec_id AS vec_id, {_SQL_COS.format(a="p.qv", b="l.v")} AS cos
  FROM probes p JOIN lists l ON p.list_id = l.list_id AND p.qid != l.vec_id
),
ranked AS (
  SELECT qid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT qid, vec_id, ROUND(cos, 6) AS cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# kernel tier (non-SQL-expressible: FFT / IIR / spline / rainflow) —
# rows-only driver check; numeric goldens live in tests/.
# ---------------------------------------------------------------------------

_HOURLY = 1.0 / 3600.0  # uniform resample rate for the filter queries


def _uniform(spark, sf_dir):
    # One exchange for the whole prep (see _sig_ch).  Measured on sf0.1:
    # 2 exchanges -> 1, ~2x faster prep — and this subtree fronts every
    # kernel-tier query.
    return resample(deduplicate(_sig_ch(spark, sf_dir)), _HOURLY)


def q_filt_cfc(spark, sf_dir):
    # CFC class scaled to the hourly band (cfc in "Hz" of this time base).
    return filt_cfc(
        _uniform(spark, sf_dir),
        0.05 * _HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )


def q_filt_a(spark, sf_dir):
    # A-weighting assumes audio rates; apply on a per-channel index time
    # base (sample number as seconds) so the design frequencies exist.
    # Same one-exchange prep trick as _sig_ch/_uniform.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    w = Window.partitionBy("channel_id").orderBy("t")
    idx = sig.select(
        "channel_id",
        ((F.row_number().over(w) - 1) / F.lit(48000.0)).alias("t"),
        "value",
    )
    return filt_a(idx, n_buckets=spark.sparkContext.defaultParallelism)


def q_filt_chain(spark, sf_dir):
    # SURVEY §4.2 kernel fusion through the driver gate: Butterworth
    # lowpass -> A-weighting as ONE applyInPandas (pipeline/fused.py),
    # on the same 48 kHz index time base as q_filt_a.  Equality with the
    # chained standalone operators is pinned in tests/test_pipeline_fused.
    from pandas_sigproc_spark.pipeline import KernelPipeline

    sig = deduplicate(_sig_ch(spark, sf_dir))
    w = Window.partitionBy("channel_id").orderBy("t")
    idx = sig.select(
        "channel_id",
        ((F.row_number().over(w) - 1) / F.lit(48000.0)).alias("t"),
        "value",
    )
    return (
        KernelPipeline()
        .filt_butter(8000.0, 4, "lowpass")
        .filt_a()
        .apply(idx, n_buckets=spark.sparkContext.defaultParallelism)
    )


def q_interp_log(spark, sf_dir):
    # freqdomain.interp1d_log parity (extension.py:201-230): build a
    # per-channel positive "spectrum" (freq = 1-based day index, power =
    # daily RMS), interpolate onto half-step points in log10-log10 space.
    sig = deduplicate(_sig_ch(spark, sf_dir))
    daily = sig.groupBy(
        "channel_id", F.floor(F.col("t") / DAY).alias("day")
    ).agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("power"))
    w = Window.partitionBy("channel_id")
    spectra = daily.select(
        "channel_id",
        (F.col("day") - F.min("day").over(w) + 1).cast("double").alias("freq"),
        "power",
    )
    n = spectra.groupBy("channel_id").agg(F.max("freq").alias("n"))
    grid = n.select(
        "channel_id",
        F.explode(F.sequence(F.lit(1), (F.col("n") - 1).cast("long"))).alias("k"),
    ).select("channel_id", (F.col("k") + F.lit(0.5)).alias("freq"))
    out = interp1d_log(spectra, grid, axis="freq")
    # Round freq too: it round-trips through pow(10, log10(f)).
    return out.select(
        "channel_id",
        F.round("freq", 6).alias("freq"),
        F.round("power", 6).alias("power"),
    )


SQL_INTERP_LOG = f"""
WITH {_SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
daily AS (
  SELECT channel_id, FLOOR(t / {DAY!r}) AS day,
         SQRT(AVG(value * value)) AS power
  FROM dedup GROUP BY channel_id, FLOOR(t / {DAY!r})
),
spectra AS (
  SELECT channel_id,
         CAST(day - MIN(day) OVER (PARTITION BY channel_id) + 1 AS DOUBLE) AS freq,
         power
  FROM daily
),
n AS (SELECT channel_id, MAX(freq) AS n FROM spectra GROUP BY channel_id),
grid AS (
  SELECT channel_id, UNNEST(RANGE(1, CAST(n - 1 AS BIGINT) + 1)) + 0.5 AS freq
  FROM n
),
u AS (
  SELECT channel_id, LOG10(freq) AS x, LOG10(power) AS y, 1 AS is_src FROM spectra
  UNION ALL
  SELECT channel_id, LOG10(freq), NULL, 0 FROM grid
),
m AS (
  SELECT channel_id, x, is_src,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
         LAST_VALUE(CASE WHEN is_src = 1 THEN x END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1,
         LAST_VALUE(CASE WHEN is_src = 1 THEN y END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x DESC, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y1
  FROM u
)
SELECT channel_id, ROUND(POWER(10.0, x), 6) AS freq,
       ROUND(POWER(10.0, CASE WHEN x1 = x0 THEN y0
                  ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END), 6) AS power
FROM m WHERE is_src = 0 AND x0 IS NOT NULL AND x1 IS NOT NULL
"""


def q_psd_welch(spark, sf_dir):
    # Bucketed whole-channel Welch: these channels are small, so one
    # stacked FFT per bucket beats the segment-explode scale path (which
    # exists for channels too big for one task; equality of the two paths
    # is asserted in tests/test_operators_kernel.py).
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=128 * 3600.0,
        overlap=0.5,
        summarize="mean",
        samplerate=_HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    # Rounded for the hash gate vs the O(N^2)-DFT oracle
    # (oracle_prod.sql_psd_welch): powers are >= ~500 here, the FFT-DFT
    # divergence is ~1e-7, and the integer-rounding boundary margin is
    # >= 100x that (tests/test_prod_oracle_margins.py).
    return out.select(
        "channel_id", "freq", (F.round("power", 0) + F.lit(0.0)).alias("power")
    )


def q_srs(spark, sf_dir):
    freq = [1e-5 * 2 ** (i / 3.0) for i in range(13)]  # sub-Nyquist band
    return get_srs(
        _uniform(spark, sf_dir),
        freq=freq,
        quality_factor=10.0,
        n_buckets=spark.sparkContext.defaultParallelism,
    )


def q_psd_damage(spark, sf_dir):
    # Welch summarize='damage' (tools.py:74-98 mode 7): mean PSD rescaled
    # by the mean fatigue-damage acceleration factor, exponent b=4.
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=64 * 3600.0,
        overlap=0.5,
        summarize="damage",
        fatigue_exponent=4.0,
        samplerate=_HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    # Rounded for the DFT-oracle hash gate (see q_psd_welch).
    return out.select(
        "channel_id", "freq", (F.round("power", 0) + F.lit(0.0)).alias("power")
    )


def q_psd_median(spark, sf_dir):
    # Welch summarize='median' (tools.py:74-98 mode 2) — exact per-bin
    # median over segments (exact percentile, not approx, per SURVEY §5's
    # exact-parity rule for oracle-facing numerics).
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=64 * 3600.0,
        overlap=0.5,
        summarize="median",
        samplerate=_HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    # Rounded for the DFT-oracle hash gate (see q_psd_welch).
    return out.select(
        "channel_id", "freq", (F.round("power", 0) + F.lit(0.0)).alias("power")
    )


def q_psd_maxrms(spark, sf_dir):
    # Welch summarize='max rms' (tools.py:74-98 mode 6): mean PSD rescaled
    # by (max segment RMS / mean segment RMS)^2.
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=64 * 3600.0,
        overlap=0.5,
        summarize="max rms",
        samplerate=_HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    # Rounded for the DFT-oracle hash gate (see q_psd_welch).
    return out.select(
        "channel_id", "freq", (F.round("power", 0) + F.lit(0.0)).alias("power")
    )


def q_psd_all(spark, sf_dir):
    # Welch summarize='all' (tools.py:76-77 mode 5): no segment reduce —
    # returns every per-segment periodogram as (channel_id, seg, freq,
    # power), the input the other summarize modes aggregate over.
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=64 * 3600.0,
        overlap=0.5,
        summarize="all",
        samplerate=_HOURLY,
    )
    # Rounded for the DFT-oracle hash gate (see q_psd_welch).
    return out.select(
        "channel_id", "seg", "freq",
        (F.round("power", 0) + F.lit(0.0)).alias("power"),
    )


def q_psd_segmented(spark, sf_dir):
    # The §7.3.1 huge-channel scale path through the driver gate: same
    # Welch mean as q_psd_welch, but each Welch segment is one of the
    # planner's halo'd chunks, FFT'd by its own task — the mode for one
    # channel too large for any single task.
    # Equality with the whole-channel path is pinned in
    # tests/test_operators_kernel.py.
    out = get_psd(
        _uniform(spark, sf_dir),
        window_length=128 * 3600.0,
        overlap=0.5,
        summarize="mean",
        samplerate=_HOURLY,
        segmented=True,
    )
    # Rounded for the DFT-oracle hash gate (see q_psd_welch).
    return out.select(
        "channel_id", "freq", (F.round("power", 0) + F.lit(0.0)).alias("power")
    )


def q_psd_rms(spark, sf_dir):
    # The reference's signature domain-crossing chain (SURVEY §3 entry
    # point 3): time-domain channel -> Welch PSD -> trapezoid-integrated
    # spectrum RMS scalar per channel.  The PSD segments group once on
    # channel; the rms_lin lead-window reuses that partitioning, so the
    # whole chain after the kernel is one codegen'd window + agg.
    from pandas_sigproc_spark.operators.aggregates import rms_lin

    spec = get_psd(
        _uniform(spark, sf_dir),
        window_length=128 * 3600.0,
        overlap=0.5,
        summarize="mean",
        samplerate=_HOURLY,
        n_buckets=spark.sparkContext.defaultParallelism,
    )
    return rms_lin(spec).select(
        "channel_id", F.round("rms_lin", 6).alias("rms_lin")
    )


def q_rainflow(spark, sf_dir):
    # Kernel-tier op with a FULL hash oracle: SQL_RAINFLOW below replays
    # ASTM E1049's reversal extraction + 3-point stack rule + residue
    # half-cycles as a recursive-CTE state machine.  Parity is exact
    # because every step is comparisons/subtractions on the same doubles
    # (no summation-order drift), verified bit-equal vs the kernel on
    # 42k real cycles incl. the ndigits rounding.  r15: CONSOLIDATED
    # with the §7.3.1 segmented residue-merge scale path (one slot
    # proves both plans; identical counts by the residue-merge theorem,
    # tests pin the equality — see _compose_paths / PLANS.md capacity
    # plan).
    sig = _signals(spark, sf_dir)
    return _compose_paths(
        (
            "global",
            rainflow(
                sig,
                ndigits=2,
                n_buckets=spark.sparkContext.defaultParallelism,
                order_cols=("t", "seq"),
            ),
        ),
        (
            "chunked",
            rainflow_chunked(
                sig, chunk_rows=4096, ndigits=2, order_cols=("t", "seq")
            ),
        ),
    )


def q_filt_butter(spark, sf_dir):
    # Bucketed: many short channels per task, batched matrix filtfilt.
    # r15: CONSOLIDATED filt_butter + filt_chunked (one slot proves the
    # bucketed whole-channel filtfilt AND the overlap-save chunked scale
    # path; see _compose_paths).  The arms keep their r11 configurations
    # so each rides against its own production recursive-CTE oracle
    # (oracle_prod.sql_filt_butter / sql_filt_chunked).
    from pandas_sigproc_spark.kernels.design import butter as _butter

    uni = _uniform(spark, sf_dir)
    b, a = _butter(2, 0.3, "lowpass")
    return _compose_paths(
        (
            "global",
            filt_butter(
                uni,
                0.3 * (_HOURLY / 2),
                4,
                "lowpass",
                n_buckets=spark.sparkContext.defaultParallelism,
            ),
        ),
        (
            "chunked",
            filt_chunked(uni, b, a, zero_phase=True, chunk_rows=4096),
        ),
    )


def q_interp_cubic(spark, sf_dir):
    sig = deduplicate(_sig_ch(spark, sf_dir))
    grid = _day_grid(sig)
    return interp1d_spline(sig, grid, kind="cubic")


def q_interp_quadratic(spark, sf_dir):
    # kind='quadratic' (extension.py:832 surface): interpolating quadratic
    # B-spline on clamped midpoint knots, kernels/interp.py O(n) banded
    # solve.  Kernel tier -> rows-only driver check; numeric correctness is
    # pinned by tests/test_kernels.py (poly-exactness, C1, banded==dense).
    sig = deduplicate(_sig_ch(spark, sf_dir))
    grid = _day_grid(sig)
    return interp1d_spline(sig, grid, kind="quadratic")


def q_media_audio_real(spark, sf_dir):
    """Real-codec audio path through the driver gate: every channel's
    samples are ENCODED to an in-memory RIFF/WAVE payload (sources/wav.py),
    shipped as a binary media column, then DECODED back by
    extract_media_features(codec='real') in executors.  The oracle predicts
    the decoded dimensions and byte counts purely from SQL row counts —
    an independent check that the codec's header layout and stereo
    duplication (reference tools.py:246-251) round-trip exactly.

    Scale shape: one applyInPandas encode per channel (the payload never
    leaves the executor that built it at small SF; at scale it's one
    shuffle on channel_id), then the zero-shuffle mapInPandas decode.
    """
    import pandas as pd

    from pandas_sigproc_spark.operators.multimodal import extract_media_features
    from pandas_sigproc_spark.sources.wav import encode_wav_bytes

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "seq"])
        payload = encode_wav_bytes(100, pdf["value"].to_numpy("float64"))
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "kind": ["audio"],
                "payload": [payload],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, kind string, payload binary"
    )
    feats = extract_media_features(media, codec="real")
    return feats.select("media_id", "width", "height", "n_frames", "n_bytes")


SQL_MEDIA_AUDIO_REAL = f"""
WITH {_SIG_CTE}
SELECT CAST(channel_id AS BIGINT) AS media_id,
       CAST(COUNT(*) AS INTEGER) AS width,
       2 AS height,
       1 AS n_frames,
       -- 44-byte RIFF header + n samples * 2 channels * 8 bytes (float64)
       CAST(44 + COUNT(*) * 16 AS BIGINT) AS n_bytes
FROM sig GROUP BY channel_id
"""


def _codec_fns(fmt: str):
    """(encode, decode) for a real image codec — imported lazily so the
    executor-side closures below ship only a format tag, not functions."""
    if fmt == "bmp":
        from pandas_sigproc_spark.sources.bmp import decode_bmp_bytes, encode_bmp

        return encode_bmp, decode_bmp_bytes
    if fmt == "jpeg":
        from pandas_sigproc_spark.sources.jpeg import (
            decode_jpeg_bytes,
            encode_jpeg,
        )

        # quality 100: unit quantizers — the gray ramp payloads these
        # queries build stay pixel-recoverable (pinned in tests)
        return (lambda px: encode_jpeg(px, 100)), decode_jpeg_bytes
    if fmt == "jpeg_prog":
        from pandas_sigproc_spark.sources.jpeg import (
            decode_jpeg_bytes,
            encode_jpeg,
        )

        return (
            lambda px: encode_jpeg(px, 100, progressive=True)
        ), decode_jpeg_bytes
    if fmt == "gif":
        from pandas_sigproc_spark.sources.gif import decode_gif, encode_gif

        # gray payloads have <=256 distinct colors by construction, so
        # the palette-exact encoder applies; GIF is lossless -> the
        # pixel sum stays SQL-predictable
        return encode_gif, (lambda b: decode_gif(b)[0])
    from pandas_sigproc_spark.sources.png import decode_png_bytes, encode_png

    return encode_png, decode_png_bytes


def _media_image_query(
    spark, sf_dir, fmt: str, with_n_bytes: bool, with_pixel_sum: bool = True
):
    """Shared real-image pipeline (BMP/PNG/JPEG differ ONLY in codec and
    in which outputs are SQL-predictable): quantize each channel's
    samples to gray pixel bytes, encode a 16-wide image, ship as a
    binary media column, decode through extract_media_features
    (codec='real'), and pixel-verify by summing the decoded red channel
    (skipped for lossy codecs — JPEG's pixel fidelity is pinned by
    tests/test_jpeg.py instead; its DIMENSIONS still prove a real parse
    of the entropy-coded stream under the hash gate).
    """
    import pandas as pd

    from pandas_sigproc_spark.operators.multimodal import extract_media_features

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        encode, _ = _codec_fns(fmt)
        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        h = (len(b) + 15) // 16
        flat = np.zeros(h * 16, dtype=np.uint8)
        flat[: len(b)] = b
        px = np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "kind": ["image"],
                "payload": [encode(px)],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, kind string, payload binary"
    )
    feats = extract_media_features(media, codec="real")

    def pix(batches):
        _, decode = _codec_fns(fmt)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "pixel_sum": [
                        int(decode(bytes(p))[:, :, 0].sum(dtype="int64"))
                        for p in pdf["payload"]
                    ],
                }
            )

    cols = ["media_id", "width", "height", "n_frames"]
    if with_n_bytes:
        cols.append("n_bytes")
    if not with_pixel_sum:
        return feats.select(*cols)
    sums = media.mapInPandas(pix, "media_id long, pixel_sum long")
    return feats.join(sums, "media_id").select(*cols, "pixel_sum")


def q_media_image_real(spark, sf_dir):
    """Real-codec IMAGE path through the driver gate (the BMP sibling of
    q_media_audio_real): quantized samples encoded as 16-wide 24-bit BMP
    (sources/bmp.py), decoded back by extract_media_features
    (codec='real'), pixel-verified.  The oracle predicts the decoded
    dimensions from the BMP layout rules (54-byte headers, 48-byte
    padded rows) and the pixel sum from the quantization arithmetic — so
    the header round-trip AND the pixel payload are both independently
    checked.
    """
    return _media_image_query(spark, sf_dir, "bmp", with_n_bytes=True)


SQL_MEDIA_IMAGE_REAL = f"""
WITH {_SIG_CTE},
b AS (
  SELECT channel_id, CAST(TRUNC(value * 10.0) AS BIGINT) % 256 AS pb FROM sig
),
agg AS (SELECT channel_id, COUNT(*) AS n, SUM(pb) AS psum FROM b GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       16 AS width,
       CAST((n + 15) // 16 AS INTEGER) AS height,
       1 AS n_frames,
       -- 14-byte file header + 40-byte info header + rows of 16px * 3B
       -- (48 is already 4-byte aligned, so no padding)
       CAST(54 + ((n + 15) // 16) * 48 AS BIGINT) AS n_bytes,
       CAST(psum AS BIGINT) AS pixel_sum
FROM agg
"""


def q_media_image_png(spark, sf_dir):
    """PNG sibling of q_media_image_real: same per-channel quantization,
    but encoded as baseline PNG (sources/png.py — from-scratch stdlib
    zlib), decoded back through the magic-dispatched real codec path.
    n_bytes is omitted: a DEFLATE stream's length is not SQL-predictable
    (that is exactly what the BMP sibling pins instead); the decoded
    dimensions and the red-channel pixel sum are.
    """
    return _media_image_query(spark, sf_dir, "png", with_n_bytes=False)


SQL_MEDIA_IMAGE_PNG = f"""
WITH {_SIG_CTE},
b AS (
  SELECT channel_id, CAST(TRUNC(value * 10.0) AS BIGINT) % 256 AS pb FROM sig
),
agg AS (SELECT channel_id, COUNT(*) AS n, SUM(pb) AS psum FROM b GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       16 AS width,
       CAST((n + 15) // 16 AS INTEGER) AS height,
       1 AS n_frames,
       CAST(psum AS BIGINT) AS pixel_sum
FROM agg
"""


def q_media_phash(spark, sf_dir):
    """Perceptual image hashing under the FULL hash gate: per-channel
    gray BMP images (the media_image_real quantization) run through the
    production pHash operator — decode, nearest-resize to 32x32, 2D
    DCT-32, median threshold, 64-bit pack (operators/imagedup.py) —
    and the oracle REPLAYS the whole pipeline relationally from the
    SQL-predictable pixel matrix: the same integer nearest-resize index
    map, the DCT as ordered LIST_SUM folds against the repr-round-
    tripped cosine basis, the median as the exact 32nd order statistic
    of the 63-coefficient block, and the bit pack as a CASE sum of
    power-of-two literals.  Cross-engine float safety: the median IS
    one of the block values, so its own bit is 0 in both engines by
    identity, and every other bit's |coef - median| margin is measured
    orders of magnitude above summation-order drift
    (tests/test_imagedup.py margin audit).
    """
    import pandas as pd

    from pandas_sigproc_spark.operators.imagedup import phash_images

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        h = (len(b) + 15) // 16
        flat = np.zeros(h * 16, dtype=np.uint8)
        flat[: len(b)] = b
        px = np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "payload": [encode_bmp(px)],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, payload binary"
    )
    return phash_images(media)


def _sql_media_phash() -> str:
    from pandas_sigproc_spark.operators.imagedup import _dct32

    t8 = _dct32()[:8].reshape(-1)  # rows u=0..7 of the 32-point basis
    tlit = "[" + ", ".join(repr(float(x)) for x in t8) + "]"
    p2 = "[" + ", ".join(str(1 << (62 - k)) for k in range(63)) + "]"
    # nearest-resize index of flat 32x32 position i into the h x 16
    # pixel list (1-based): row (i//32)*h//32, col (i%32)*16//32
    idx = "((((i // 32) * h) // 32) * 16 + (((i % 32) * 16) // 32) + 1)"
    return f"""
WITH {_SIG_CTE},
px AS (
  SELECT channel_id,
         LIST(CAST(TRUNC(value * 10.0) AS BIGINT) % 256 ORDER BY t, seq) AS pb,
         COUNT(*) AS n
  FROM sig GROUP BY channel_id
),
geom AS (SELECT channel_id, pb, n, (n + 15) // 16 AS h FROM px),
sm AS (
  SELECT channel_id,
         LIST_TRANSFORM(RANGE(0, 1024), i ->
           CASE WHEN {idx} <= n THEN CAST(pb[{idx}] AS DOUBLE) ELSE 0.0 END
         ) AS s
  FROM geom
),
consts AS (SELECT CAST({tlit} AS DOUBLE[]) AS tm, CAST({p2} AS BIGINT[]) AS p2),
inner_m AS (
  SELECT channel_id,
         LIST_TRANSFORM(RANGE(0, 256), j ->
           LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), y ->
             s[(j // 8) * 32 + y + 1] * tm[(j % 8) * 32 + y + 1]))
         ) AS im
  FROM sm CROSS JOIN consts
),
coef AS (
  SELECT channel_id,
         LIST_TRANSFORM(RANGE(0, 64), k ->
           ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), x ->
             tm[(k // 8) * 32 + x + 1] * im[x * 8 + (k % 8) + 1])), 3)
         ) AS cf
  FROM inner_m CROSS JOIN consts
),
blocks AS (
  SELECT channel_id, cf[2:64] AS block,
         LIST_SORT(cf[2:64])[32] AS med
  FROM coef
),
hashed AS (
  SELECT b.channel_id,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 63), k ->
           CASE WHEN b.block[k + 1] > b.med THEN c.p2[k + 1]
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
  FROM blocks b CROSS JOIN consts c
)
SELECT CAST(channel_id AS BIGINT) AS media_id, phash FROM hashed
"""


def q_media_phash_pairs(spark, sf_dir):
    """The banded Hamming near-dup JOIN under the hash gate: the
    media_phash image corpus plus a RELABELED copy of every image
    (+100000 ids) runs through phash_near_pairs — banded candidate
    generation (pigeonhole over max_hamming+1 bit-bands), JVM-side
    bit_count(XOR) verification, hot-bucket guard riding the band
    exchange.  The oracle self-joins its own relationally-replayed
    pHash values with xor/bit_count, so the exact pair set — the 150
    planted duplicates at Hamming 0 plus any true near-pairs the data
    happens to contain — is predicted independently, not assumed."""
    import pandas as pd

    from pandas_sigproc_spark.operators.imagedup import phash_near_pairs

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        h = (len(b) + 15) // 16
        flat = np.zeros(h * 16, dtype=np.uint8)
        flat[: len(b)] = b
        px = np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
        payload = encode_bmp(px)
        cid = int(pdf["channel_id"].iloc[0])
        return pd.DataFrame(
            {"media_id": [cid, cid + 100000], "payload": [payload, payload]}
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, payload binary"
    )
    return phash_near_pairs(media, 6)


def _sql_media_phash_pairs() -> str:
    # the media_phash replay, duplicated under relabeled ids, then the
    # Hamming self-join in exact integer arithmetic
    base = _sql_media_phash().rstrip()
    assert base.endswith("SELECT CAST(channel_id AS BIGINT) AS media_id, phash FROM hashed")
    ctes = base[: base.rindex("SELECT CAST")].rstrip()
    return f"""{ctes},
dup2 AS (
  SELECT CAST(channel_id AS BIGINT) AS media_id, phash FROM hashed
  UNION ALL
  SELECT CAST(channel_id AS BIGINT) + 100000 AS media_id, phash FROM hashed
),
pairs AS (
  SELECT a.media_id AS m1, b.media_id AS m2,
         CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
  FROM dup2 a JOIN dup2 b ON a.media_id < b.media_id
)
SELECT m1, m2, hamming FROM pairs WHERE hamming <= 6
"""


# ---------------------------------------------------------------------------
# audio fingerprint tier (operators/audiodup.py) under the driver gate
# ---------------------------------------------------------------------------

# Gate-scale STFT profile: the sf0.01 channels hold 49-86 samples, so
# the production 1024-sample frame would not fit even ONCE (zero
# frames, zero hashes); the profile is configuration threading through
# the same fingerprint code path (audiodup.fingerprint_samples), so a
# 128/64 frame/hop over x4-tiled samples (2-4 frames per channel) with
# prominence 2.0 (measured: every gate file keeps >= 1 hash AND the
# prominence gate drops the majority of candidate peaks, so both CASE
# branches are exercised) certifies exactly the production pipeline —
# Hann window, DFT magnitudes, prominence-gated band argmax, (f1, f2,
# dt) 64-bit pack, per-file DISTINCT — at a size whose full relational
# replay (~19M ordered-fold terms) stays DuckDB-tractable.  Production
# constants are pinned separately by tests/test_audiodup.py invariance
# anchors; cross-engine argmax/prominence flip safety is pinned by the
# margin audit in tests/test_audiodup.py (same technique as the pHash
# DCT margins).
_AFP_FRAME = 128
_AFP_HOP = 64
_AFP_BANDS = ((1, 8), (8, 24), (24, 56), (56, 64))
_AFP_FANOUT = 3
_AFP_PROM = 2.0
_AFP_TILE = 4
_AFP_PROFILE = dict(
    frame=_AFP_FRAME,
    hop=_AFP_HOP,
    bands=_AFP_BANDS,
    fanout=_AFP_FANOUT,
    prominence=_AFP_PROM,
)


def _afp_media(spark, sf_dir, relabel: bool):
    """Per-channel WAV payloads of the x4-tiled samples (one
    applyInPandas encode per channel — the media_audio_real scale
    shape); ``relabel`` adds a byte-identical +100000-id copy of every
    file (the planted-duplicate corpus of the pairs gate)."""
    import pandas as pd

    from pandas_sigproc_spark.sources.wav import encode_wav_bytes

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["t", "seq"])
        vals = np.tile(pdf["value"].to_numpy("float64"), _AFP_TILE)
        payload = encode_wav_bytes(100, vals)
        cid = int(pdf["channel_id"].iloc[0])
        ids = [cid, cid + 100000] if relabel else [cid]
        return pd.DataFrame({"media_id": ids, "payload": [payload] * len(ids)})

    return sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, payload binary"
    )


def q_audio_fp(spark, sf_dir):
    """Shazam-style constellation fingerprints (Wang, ISMIR 2003) under
    the FULL hash gate: per-channel WAV payloads (engine codec, float64
    stereo-duplicated — the mono mix recovers the samples exactly) run
    through the production audio_fingerprints operator at the
    gate-scale STFT profile, and the oracle REPLAYS the whole pipeline
    relationally — the x4 tile, the Hann window (0.5 - 0.5 cos(2 pi i /
    (frame-1)), numpy's symmetric hanning), the per-bin DFT magnitude
    as ordered re/im LIST_SUM folds (the psd_dft technique), the
    band-argmax via LIST_POSITION on LIST_MAX (first-occurrence ties,
    matching np.argmax), the prominence ratio with its exact 1e-12
    epsilon, the (band << 40 | f1 << 24 | f2 << 8 | dt) pack as
    non-overlapping power-of-two arithmetic, and the per-file DISTINCT.

    Scale shape: one applyInPandas encode per channel, then the
    zero-shuffle mapInPandas fingerprint pass — the fingerprint table
    is the dozens-of-bytes-per-file derived form a deployment
    materializes (sigstore pattern)."""
    from pandas_sigproc_spark.operators.audiodup import audio_fingerprints

    return audio_fingerprints(_afp_media(spark, sf_dir, False), **_AFP_PROFILE)


def _sql_audio_fp_ctes() -> str:
    """The shared CTE chain ending in ``hs(channel_id, fp)``."""
    frame, hop, tile, prom = _AFP_FRAME, _AFP_HOP, _AFP_TILE, _AFP_PROM
    bands_sql = ", ".join(
        f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(_AFP_BANDS)
    )
    dts_sql = ", ".join(f"({d})" for d in range(1, _AFP_FANOUT + 1))
    return f"""
WITH {_SIG_CTE},
ch AS (
  SELECT channel_id, LIST(value ORDER BY t, seq) AS vals, COUNT(*) AS n
  FROM sig GROUP BY channel_id
),
tiled AS (
  SELECT channel_id, CAST(n * {tile} AS BIGINT) AS nt,
         LIST_TRANSFORM(RANGE(0, n * {tile}), i -> vals[(i % n) + 1]) AS xs
  FROM ch
),
frames AS (
  SELECT channel_id, xs,
         UNNEST(RANGE(0, 1 + (nt - {frame}) // {hop})) AS f
  FROM tiled WHERE nt >= {frame}
),
wx AS (
  SELECT channel_id, f,
         LIST_TRANSFORM(RANGE(0, {frame}), i ->
           xs[f * {hop} + i + 1] *
           (0.5 - 0.5 * COS(2 * PI() * i / {frame - 1}.0))) AS w
  FROM frames
),
mag AS (
  SELECT channel_id, f,
         LIST_TRANSFORM(RANGE(1, {frame // 2}), k ->
           SQRT(
             POWER(LIST_SUM(LIST_TRANSFORM(RANGE(0, {frame}), i ->
               w[i + 1] * COS(2 * PI() * i * k / {frame}.0))), 2)
             + POWER(LIST_SUM(LIST_TRANSFORM(RANGE(0, {frame}), i ->
               w[i + 1] * SIN(2 * PI() * i * k / {frame}.0))), 2)
           )) AS m
  FROM wx
),
bands(band_id, lo, hi) AS (VALUES {bands_sql}),
bs AS (
  SELECT channel_id, f, band_id,
         lo - 1 + LIST_POSITION(m[lo:hi - 1], LIST_MAX(m[lo:hi - 1])) AS pk,
         LIST_MAX(m[lo:hi - 1]) >
           {prom} * LIST_SUM(m[lo:hi - 1]) / (hi - lo) + 1e-12 AS ok
  FROM mag CROSS JOIN bands
),
hs AS (
  SELECT DISTINCT a.channel_id,
         a.band_id * 1099511627776 + a.pk * 16777216
           + b.pk * 256 + d.dt AS fp
  FROM bs a
  CROSS JOIN (VALUES {dts_sql}) AS d(dt)
  JOIN bs b ON b.channel_id = a.channel_id AND b.band_id = a.band_id
           AND b.f = a.f + d.dt
  WHERE a.ok AND b.ok
)"""


def _sql_audio_fp() -> str:
    return f"""{_sql_audio_fp_ctes()}
SELECT CAST(channel_id AS BIGINT) AS media_id, CAST(fp AS BIGINT) AS fp
FROM hs
"""


def q_audio_fp_pairs(spark, sf_dir):
    """audio_near_pairs under the hash gate: the q_audio_fp corpus plus
    a byte-identical RELABELED copy of every file (+100000 ids) runs
    through the production matcher — fp equi-join, max_df hot-hash cap,
    per-pair shared-hash counts, match_frac vs the smaller side.  The
    oracle self-joins its own relationally-replayed fingerprint table
    (every planted pair lands at frac 1.0; any true cross-file matches
    the data contains are predicted independently, not assumed).
    max_df=50 at gate scale so the degeneracy cap is a live code path
    (a hash shared by >50 of the 300 files is dropped from matching AND
    from the per-file totals) rather than dead configuration."""
    from pandas_sigproc_spark.operators.audiodup import audio_near_pairs

    return audio_near_pairs(
        _afp_media(spark, sf_dir, True),
        0.2,
        max_df=50,
        persist=_persist,
        **_AFP_PROFILE,
    )


def _sql_audio_fp_pairs() -> str:
    return f"""{_sql_audio_fp_ctes()},
dup2 AS (
  SELECT CAST(channel_id AS BIGINT) AS media_id, fp FROM hs
  UNION ALL
  SELECT CAST(channel_id AS BIGINT) + 100000 AS media_id, fp FROM hs
),
hot AS (
  SELECT fp FROM dup2 GROUP BY fp HAVING COUNT(*) > 50
),
kept AS (
  SELECT media_id, fp FROM dup2 ANTI JOIN hot USING (fp)
),
sizes AS (
  SELECT media_id, COUNT(*) AS n_fp FROM kept GROUP BY media_id
),
matches AS (
  SELECT a.media_id AS m1, b.media_id AS m2,
         CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM kept a JOIN kept b
    ON a.fp = b.fp AND a.media_id < b.media_id
  GROUP BY 1, 2
)
SELECT m1, m2, n_matches,
       ROUND(n_matches / LEAST(s1.n_fp, s2.n_fp), 6) AS match_frac
FROM matches
JOIN sizes s1 ON s1.media_id = m1
JOIN sizes s2 ON s2.media_id = m2
WHERE ROUND(n_matches / LEAST(s1.n_fp, s2.n_fp), 6) >= 0.2
"""


def q_incr_audio_store(spark, sf_dir):
    """The AUDIO incremental-dedup lifecycle under the driver gate —
    the audio sibling of q_incr_phash_store: the corpus clips'
    fingerprint table is written to a media hash store in two batches
    (even/odd channel parity), COMPACTED, and a delta batch — fresh
    clips plus byte-identical relabeled copies of every 25th corpus
    clip (+100000 ids) — is screened via incremental_audio_dedup
    WITHOUT re-decoding a single corpus clip.  The oracle replays the
    STFT fingerprint pipeline relationally (_sql_audio_fp_ctes) and
    then the verdict frame — the combined-corpus max_df cap, per-pair
    shared-hash counts, match_frac thresholds against existing and
    smaller-id delta clips — in exact arithmetic.

    Scale shape: the store build is one zero-shuffle fingerprint pass
    + a repartitioned parquet write per batch; the probe is two
    bounded fp equi-joins against a dozens-of-bytes-per-clip table.
    """
    import shutil

    from pandas_sigproc_spark.operators.audiodup import (
        audio_fingerprints,
        incremental_audio_dedup,
    )
    from pandas_sigproc_spark.operators.sigstore import (
        compact_media_hash_store,
        read_media_hash_store,
        write_media_hash_store,
    )

    media = _afp_media(spark, sf_dir, False)
    existing = media.filter(F.col("media_id") % 5 != 4)
    delta = media.filter(F.col("media_id") % 5 == 4).unionByName(
        media.filter(F.col("media_id") % 25 == 0).select(
            (F.col("media_id") + 100000).alias("media_id"), "payload"
        )
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".mediastore_gate",
        f"{sf_tag}_audio",
    )
    shutil.rmtree(path, ignore_errors=True)  # idempotent per call
    fp_existing = audio_fingerprints(existing, **_AFP_PROFILE)
    write_media_hash_store(
        fp_existing.filter(F.col("media_id") % 2 == 0), path,
        kind="audio_fp", hash_col="fp", partitions=8,
    )
    write_media_hash_store(
        fp_existing.filter(F.col("media_id") % 2 != 0), path,
        kind="audio_fp", hash_col="fp", mode="append", partitions=8,
    )
    compact_media_hash_store(spark, path, kind="audio_fp", partitions=8)
    store = read_media_hash_store(spark, path, kind="audio_fp")
    return incremental_audio_dedup(
        store,
        delta,
        min_match_frac=0.2,
        max_df=50,
        persist=_persist,
        **_AFP_PROFILE,
    )


def _sql_incr_audio_store() -> str:
    # the audio_fp STFT replay, split into existing/delta, then the
    # operator's verdict frame: combined-corpus df cap, match_frac
    # probes against existing and smaller-id delta clips
    return f"""{_sql_audio_fp_ctes()},
allh AS (
  SELECT CAST(channel_id AS BIGINT) AS media_id, fp FROM hs
),
all_ids AS (
  SELECT CAST(channel_id AS BIGINT) AS media_id FROM ch
),
existing AS (SELECT media_id, fp FROM allh WHERE media_id % 5 <> 4),
delta AS (
  SELECT media_id, fp FROM allh WHERE media_id % 5 = 4
  UNION ALL
  SELECT media_id + 100000 AS media_id, fp FROM allh WHERE media_id % 25 = 0
),
delta_ids AS (
  SELECT media_id FROM all_ids WHERE media_id % 5 = 4
  UNION ALL
  SELECT media_id + 100000 AS media_id FROM all_ids WHERE media_id % 25 = 0
),
hot AS (
  SELECT fp FROM (
    SELECT fp FROM existing UNION ALL SELECT fp FROM delta
  ) GROUP BY fp HAVING COUNT(*) > 50
),
ek AS (SELECT media_id, fp FROM existing ANTI JOIN hot USING (fp)),
dk AS (SELECT media_id, fp FROM delta ANTI JOIN hot USING (fp)),
sizes_e AS (SELECT media_id, COUNT(*) AS n_fp FROM ek GROUP BY media_id),
sizes_d AS (SELECT media_id, COUNT(*) AS n_fp FROM dk GROUP BY media_id),
near_e AS (
  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT d.media_id, e.media_id AS e_id, COUNT(*) AS m,
           MIN(sd.n_fp) AS nd, MIN(se.n_fp) AS ne
    FROM dk d
    JOIN ek e ON e.fp = d.fp
    JOIN sizes_d sd ON sd.media_id = d.media_id
    JOIN sizes_e se ON se.media_id = e.media_id
    GROUP BY 1, 2
  ) WHERE ROUND(m / LEAST(nd, ne), 6) >= 0.2
  GROUP BY media_id
),
near_d AS (
  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT d.media_id, d2.media_id AS d2_id, COUNT(*) AS m,
           MIN(sd.n_fp) AS nd, MIN(s2.n_fp) AS n2
    FROM dk d
    JOIN dk d2 ON d2.fp = d.fp AND d2.media_id < d.media_id
    JOIN sizes_d sd ON sd.media_id = d.media_id
    JOIN sizes_d s2 ON s2.media_id = d2.media_id
    GROUP BY 1, 2
  ) WHERE ROUND(m / LEAST(nd, n2), 6) >= 0.2
  GROUP BY media_id
)
SELECT i.media_id,
       CAST(COALESCE(sd.n_fp, 0) AS BIGINT) AS n_fp,
       COALESCE(ne.n, 0) AS n_near_existing,
       COALESCE(nd.n, 0) AS n_near_delta_earlier,
       (COALESCE(ne.n, 0) = 0 AND COALESCE(nd.n, 0) = 0) AS kept
FROM delta_ids i
LEFT JOIN sizes_d sd ON sd.media_id = i.media_id
LEFT JOIN near_e ne ON ne.media_id = i.media_id
LEFT JOIN near_d nd ON nd.media_id = i.media_id
"""


def q_media_video_dedup(spark, sf_dir):
    """Video near-dup under the FULL hash gate — the composition the r9
    verdict named (Missing #3): the media_video_mp4 corpus (4 BMP
    frames per channel muxed into a real ISO-BMFF MP4) plus a
    byte-identical RELABELED copy of every video (+100000 ids) runs
    through phash_frames (demux + per-frame DCT pHash, one zero-shuffle
    mapInPandas pass) and then the EXACT banded Hamming self-join over
    composite (video, frame) keys, rolled up to video-level verdicts:
    ``(v1, v2, n_frame_pairs, best_hamming)`` for cross-video frame
    pairs within Hamming 6.  The oracle replays the whole chain —
    the 4-way frame split with its zero padding, the per-frame
    nearest-resize/DCT-32/median/bit-pack pipeline (the media_phash
    replay threaded over a frame dimension), the relabeled union, and
    the Hamming join + roll-up — so the planted 150 copy-pairs (4
    frames each at Hamming 0) AND any true cross-video near-pairs are
    predicted independently, not assumed.

    Scale shape: one applyInPandas encode per channel; 8 bytes per
    FRAME leave the hash pass; the join keys are (band_id, band_bits)
    ints with the hot-bucket guard default-on; the roll-up groups on
    already-joined keys.
    """
    import pandas as pd

    from pandas_sigproc_spark.operators.imagedup import (
        phash_frames,
        video_near_pairs,
    )

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp
        from pandas_sigproc_spark.sources.mp4 import encode_mp4

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        per = (len(b) + 3) // 4
        h = (per + 15) // 16
        frames = []
        for fi in range(4):
            flat = np.zeros(h * 16, dtype=np.uint8)
            chunk = b[fi * per : (fi + 1) * per]
            flat[: len(chunk)] = chunk
            frames.append(
                encode_bmp(np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2))
            )
        payload = encode_mp4(frames)
        cid = int(pdf["channel_id"].iloc[0])
        return pd.DataFrame(
            {"media_id": [cid, cid + 100000], "payload": [payload, payload]}
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, payload binary"
    )
    # Delegates to the package API (operators/imagedup.py
    # video_near_pairs — identical plan, oracle-proven).  The frame
    # hashes are persisted: the banded self-join consumes the table on
    # BOTH sides — unpersisted, the demux+hash Python pass runs twice.
    # max_frames=16 matches the oracle's composite-key factor.
    return video_near_pairs(
        media,
        6,
        max_frames=16,
        frame_hashes=_persist(phash_frames(media)),
    )


def _sql_media_video_dedup() -> str:
    # the media_phash DCT replay threaded over a frame dimension, then
    # the relabeled union and the Hamming join + video roll-up in exact
    # integer arithmetic
    from pandas_sigproc_spark.operators.imagedup import _dct32

    t8 = _dct32()[:8].reshape(-1)
    tlit = "[" + ", ".join(repr(float(x)) for x in t8) + "]"
    p2 = "[" + ", ".join(str(1 << (62 - k)) for k in range(63)) + "]"
    # frame-local nearest-resize: 0-based flat position j of 32x32 cell
    # i in the h x 16 frame matrix
    j = "((((i // 32) * h) // 32) * 16 + (((i % 32) * 16) // 32))"
    return f"""
WITH {_SIG_CTE},
px AS (
  SELECT channel_id,
         LIST(CAST(TRUNC(value * 10.0) AS BIGINT) % 256 ORDER BY t, seq) AS pb,
         COUNT(*) AS n
  FROM sig GROUP BY channel_id
),
geom AS (
  SELECT channel_id, pb, n, (n + 3) // 4 AS per,
         ((n + 3) // 4 + 15) // 16 AS h
  FROM px
),
fr AS (
  SELECT channel_id, pb, n, per, h, UNNEST(RANGE(0, 4)) AS fi FROM geom
),
sm AS (
  SELECT channel_id, fi,
         LIST_TRANSFORM(RANGE(0, 1024), i ->
           CASE WHEN {j} < per AND fi * per + {j} < n
                THEN CAST(pb[fi * per + {j} + 1] AS DOUBLE) ELSE 0.0 END
         ) AS s
  FROM fr
),
consts AS (SELECT CAST({tlit} AS DOUBLE[]) AS tm, CAST({p2} AS BIGINT[]) AS p2),
inner_m AS (
  SELECT channel_id, fi,
         LIST_TRANSFORM(RANGE(0, 256), jx ->
           LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), y ->
             s[(jx // 8) * 32 + y + 1] * tm[(jx % 8) * 32 + y + 1]))
         ) AS im
  FROM sm CROSS JOIN consts
),
coef AS (
  SELECT channel_id, fi,
         LIST_TRANSFORM(RANGE(0, 64), k ->
           ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), x ->
             tm[(k // 8) * 32 + x + 1] * im[x * 8 + (k % 8) + 1])), 3)
         ) AS cf
  FROM inner_m CROSS JOIN consts
),
blocks AS (
  SELECT channel_id, fi, cf[2:64] AS block, LIST_SORT(cf[2:64])[32] AS med
  FROM coef
),
hashed AS (
  SELECT b.channel_id, b.fi,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 63), k ->
           CASE WHEN b.block[k + 1] > b.med THEN c.p2[k + 1]
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
  FROM blocks b CROSS JOIN consts c
),
keyed AS (
  SELECT CAST(channel_id AS BIGINT) * 16 + fi AS k, phash FROM hashed
  UNION ALL
  SELECT (CAST(channel_id AS BIGINT) + 100000) * 16 + fi AS k, phash
  FROM hashed
),
pairs AS (
  SELECT a.k // 16 AS v1, b.k // 16 AS v2,
         CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
  FROM keyed a JOIN keyed b ON a.k < b.k
)
SELECT v1, v2, CAST(COUNT(*) AS BIGINT) AS n_frame_pairs,
       CAST(MIN(hamming) AS INTEGER) AS best_hamming
FROM pairs WHERE hamming <= 6 AND v1 <> v2 GROUP BY v1, v2
"""


def q_incr_phash_store(spark, sf_dir):
    """The IMAGE incremental-dedup lifecycle under the driver gate —
    the media twin of q_incr_dedup_store: the corpus images' pHash
    table is written to a media hash store in two batches (even/odd
    channel parity), COMPACTED (batch dirs rewritten + meta-swapped +
    orphan-swept, operators/sigstore.py), and a delta batch — fresh
    channels plus byte-identical relabeled copies of every 25th corpus
    image (+100000 ids) — is screened via incremental_phash_dedup
    WITHOUT re-decoding a single corpus image: the store holds 8 bytes
    per image.  The oracle replays the pHash pipeline relationally
    (the media_phash DCT replay) and then predicts the verdict frame —
    exact-hash matches vs the existing set, banded-Hamming near counts
    at radius 6, and the smaller-id earlier-delta rule — in exact
    integer arithmetic.

    Scale shape: the store build is one zero-shuffle hash pass + a
    repartitioned parquet write per batch; the probe is two banded
    Hamming equi-joins on int keys (guards default-on), both against
    an 8 B/image table.
    """
    import shutil

    import pandas as pd

    from pandas_sigproc_spark.operators.imagedup import (
        incremental_phash_dedup,
        phash_images,
    )
    from pandas_sigproc_spark.operators.sigstore import (
        compact_media_hash_store,
        read_media_hash_store,
        write_media_hash_store,
    )

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        h = (len(b) + 15) // 16
        flat = np.zeros(h * 16, dtype=np.uint8)
        flat[: len(b)] = b
        px = np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "payload": [encode_bmp(px)],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, payload binary"
    )
    existing = media.filter(F.col("media_id") % 5 != 4)
    delta = media.filter(F.col("media_id") % 5 == 4).unionByName(
        media.filter(F.col("media_id") % 25 == 0).select(
            (F.col("media_id") + 100000).alias("media_id"), "payload"
        )
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".mediastore_gate", sf_tag
    )
    shutil.rmtree(path, ignore_errors=True)  # idempotent per call
    h_existing = phash_images(existing)
    write_media_hash_store(
        h_existing.filter(F.col("media_id") % 2 == 0), path,
        kind="phash", hash_col="phash", partitions=8,
    )
    write_media_hash_store(
        h_existing.filter(F.col("media_id") % 2 != 0), path,
        kind="phash", hash_col="phash", mode="append", partitions=8,
    )
    compact_media_hash_store(spark, path, kind="phash", partitions=8)
    store = read_media_hash_store(spark, path, kind="phash")
    return incremental_phash_dedup(store, delta, max_hamming=6, persist=_persist)


def _sql_incr_phash_store() -> str:
    # the media_phash replay (hashed: channel_id -> phash), then the
    # existing/delta split, exact matches, banded-equivalent Hamming
    # near counts (the band join is an exact candidate generator, so
    # the oracle can use the plain Hamming predicate), and the
    # earlier-delta rule — all in integer arithmetic
    base = _sql_media_phash().rstrip()
    tail = "SELECT CAST(channel_id AS BIGINT) AS media_id, phash FROM hashed"
    assert base.endswith(tail)
    ctes = base[: base.rindex("SELECT CAST")].rstrip()
    return f"""{ctes},
allh AS (
  SELECT CAST(channel_id AS BIGINT) AS media_id, phash FROM hashed
),
existing AS (
  SELECT media_id, phash FROM allh WHERE media_id % 5 <> 4
),
delta AS (
  SELECT media_id, phash FROM allh WHERE media_id % 5 = 4
  UNION ALL
  SELECT media_id + 100000 AS media_id, phash FROM allh
  WHERE media_id % 25 = 0
),
near_e AS (
  SELECT d.media_id, CAST(COUNT(DISTINCT e.media_id) AS BIGINT) AS n
  FROM delta d JOIN existing e
    ON bit_count(xor(d.phash, e.phash)) <= 6
  GROUP BY d.media_id
),
near_d AS (
  SELECT d.media_id, CAST(COUNT(DISTINCT d2.media_id) AS BIGINT) AS n
  FROM delta d JOIN delta d2
    ON d2.media_id < d.media_id
   AND bit_count(xor(d.phash, d2.phash)) <= 6
  GROUP BY d.media_id
),
exact AS (
  SELECT d.media_id,
         (EXISTS (SELECT 1 FROM existing e WHERE e.phash = d.phash)
          OR EXISTS (SELECT 1 FROM delta d2
                     WHERE d2.phash = d.phash
                       AND d2.media_id < d.media_id)) AS is_exact_dup
  FROM delta d
)
SELECT d.media_id, d.phash, x.is_exact_dup,
       COALESCE(ne.n, 0) AS n_near_existing,
       COALESCE(nd.n, 0) AS n_near_delta_earlier,
       (NOT x.is_exact_dup AND COALESCE(ne.n, 0) = 0
        AND COALESCE(nd.n, 0) = 0) AS kept
FROM delta d
JOIN exact x ON x.media_id = d.media_id
LEFT JOIN near_e ne ON ne.media_id = d.media_id
LEFT JOIN near_d nd ON nd.media_id = d.media_id
"""


# ---------------------------------------------------------------------------
# ingestion container formats (r10): WebDataset tar shards + WARC crawls
# ---------------------------------------------------------------------------


def q_wds_extract(spark, sf_dir):
    """WebDataset-style shard ingestion under the FULL hash gate: each
    channel's quantized gray image plus a one-byte class label are
    packed as a genuine ustar shard (sources/tar.py — stdlib-tarfile-
    compatible, pinned in tests), shipped as a binary column, exploded
    by wds_members (zero-shuffle mapInPandas), and consumed
    relationally: the .bmp member decodes through the real codec path
    (extract_media_features), the .cls member through a JVM binary->
    string cast.  The oracle predicts EVERYTHING from SQL — the
    zero-padded sample key, the member count, the exact BMP byte size
    (54 + rows x 48), decoded dimensions, the red-channel pixel sum,
    and the label — so a green row certifies a real tar parse + member
    split + image decode, not a byte echo.

    Scale shape: one applyInPandas shard encode per channel, one
    zero-shuffle member explode, then JVM-only joins on the key."""
    import pandas as pd

    from pandas_sigproc_spark.operators.multimodal import extract_media_features
    from pandas_sigproc_spark.operators.webdataset import wds_members

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp
        from pandas_sigproc_spark.sources.tar import encode_tar

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        h = (len(b) + 15) // 16
        flat = np.zeros(h * 16, dtype=np.uint8)
        flat[: len(b)] = b
        px = np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
        cid = int(pdf["channel_id"].iloc[0])
        shard = encode_tar(
            [
                (f"{cid:08d}.bmp", encode_bmp(px)),
                (f"{cid:08d}.cls", str(cid % 10).encode()),
            ]
        )
        return pd.DataFrame({"shard_id": [cid], "payload": [shard]})

    shards = sig.groupBy("channel_id").applyInPandas(
        enc, "shard_id long, payload binary"
    )
    members = _persist(wds_members(shards))
    counts = members.groupBy("shard_id", "key").agg(
        F.count("*").cast("long").alias("n_members")
    )
    bmp = members.filter(F.col("ext") == "bmp").select(
        "shard_id",
        "key",
        F.col("n_bytes").alias("bmp_bytes"),
        F.lit("image").alias("kind"),
        "payload",
    )
    feats = extract_media_features(
        bmp.select(F.col("shard_id").alias("media_id"), "kind", "payload"),
        codec="real",
    ).select(F.col("media_id").alias("shard_id"), "width", "height")

    def pix(batches):
        from pandas_sigproc_spark.sources.bmp import decode_bmp_bytes

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "shard_id": pdf["shard_id"].astype("int64"),
                    "pixel_sum": [
                        int(
                            decode_bmp_bytes(bytes(p))[:, :, 0].sum(
                                dtype="int64"
                            )
                        )
                        for p in pdf["payload"]
                    ],
                }
            )

    sums = bmp.select("shard_id", "payload").mapInPandas(
        pix, "shard_id long, pixel_sum long"
    )
    cls = members.filter(F.col("ext") == "cls").select(
        "shard_id", F.col("payload").cast("string").cast("int").alias("label")
    )
    return (
        counts.join(bmp.select("shard_id", "key", "bmp_bytes"), ["shard_id", "key"])
        .join(feats, "shard_id")
        .join(sums, "shard_id")
        .join(cls, "shard_id")
        .select(
            F.col("shard_id").alias("media_id"),
            "key",
            "n_members",
            "bmp_bytes",
            "width",
            "height",
            "pixel_sum",
            "label",
        )
    )


SQL_WDS_EXTRACT = f"""
WITH {_SIG_CTE},
b AS (
  SELECT channel_id, CAST(TRUNC(value * 10.0) AS BIGINT) % 256 AS pb FROM sig
),
agg AS (SELECT channel_id, COUNT(*) AS n, SUM(pb) AS psum FROM b GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       LPAD(CAST(CAST(channel_id AS BIGINT) AS VARCHAR), 8, '0') AS key,
       CAST(2 AS BIGINT) AS n_members,
       -- 14-byte file header + 40-byte info header + rows of 16px * 3B
       CAST(54 + ((n + 15) // 16) * 48 AS BIGINT) AS bmp_bytes,
       16 AS width,
       CAST((n + 15) // 16 AS INTEGER) AS height,
       CAST(psum AS BIGINT) AS pixel_sum,
       CAST(CAST(channel_id AS BIGINT) % 10 AS INTEGER) AS label
FROM agg
"""


def q_wds_roundtrip(spark, sf_dir):
    """WebDataset shard WRITER under the hash gate — the pipeline's
    OUTPUT sink (operators/webdataset.py write_wds_shards), proven by
    composition with the already-gated reader: every document becomes
    two members (`<key>.txt` = the text bytes, `<key>.json` = a
    canonical metadata record) of a deterministic ustar shard
    (shard = doc_id % 16), the shards are re-exploded by wds_members,
    and the gate emits each recovered member's key/ext/size/md5.  The
    oracle derives all five columns DIRECTLY from the documents table
    — it never sees a tar byte — so a green hash certifies the whole
    write->read cycle: ustar header layout, 512-byte padding, the
    first-dot key/ext convention, and byte-exact payloads.

    Scale shape: member rows are map-side expressions; the writer is
    one repartition on the shard key + one sorted mapInPandas pass
    whose task state is bounded by a single shard's bytes; the reader
    explode is zero-shuffle.  Byte-determinism across partitionings
    (pinned in tests/test_wds_write.py) is what makes shards
    content-addressable for resumable 100 TB publishes."""
    from pandas_sigproc_spark.operators.webdataset import (
        wds_members,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_member_table(spark, sf_dir))
    back = wds_members(shards, id_col="shard")
    return back.select(
        "shard_id", "key", "ext", "n_bytes", F.md5("payload").alias("sha")
    )


def _wds_member_table(spark, sf_dir):
    """The deterministic (shard, key, ext, payload) member table both
    WebDataset gates build from the documents table: two members per
    document (`<key>.txt` = text bytes, `<key>.json` = canonical
    metadata), shard = doc_id % 16."""
    d = _docs_par(spark, sf_dir)
    base = d.select(
        (F.col("doc_id").cast("long") % 16).alias("shard"),
        F.lpad(F.col("doc_id").cast("long").cast("string"), 8, "0").alias(
            "key"
        ),
        F.col("doc_id").cast("long").alias("did"),
        "text",
        "lang",
    )
    meta = F.concat(
        F.lit('{"doc_id":'),
        F.col("did").cast("string"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('"}'),
    )
    return base.select(
        "shard", "key", F.lit("txt").alias("ext"),
        F.encode("text", "UTF-8").alias("payload"),
    ).unionByName(
        base.select(
            "shard", "key", F.lit("json").alias("ext"),
            F.encode(meta, "UTF-8").alias("payload"),
        )
    )


def q_wds_store_roundtrip(spark, sf_dir):
    """Object-store WebDataset layout under the hash gate — the r13
    `save_wds_store`/`load_wds_store` surface
    (operators/webdataset.py:488,550) proven end-to-end: the same
    member table as q_wds_roundtrip is packed into byte-deterministic
    tar shards, SAVED as a parquet-payload store through an explicit
    ``file://`` URI (the Hadoop FileSystem route a remote ``s3a://``
    scheme takes — JVM committer for payload bytes, tmp+rename
    manifest stamp), LOADED back through the manifest gate, re-exploded
    by wds_members, and emitted as member key/ext/size/md5.  The oracle
    is SQL_WDS_ROUNDTRIP verbatim — it derives every column from the
    documents table and never sees a tar or parquet byte — so a green
    hash certifies the store write -> manifest commit -> store read ->
    tar decode cycle on top of everything the plain roundtrip gate
    already proves.

    Scale shape: shard bytes flow executor -> store through Spark's
    parquet committer (never the driver); the driver touches only the
    manifest JSON and a 3-scalar size aggregate; the re-read is an
    ordinary parquet scan + zero-shuffle member explode."""
    import shutil

    from pandas_sigproc_spark.operators.webdataset import (
        load_wds_store,
        save_wds_store,
        wds_members,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_member_table(spark, sf_dir))
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".wdsstore",
        os.path.basename(sf_dir.rstrip("/")),
    )
    shutil.rmtree(root, ignore_errors=True)  # idempotent per call
    store_uri = "file://" + root
    save_wds_store(shards, store_uri)  # fresh-write path: no manifest yet
    back = load_wds_store(spark, store_uri)
    got = wds_members(back, id_col="shard")
    return got.select(
        "shard_id", "key", "ext", "n_bytes", F.md5("payload").alias("sha")
    )


_SQL_WDS_ROUNDTRIP_META = (
    "'{\"doc_id\":' || CAST(did AS VARCHAR) || ',\"lang\":\"' || lang || '\"}'"
)

SQL_WDS_ROUNDTRIP = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS did, text, lang FROM documents
)
SELECT CAST(did % 16 AS BIGINT) AS shard_id,
       LPAD(CAST(did AS VARCHAR), 8, '0') AS key,
       'txt' AS ext,
       CAST(STRLEN(text) AS BIGINT) AS n_bytes,
       MD5(text) AS sha
FROM base
UNION ALL
SELECT CAST(did % 16 AS BIGINT),
       LPAD(CAST(did AS VARCHAR), 8, '0'),
       'json',
       CAST(STRLEN({_SQL_WDS_ROUNDTRIP_META}) AS BIGINT),
       MD5({_SQL_WDS_ROUNDTRIP_META})
FROM base
"""


def q_textio_roundtrip(spark, sf_dir):
    """CSV + JSON signal interchange under ONE composed hash gate — the
    §2.1 free-scan row's text adapters (sources/csv.py, sources/json.py
    over the sources/textio.py scaffolding) proven end-to-end: a
    documents-derived signal table is WRITTEN as multi-part CSV and
    JSON-lines directories (signals_to_csv / signals_to_json), a
    corrupt part file is injected into each, and both are READ back
    with ``keep_corrupt=True``.  The oracle derives every good row from
    the documents table (exact dyadic t/value arithmetic, so the
    double -> text -> double roundtrip is bit-exact on both engines)
    and pins the quarantine rows as literals from Spark's DOCUMENTED
    PERMISSIVE semantics, measured and frozen: a malformed line keeps
    its parseable fields, NULLs the rest, and lands verbatim in the
    declared ``_corrupt_record`` column — the r14 review finding this
    plumbing exists for.

    Scale shape: the write is one coalesced export per format (a gate
    fixture, not the scale path — parquet is the native layout); the
    read is an ordinary schema-enforced text scan that splits by byte
    range, zero Python."""
    import shutil

    from pandas_sigproc_spark.sources.csv import (
        csv_to_signals,
        signals_to_csv,
    )
    from pandas_sigproc_spark.sources.json import (
        json_to_signals,
        signals_to_json,
    )

    src = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("ch"),
            (F.col("doc_id").cast("long") % 8).cast("string"),
        ).alias("channel_id"),
        (F.col("doc_id").cast("long") * 0.25).alias("t"),
        ((F.col("doc_id").cast("long") % 256) / 4.0).alias("value"),
    )
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".textio",
        os.path.basename(sf_dir.rstrip("/")),
    )
    shutil.rmtree(root, ignore_errors=True)  # idempotent per call
    cdir, jdir = os.path.join(root, "csv"), os.path.join(root, "json")
    signals_to_csv(src, cdir, n_files=4)
    signals_to_json(src, jdir, n_files=4)
    # injected quarantine fixtures (the corrupt part carries its own
    # header line — header=True consumes one per file)
    with open(os.path.join(cdir, "part-corrupt.csv"), "w") as f:
        f.write("channel_id,t,value\nBADLINE\nzz,notanum,3.0\n")
    with open(os.path.join(jdir, "part-corrupt.json"), "w") as f:
        f.write('{broken\n{"channel_id":"zz","t":"notanum","value":3.0}\n')

    def shape(df):
        return df.select(
            "channel_id",
            "t",
            "value",
            F.col("_corrupt_record").alias("corrupt_rec"),
        )

    return _compose_paths(
        ("csv", shape(csv_to_signals(spark, cdir, keep_corrupt=True))),
        ("json", shape(json_to_signals(spark, jdir, keep_corrupt=True))),
    )


SQL_TEXTIO_ROUNDTRIP = """
WITH good AS (
  SELECT 'ch' || CAST(CAST(doc_id AS BIGINT) % 8 AS VARCHAR) AS channel_id,
         CAST(CAST(doc_id AS BIGINT) AS DOUBLE) * 0.25 AS t,
         CAST(CAST(doc_id AS BIGINT) % 256 AS DOUBLE) / 4.0 AS value,
         CAST(NULL AS VARCHAR) AS corrupt_rec
  FROM documents
)
SELECT 'csv' AS path, * FROM good
UNION ALL
SELECT 'csv', 'BADLINE', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       'BADLINE'
UNION ALL
SELECT 'csv', 'zz', CAST(NULL AS DOUBLE), CAST(3.0 AS DOUBLE),
       'zz,notanum,3.0'
UNION ALL
SELECT 'json' AS path, * FROM good
UNION ALL
SELECT 'json', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), '{broken'
UNION ALL
SELECT 'json', 'zz', CAST(NULL AS DOUBLE), CAST(3.0 AS DOUBLE),
       '{"channel_id":"zz","t":"notanum","value":3.0}'
"""


def q_warc_extract(spark, sf_dir):
    """WARC crawl ingestion under the FULL hash gate: the sf documents
    are serialized into per-source, RECORD-GZIPPED WARC 1.1 archives
    (sources/warc.py — one gzip member per record, the Common Crawl
    split layout), shipped as binary columns, and re-extracted by
    warc_documents (zero-shuffle mapInPandas parse + JVM UTF-8 cast).
    The oracle is the documents table itself — uri, exact payload byte
    length, and the text — so a green row certifies a real gzip-member
    split + WARC header parse + Content-Length framing roundtrip.

    Scale shape: one applyInPandas archive encode per source (the
    crawl-side producer stand-in), then the embarrassingly-parallel
    record explode; everything downstream of warc_documents is the
    already-audited curation tier."""
    import pandas as pd

    from pandas_sigproc_spark.operators.webcrawl import warc_documents

    d = _docs_par(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.sources.warc import encode_warc

        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "uri": f"http://corpus/{int(r.doc_id)}",
                "payload": str(r.text).encode("utf-8"),
            }
            for r in pdf.itertuples()
        ]
        aid = int(pdf["doc_id"].min())
        return pd.DataFrame(
            {
                "archive_id": [aid],
                "payload": [encode_warc(recs, gzip_records=True)],
            }
        )

    archives = d.select("doc_id", "text", "source").groupBy("source").applyInPandas(
        enc, "archive_id long, payload binary"
    )
    docs = warc_documents(archives)
    return docs.select(
        F.element_at(F.split("uri", "/"), -1).cast("long").alias("doc_id"),
        "uri",
        "n_bytes",
        "text",
    )


SQL_WARC_EXTRACT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'http://corpus/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR) AS uri,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       text
FROM documents
"""


def q_zip_extract(spark, sf_dir):
    """ZIP container ingestion under the FULL hash gate — the third
    container seam (tar: wds_extract; WARC: warc_extract): the sf
    documents are packed into per-source ZIP archives by the from-
    scratch codec (sources/pkzip.py) with members ALTERNATING stored /
    raw-deflate by doc_id parity — so a green row certifies the EOCD
    scan, the central-directory walk, local-header re-reads, the
    zlib inflate path, and CRC-32 verification, against an oracle
    that is just the documents table (name, uncompressed byte length,
    text).

    Scale shape: one applyInPandas archive encode per source (the
    producer stand-in), then the zero-shuffle member explode
    (zip_members); archives never leave the task that read them."""
    import pandas as pd

    from pandas_sigproc_spark.operators.webdataset import zip_members

    d = _docs_par(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.sources.pkzip import encode_zip

        pdf = pdf.sort_values("doc_id")
        ms = [
            {
                "name": f"{int(r.doc_id)}.txt",
                "payload": str(r.text).encode("utf-8"),
                "compress": bool(int(r.doc_id) % 2),
            }
            for r in pdf.itertuples()
        ]
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["doc_id"].min())],
                "payload": [encode_zip(ms)],
            }
        )

    shards = (
        d.select("doc_id", "text", "source")
        .groupBy("source")
        .applyInPandas(enc, "shard_id long, payload binary")
    )
    mem = zip_members(shards)
    return mem.select(
        F.split("name", "\\.")[0].cast("long").alias("doc_id"),
        "name",
        "n_bytes",
        F.col("payload").cast("string").alias("text"),
    )


SQL_ZIP_EXTRACT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CAST(doc_id AS BIGINT) AS VARCHAR) || '.txt' AS name,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       text
FROM documents
"""


def q_domain_cap(spark, sf_dir):
    """Crawl-domain curation under the hash gate — the URL-level pass
    every web-corpus pipeline runs before content-level dedup: the sf
    documents are serialized into per-source record-gzipped WARC
    archives whose target URIs carry a per-source host
    (http://<source>.example.com/<doc_id>), re-extracted by
    warc_documents, and curated by host — `domain_stats` (per-host doc
    counts, one partial-agg groupBy on the parse_url host) joined with
    `cap_per_domain` (the RefinedWeb-style deterministic first-N-per-
    host cap, one ranked window, JVM-side throughout).  The oracle
    rebuilds host, counts, rank, and the <=cap verdict straight from
    the documents table.

    Scale shape: zero Python after extraction — parse_url, groupBy,
    and one window on the host key; host skew is one bounded streaming
    task per hot host, which is exactly what the cap bounds."""
    import pandas as pd

    from pandas_sigproc_spark.operators.webcrawl import (
        cap_per_domain,
        domain_stats,
        warc_documents,
    )

    d = _docs_par(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.sources.warc import encode_warc

        pdf = pdf.sort_values("doc_id")
        source = str(pdf["source"].iloc[0])
        recs = [
            {
                "uri": f"http://{source}.example.com/{int(r.doc_id)}",
                "payload": str(r.text).encode("utf-8"),
            }
            for r in pdf.itertuples()
        ]
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["doc_id"].min())],
                "payload": [encode_warc(recs, gzip_records=True)],
            }
        )

    archives = d.select("doc_id", "text", "source").groupBy("source").applyInPandas(
        enc, "archive_id long, payload binary"
    )
    docs = warc_documents(archives).select(
        F.element_at(F.split("uri", "/"), -1).cast("long").alias("doc_id"),
        "uri",
        "text",
    )
    capped = cap_per_domain(docs, 20, uri_col="uri", order_col="doc_id")
    stats = domain_stats(docs, uri_col="uri", text_col="text").select(
        "host", F.col("n_docs").alias("host_docs")
    )
    return capped.join(stats, "host").select(
        "doc_id", "host", "host_docs", "kept"
    )


SQL_DOMAIN_CAP = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         source || '.example.com' AS host
  FROM documents
),
stats AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS host_docs FROM d GROUP BY host),
ranked AS (
  SELECT doc_id, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rn
  FROM d
)
SELECT r.doc_id, r.host, s.host_docs, (r.rn <= 20) AS kept
FROM ranked r JOIN stats s USING (host)
"""


def q_url_blocklist(spark, sf_dir):
    """URL category-blocklist filter under the hash gate — the
    RefinedWeb-style adult/malware/ads domain gate (operators/
    webcrawl.py url_blocklist_filter).  Each sf document gets a
    deterministic URI whose host (doc_id % 8) exercises every verdict
    shape: clean hosts, a registrable-domain block hit via a
    subdomain, the same hit on the bare domain, an exact-host
    tracking entry that must NOT block its sibling subdomain, a
    two-level-public-suffix site ("a.spam.co.uk" -> registrable
    "spam.co.uk", blocked) and its clean co.uk neighbor.  The oracle
    derives host, registrable domain, category, and verdict
    INDEPENDENTLY by CASE arithmetic on doc_id — a green row
    certifies the parse_url host, the PSL suffix logic, and the
    exact-host-beats-domain precedence, not a replay of the joins.

    Scale shape: two broadcast left joins on map-side string keys —
    zero shuffle, zero Python; the corpus never moves."""
    from pandas_sigproc_spark.operators.webcrawl import (
        url_blocklist_filter,
    )

    d = _docs_par(spark, sf_dir)
    hosts = [
        "news.example.org",
        "x.badnet.example",
        "badnet.example",
        "tracker.metrics.example",
        "safe.metrics.example",
        "a.spam.co.uk",
        "good.co.uk",
        "malware.example",
    ]
    host_pick = F.element_at(
        F.array(*[F.lit(h) for h in hosts]),
        (F.col("doc_id") % 8).cast("int") + 1,
    )
    docs = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("http://"),
            host_pick,
            F.lit("/"),
            F.col("doc_id").cast("long").cast("string"),
        ).alias("uri"),
    )
    return url_blocklist_filter(docs).select(
        "doc_id", "host", "registrable", "category", "kept"
    )


# (host, registrable, category-or-None) expected per doc_id % 8 —
# the oracle derives each column with its own CASE, independent of
# the engine's parse_url/suffix/join machinery.
_URL_BLOCKLIST_EXPECT = [
    ("news.example.org", "example.org", None),
    ("x.badnet.example", "badnet.example", "ads"),
    ("badnet.example", "badnet.example", "ads"),
    ("tracker.metrics.example", "metrics.example", "tracking"),
    ("safe.metrics.example", "metrics.example", None),
    ("a.spam.co.uk", "spam.co.uk", "adult"),
    ("good.co.uk", "good.co.uk", None),
    ("malware.example", "malware.example", "malware"),
]


def _url_blocklist_case(values) -> str:
    whens = " ".join(
        f"WHEN {i} THEN "
        + ("NULL" if v is None else f"'{v}'")
        for i, v in enumerate(values)
    )
    return f"CASE CAST(doc_id % 8 AS INTEGER) {whens} END"


SQL_URL_BLOCKLIST = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_url_blocklist_case([e[0] for e in _URL_BLOCKLIST_EXPECT])} AS host,
       {_url_blocklist_case([e[1] for e in _URL_BLOCKLIST_EXPECT])} AS registrable,
       {_url_blocklist_case([e[2] for e in _URL_BLOCKLIST_EXPECT])} AS category,
       ({_url_blocklist_case([e[2] for e in _URL_BLOCKLIST_EXPECT])} IS NULL) AS kept
FROM documents
"""


_ROBOTS_TEXTS = {
    0: (
        "User-agent: sparkbot\nDisallow: /private/\nAllow: /private/ok/\n"
        "\nUser-agent: *\nDisallow: /\n"
    ),
    1: "User-agent: *\nDisallow: /*.json$\nAllow: /data/\n",
    2: (
        "User-agent: *\nDisallow: /p\n"
        "\nUser-agent: *\nAllow: /p/keep\n"
    ),
    # host 3 has NO robots.txt — everything allowed
}

_ROBOTS_PATHS = [
    "/",
    "/private/doc",
    "/private/ok/doc",
    "/data/file.json",
    "/p/keep/x",
    "/p/zzz",
]

# expected (matched_rule, matched_path, allowed) per (host_id, path_id),
# derived BY HAND from RFC 9309 semantics — the oracle replays THIS
# table by CASE arithmetic, never the engine's parse/join/argmax.
_ROBOTS_EXPECT = {
    (0, 0): (None, None, True),
    (0, 1): ("disallow", "/private/", False),
    (0, 2): ("allow", "/private/ok/", True),
    (0, 3): (None, None, True),
    (0, 4): (None, None, True),
    (0, 5): (None, None, True),
    (1, 0): (None, None, True),
    (1, 1): (None, None, True),
    (1, 2): (None, None, True),
    (1, 3): ("disallow", "/*.json$", False),
    (1, 4): (None, None, True),
    (1, 5): (None, None, True),
    (2, 0): (None, None, True),
    (2, 1): ("disallow", "/p", False),
    (2, 2): ("disallow", "/p", False),
    (2, 3): (None, None, True),
    (2, 4): ("allow", "/p/keep", True),
    (2, 5): ("disallow", "/p", False),
    (3, 0): (None, None, True),
    (3, 1): (None, None, True),
    (3, 2): (None, None, True),
    (3, 3): (None, None, True),
    (3, 4): (None, None, True),
    (3, 5): (None, None, True),
}


def q_robots_filter(spark, sf_dir):
    """Robots Exclusion Protocol gate (operators/robots.py — RFC 9309
    relational parse + verdicts): the crawl-politeness stage between
    URL discovery and fetching.  Each sf document maps to one of 4
    hosts x 6 path shapes exercising every semantic: a specific-agent
    group SHADOWING a deny-all * group, the * wildcard with a $
    anchor beating a shorter Allow, two * groups COMBINING, longest-
    match with allow-wins-ties, a no-robots host, and no-match rows
    with NULL match columns.  The oracle is a hand-derived
    (host, path) -> verdict table replayed by CASE arithmetic — it
    never sees the parse, the group window, the LIKE compile, or the
    argmax, so a green hash certifies the whole engine against the
    RFC semantics (which tests/test_robots.py additionally pins to a
    pure-Python reference).

    Scale shape: the parse is one bounded per-host window (RFC caps
    robots.txt at 500 KiB); the verdict join fans each page over its
    host's rule count (tens) and partial-aggregates the longest-match
    argmax back to one row; pages on robots-free hosts ride a left
    join.  No Python anywhere."""
    import pandas as pd

    from pandas_sigproc_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )

    d = _docs_par(spark, sf_dir)
    robots = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": [f"h{i}.example" for i in _ROBOTS_TEXTS],
                "robots_txt": list(_ROBOTS_TEXTS.values()),
            }
        )
    )
    rules = parse_robots(robots)
    did = F.col("doc_id").cast("long")
    pages = d.select(
        did.alias("doc_id"),
        F.concat(
            F.lit("h"), (did % 4).cast("string"), F.lit(".example")
        ).alias("host"),
        F.element_at(
            F.array(*[F.lit(p) for p in _ROBOTS_PATHS]),
            (did % 6).cast("int") + 1,
        ).alias("path"),
    )
    # `url_path`: `path` is the crawl slot's branch marker
    return robots_verdicts(pages, rules, agent="sparkbot").select(
        "doc_id", "host", "path", "matched_rule", "matched_path", "allowed"
    ).withColumnRenamed("path", "url_path")


def q_sitemap_extract(spark, sf_dir):
    """Sitemap discovery under the hash gate — the crawl-frontier
    counterpart of the robots politeness gate: ``Sitemap:`` directives
    surface from robots.txt (RFC 9309 §2.3 — agent-independent, flat
    scan; operators/robots.py sitemap_directives) and the sitemap XML
    itself parses through sitemap_locs/sitemap_kind
    (operators/webcrawl.py — `<urlset>` document sitemaps AND
    `<sitemapindex>` indexes, `<loc>` whitespace trimmed by the
    regexp, Java/RE2 common subset).  Each sf document synthesizes a
    host with a robots Sitemap line plus either a 3-URL urlset
    (even doc_id, one loc padded with newlines) or a 2-child index
    (odd).  The oracle reconstructs every column by CASE/UNNEST
    arithmetic — it never sees a regexp.

    Scale shape: both extractions are per-row expression trees (zero
    shuffle); the directive join is a host equi-join."""
    from pandas_sigproc_spark.operators.robots import sitemap_directives
    from pandas_sigproc_spark.operators.webcrawl import (
        sitemap_kind,
        sitemap_locs,
    )

    d = _docs_par(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    host = F.concat(F.lit("h"), did.cast("string"), F.lit(".example"))
    base_url = F.concat(F.lit("https://"), host)
    sm_url = F.concat(base_url, F.lit("/sitemap.xml"))
    robots_txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\nSitemap: "),
        sm_url,
        F.lit("\n"),
    )
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>\n  '),
        base_url, F.lit("/p0"),
        F.lit(" \n</loc></url><url><loc>"),
        base_url, F.lit("/p1"),
        F.lit("</loc></url><url><loc>"),
        base_url, F.lit("/p2"),
        F.lit("</loc></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"),
        base_url, F.lit("/sm0.xml"),
        F.lit("</loc></sitemap><sitemap><loc>\t"),
        base_url, F.lit("/sm1.xml"),
        F.lit("\t</loc></sitemap></sitemapindex>"),
    )
    rows = d.select(
        did.alias("doc_id"),
        host.alias("host"),
        robots_txt.alias("robots_txt"),
        F.when(did % 2 == 0, urlset).otherwise(index).alias("xml"),
    )
    dirs = sitemap_directives(rows)
    locs = rows.select(
        "doc_id",
        "host",
        sitemap_kind("xml").alias("kind"),
        F.posexplode(sitemap_locs("xml")).alias("pos", "loc"),
    )
    return locs.join(dirs, "host").select(
        "doc_id", "kind", "pos", "loc", "sitemap_url"
    )


SQL_SITEMAP_EXTRACT = """
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
x AS (
  SELECT did,
         CASE WHEN did % 2 = 0 THEN 'urlset' ELSE 'index' END AS kind,
         UNNEST(RANGE(0, CASE WHEN did % 2 = 0 THEN 3 ELSE 2 END)) AS pos
  FROM base
)
SELECT did AS doc_id, kind, CAST(pos AS INTEGER) AS pos,
       CASE WHEN kind = 'urlset'
            THEN 'https://h' || CAST(did AS VARCHAR) || '.example/p' || CAST(pos AS VARCHAR)
            ELSE 'https://h' || CAST(did AS VARCHAR) || '.example/sm' || CAST(pos AS VARCHAR) || '.xml'
       END AS loc,
       'https://h' || CAST(did AS VARCHAR) || '.example/sitemap.xml' AS sitemap_url
FROM x
"""


_ADMIT_CAP = 30

# blocklist-host index -> robots-text id (hosts absent here have no
# robots.txt and are fully allowed)
_ADMIT_ROBOTS_HOST = {0: 0, 4: 1, 6: 2}


def q_crawl_admission(spark, sf_dir):
    """The composed crawl ADMISSION pipeline in ONE plan — the
    decision every fetched page faces before it may enter the corpus:
    URL category blocklist (PSL-aware registrable domains), robots.txt
    politeness (RFC 9309 longest-match for our agent), then the
    first-{cap}-per-host domain cap over the survivors.  Three
    already-gated operators (url_blocklist_filter, robots_verdicts,
    cap_per_domain) chained as verdict columns; the oracle derives
    category and robots verdicts from ITS OWN CASE tables (the
    url_blocklist / robots_filter expectation tables) and replays only
    the cap as a window — so a green hash certifies the composition
    wiring, not echoes of the stages.

    Scale shape: blocklist = two broadcast joins; robots = one
    stream-static-safe equi-join + map-side array fold; the cap = one
    ranked window on ``(host, eligible)`` — the eligible sliver ranks
    within its own partition and ineligible rows never flip a verdict
    (their rank is ANDed away).  A first cut filtered + ranked +
    joined back on doc_id, which re-executed the whole
    blocklist+robots subtree on both sides of the self-join (review
    finding); the eligibility-partitioned window is the one-pass form
    and is exactly the shape the oracle replays."""
    import pandas as pd

    from pyspark.sql import Window

    from pandas_sigproc_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )
    from pandas_sigproc_spark.operators.webcrawl import (
        url_blocklist_filter,
    )

    d = _docs_par(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    hosts = [e[0] for e in _URL_BLOCKLIST_EXPECT]
    host_pick = F.element_at(
        F.array(*[F.lit(h) for h in hosts]), (did % 8).cast("int") + 1
    )
    path_pick = F.element_at(
        F.array(*[F.lit(p) for p in _ROBOTS_PATHS]),
        (did % 6).cast("int") + 1,
    )
    docs = d.select(
        did.alias("doc_id"),
        F.concat(F.lit("http://"), host_pick, path_pick).alias("uri"),
        path_pick.alias("path"),
    )
    bl = url_blocklist_filter(docs).select(
        "doc_id", "uri", "path", "host", "category"
    )
    robots = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": [hosts[i] for i in _ADMIT_ROBOTS_HOST],
                "robots_txt": [
                    _ROBOTS_TEXTS[t] for t in _ADMIT_ROBOTS_HOST.values()
                ],
            }
        )
    )
    rb = robots_verdicts(
        bl, parse_robots(robots), agent="sparkbot"
    ).select(
        "doc_id",
        "uri",
        "path",
        "host",
        "category",
        F.col("allowed").alias("robots_allowed"),
    )
    elig = F.col("category").isNull() & F.col("robots_allowed")
    w = Window.partitionBy("host", elig).orderBy("doc_id")
    return rb.select(
        "doc_id",
        "host",
        F.col("path").alias("url_path"),
        "category",
        "robots_allowed",
        (elig & (F.row_number().over(w) <= _ADMIT_CAP)).alias(
            "admitted"
        ),
    )


def _sql_admission_robots_case() -> str:
    whens = []
    for h in range(8):
        rh = _ADMIT_ROBOTS_HOST.get(h)
        for p in range(6):
            allowed = True if rh is None else _ROBOTS_EXPECT[(rh, p)][2]
            whens.append(
                f"WHEN CAST(doc_id % 8 AS INTEGER) = {h}"
                f" AND CAST(doc_id % 6 AS INTEGER) = {p}"
                f" THEN {str(allowed).upper()}"
            )
    return "CASE " + " ".join(whens) + " END"


SQL_CRAWL_ADMISSION = f"""
WITH v AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_url_blocklist_case([e[0] for e in _URL_BLOCKLIST_EXPECT])} AS host,
         CASE CAST(doc_id % 6 AS INTEGER)
           {" ".join(f"WHEN {i} THEN '{p}'" for i, p in enumerate(_ROBOTS_PATHS))}
         END AS path,
         {_url_blocklist_case([e[2] for e in _URL_BLOCKLIST_EXPECT])} AS category,
         {_sql_admission_robots_case()} AS robots_allowed
  FROM documents
),
r AS (
  SELECT *,
         (category IS NULL AND robots_allowed) AS elig,
         ROW_NUMBER() OVER (
           PARTITION BY host, (category IS NULL AND robots_allowed)
           ORDER BY doc_id) AS rk
  FROM v
)
SELECT doc_id, host, path AS url_path, category, robots_allowed,
       (elig AND rk <= {_ADMIT_CAP}) AS admitted
FROM r
"""


def _sql_robots_case(pick) -> str:
    whens = []
    for (h, p), exp in _ROBOTS_EXPECT.items():
        v = pick(exp)
        lit = "NULL" if v is None else (
            str(v).upper() if isinstance(v, bool) else f"'{v}'"
        )
        whens.append(
            f"WHEN CAST(doc_id % 4 AS INTEGER) = {h}"
            f" AND CAST(doc_id % 6 AS INTEGER) = {p} THEN {lit}"
        )
    return "CASE " + " ".join(whens) + " END"


SQL_ROBOTS_FILTER = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'h' || CAST(CAST(doc_id % 4 AS INTEGER) AS VARCHAR) || '.example' AS host,
       CASE CAST(doc_id % 6 AS INTEGER)
         {" ".join(f"WHEN {i} THEN '{p}'" for i, p in enumerate(_ROBOTS_PATHS))}
       END AS url_path,
       {_sql_robots_case(lambda e: e[0])} AS matched_rule,
       {_sql_robots_case(lambda e: e[1])} AS matched_path,
       {_sql_robots_case(lambda e: e[2])} AS allowed
FROM documents
"""


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction under the hash gate — the boilerplate
    step between crawl payloads and the text-curation tier.  Each sf
    document is wrapped NATIVELY (concat + the html_escape replace
    chain) in a realistic page — title, style block, script block
    containing an unescaped '<', an HTML comment, nav boilerplate with
    an entity, and a footer with an out-of-set entity — and extracted
    by html_text (operators/webcrawl.py: a pure regexp_replace chain,
    zero Python).  The oracle computes the expected text INDEPENDENTLY
    (direct concat + whitespace collapse over the documents table), so
    a green row certifies comment/script/style stripping, quoted-
    attribute-aware tag removal, the entity decode order, and the
    escape/extract identity — not a replay of the same regexes.

    Scale shape: one codegen'd per-row expression tree — no shuffle,
    no Python, linear in corpus bytes (the whole query is a single
    WholeStageCodegen span over the parquet scan)."""
    from pandas_sigproc_spark.operators.webcrawl import (
        html_escape,
        html_text,
    )

    # _docs_par, not _docs: the whole query is per-row regex/expression
    # work with no shuffle, so the single-file bench scan would run it
    # one-core (r15 optimization: 1 task x 3.9s -> 32 tasks); at
    # production split counts _ensure_par is a no-op.
    d = _docs_par(spark, sf_dir)
    wrapped = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("long").cast("string"),
        F.lit(
            '</title><style type="text/css">p { margin: 0 }</style>'
            '<script src="a.js">var lt = 1 < 2;</script></head>'
            "<body><!-- crawl boilerplate -->"
            "<nav>home &gt; docs</nav><p>"
        ),
        html_escape(F.col("text")),
        F.lit("</p><footer>&copy; 2024 corpus</footer></body></html>"),
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        html_text(wrapped).alias("text"),
    )


SQL_HTML_EXTRACT = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       trim(regexp_replace(
         'Doc ' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
           || ' home > docs ' || text || ' &copy; 2024 corpus',
         '[ \t\r\n\f]+', ' ', 'g')) AS text
FROM documents
"""


def q_url_canon(spark, sf_dir):
    """URL canonicalization under the hash gate — the URL-level dedup
    key every crawl pipeline computes before content-level passes.
    Four deterministic messy-URL shapes are built natively from
    doc_id/source (uppercase scheme+host with a default :80 port +
    tracking params + fragment; :443 with unsorted params; a fragment
    containing '?'; an empty path with all-tracking query), fed to
    canonicalize_url (operators/webcrawl.py), and counted per
    canonical key (the dedup grouping — the all-tracking shape
    collapses each source's docs to ONE key).  The oracle derives the
    canonical forms INDEPENDENTLY per shape (CASE arithmetic, no regex
    replay), so a green row certifies scheme/host lowering, default-
    port and fragment stripping, tracking-param removal, bytewise
    param sorting, and the empty-path rule.

    Scale shape: per-row expressions plus ONE exchange — the count
    window on the canonical key, which is the dedup shuffle itself."""
    from pyspark.sql import Window

    from pandas_sigproc_spark.operators.webcrawl import canonicalize_url

    # _docs_par: per-row canonicalization work, single-file bench scan
    # (see q_html_extract's note).
    d = _docs_par(spark, sf_dir)
    i = F.col("doc_id").cast("long")
    ids = i.cast("string")
    v = i % 4
    messy = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTP://WWW."),
                F.upper("source"),
                F.lit(".COM:80/Page/"),
                ids,
                F.lit("?utm_source=feed&b=2&a=1#frag"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.org:443/a/b?z="),
                ids,
                F.lit("&y=2&x=3"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://cdn."),
                F.col("source"),
                F.lit(".net/file/"),
                ids,
                F.lit("#sec?x=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".io?gclid="),
                ids,
                F.lit("&ref=tw"),
            )
        )
    )
    out = d.select(
        i.alias("doc_id"),
        messy.alias("url"),
        canonicalize_url(messy).alias("canon_url"),
    )
    w = Window.partitionBy("canon_url")
    return out.withColumn(
        "n_same", F.count("*").over(w).cast("long")
    )


SQL_URL_CANON = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(doc_id AS BIGINT) % 4 AS v,
         CAST(CAST(doc_id AS BIGINT) AS VARCHAR) AS ids
  FROM documents
),
m AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/Page/' || ids
                    || '?utm_source=feed&b=2&a=1#frag'
      WHEN 1 THEN 'https://' || source || '.example.org:443/a/b?z=' || ids
                    || '&y=2&x=3'
      WHEN 2 THEN 'https://cdn.' || source || '.net/file/' || ids || '#sec?x=1'
      ELSE 'http://' || source || '.io?gclid=' || ids || '&ref=tw'
    END AS url,
    CASE v
      WHEN 0 THEN 'http://www.' || source || '.com/Page/' || ids || '?a=1&b=2'
      WHEN 1 THEN 'https://' || source || '.example.org/a/b?x=3&y=2&z=' || ids
      WHEN 2 THEN 'https://cdn.' || source || '.net/file/' || ids
      ELSE 'http://' || source || '.io/'
    END AS canon_url
  FROM d
)
SELECT doc_id, url, canon_url,
       CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_same
FROM m
"""


# -- crawl_frontier: html_links -> resolve_url -> canonicalize_url /
#    url_host -> blocklist admission, composed under ONE hash gate -------
#
# Four base-URL shapes (file path + query, no path, directory with an
# explicit default port, non-default port on a blocklisted host) x the
# 18 href shapes of the resolve_url pytest battery
# (tests/test_wds_warc.py:test_resolve_url_matches_urljoin).  The
# oracle never parses HTML or replays RFC 3986: its expectation table
# is computed from urllib.parse (urljoin/urlsplit — an INDEPENDENT
# reference implementation) with the two documented deviations applied
# (fragments dropped; empty base path canonicalized to '/').
_CF_BASES = (
    "http://site0.example/a/b/c?x=1",  # file-ish path + query
    "http://site1.example",            # no path at all
    "https://site2.example:443/a/dir/",  # directory + default port
    "http://blocked.example:8080/a/b",   # blocklisted host, odd port
)
_CF_HREFS = (
    "http://other.example/q",       # absolute (blocklisted host)
    "https://other2.example/q?z=2",  # absolute with query
    "//cdn.example/lib.js",         # protocol-relative
    "/rooted/path",                 # origin-absolute
    "/rooted/../up",                # dot segments in rooted
    "?y=2",                         # query-only
    "",                             # same-document
    "#frag",                        # fragment-only
    "d",                            # sibling file
    "d/e",                          # deeper
    "./d",                          # explicit cwd
    "../d",                         # parent
    "../../d",                      # grandparent
    "../../../d",                   # above root (clamps)
    "d/",                           # trailing slash
    "..",                           # bare parent (dir form)
    ".",                            # bare cwd (dir form)
    "mailto:x@example.com",         # non-http scheme passes through
)
_CF_BLOCKED = ("blocked.example", "other.example")


def _cf_expect_rows():
    """(base_idx, pos, url, canon, host, admitted) expectation rows —
    urllib-derived, NOT a replay of the engine's expression trees."""
    from urllib.parse import urljoin, urlsplit

    # html_links emits all double-quoted anchors (even href indices,
    # document order) before all single-quoted ones (odd indices)
    order = list(range(0, len(_CF_HREFS), 2)) + list(
        range(1, len(_CF_HREFS), 2)
    )
    track = (
        r"(?i)^(?:utm_[^=]*|gclid|fbclid|msclkid|ref|ref_src)(?:=|$)"
    )
    rows = []
    for bi, b in enumerate(_CF_BASES):
        for pos, hi in enumerate(order):
            u = urljoin(b, _CF_HREFS[hi]).split("#", 1)[0]
            # deviation: canonical '/' for an empty base path
            u = re.sub(r"^([A-Za-z+.-]+://[^/?]+)(\?|$)", r"\1/\2", u)
            host = canon = None
            scheme = ""
            if "://" in u:
                sp = urlsplit(u)
                scheme, host = sp.scheme.lower(), sp.hostname
                hp = sp.netloc.lower()
                hp = re.sub(
                    ":80$" if scheme == "http" else ":443$", "", hp
                ) if scheme in ("http", "https") else hp
                params = sorted(
                    p
                    for p in sp.query.split("&")
                    if p and not re.match(track, p)
                )
                canon = f"{scheme}://{hp}{sp.path or '/'}" + (
                    "?" + "&".join(params) if params else ""
                )
            admitted = int(
                host is not None
                and host not in _CF_BLOCKED
                and scheme in ("http", "https")
            )
            rows.append((bi, pos, u, canon, host, admitted))
    return rows


def q_crawl_frontier(spark, sf_dir):
    """Frontier expansion under ONE hash gate — the composition a crawl
    actually runs on every fetched page: html_links (both quote
    styles) -> resolve_url (RFC 3986 §5.2, the r13 native resolver,
    webcrawl.py:247) -> canonicalize_url + url_host -> host-blocklist
    admission.  Each document becomes a page whose 18 anchors are the
    resolve_url pytest battery's href shapes (alternating quote
    styles, the doc's escaped text in between) against one of 4 base
    shapes keyed on doc_id; the gate emits every extracted link's
    resolved URL, canonical dedup key, host, and admission verdict.

    A green hash certifies the whole chain against an INDEPENDENT
    urllib-derived expectation table (see _cf_expect_rows): anchor
    extraction order across quote styles, all 18 resolution shapes x 4
    bases (dot-segment clamping, protocol-relative, query-only,
    same-document, directory merge, scheme pass-through), canonical-key
    and host derivation on RESOLVED urls, and the NULL-host /
    foreign-scheme / blocklist admission rules.  Suffix-rule blocklists
    compose downstream via url_blocklist_filter (its own gate).

    Scale shape: one codegen'd per-row expression tree — regexp
    extraction, the native dot-segment fold, string arithmetic — then
    posexplode; zero shuffle, zero Python, linear in page bytes."""
    from pandas_sigproc_spark.operators.webcrawl import (
        canonicalize_url,
        html_escape,
        html_links,
        resolve_url,
        url_host,
    )

    anchors_dq = "".join(
        f'<a class="nav" href="{h}">l{i}</a>'
        for i, h in enumerate(_CF_HREFS)
        if i % 2 == 0
    )
    anchors_sq = "".join(
        f"<a href='{h}'>l{i}</a>"
        for i, h in enumerate(_CF_HREFS)
        if i % 2 == 1
    )
    # _docs_par: the chain is zero-shuffle per-row expression work (the
    # RFC 3986 fold per link), so the single-file bench scan would run
    # the whole query on ONE core (r15 optimization: measured 1 task x
    # 3.9s; _ensure_par spreads it across the cores, and is a no-op at
    # production split counts).
    d = _docs_par(spark, sf_dir)
    base = F.element_at(
        F.array(*[F.lit(b) for b in _CF_BASES]),
        (F.col("doc_id").cast("long") % 4 + 1).cast("int"),
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        html_escape(F.coalesce(F.col("text"), F.lit(""))),
        # a '>' inside a quoted attribute must not truncate matching
        F.lit(f'</p>{anchors_dq}<div data-x="a>b">{anchors_sq}</div>'
              "</body></html>"),
    )
    page = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        base.alias("base"),
        html_links(html).alias("hrefs"),
    )
    ex = page.select(
        "doc_id", "base",
        F.posexplode("hrefs").alias("link_idx", "href"),
    )
    out = ex.select(
        "doc_id",
        F.col("link_idx").cast("int").alias("link_idx"),
        resolve_url(F.col("base"), F.col("href")).alias("url"),
    )
    host = url_host(F.col("url"))
    return out.select(
        "doc_id",
        "link_idx",
        "url",
        canonicalize_url(F.col("url")).alias("canon"),
        host.alias("host"),
        (
            host.isNotNull()
            & ~host.isin(*_CF_BLOCKED)
            & F.col("url").rlike("^https?://")
        )
        .cast("int")
        .alias("admitted"),
    )


def _sql_crawl_frontier() -> str:
    vals = ",\n    ".join(
        "({}, {}, '{}', {}, {}, {})".format(
            bi,
            pos,
            u,
            "NULL" if canon is None else f"'{canon}'",
            "NULL" if host is None else f"'{host}'",
            adm,
        )
        for bi, pos, u, canon, host, adm in _cf_expect_rows()
    )
    return f"""
WITH exp(base_idx, pos, url, canon, host, admitted) AS (
  VALUES
    {vals}
),
d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id AS BIGINT) % 4 AS bi
  FROM documents
)
SELECT d.doc_id,
       CAST(e.pos AS INTEGER) AS link_idx,
       e.url,
       e.canon,
       e.host,
       CAST(e.admitted AS INTEGER) AS admitted
FROM d JOIN exp e ON e.base_idx = d.bi
"""


# ---------------------------------------------------------------------------
# video_stream_info — H.264 + HEVC stream inspection under ONE hash gate
# (operators/multimodal.py:348,366 over sources/h264.py + sources/hevc.py).
# The crawl_frontier pattern: each document is joined to one of 12
# deterministic MP4 variants (6 avc1 + 6 hvc1, built driver-side by the
# INDEPENDENT test-side bit writers — tests/test_h264.py's spec-order BW,
# not the parser), and the oracle is an expectation table derived purely
# from the CONSTRUCTION arithmetic below: display geometry from the
# coded-size/cropping constants (H.264 §7.4.2.1.1 frame-cropping in 4:2:0
# chroma units; HEVC §7.4.3.2.1 conformance window), NAL inventories from
# how the samples were assembled, keyframe flags from which sample carries
# the IDR/IRAP.  Variants 3 and 9 regress the r15 framing-collision fix:
# their keyframe NAL is exactly 300 bytes, so the length-prefixed sample
# STARTS WITH 00 00 01 2C — the shape the old per-sample Annex-B
# heuristic misparsed (ADVICE r15).
#
# Variant constants — ONE home for writer AND oracle:
#   (flavor, a, b, crop, n_delta, key_nal, big_key, profile, level)
#   h264: a = pic_width_in_mbs, b = pic_height_in_map_units, crop in
#         chroma units (l, r, t, b); profile/level fixed by the writer.
#   hevc: a/b = coded luma size in px, crop = conformance window.
_VSI_VARIANTS = (
    ("h264", 4, 3, None, 3, 5, False, 66, 30),
    ("h264", 6, 4, None, 2, 5, False, 66, 30),
    ("h264", 120, 68, (0, 0, 0, 4), 1, 5, False, 66, 30),  # 1080p crop
    ("h264", 8, 6, None, 2, 5, True, 66, 30),  # 300-byte IDR collision
    ("h264", 10, 6, (2, 2, 0, 0), 4, 5, False, 66, 30),
    ("h264", 5, 5, None, 0, 5, False, 66, 30),  # IDR-only stream
    ("hevc", 64, 48, None, 2, 19, False, 1, 93),  # IDR_W_RADL
    ("hevc", 320, 240, None, 1, 21, False, 2, 120),  # CRA, Main10/L4.0
    ("hevc", 1920, 1088, (0, 0, 0, 4), 2, 19, False, 1, 93),  # conf win
    ("hevc", 128, 96, None, 3, 20, True, 1, 93),  # 300-byte IDR_N_LP
    ("hevc", 176, 144, (1, 1, 0, 0), 1, 19, False, 1, 93),
    ("hevc", 96, 64, None, 0, 19, False, 1, 93),  # IRAP-only stream
)


def _vsi_payloads():
    """The 12 MP4 variants, muxed driver-side (bytes are broadcast as a
    12-row dimension table — they never scale with the corpus).  The
    SPS bitstreams come from the test-side spec-order bit writers
    (tests/test_h264.py BW — an independent encoder, not a replay of
    the parser); sources/mp4.py muxes the full ftyp+mdat+moov tree."""
    from pandas_sigproc_spark.sources.mp4 import encode_mp4

    try:
        # pytest-free writer home (an r15 review finding: importing the
        # test MODULES here chained a pytest import into the production
        # gate path)
        from tests.h26x_writers import (
            _avcc_record,
            _baseline_sps,
            _hevc_sps,
            _hvcc_record,
        )
    except ImportError as e:
        raise RuntimeError(
            "video_stream_info builds its MP4 variants from the"
            " test-side reference bit writers (tests/h26x_writers.py);"
            " run from the repo root with tests/ present"
        ) from e

    def frame(*nals):
        return b"".join(len(x).to_bytes(4, "big") + x for x in nals)

    out = []
    for v, (fl, a, b, crop, n_delta, key_nal, big, prof, lvl) in enumerate(
        _VSI_VARIANTS
    ):
        if fl == "h264":
            sps, pps = _baseline_sps(a, b, crop), b"\x68\xce\x38\x80"
            key = b"\x65" + (
                bytes(255) + b"\x11" * 44 if big else b"\x11" * 8
            )
            samples = [frame(sps, pps, key)] + [
                frame(b"\x41" + bytes([0x20 + i]) * 6) for i in range(n_delta)
            ]
            rec = _avcc_record(sps, pps)
            box = (8 + len(rec)).to_bytes(4, "big") + b"avcC" + rec
            codec = b"avc1"
        else:
            sps = _hevc_sps(a, b, conf_win=crop, profile=prof, level=lvl)
            key = bytes([key_nal << 1, 1]) + (
                bytes(254) + b"\x11" * 44 if big else b"\x11" * 6
            )
            samples = [frame(sps, key)] + [
                frame(bytes([1 << 1, 1]) + bytes([0x20 + i]) * 5)
                for i in range(n_delta)
            ]
            rec = _hvcc_record(sps)
            box = (8 + len(rec)).to_bytes(4, "big") + b"hvcC" + rec
            codec = b"hvc1"
        out.append(
            (v, fl, bytearray(encode_mp4(samples, codec=codec,
                                         sample_entry_ext=box)))
        )
    return out


def _vsi_expect_rows():
    """Per-variant expected stream-inspection rows from the construction
    arithmetic alone (no parser involved): geometry = coded size minus
    the crop/conformance window in 4:2:0 units (x2 per offset on both
    axes), NAL lists = the sample assembly order above, keyframe = the
    sample that carries key_nal."""
    rows = []
    for v, (fl, a, b, crop, n_delta, key_nal, big, prof, lvl) in enumerate(
        _VSI_VARIANTS
    ):
        cl, cr, ct, cb = crop or (0, 0, 0, 0)
        if fl == "h264":
            w = 16 * a - 2 * (cl + cr)
            h = 16 * b - 2 * (ct + cb)  # frame_mbs_only: crop unit 2
            first = [7, 8, key_nal]
        else:
            w = a - 2 * (cl + cr)
            h = b - 2 * (ct + cb)  # 4:2:0 SubWidthC = SubHeightC = 2
            first = [33, key_nal]
        rows.append(
            (v, fl, 0, len(first), ",".join(map(str, first)), 1,
             w, h, prof, lvl)
        )
        for i in range(n_delta):
            rows.append((v, fl, i + 1, 1, "1", 0, w, h, prof, lvl))
    return rows


def q_video_stream_info(spark, sf_dir):
    """Both compressed-video inspectors under one composed gate: every
    document joins (broadcast) one of the 12 MP4 variants, the h264 arm
    runs h264_stream_info and the hevc arm hevc_stream_info, and both
    arms' per-sample rows ride under the 'path' marker.  A green hash
    certifies NAL counting, type inventories, IDR/IRAP keyframe
    indexing (including the 300-byte first-NAL framing-collision
    variants), exp-Golomb SPS geometry with cropping/conformance
    windows, and profile/level extraction — against the independent
    construction-arithmetic table (_vsi_expect_rows).

    Scale shape: documents scan projected to one id column, broadcast
    join against the 12-row payload dimension, zero-shuffle mapInPandas
    header walks (no pixel buffers, no NAL body copies); output is a
    few ints per sample."""
    from pandas_sigproc_spark.operators.multimodal import (
        h264_stream_info,
        hevc_stream_info,
    )

    pay = spark.createDataFrame(
        [(v, fl, bytes(p)) for v, fl, p in _vsi_payloads()],
        "v long, flavor string, payload binary",
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id").cast("long") % 12).alias("v"),
    )
    media = d.join(F.broadcast(pay), "v")

    def shape(df):
        return df.select(
            "media_id",
            F.col("sample_idx").cast("int").alias("sample_idx"),
            F.col("n_nals").cast("int").alias("n_nals"),
            F.array_join(
                F.col("nal_types").cast("array<string>"), ","
            ).alias("nal_types"),
            F.col("is_keyframe").cast("int").alias("is_keyframe"),
            "width",
            "height",
            F.col("profile").alias("profile_idc"),
            F.col("level").alias("level_idc"),
        )

    return _compose_paths(
        ("h264", shape(h264_stream_info(
            media.where(F.col("flavor") == "h264")))),
        ("hevc", shape(hevc_stream_info(
            media.where(F.col("flavor") == "hevc")))),
    )


def _sql_video_stream_info(flavor: str) -> str:
    """The ``flavor`` arm (h264 / hevc) of :func:`q_video_stream_info`."""
    vals = ",\n    ".join(
        f"({v}, {si}, {nn}, '{nt}', {kf}, {w}, {h}, {pr}, {lv})"
        for v, fl, si, nn, nt, kf, w, h, pr, lv in _vsi_expect_rows()
        if fl == flavor
    )
    return f"""
WITH exp(v, sample_idx, n_nals, nal_types, is_keyframe,
         width, height, profile_idc, level_idc) AS (
  VALUES
    {vals}
),
d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(doc_id AS BIGINT) % 12 AS v
  FROM documents
)
SELECT d.media_id,
       CAST(e.sample_idx AS INTEGER) AS sample_idx,
       CAST(e.n_nals AS INTEGER) AS n_nals,
       e.nal_types,
       CAST(e.is_keyframe AS INTEGER) AS is_keyframe,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(e.profile_idc AS INTEGER) AS profile_idc,
       CAST(e.level_idc AS INTEGER) AS level_idc
FROM d JOIN exp e ON e.v = d.v
"""


def q_media_video_mp4(spark, sf_dir):
    """Real-container video through the driver gate: each channel's
    quantized pixel bytes are split into 4 equal frames, each encoded as
    24-bit BMP, MUXED into a genuine unfragmented MP4 (ISO BMFF —
    sources/mp4.py writes ftyp + mdat + full moov sample tables), shipped
    as a binary media column, and decoded back by
    extract_media_features(codec='real'), whose video path parses the
    box tree and walks stsc/stco/stsz.  The oracle predicts the decoded
    dimensions and frame count purely from SQL row counts — so a green
    hash row certifies a real ISO BMFF parse, not a byte echo.

    Scale shape: one applyInPandas encode per channel, then the
    zero-shuffle mapInPandas decode — identical to the image siblings.
    """
    import pandas as pd

    from pandas_sigproc_spark.operators.multimodal import extract_media_features

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.bmp import encode_bmp
        from pandas_sigproc_spark.sources.mp4 import encode_mp4

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        per = (len(b) + 3) // 4  # pixels per frame, 4 frames
        h = (per + 15) // 16  # rows per 16-wide frame
        frames = []
        for fi in range(4):
            flat = np.zeros(h * 16, dtype=np.uint8)
            chunk = b[fi * per : (fi + 1) * per]
            flat[: len(chunk)] = chunk
            frames.append(
                encode_bmp(np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2))
            )
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "kind": ["video"],
                "payload": [encode_mp4(frames)],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, kind string, payload binary"
    )
    feats = extract_media_features(media, codec="real")
    return feats.select("media_id", "width", "height", "n_frames")


SQL_MEDIA_VIDEO_MP4 = f"""
WITH {_SIG_CTE},
agg AS (SELECT channel_id, COUNT(*) AS n FROM sig GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       16 AS width,
       CAST((((n + 3) // 4) + 15) // 16 AS INTEGER) AS height,
       4 AS n_frames
FROM agg
"""


def q_media_video_gif(spark, sf_dir):
    """Animated-GIF video through the driver gate (the GIF twin of
    q_media_video_mp4, but STRONGER: GIF is lossless, so beyond the
    dimensions and frame count the oracle also predicts the SUM of
    every frame's decoded red channel — certifying the full
    multi-frame LZW decode + compositing, not just container
    headers): each channel's quantized pixel bytes split into 4 equal
    frames, encoded as one animated GIF (sources/gif.py), decoded by
    extract_media_features(codec='real')'s video path, and
    pixel-verified by a second decode pass summing all frames.

    Scale shape: one applyInPandas encode per channel + two
    zero-shuffle mapInPandas decode passes — the media_image_real
    shape."""
    import pandas as pd

    from pandas_sigproc_spark.operators.multimodal import (
        extract_media_features,
    )

    sig = _sig_ch(spark, sf_dir)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from pandas_sigproc_spark.sources.gif import encode_gif

        pdf = pdf.sort_values(["t", "seq"])
        b = (
            np.trunc(pdf["value"].to_numpy("float64") * 10.0).astype(np.int64) % 256
        ).astype(np.uint8)
        per = (len(b) + 3) // 4
        h = (per + 15) // 16
        frames = []
        for fi in range(4):
            flat = np.zeros(h * 16, dtype=np.uint8)
            chunk = b[fi * per : (fi + 1) * per]
            flat[: len(chunk)] = chunk
            frames.append(
                np.repeat(flat.reshape(h, 16)[:, :, None], 3, axis=2)
            )
        return pd.DataFrame(
            {
                "media_id": [int(pdf["channel_id"].iloc[0])],
                "kind": ["video"],
                "payload": [encode_gif(frames, delays_cs=[4] * 4)],
            }
        )

    media = sig.groupBy("channel_id").applyInPandas(
        enc, "media_id long, kind string, payload binary"
    )
    feats = extract_media_features(media, codec="real")

    def pix(batches):
        from pandas_sigproc_spark.sources.gif import decode_gif

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "pixel_sum": [
                        int(
                            sum(
                                f[:, :, 0].sum(dtype="int64")
                                for f in decode_gif(bytes(p))
                            )
                        )
                        for p in pdf["payload"]
                    ],
                }
            )

    sums = media.mapInPandas(pix, "media_id long, pixel_sum long")
    return feats.join(sums, "media_id").select(
        "media_id", "width", "height", "n_frames", "pixel_sum"
    )


SQL_MEDIA_VIDEO_GIF = f"""
WITH {_SIG_CTE},
b AS (
  SELECT channel_id, CAST(TRUNC(value * 10.0) AS BIGINT) % 256 AS pb FROM sig
),
agg AS (SELECT channel_id, COUNT(*) AS n, SUM(pb) AS psum FROM b GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       16 AS width,
       CAST((((n + 3) // 4) + 15) // 16 AS INTEGER) AS height,
       4 AS n_frames,
       CAST(psum AS BIGINT) AS pixel_sum
FROM agg
"""


def q_media_image_jpeg(spark, sf_dir):
    """JPEG sibling of q_media_image_png: the same per-channel gray
    quantization, encoded as baseline JFIF by the from-scratch DCT +
    Huffman codec (sources/jpeg.py) at quality 100, shipped as binary,
    and decoded back through the magic-dispatched real codec path.
    Neither the entropy-coded byte length nor the lossy pixel sum is
    SQL-predictable, so the gate pins what is — the decoded dimensions,
    which only a genuine parse of the DQT/SOF0/DHT/SOS stream produces
    (pixel fidelity anchors live in tests/test_jpeg.py: flat-color
    exactness at q100, PSNR floors, restart-marker equality)."""
    return _media_image_query(
        spark, sf_dir, "jpeg", with_n_bytes=False, with_pixel_sum=False
    )


SQL_MEDIA_IMAGE_JPEG = f"""
WITH {_SIG_CTE},
agg AS (SELECT channel_id, COUNT(*) AS n FROM sig GROUP BY channel_id)
SELECT CAST(channel_id AS BIGINT) AS media_id,
       16 AS width,
       CAST((n + 15) // 16 AS INTEGER) AS height,
       1 AS n_frames
FROM agg
"""


def q_media_image_jpeg_prog(spark, sf_dir):
    """PROGRESSIVE twin of q_media_image_jpeg: the same per-channel
    payloads encoded as SOF2 multi-scan streams (spectral selection +
    successive approximation, sources/jpeg.py r10) and decoded back
    through the magic-dispatched real codec path.  A green row proves a
    genuine progressive parse under the driver hash gate — every scan
    of the DC/AC first/refine sequence must decode for the dimensions
    to emerge (pixel identity vs the baseline stream is pinned in
    tests/test_jpeg_progressive.py)."""
    return _media_image_query(
        spark, sf_dir, "jpeg_prog", with_n_bytes=False, with_pixel_sum=False
    )


SQL_MEDIA_IMAGE_JPEG_PROG = SQL_MEDIA_IMAGE_JPEG


def q_media_image_gif(spark, sf_dir):
    """GIF sibling of q_media_image_png: the same per-channel gray
    quantization encoded by the from-scratch LZW codec (sources/gif.py
    r10 — indexed color, variable-width LSB-first codes, dictionary
    growth) and decoded back through the magic-dispatched real codec
    path.  GIF is LOSSLESS given a palette, so the oracle predicts
    both the decoded dimensions AND the pixel sum — a green row
    certifies a genuine LZW decode, not a byte echo."""
    return _media_image_query(
        spark, sf_dir, "gif", with_n_bytes=False, with_pixel_sum=True
    )


SQL_MEDIA_IMAGE_GIF = SQL_MEDIA_IMAGE_PNG


# Angular step for the relational DFT below: repr-round-tripped so the SQL
# literal and the Python float are the same double in both engines.
_DFT_N = 64
_DFT_W0 = 2.0 * math.pi / _DFT_N


def q_psd_dft(spark, sf_dir):
    """Brute-force relational DFT periodogram — the spectral tier's one
    fully oracle-checked query (DuckDB cannot FFT, but it CAN evaluate the
    O(N^2) DFT sums when both engines express them identically).

    Shape: head-N=64 segment per channel, k = 0..N/2 bins via a broadcast
    cross join, one groupBy(channel, k).  Cos/sin arguments are reduced
    mod N before the trig call (cos(w0*m) has period N in m), so both
    engines evaluate the libm functions at the SAME 64 double arguments —
    cross-engine drift is bounded by 1 ulp per term and vanishes under the
    3-decimal round (values scaled /100 keep the sums O(1)).

    This is the correctness anchor, not the scale path: at 100 TB the FFT
    kernel (q_psd_welch / psd_segmented) does the same math in O(N log N)
    per segment; tests pin the two against each other on overlapping bins.
    """
    sig = _sig_ch(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("t", "seq")
    base = (
        sig.withColumn("rn", F.row_number().over(w) - 1)
        .filter(F.col("rn") < _DFT_N)
        .select("channel_id", "rn", (F.col("value") / 100.0).alias("x"))
    )
    kgrid = spark.range(0, _DFT_N // 2 + 1).select(
        F.col("id").cast("int").alias("k")
    )
    ang = F.lit(_DFT_W0) * ((F.col("rn") * F.col("k")) % _DFT_N)
    agg = (
        base.crossJoin(F.broadcast(kgrid))
        .groupBy("channel_id", "k")
        .agg(
            F.sum(F.col("x") * F.cos(ang)).alias("re"),
            F.sum(F.col("x") * F.sin(ang)).alias("im"),
        )
    )
    power = F.col("re") * F.col("re") + F.col("im") * F.col("im")
    return agg.select(
        "channel_id", "k", (F.round(power, 3) + F.lit(0.0)).alias("power")
    )


SQL_PSD_DFT = f"""
WITH {_SIG_CTE},
r AS (
  SELECT channel_id, value / 100.0 AS x,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) - 1 AS rn
  FROM sig
),
b AS (SELECT * FROM r WHERE rn < {_DFT_N}),
kg AS (SELECT CAST(UNNEST(RANGE(0, {_DFT_N // 2 + 1})) AS INTEGER) AS k),
agg AS (
  SELECT channel_id, k,
         SUM(x * COS({_DFT_W0!r} * ((rn * k) % {_DFT_N}))) AS re,
         SUM(x * SIN({_DFT_W0!r} * ((rn * k) % {_DFT_N}))) AS im
  FROM b CROSS JOIN kg
  GROUP BY channel_id, k
)
SELECT channel_id, k, ROUND(re * re + im * im, 3) + 0.0 AS power FROM agg
"""


# ASTM E1049 rainflow as SQL: the oracle replays the kernel
# (kernels/rainflow.py count_cycles, ndigits=2) exactly —
# (1) reversal extraction: plateau-collapsed sign changes (the nz CTE's
#     LAG over nonzero deltas = the kernel's prev_sign state);
# (2) the 3-point stack rule as a recursive small-step machine: each
#     step either reduces the stack top (emitting a 1.0 cycle, or 0.5
#     when the stack holds only 3 points so Y touches the first datum)
#     or pushes the next reversal; total steps <= 2 * reversals;
# (3) residue pairs counted as half cycles;
# (4) binning: ROUND(range, 2) vs the kernel's decimal-HALF_UP
#     (_round_half_up, which matches Spark F.round; deliberately NOT
#     Python's banker's round) — the two agree unless a range sits
#     within half an ulp of a .005 decimal midpoint, enforced absent on
#     the driver data by tests/test_rainflow_oracle.py.
SQL_RAINFLOW = f"""
WITH RECURSIVE {_SIG_CTE},
ord_t AS (
  SELECT channel_id, value AS v,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) AS i,
         COUNT(*) OVER (PARTITION BY channel_id) AS n
  FROM sig
),
d AS (
  SELECT channel_id, i, v,
         v - LAG(v) OVER (PARTITION BY channel_id ORDER BY i) AS dv
  FROM ord_t
),
nz AS (
  SELECT channel_id, i,
         CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s,
         LAG(CASE WHEN dv > 0 THEN 1 ELSE -1 END)
           OVER (PARTITION BY channel_id ORDER BY i) AS ps
  FROM d WHERE dv IS NOT NULL AND dv != 0
),
rev0 AS (
  SELECT channel_id, 1 AS pos FROM ord_t WHERE i = 1
  UNION ALL
  SELECT channel_id, i - 1 FROM nz WHERE ps IS NOT NULL AND s != ps
  UNION ALL
  SELECT channel_id, CAST(n AS BIGINT) FROM ord_t WHERE i = n AND n >= 2
),
rev AS MATERIALIZED (
  SELECT r.channel_id,
         ROW_NUMBER() OVER (PARTITION BY r.channel_id ORDER BY r.pos) AS j,
         o.v
  FROM rev0 r JOIN ord_t o ON o.channel_id = r.channel_id AND o.i = r.pos
),
mm AS MATERIALIZED (SELECT channel_id, MAX(j) AS m FROM rev GROUP BY channel_id),
steps AS (
  SELECT channel_id, 0 AS step, CAST(2 AS BIGINT) AS k, [v] AS st,
         CAST(NULL AS DOUBLE) AS er, CAST(NULL AS DOUBLE) AS ec
  FROM rev WHERE j = 1
  UNION ALL
  SELECT q.channel_id, q.step + 1,
         CASE WHEN q.can_red THEN q.k ELSE q.k + 1 END,
         CASE WHEN q.can_red THEN
              CASE WHEN LEN(q.st) = 3 THEN q.st[2:]
                   ELSE q.st[1:LEN(q.st)-3] || q.st[LEN(q.st):LEN(q.st)] END
         ELSE q.st || [rv.v] END,
         CASE WHEN q.can_red THEN ABS(q.st[LEN(q.st)-1] - q.st[LEN(q.st)-2]) END,
         CASE WHEN q.can_red THEN CASE WHEN LEN(q.st) = 3 THEN CAST(0.5 AS DOUBLE) ELSE 1.0 END END
  FROM (
    SELECT s.*, mm.m,
           LEN(s.st) >= 3 AND
           ABS(s.st[LEN(s.st)-1] - s.st[LEN(s.st)-2])
             <= ABS(s.st[LEN(s.st)] - s.st[LEN(s.st)-1]) AS can_red
    FROM steps s JOIN mm USING (channel_id)
  ) q
  LEFT JOIN rev rv ON rv.channel_id = q.channel_id AND rv.j = q.k
  WHERE q.can_red OR q.k <= q.m
),
fin AS (
  SELECT channel_id, st
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY step DESC) AS rr
        FROM steps)
  WHERE rr = 1
),
resid AS (
  SELECT channel_id, ABS(st[i+1] - st[i]) AS rng, CAST(0.5 AS DOUBLE) AS cnt
  FROM (SELECT channel_id, st, UNNEST(RANGE(1, LEN(st))) AS i FROM fin)
),
cyc AS (
  SELECT channel_id, er AS rng, ec AS cnt FROM steps WHERE er IS NOT NULL
  UNION ALL
  SELECT channel_id, rng, cnt FROM resid
),
binned AS (
  -- Repr-faithful HALF_UP, matching kernels/rainflow.py _round_half_up
  -- (decimal HALF_UP of the double's shortest repr = Spark BigDecimal
  -- semantics).  Plain ROUND(DOUBLE, 2) is binary half-away-from-zero
  -- and disagrees for ranges whose repr sits at a .005 midpoint
  -- (e.g. 0.145); the VARCHAR hop is DuckDB's shortest-round-trip
  -- formatting, so the decimal ROUND then sees the exact same digits
  -- Python's repr() feeds Decimal.quantize(HALF_UP).
  -- Guarded hop: the DECIMAL(38,18) cast errors on inf/nan and overflows
  -- for |rng| >= ~1e20, while the kernel's _round_half_up passes
  -- non-finite values through and handles 1e27+ magnitudes (prec 400).
  -- Mirror that robustness: huge/non-finite ranges skip the decimal hop
  -- (at >= 1e18 magnitude the double's repr has no fractional digits, so
  -- ROUND(rng, 2) == rng == the kernel's passthrough).
  SELECT channel_id,
         CASE WHEN isfinite(rng) AND ABS(rng) < 1e18
              THEN CAST(ROUND(CAST(CAST(rng AS VARCHAR) AS DECIMAL(38,18)), 2)
                        AS DOUBLE)
              ELSE rng END AS bin,
         cnt
  FROM cyc
)
SELECT channel_id, bin, SUM(cnt) AS cycles
FROM binned GROUP BY channel_id, bin
"""


def q_psd_damage_dft(spark, sf_dir):
    """The spectral tier's remaining summarize modes — 'damage' and
    'max rms' (tools.py:74-98: mean PSD rescaled by the fatigue-damage
    acceleration factor mean((rms_i/rms_mean)^b)^(2/b), b=4, or by
    (max_rms/mean_rms)^2) — under the hash gate, over the same
    relational Welch segments.  Per-segment RMS is the trapezoid over
    the bin axis; mean_rms is the RMS of the MEAN PSD (the reference's
    semantics, not the mean of per-segment RMS).  Every reduced value is
    rounded on both sides.
    """
    # per_seg feeds the mean PSD and the per-segment RMS; mean_psd feeds
    # its own trapezoid and the final rescale — persist both or the
    # windowed-DFT aggregation runs three times.
    #
    # Cache lifecycle (applies to every persist() in this module): these
    # query functions return LAZY DataFrames, so they cannot unpersist
    # before the caller's terminal action.  Blocks use the default
    # MEMORY_AND_DISK level (never OOM — they spill) and are reclaimed by
    # LRU eviction; long-lived sessions running many queries should call
    # spark.catalog.clearCache() between terminal actions, as bench.py
    # does between queries.
    per_seg = _persist(_welch_dft_segments(spark, sf_dir))
    mean_psd = (
        _persist(per_seg.groupBy("channel_id", "k").agg(F.avg("p").alias("mp")))
    )
    w_f = Window.partitionBy("channel_id", "seg").orderBy("k")
    pairs = per_seg.withColumn("p2", F.lead("p").over(w_f)).filter(
        F.col("p2").isNotNull()
    )
    seg_rms = pairs.groupBy("channel_id", "seg").agg(
        F.sqrt(F.sum((F.col("p") + F.col("p2")) / 2.0)).alias("rms")
    )
    w_mf = Window.partitionBy("channel_id").orderBy("k")
    mpairs = mean_psd.withColumn("mp2", F.lead("mp").over(w_mf)).filter(
        F.col("mp2").isNotNull()
    )
    mean_rms = mpairs.groupBy("channel_id").agg(
        F.sqrt(F.sum((F.col("mp") + F.col("mp2")) / 2.0)).alias("mrms")
    )
    fac = (
        seg_rms.join(F.broadcast(mean_rms), "channel_id")
        .groupBy("channel_id", "mrms")
        .agg(
            F.max("rms").alias("maxr"),
            F.avg(F.pow(F.col("rms") / F.col("mrms"), F.lit(4.0))).alias("mpow"),
        )
        .select(
            "channel_id",
            F.pow(F.col("mpow"), 0.5).alias("fd"),
            F.pow(F.col("maxr") / F.col("mrms"), 2.0).alias("fm"),
        )
    )
    return mean_psd.join(F.broadcast(fac), "channel_id").select(
        "channel_id",
        "k",
        (F.round(F.col("mp") * F.col("fd"), 3) + F.lit(0.0)).alias("p_damage"),
        (F.round(F.col("mp") * F.col("fm"), 3) + F.lit(0.0)).alias("p_maxrms"),
    )


def _sql_psd_damage_dft():
    # deferred: _SQL_WELCH_SEG_CTES is defined later in the module
    return f"""
WITH {_SQL_WELCH_SEG_CTES},
mp AS (SELECT channel_id, k, AVG(p) AS mp FROM pseg GROUP BY channel_id, k),
sp AS (
  SELECT channel_id, seg, p,
         LEAD(p) OVER (PARTITION BY channel_id, seg ORDER BY k) AS p2
  FROM pseg
),
srms AS (
  SELECT channel_id, seg, SQRT(SUM((p + p2) / 2.0)) AS rms
  FROM sp WHERE p2 IS NOT NULL GROUP BY channel_id, seg
),
mpp AS (
  SELECT channel_id, mp,
         LEAD(mp) OVER (PARTITION BY channel_id ORDER BY k) AS mp2
  FROM mp
),
mrms AS (
  SELECT channel_id, SQRT(SUM((mp + mp2) / 2.0)) AS mrms
  FROM mpp WHERE mp2 IS NOT NULL GROUP BY channel_id
),
fac AS (
  SELECT s.channel_id,
         POW(AVG(POW(s.rms / m.mrms, 4.0)), 0.5) AS fd,
         POW(MAX(s.rms) / m.mrms, 2.0) AS fm
  FROM srms s JOIN mrms m USING (channel_id)
  GROUP BY s.channel_id, m.mrms
)
SELECT mp.channel_id, mp.k,
       ROUND(mp.mp * fac.fd, 3) + 0.0 AS p_damage,
       ROUND(mp.mp * fac.fm, 3) + 0.0 AS p_maxrms
FROM mp JOIN fac USING (channel_id)
"""


# IIR anchor design: order-2 Butterworth lowpass at 0.3 normalized
# cutoff.  Computed once at import; the repr-round-tripped coefficient
# literals embed in the oracle SQL so both engines recurse on identical
# doubles.
from pandas_sigproc_spark.kernels.design import butter as _butter_design

_IIR_B, _IIR_A = _butter_design(2, 0.3, "lowpass")


def _head512(spark, sf_dir):
    """Per-channel head-512 segment (channel_id, i, x = value/100) — the
    shared input of the bit-exact kernel anchors (512 is under the
    kernels' exact-recursion cutover)."""
    sig = _sig_ch(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("t", "seq")
    return (
        sig.withColumn("i", F.row_number().over(w).cast("long"))
        .filter(F.col("i") <= 512)
        .select("channel_id", "i", (F.col("value") / 100.0).alias("x"))
    )


def q_filt_iir_exact(spark, sf_dir):
    """The IIR tier's hash anchor (the psd_dft of the filter family):
    causal order-2 Butterworth over the head-512 segment of each channel.
    512 < kernels.iir._LOOP_CUTOVER forces the kernel's exact DF2T
    recursion (the same textbook difference equation SciPy's lfilter
    implements, extension.py:563), and the oracle replays that recursion
    sample-by-sample as a recursive CTE with the identical multiply-add
    order — so the comparison is BIT-EXACT, no rounding anywhere.  The
    FFT-convolution path (q_filt_butter etc.) computes the same math at
    O(n log n) for full channels; tests pin the two paths within 1e-9.
    """
    import pandas as pd

    b, a = _IIR_B, _IIR_A
    head = _head512(spark, sf_dir)

    def k(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.kernels.iir import lfilter

        pdf = pdf.sort_values("i")
        y = lfilter(b, a, pdf["x"].to_numpy("float64"))
        return pd.DataFrame(
            {"channel_id": pdf["channel_id"].iloc[0], "i": pdf["i"], "y": y}
        )

    return head.groupBy("channel_id").applyInPandas(
        k, "channel_id string, i long, y double"
    )


def _sql_df2t_recursion(b, a, final_select):
    """WITH RECURSIVE SQL replaying the kernel's order-2 DF2T recursion
    (zero initial state) over the head-512 per-channel segment, then
    applying ``final_select`` over the step table ``f(channel_id, i, y)``.
    ONE template serves every order-2 causal anchor (Butterworth,
    Smallwood SRS) so the bit-exact recursion cannot drift between them.
    """
    b0, b1, b2 = (_dlit(x) for x in b)
    a1, a2 = _dlit(a[1]), _dlit(a[2])
    y0 = f"{b0} * h.x + 0.0"
    yi = f"{b0} * h.x + f.z1"
    return f"""
WITH RECURSIVE {_SIG_CTE},
r AS (
  SELECT channel_id, value / 100.0 AS x,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) AS i
  FROM sig
),
h AS MATERIALIZED (SELECT * FROM r WHERE i <= 512),
f AS (
  SELECT h.channel_id, h.i,
         {y0} AS y,
         {b1} * h.x + 0.0 - {a1} * ({y0}) AS z1,
         {b2} * h.x - {a2} * ({y0}) AS z2
  FROM h WHERE h.i = 1
  UNION ALL
  SELECT h.channel_id, h.i,
         {yi} AS y,
         {b1} * h.x + f.z2 - {a1} * ({yi}) AS z1,
         {b2} * h.x - {a2} * ({yi}) AS z2
  FROM f JOIN h ON h.channel_id = f.channel_id AND h.i = f.i + 1
)
{final_select}
"""


def _sql_filt_iir_exact():
    return _sql_df2t_recursion(_IIR_B, _IIR_A, "SELECT channel_id, i, y FROM f")


# Verified-margin rounding digits for the FFT-convolution anchor: on the
# fixed sf0.01 / sf0.1 data, min distance of any exact-recursion output to
# a 1e-7 half-up rounding boundary is 1.1e-12 (sf0.1: 1.1e-12), while the
# FFT path diverges from the recursion by at most 8.9e-16 absolute — a
# >1200x safety factor, so rounding both sides to 7 digits is stable
# (tests/test_fft_anchor_margin.py re-verifies the margin per dataset).
_FFT_ANCHOR_DIGITS = 7
_FFT_ANCHOR_N = 8192


def q_filt_iir_fft_exact(spark, sf_dir):
    """Hash anchor for the FFT-convolution IIR path — the code every
    production long channel takes (kernels/iir.py lfilter: len(x) >
    _LOOP_CUTOVER=2048 selects the FFT convolution, and len(x) >
    _EXACT_IR_CUTOVER=4096 selects the FFT-grown truncated impulse
    response, kernels/iir.py:33,92).  One 8192-sample channel is built
    from the whole events table (global event_id order), forcing exactly
    that production configuration; the oracle replays the mathematically
    identical causal DF2T recursion (extension.py:563 semantics) as a
    recursive CTE.  The two paths agree to <1e-15 absolute on this data;
    both sides round HALF_UP to 7 digits with a verified 1.1e-12 boundary
    margin, so the comparison is exact (see _FFT_ANCHOR_DIGITS).

    At sf0.001 (1000 samples) the kernel takes the loop path instead and
    the comparison is bit-exact before rounding — the anchor degrades
    gracefully, it never silently weakens.
    """
    import pandas as pd

    b, a = _IIR_B, _IIR_A
    n_cap = _FFT_ANCHOR_N

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    w = Window.orderBy("event_id")
    src = (
        ev.select(
            (F.col("value").cast("double") / F.lit(100.0)).alias("x"),
            F.row_number().over(w).cast("long").alias("i"),
        )
        .filter(F.col("i") <= n_cap)
        .withColumn("channel_id", F.lit("all"))
    )

    def k(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.kernels.iir import lfilter

        pdf = pdf.sort_values("i")
        y = lfilter(b, a, pdf["x"].to_numpy("float64"))
        return pd.DataFrame({"i": pdf["i"], "y": y})

    out = src.groupBy("channel_id").applyInPandas(k, "i long, y double")
    return out.select("i", F.round("y", _FFT_ANCHOR_DIGITS).alias("y"))


def _sql_filt_iir_fft_exact():
    b0, b1, b2 = (_dlit(x) for x in _IIR_B)
    a1, a2 = _dlit(_IIR_A[1]), _dlit(_IIR_A[2])
    y0 = f"{b0} * h.x + 0.0"
    yi = f"{b0} * h.x + f.z1"
    return f"""
WITH RECURSIVE r AS (
  SELECT CAST(value AS DOUBLE) / 100.0 AS x,
         ROW_NUMBER() OVER (ORDER BY event_id) AS i
  FROM events
),
h AS MATERIALIZED (SELECT * FROM r WHERE i <= {_FFT_ANCHOR_N}),
f AS (
  SELECT h.i,
         {y0} AS y,
         {b1} * h.x + 0.0 - {a1} * ({y0}) AS z1,
         {b2} * h.x - {a2} * ({y0}) AS z2
  FROM h WHERE h.i = 1
  UNION ALL
  SELECT h.i,
         {yi} AS y,
         {b1} * h.x + f.z2 - {a1} * ({yi}) AS z1,
         {b2} * h.x - {a2} * ({yi}) AS z2
  FROM f JOIN h ON h.i = f.i + 1
)
SELECT i, ROUND(y, {_FFT_ANCHOR_DIGITS}) AS y FROM f
"""


# SRS anchor design: one Smallwood ramp-invariant SDOF resonator
# (fn = 0.05 cycles/sample at dt = 1, Q = 10) — coefficients computed
# once at import, literals embedded in the oracle SQL.
_SRS_FN, _SRS_DT, _SRS_Q = [0.05], 1.0, 10.0


def _srs_anchor_ba():
    import numpy as np

    from pandas_sigproc_spark.kernels.srs import smallwood_coefficients

    return smallwood_coefficients(np.array(_SRS_FN), _SRS_DT, _SRS_Q)


_SRS_B, _SRS_A = _srs_anchor_ba()


def q_srs_exact(spark, sf_dir):
    """The SRS tier's hash anchor: ONE Smallwood SDOF resonator
    (kernels/srs.py smallwood_coefficients — the reference's
    tools.py:349-374 ramp-invariant recursion) driven over the head-512
    segment of each channel through the PRODUCTION recursion
    (kernels/srs.py srs_multi), envelope = (max y, |min y|) per channel.
    The oracle replays the order-2 recursion sample-by-sample with the
    identical multiply-add order and takes the same MAX/MIN — selection
    of bit-exact values, so the comparison needs no rounding.  The full
    q_srs runs the same recursion over 13 frequencies; get_srs's default
    grid has 81.
    """
    import pandas as pd

    head = _head512(spark, sf_dir)

    def k(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.kernels.srs import srs_multi

        pdf = pdf.sort_values("i")
        x = pdf["x"].to_numpy("float64")[None, :]
        pos, aneg = srs_multi(x, _SRS_DT, _SRS_FN, _SRS_Q)
        return pd.DataFrame(
            {
                "channel_id": [pdf["channel_id"].iloc[0]],
                "srs_pos": [float(pos[0, 0])],
                "srs_abs_neg": [float(aneg[0, 0])],
            }
        )

    return head.groupBy("channel_id").applyInPandas(
        k, "channel_id string, srs_pos double, srs_abs_neg double"
    )


def _dlit(x: float) -> str:
    """A float as a DuckDB expression that is EXACTLY the Python double.

    A bare decimal literal parses as DECIMAL in DuckDB; arithmetic can
    then run in exact decimal (or convert at a different point) and land
    one ulp off the float64 computation.  The string->DOUBLE cast is
    correctly rounded, and repr() is the shortest uniquely-identifying
    decimal, so this round-trips bit-exactly.
    """
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_srs_exact():
    return _sql_df2t_recursion(
        list(_SRS_B[0]),
        list(_SRS_A[0]),
        "SELECT channel_id, MAX(y) AS srs_pos, ABS(MIN(y)) AS srs_abs_neg\n"
        "FROM f GROUP BY channel_id",
    )


def q_interp_cubic_exact(spark, sf_dir):
    """The spline tier's hash anchor: the not-a-knot cubic spline
    (kernels/interp.py — extension.py:819-851 kind='cubic') on FOUR
    knots per channel, evaluated at the three knot midpoints.  With four
    knots the kernel's whole pipeline is closed-form — the not-a-knot
    fold of the boundary conditions into the interior rows, the 2x2
    solve (the terminal case of the cyclic-reduction banded solver), the
    boundary second-derivative recovery, and the segment evaluation —
    and the oracle replays each expression with identical association,
    so the comparison is BIT-EXACT, unrounded.  The banded O(n) solve
    for larger n is pinned to this same arithmetic by the banded==dense
    kernel tests.
    """
    import pandas as pd

    sig = _sig_ch(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("t", "seq")
    head = (
        sig.withColumn("i", F.row_number().over(w).cast("long"))
        .filter(F.col("i") <= 512)
        .select("channel_id", "i", "t", "value")
    )
    cw = Window.partitionBy("channel_id")
    head = head.withColumn("n", F.max("i").over(cw)).filter(F.col("n") >= 7)
    knots = head.filter(
        (F.col("i") == 1)
        | (F.col("i") == F.expr("1 + n div 3"))
        | (F.col("i") == F.expr("1 + (2 * n) div 3"))
        | (F.col("i") == F.col("n"))
    )

    def k(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.kernels.interp import interp1d

        pdf = pdf.sort_values("i")
        xs = pdf["t"].to_numpy("float64")
        ys = pdf["value"].to_numpy("float64")
        us = 0.5 * (xs[:-1] + xs[1:])
        vs = interp1d(xs, ys, us, "cubic")
        return pd.DataFrame(
            {
                "channel_id": pdf["channel_id"].iloc[0],
                "j": range(1, len(us) + 1),
                "u": us,
                "v": vs,
            }
        )

    return knots.select("channel_id", "i", "t", "value").groupBy(
        "channel_id"
    ).applyInPandas(k, "channel_id string, j long, u double, v double")


def _sql_interp_cubic_exact():
    # Mirrors kernels/interp.py _cubic_spline_coeffs (n=4: not-a-knot
    # fold + the 2x2 terminal solve of _cyclic_reduction) and the cubic
    # segment evaluation, expression for expression.
    pre = """
hh AS (
  SELECT kn.*,
         x2 - x1 AS h0, x3 - x2 AS h1, x4 - x3 AS h2
  FROM kn
),
co AS (
  SELECT hh.*,
         6.0 * ((y3 - y2) / h1 - (y2 - y1) / h0) AS r1,
         6.0 * ((y4 - y3) / h2 - (y3 - y2) / h1) AS r2,
         (h0 + h1) * (h0 + 2.0 * h1) / h1 AS df0,
         (h1 * h1 - h0 * h0) / h1 AS du0,
         (h1 + h2) * (2.0 * h1 + h2) / h1 AS df1,
         (h1 * h1 - h2 * h2) / h1 AS dl1
  FROM hh
),
sv AS (
  SELECT co.*, df0 * df1 - du0 * dl1 AS det FROM co
),
ms AS (
  SELECT sv.*,
         (r1 * df1 - du0 * r2) / det AS m1,
         (df0 * r2 - dl1 * r1) / det AS m2
  FROM sv
),
mm AS (
  SELECT ms.*,
         ((h0 + h1) * m1 - h0 * m2) / h1 AS m0,
         ((h1 + h2) * m2 - h2 * m1) / h1 AS m3
  FROM ms
)"""

    def seg(j):
        # interval j (1-based): knots (x{j}, x{j+1}), h index j-1,
        # second derivatives m{j-1}, m{j}.
        x_l, x_r = f"x{j}", f"x{j + 1}"
        y_l, y_r = f"y{j}", f"y{j + 1}"
        m_l, m_r = f"m{j - 1}", f"m{j}"
        hi = f"h{j - 1}"
        u = f"0.5 * ({x_l} + {x_r})"
        d0 = f"({u}) - {x_l}"
        d1 = f"{x_r} - ({u})"
        d0c = f"(({d0}) * ({d0}) * ({d0}))"
        d1c = f"(({d1}) * ({d1}) * ({d1}))"
        v = (
            f"{m_l} * {d1c} / (6.0 * {hi})"
            f" + {m_r} * {d0c} / (6.0 * {hi})"
            f" + ({y_l} / {hi} - {m_l} * {hi} / 6.0) * ({d1})"
            f" + ({y_r} / {hi} - {m_r} * {hi} / 6.0) * ({d0})"
        )
        return (
            f"SELECT channel_id, CAST({j} AS BIGINT) AS j, {u} AS u, {v} AS v"
            " FROM mm"
        )

    return f"""
WITH {_SIG_CTE},
r AS (
  SELECT channel_id, t, value,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) AS i
  FROM sig
),
h AS MATERIALIZED (SELECT * FROM r WHERE i <= 512),
nt AS (SELECT channel_id, MAX(i) AS n FROM h GROUP BY channel_id HAVING MAX(i) >= 7),
kp AS (
  SELECT channel_id, n, CAST(1 AS BIGINT) AS p1, 1 + n // 3 AS p2,
         1 + (2 * n) // 3 AS p3, n AS p4
  FROM nt
),
kn AS (
  SELECT kp.channel_id,
         MAX(CASE WHEN h.i = kp.p1 THEN h.t END) AS x1,
         MAX(CASE WHEN h.i = kp.p2 THEN h.t END) AS x2,
         MAX(CASE WHEN h.i = kp.p3 THEN h.t END) AS x3,
         MAX(CASE WHEN h.i = kp.p4 THEN h.t END) AS x4,
         MAX(CASE WHEN h.i = kp.p1 THEN h.value END) AS y1,
         MAX(CASE WHEN h.i = kp.p2 THEN h.value END) AS y2,
         MAX(CASE WHEN h.i = kp.p3 THEN h.value END) AS y3,
         MAX(CASE WHEN h.i = kp.p4 THEN h.value END) AS y4
  FROM kp JOIN h ON h.channel_id = kp.channel_id
               AND h.i IN (kp.p1, kp.p2, kp.p3, kp.p4)
  GROUP BY kp.channel_id
),{pre}
{seg(1)}
UNION ALL
{seg(2)}
UNION ALL
{seg(3)}
"""


def q_filtfilt_exact(spark, sf_dir):
    """The ZERO-PHASE anchor: kernels.iir.filtfilt (the reference's
    headline filtering semantic — filt_butter/filt_cfc apply it,
    extension.py:493,535) on the head-512 segment of each channel,
    replayed bit-exactly by the oracle.  The SQL mirrors every step of
    the SciPy-default algorithm: odd extension by 3*ntaps samples,
    forward DF2T recursion seeded with zi*ext[0] (lfilter_zi initial
    conditions as literals), reverse, second recursion seeded with
    zi*y[-1], reverse, strip pads.  All comparisons/multiply-adds on
    identical doubles — no rounding anywhere.  Channels shorter than
    padlen+1 are excluded on both sides (the kernel raises for them).
    """
    import pandas as pd

    b, a = _IIR_B, _IIR_A
    cw = Window.partitionBy("channel_id")
    head = (
        _head512(spark, sf_dir)
        .withColumn("n", F.max("i").over(cw))
        .filter(F.col("n") > 9)
    )

    def k(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.kernels.iir import filtfilt

        pdf = pdf.sort_values("i")
        y = filtfilt(b, a, pdf["x"].to_numpy("float64"))
        return pd.DataFrame(
            {"channel_id": pdf["channel_id"].iloc[0], "i": pdf["i"], "y": y}
        )

    return head.select("channel_id", "i", "x").groupBy("channel_id").applyInPandas(
        k, "channel_id string, i long, y double"
    )


def _sql_filtfilt_exact():
    from pandas_sigproc_spark.kernels.iir import lfilter_zi

    b0, b1, b2 = (_dlit(x) for x in _IIR_B)
    a1, a2 = _dlit(_IIR_A[1]), _dlit(_IIR_A[2])
    zi1, zi2 = (_dlit(z) for z in lfilter_zi(_IIR_B, _IIR_A))

    def seed(e):
        y = f"{b0} * {e} + ({zi1} * {e})"
        return (
            f"{y} AS y,\n"
            f"         ({b1} * {e} + ({zi2} * {e})) - {a1} * ({y}) AS z1,\n"
            f"         {b2} * {e} - {a2} * ({y}) AS z2"
        )

    def step(e, f):
        y = f"{b0} * {e} + {f}.z1"
        return (
            f"{y} AS y,\n"
            f"         ({b1} * {e} + {f}.z2) - {a1} * ({y}) AS z1,\n"
            f"         {b2} * {e} - {a2} * ({y}) AS z2"
        )

    return f"""
WITH RECURSIVE {_SIG_CTE},
r AS (
  SELECT channel_id, value / 100.0 AS x,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) AS i
  FROM sig
),
h0 AS (SELECT * FROM r WHERE i <= 512),
nt AS (SELECT channel_id, MAX(i) AS n FROM h0 GROUP BY channel_id HAVING MAX(i) > 9),
h AS (SELECT h0.* FROM h0 JOIN nt USING (channel_id)),
x1 AS (SELECT channel_id, x AS xfirst FROM h WHERE i = 1),
xn AS (SELECT h.channel_id, h.x AS xlast FROM h JOIN nt ON h.channel_id = nt.channel_id AND h.i = nt.n),
jg AS (SELECT CAST(UNNEST(RANGE(1, 10)) AS BIGINT) AS j),
front AS (
  SELECT f.channel_id, f.j AS pos, 2.0 * f.xfirst - h.x AS e
  FROM (SELECT x1.channel_id, jg.j, x1.xfirst FROM x1 CROSS JOIN jg) f
  JOIN h ON h.channel_id = f.channel_id AND h.i = 11 - f.j
),
mid AS (SELECT channel_id, i + 9 AS pos, x AS e FROM h),
back AS (
  SELECT f.channel_id, f.n + 9 + f.j AS pos, 2.0 * f.xlast - h.x AS e
  FROM (SELECT xn.channel_id, jg.j, xn.xlast, nt.n
        FROM xn JOIN nt USING (channel_id) CROSS JOIN jg) f
  JOIN h ON h.channel_id = f.channel_id AND h.i = f.n - f.j
),
ext AS MATERIALIZED (
  SELECT * FROM front UNION ALL SELECT * FROM mid UNION ALL SELECT * FROM back
),
fw AS (
  SELECT e.channel_id, e.pos,
         {seed("e.e")}
  FROM ext e WHERE e.pos = 1
  UNION ALL
  SELECT e.channel_id, e.pos,
         {step("e.e", "f")}
  FROM fw f JOIN ext e ON e.channel_id = f.channel_id AND e.pos = f.pos + 1
),
mt AS MATERIALIZED (SELECT channel_id, MAX(pos) AS m FROM ext GROUP BY channel_id),
yr AS MATERIALIZED (
  SELECT f.channel_id, mt.m + 1 - f.pos AS j, f.y AS e
  FROM fw f JOIN mt USING (channel_id)
),
bw AS (
  SELECT e.channel_id, e.j,
         {seed("e.e")}
  FROM yr e WHERE e.j = 1
  UNION ALL
  SELECT e.channel_id, e.j,
         {step("e.e", "f")}
  FROM bw f JOIN yr e ON e.channel_id = f.channel_id AND e.j = f.j + 1
)
SELECT b.channel_id, (mt.m + 1 - b.j) - 9 AS i, b.y
FROM bw b JOIN mt USING (channel_id)
WHERE mt.m + 1 - b.j BETWEEN 10 AND mt.m - 9
"""


def q_psd_rms_dft(spark, sf_dir):
    """SURVEY §3 entry-point-3 chain (get_psd -> rms_lin,
    extension.py:569-625 -> extension.py:126-143) under the FULL hash
    gate: the relational DFT periodogram of q_psd_dft feeds the native
    trapezoid rms_lin aggregate (operators/aggregates.py:48) — a
    domain-crossing pipeline where every stage is oracle-checked, not
    just rows-counted.  Bin index k doubles as the frequency axis (the
    trapezoid is invariant to a linear axis scale up to the constant).
    """
    spec = q_psd_dft(spark, sf_dir).select(
        "channel_id", F.col("k").cast("double").alias("freq"), "power"
    )
    return rms_lin(spec).select(
        "channel_id", (F.round("rms_lin", 4) + F.lit(0.0)).alias("rms_dft")
    )


SQL_PSD_RMS_DFT = f"""
WITH dft AS ({SQL_PSD_DFT}),
p AS (
  SELECT channel_id, CAST(k AS DOUBLE) AS freq, power,
         LEAD(CAST(k AS DOUBLE)) OVER w AS f2, LEAD(power) OVER w AS p2
  FROM dft WINDOW w AS (PARTITION BY channel_id ORDER BY k)
)
SELECT channel_id,
       ROUND(SQRT(SUM((power + p2) / 2.0 * (f2 - freq))), 4) + 0.0 AS rms_dft
FROM p WHERE f2 IS NOT NULL GROUP BY channel_id
"""


# ---------------------------------------------------------------------------
# training-data pipeline extensions (round 2): sampling, n-gram counts,
# test-set decontamination, TF-IDF, sequence packing, quantized ANN.
# ---------------------------------------------------------------------------

# Stratified-sample keep thresholds, per million (deterministic md5-hash
# sampling via operators/text.py sample_bucket_expr: identical integer
# arithmetic in both engines).
_SAMPLE_MOD = _text.SAMPLE_MOD
_SAMPLE_THRESH = {"en": 500_000, "de": 300_000, "es": 300_000, "fr": 200_000, "zh": 200_000}
_SAMPLE_DEFAULT = 100_000


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling: hash the doc id to
    a uniform bucket in [0, 1e6) and keep the row when the bucket clears
    its language's threshold.  This is the reproducible down-sampling
    step of a corpus-mixing pipeline (language rebalancing): pure
    map-side — no shuffle, no RNG state, re-runs select the same rows on
    any cluster size.  Salting the hash input (':sample') decorrelates it
    from every other hash-derived operator.
    """
    d = _docs_par(spark, sf_dir)
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            _text.sample_bucket_expr().alias("u"),
            _text.sample_threshold_expr(_SAMPLE_THRESH, _SAMPLE_DEFAULT).alias("thr"),
        )
        .filter(F.col("u") < F.col("thr"))
        .select("doc_id", "lang", "u")
    )


def _sql_sample_case():
    whens = " ".join(f"WHEN '{l}' THEN {t}" for l, t in _SAMPLE_THRESH.items())
    return f"CASE lang {whens} ELSE {_SAMPLE_DEFAULT} END"


SQL_STRATIFIED_SAMPLE = f"""
WITH u AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), ':sample')), 1, 15))
              AS BIGINT) % {_SAMPLE_MOD} AS u
  FROM documents
)
SELECT doc_id, lang, u FROM u WHERE u < {_sql_sample_case()}
"""


def q_ngram_counts(spark, sf_dir):
    """Corpus-level bigram counts, global top-20: the n-gram LM /
    frequency-table job.  Partial aggregation combines map-side (the
    groupBy on the gram key is the one shuffle); the top-k is a
    TakeOrdered — per-partition heap + driver merge of 20 rows, NOT a
    global sort — so the plan's driver traffic is O(k) at any corpus
    size.  Deterministic tiebreak on the gram text.
    """
    d = _docs_par(spark, sf_dir)
    grams = F.explode(_text.grams_expr(2))  # linear builder, see gram_sql
    return (
        d.select(grams.alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


SQL_NGRAM_COUNTS = """
WITH tok AS (SELECT STRING_SPLIT(text, ' ') AS words FROM documents),
g AS (
  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 1) + 1),
                               i -> ARRAY_TO_STRING(words[i:i+1], ' '))) AS gram
  FROM tok
)
SELECT gram, COUNT(*) AS n FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20
"""


# Word-5-gram decontamination: benchmark set = doc_id % 10 == 0.
_DECON_N = 5


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: flag training documents that share any
    word-{n}-gram with the held-out benchmark slice (doc_id % 10 == 0)
    — the standard n-gram-overlap contamination check run before LLM
    pretraining.  Scale shape: the benchmark n-gram set is tiny relative
    to the corpus, so it is DISTINCTed and broadcast — the corpus side
    never shuffles for the probe (map-side hash join), and the only
    exchange is the per-doc hit aggregation over the (small) matching
    subset.  60-bit md5 gram keys keep the join integer-typed and
    portable to the oracle.
    """
    # Delegates to the package API (operators/curation.py
    # decontaminate_exact, bench_pred form — identical plan,
    # oracle-proven): one persisted gram-hash pass feeds BOTH the
    # benchmark set and the train probe.
    return _cur.decontaminate_exact(
        _docs_par(spark, sf_dir),
        bench_pred=F.col("doc_id") % 10 == 0,
        n=_DECON_N,
        persist=_persist,
    )


SQL_DECONTAMINATE = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - {_DECON_N - 1}, 1) + 1),
                            i -> ARRAY_TO_STRING(words[i:i+{_DECON_N - 1}], ' ')),
             s -> CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT))) AS gs
  FROM tok
),
gh AS (
  SELECT doc_id, CAST(LEN(gs) AS INTEGER) AS n_ngrams, UNNEST(gs) AS h
  FROM g
),
bench AS (SELECT DISTINCT h FROM gh WHERE doc_id % 10 = 0)
SELECT gh.doc_id, COUNT(*) AS n_hits, gh.n_ngrams,
       ROUND(COUNT(*) / CAST(gh.n_ngrams AS DOUBLE), 6) AS contam_frac
FROM gh JOIN bench USING (h)
WHERE gh.doc_id % 10 != 0
GROUP BY gh.doc_id, gh.n_ngrams
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms: tf = in-doc occurrences, idf =
    ln(N/df).  Scale shape: both aggregations get map-side partial
    combine; the corpus size N is ONE broadcast scalar row (no window
    over the corpus); ranking happens on the 6-dp-rounded score in both
    engines so last-ulp differences can't flip ranks.  The df join
    shuffles on the term key — vocabulary-sized, the standard TF-IDF
    plan.
    """
    # Delegates to the package API (operators/text.py tfidf_topk —
    # identical plan, oracle-proven).
    return _text.tfidf_topk(
        _docs_par(spark, sf_dir),
        k=3,
    )


SQL_TFIDF_TOPK = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, term,
         ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
r AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM s
)
SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 3
"""


_PACK_BUDGET = 256
# Token budget per derived shard (assign_shards): shards = ceil(corpus
# tokens / _SHARD_TOKENS), so the pack-stream count — and hence the
# parallelism of the applyInPandas packing stage — scales WITH the
# corpus instead of being a fixed modulus (the r6-era doc_id % 16 key
# left exactly 80 streams at any scale; the 8x bench leg showed
# wall_ratio ~9 at 20 streams).  _SHARD_TOKENS also bounds each pack
# stream to a constant token count, so a group never outgrows a task.
_SHARD_TOKENS = 2048
# md5-bucket count inside assign_shards' distributed prefix sum; the
# single-partition bucket-offsets window is bounded by this constant.
_SHARD_BUCKETS = 64
# legacy fixed-modulus shard key — still the training_mix pipeline's key
_PACK_SHARDS = 16


def q_shard_assign(spark, sf_dir):
    """Token-balanced shard assignment (operators/packing.py
    assign_shards): lay the corpus out in deterministic (md5-bucket, id)
    order and cut every {_SHARD_TOKENS} tokens, so every shard except
    the last carries the same token budget regardless of document-length
    skew.  A distributed prefix sum — the intra-bucket cumulative sum is
    a window on the uniform md5 bucket key, bucket offsets aggregate to
    {_SHARD_BUCKETS} rows and broadcast back; no global sort anywhere.
    The oracle replays the identical integer prefix sum in DuckDB.
    """
    d = _docs_par(spark, sf_dir)
    docs = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return assign_shards(docs, _SHARD_TOKENS, buckets=_SHARD_BUCKETS)


SQL_SHARD_ASSIGN = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_SHARD_BUCKETS} AS INTEGER) AS bucket
  FROM documents
),
o AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS gs
  FROM tok
)
SELECT doc_id, bucket, n_tokens,
       CAST(gs AS BIGINT) AS global_start,
       CAST(gs // {_SHARD_TOKENS} AS BIGINT) AS shard
FROM o
"""


def q_train_order(spark, sf_dir):
    """Deterministic global training order (operators/packing.py
    training_order) — the reproducible corpus shuffle every trainer
    needs: exact 0-based rank of md5('epoch0:' || id), RNG-free and
    seed-per-epoch.  The oracle derives the SAME permutation with one
    brute-force ROW_NUMBER over the hash — certifying that the
    engine's no-global-sort plan (range-split leading hash bits ->
    per-bucket row_number -> constant-sized offset prefix sum,
    broadcast back) enumerates EXACTLY the total order the naive
    global sort would.

    Scale shape: one shuffle on the uniform 16-bit hash prefix, one
    {_TRAIN_ORDER_BUCKETS}-row window, one broadcast join — the
    corpus never range-exchanges through a total-order sort."""
    from pandas_sigproc_spark.operators.packing import training_order

    d = _docs_par(spark, sf_dir)
    return training_order(
        d.select("doc_id"), seed="epoch0", buckets=_TRAIN_ORDER_BUCKETS
    )


_TRAIN_ORDER_BUCKETS = 256

SQL_TRAIN_ORDER = f"""
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         MD5('epoch0:' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)) AS ok
  FROM documents
)
SELECT doc_id,
       CAST(CAST(CONCAT('0x', SUBSTR(ok, 1, 4)) AS BIGINT)
            * {_TRAIN_ORDER_BUCKETS} // 65536 AS INTEGER) AS bucket,
       CAST(ROW_NUMBER() OVER (ORDER BY ok, doc_id) - 1 AS BIGINT)
         AS global_pos
FROM h
"""


def q_seq_pack(spark, sf_dir):
    """Greedy sequence packing into {budget}-token training packs
    (operators/packing.py pack_sequences) over token-balanced shard
    streams DERIVED by assign_shards (shard = global token prefix sum
    div {_SHARD_TOKENS}) — the production composition: shard count
    scales with corpus tokens and every pack stream is bounded to
    ~{_SHARD_TOKENS} tokens, so the applyInPandas stage's parallelism
    grows with the data and no stream outgrows a task.  Rows pack in
    global_start order (the deterministic shard-layout order).  The
    oracle replays shard derivation as an integer prefix sum and the
    greedy recurrence as a recursive CTE — integer-exact on both sides.
    """
    sharded = q_shard_assign(spark, sf_dir)
    return pack_sequences(
        sharded,
        _PACK_BUDGET,
        tokens_col="n_tokens",
        order_col="global_start",
        group_cols=("shard",),
    )


SQL_SEQ_PACK = f"""
WITH RECURSIVE tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_SHARD_BUCKETS} AS INTEGER) AS bucket
  FROM documents
),
sh AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS gs
  FROM tok
),
o AS (
  SELECT CAST(gs // {_SHARD_TOKENS} AS BIGINT) AS shard,
         CAST(gs AS BIGINT) AS global_start,
         n_tokens,
         ROW_NUMBER() OVER (PARTITION BY gs // {_SHARD_TOKENS} ORDER BY gs) AS rn
  FROM sh
),
r AS (
  SELECT shard, global_start, n_tokens, rn,
         0 AS pack_id, 0 AS pack_pos, n_tokens AS run
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.global_start, o.n_tokens, o.rn,
         CASE WHEN r.run + o.n_tokens > {_PACK_BUDGET} THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.run + o.n_tokens > {_PACK_BUDGET} THEN 0 ELSE r.pack_pos + 1 END,
         CASE WHEN r.run + o.n_tokens > {_PACK_BUDGET} THEN o.n_tokens ELSE r.run + o.n_tokens END
  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT shard, global_start, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(pack_id AS INTEGER) AS pack_id, CAST(pack_pos AS INTEGER) AS pack_pos
FROM r
"""


# The bpe_pack gate's FIXED merge list: bpe_train(docs, 8) over the
# sf0.001 corpus, hardcoded so the gate is deterministic at every SF
# (training at query time would make the plan data-dependent).  Note
# rank 5 ('er', '</w>') consumes rank 0's output token — the oracle's
# unrolled rounds must apply in THIS order for the chain to fire.
_BPE_PACK_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"),
    ("t", "</w>"), ("er", "</w>"), ("o", "w"), ("ow", "</w>"),
]
# BPE tokens are char-level here (~6x whitespace tokens), so the gate
# runs its own budget constants.
_BPE_SHARD_TOKENS = 16384
_BPE_PACK_BUDGET = 2048


def q_bpe_pack(spark, sf_dir):
    """BPE -> shard -> pack, composed as ONE plan (the production
    packing pipeline: real tokenizer counts, not the whitespace
    proxy).  bpe_encode_relational applies the fixed 8-merge list as
    a chain of JVM rewrite folds (operators/bpe.py — the train-side
    rewrite, equal to the greedy encode and pinned so in
    tests/test_bpe.py), assign_shards cuts the corpus into
    token-balanced shards by exact integer prefix sum, and
    pack_sequences greedily packs each shard stream under the token
    budget.  The oracle replays tokenization as EIGHT unrolled
    merge rounds (left-to-right non-overlapping pair rewrite via
    gaps-and-islands windows — the linkgraph CTE-unroll device),
    then the identical integer shard/pack arithmetic.

    Scale shape: encode is one map-side expression pass (gate-sized
    vocab; production vocab uses bpe_encode's broadcast rank table —
    same downstream plan); shard+pack shapes are q_seq_pack's
    (distributed prefix sum, shard-bounded pack streams)."""
    from pandas_sigproc_spark.operators.bpe import bpe_token_counts

    d = _docs_par(spark, sf_dir)
    # count path: the distinct-word fold (vocabulary-sized work; an
    # all-whitespace doc yields no row, which is also what the
    # oracle's n_tokens > 0 filter derives) — bpe_encode_relational's
    # per-occurrence fold is the token-identity twin, equality-pinned
    # in tests/test_bpe.py
    counts = bpe_token_counts(d, _BPE_PACK_MERGES)
    sharded = assign_shards(
        counts, _BPE_SHARD_TOKENS, buckets=_SHARD_BUCKETS
    )
    return pack_sequences(
        sharded,
        _BPE_PACK_BUDGET,
        tokens_col="n_tokens",
        order_col="global_start",
        group_cols=("shard",),
    )


def _bpe_merge_round_sql(prev: str, out: str, a: str, b: str) -> str:
    """CTEs for ONE left-to-right non-overlapping (a, b) -> a+b merge
    pass over (doc_id, wi, ti, tok) rows.  Candidates are positions
    where (tok, next tok) == (a, b); within a RUN of consecutive
    candidates (only possible when a == b) the 1st, 3rd, ... fire —
    exactly the rewrite fold's one-token-lookbehind pairing.  A fired
    position becomes the merged token; the position after a fired one
    is absorbed; ti is then renumbered for the next round."""
    merged = a + b
    return f"""
{out}_c AS (
  SELECT doc_id, wi, ti, tok,
         COALESCE(tok = '{a}'
           AND LEAD(tok) OVER (PARTITION BY doc_id, wi ORDER BY ti) = '{b}',
           FALSE) AS c
  FROM {prev}
),
{out}_g AS (
  SELECT *, CASE WHEN c THEN ti - ROW_NUMBER()
         OVER (PARTITION BY doc_id, wi, c ORDER BY ti) END AS grp
  FROM {out}_c
),
{out}_f AS (
  SELECT doc_id, wi, ti, tok,
         c AND (ROW_NUMBER()
           OVER (PARTITION BY doc_id, wi, grp ORDER BY ti) % 2 = 1) AS f
  FROM {out}_g
),
{out} AS (
  SELECT doc_id, wi,
         ROW_NUMBER() OVER (PARTITION BY doc_id, wi ORDER BY ti) AS ti,
         CASE WHEN f THEN '{merged}' ELSE tok END AS tok
  FROM (
    SELECT *, COALESCE(LAG(f) OVER (PARTITION BY doc_id, wi ORDER BY ti),
           FALSE) AS absorbed
    FROM {out}_f
  )
  WHERE NOT absorbed
)"""


def _sql_bpe_pack() -> str:
    rounds = []
    prev = "m0"
    for i, (a, b) in enumerate(_BPE_PACK_MERGES, start=1):
        rounds.append(_bpe_merge_round_sql(prev, f"m{i}", a, b))
        prev = f"m{i}"
    rounds_sql = ",".join(rounds)
    return f"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(LOWER(text), '[ \\t\\n\\r\\f\\v]+') AS ws
  FROM documents
),
wd AS (
  SELECT doc_id, u.wi, u.word
  FROM base,
  LATERAL (SELECT UNNEST(ws) AS word, generate_subscripts(ws, 1) AS wi) u
  WHERE u.word <> ''
),
m0 AS (
  SELECT doc_id, wi, u.ti, u.tok
  FROM (
    SELECT doc_id, wi,
           list_concat(
             list_transform(range(1, LENGTH(word) + 1),
               i -> SUBSTRING(word, CAST(i AS INTEGER), 1)),
             ['</w>']) AS toks
    FROM wd
  ) t,
  LATERAL (SELECT UNNEST(toks) AS tok, generate_subscripts(toks, 1) AS ti) u
),{rounds_sql},
cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM {prev} GROUP BY doc_id
),
tok AS (
  SELECT doc_id, n_tokens,
         CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_SHARD_BUCKETS} AS INTEGER) AS bucket
  FROM cnt WHERE n_tokens > 0
),
sh AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS gs
  FROM tok
),
o AS MATERIALIZED (
  -- MATERIALIZED: the recursive pack CTE below references o at every
  -- step; inlined, each step re-evaluates the whole 8-round merge
  -- chain (measured 53 s -> 0.6 s at sf0.01, identical rows)
  SELECT CAST(gs // {_BPE_SHARD_TOKENS} AS BIGINT) AS shard,
         CAST(gs AS BIGINT) AS global_start,
         n_tokens,
         ROW_NUMBER() OVER (PARTITION BY gs // {_BPE_SHARD_TOKENS} ORDER BY gs) AS rn
  FROM sh
),
r AS (
  SELECT shard, global_start, n_tokens, rn,
         0 AS pack_id, 0 AS pack_pos, n_tokens AS run
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.global_start, o.n_tokens, o.rn,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN 0 ELSE r.pack_pos + 1 END,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN o.n_tokens ELSE r.run + o.n_tokens END
  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT shard, global_start, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(pack_id AS INTEGER) AS pack_id, CAST(pack_pos AS INTEGER) AS pack_pos
FROM r
"""


def q_ann_int8(spark, sf_dir):
    """Scalar-quantized ANN with exact rescore — the memory-bandwidth
    tier of the similarity stack.  Vectors are encoded to int8-range
    codes per dimension (scale = corpus max |x| per dim, a 64-row
    broadcast), candidates are generated inside the LSH bucket by the
    INTEGER code dot product (16x less data than float64, and
    exact-deterministic — no float ranking at the wide stage), the
    top-10 funnel down to an exact float64 cosine top-3.  At 100 TB the
    code table is the only thing the candidate scan touches; full
    vectors are fetched for the rescore set alone.
    """
    # Delegates to the package API (operators/ann.py int8_lsh_topk —
    # identical plan, oracle-proven); the persisted base table serves
    # the rescore joins, the persisted coded key table both candidate
    # sides.
    return _ann.int8_lsh_topk(
        _persist(_embeds_base(spark, sf_dir)),
        F.col("vec_id") < 50,
        k=3,
        funnel=10,
        tables=_LSH_TABLES,
        band=_LSH_BAND,
        dim=_LSH_DIM,
        persist=_persist,
    )


def _sql_ann_int8():
    return f"""
WITH e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dims AS (
  SELECT UNNEST(RANGE(1, LEN(v) + 1)) AS j,
         UNNEST(LIST_TRANSFORM(v, x -> ABS(x))) AS ax
  FROM e
),
sc AS (SELECT j, MAX(ax) AS s FROM dims GROUP BY j),
scl AS (SELECT LIST(GREATEST(s, 1e-30) ORDER BY j) AS sarr FROM sc),
eq AS MATERIALIZED (
  SELECT vec_id, v,
         LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                        i -> CAST(FLOOR(v[i] / sarr[i] * 127.0) AS BIGINT)) AS code
  FROM e CROSS JOIN scl
),
eqt AS MATERIALIZED (
  {_sql_ebt(one_based=True, src="eq", cols="vec_id, code")}
),
masks AS (SELECT UNNEST({_MP_MASKS}) AS m),
q AS (SELECT vec_id AS qid, code AS qcode, t, xor(bucket, m) AS bucket
      FROM eqt CROSS JOIN masks WHERE vec_id < 50),
cand AS (
  SELECT qid, vec_id,
         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qcode) + 1), i -> qcode[i] * code[i])) AS qscore
  FROM q JOIN eqt USING (t, bucket) WHERE qid != vec_id
),
scored AS (SELECT qid, vec_id, MAX(qscore) AS qscore FROM cand GROUP BY qid, vec_id),
s1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS r1
  FROM scored
),
s2 AS (
  SELECT s1.qid, s1.vec_id, CAST(s1.qscore AS BIGINT) AS qscore,
         ROUND({_SQL_COS.format(a="eqv.v", b="ev.v")}, 6) AS cos
  FROM s1
  JOIN e eqv ON s1.qid = eqv.vec_id
  JOIN e ev ON s1.vec_id = ev.vec_id
  WHERE s1.r1 <= 10
),
r AS (
  SELECT qid, vec_id, qscore, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM s2
)
SELECT qid, vec_id, qscore, cos, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 3
"""


def q_ann_ivf_int8(spark, sf_dir):
    """IVF-SQ8: coarse-quantizer candidate selection + scalar-quantized
    candidate scan + exact float64 rescore — the production ANN layout
    (the FAISS IVFx,SQ8 index shape) assembled from the engine's IVF
    and int8 tiers.  Candidate recall tracks the IVF tier (bench
    recall@3 0.92+ at nprobe/nlist = 0.5 probed fraction; the
    multiprobe LSH funnel in `ann_int8` now measures ~0.99 but scans a
    larger candidate fraction) while the WIDE stage still touches
    only int8 codes — 16x less bandwidth than float64 — and is
    exact-deterministic (integer dot products, no float ranking until
    the rescore).  Full vectors are fetched for the <=10-row-per-query
    rescore set alone.

    Scale shape: centroids collapse into ONE broadcast row (map-side
    list assignment, no shuffle, no per-vector window); the per-dim
    scale table is a second broadcast row; the candidate scan is a
    list-id equi-join against the code table; two per-query top-k
    windows.  Each vector lives in exactly one list, so a (qid, vec_id)
    candidate appears at most once — no dedup agg (unlike the
    multi-table LSH funnel).
    """
    # Delegates to the package API (operators/ann.py ivf_sq8_topk —
    # identical plan, oracle-proven).
    return _ann.ivf_sq8_topk(
        _persist(_embeds_base(spark, sf_dir)),
        F.col("vec_id") < 50,
        k=3,
        funnel=10,
        nlist=_IVF_NLIST,
        nprobe=_IVF_NPROBE,
        persist=_persist,
    )


SQL_ANN_IVF_INT8 = f"""
WITH e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dims AS (
  SELECT UNNEST(RANGE(1, LEN(v) + 1)) AS j,
         UNNEST(LIST_TRANSFORM(v, x -> ABS(x))) AS ax
  FROM e
),
sc AS (SELECT j, MAX(ax) AS s FROM dims GROUP BY j),
scl AS (SELECT LIST(GREATEST(s, 1e-30) ORDER BY j) AS sarr FROM sc),
eq AS MATERIALIZED (
  SELECT vec_id, v,
         LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                        i -> CAST(FLOOR(v[i] / sarr[i] * 127.0) AS BIGINT)) AS code
  FROM e CROSS JOIN scl
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_IVF_NLIST}),
ac AS (
  SELECT eq.vec_id, eq.code, c.cid,
         ROUND({_SQL_COS.format(a="eq.v", b="c.cv")}, 9) AS ccos
  FROM eq CROSS JOIN c
),
ranked_c AS (
  SELECT vec_id, code, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS r
  FROM ac
),
lists AS (SELECT vec_id, code, cid AS list_id FROM ranked_c WHERE r = 1),
probes AS (
  SELECT vec_id AS qid, code AS qcode, cid AS list_id
  FROM ranked_c WHERE r <= {_IVF_NPROBE} AND vec_id < 50
),
cand AS (
  SELECT qid, l.vec_id AS vec_id,
         CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(qcode) + 1),
                                      i -> qcode[i] * l.code[i])) AS BIGINT) AS qscore
  FROM probes p JOIN lists l ON p.list_id = l.list_id AND p.qid != l.vec_id
),
s1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS r1
  FROM cand
),
s2 AS (
  SELECT s1.qid, s1.vec_id, s1.qscore,
         ROUND({_SQL_COS.format(a="eqv.v", b="ev.v")}, 6) AS cos
  FROM s1
  JOIN e eqv ON s1.qid = eqv.vec_id
  JOIN e ev ON s1.vec_id = ev.vec_id
  WHERE s1.r1 <= 10
),
r AS (
  SELECT qid, vec_id, qscore, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM s2
)
SELECT qid, vec_id, qscore, cos, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 3
"""


def q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ ANN: coarse-quantizer candidate selection + product-
    quantized ADC scan + exact float64 rescore — the highest-compression
    production ANN layout (FAISS IVFx,PQm; Jegou et al. TPAMI 2011).
    Corpus vectors are stored as m=16 codebook indices (40x+ narrower
    than the float64 scan); a query precomputes its m x ksub inner-
    product LUT once and every candidate costs m array lookups.  The
    top-80 by rounded ADC score rescore exactly.  recall@3 measured
    0.92 at both gate SFs at the r10 production profile (ksub=256, the
    FAISS-default 1-byte codes; BENCH prints it live next to the IVF/SQ8
    tiers).  Delegates to operators/ann.py ivf_pq_topk."""
    return _ann.ivf_pq_topk(
        _persist(_embeds_base(spark, sf_dir)),
        F.col("vec_id") < 50,
        k=3,
        persist=_persist,
    )


def q_ann_pq_store(spark, sf_dir):
    """IVF-PQ probing a MATERIALIZED code store — the production
    lifecycle the ivf_pq_topk docstring promises: the one-time corpus
    encode (ann.pq_code_table) is written to a committed-batch PQ code
    store (operators/sigstore.py write_pq_code_store — the media-store
    protocol with (m, ksub, nlist) baked into the kind string so a
    parameter mismatch refuses loudly), read back, and passed to
    ivf_pq_topk(code_table=...), which then never re-encodes a corpus
    vector.  Store==recompute equality IS the gate: the oracle is the
    ann_ivf_pq SQL unchanged, so a green hash proves the stored probe
    path returns bit-identical results to the recompute path.

    Scale shape: the encode pass reads every vector once and writes m
    bytes + a list id per vector; the probe reads ONLY that table plus
    the <= funnel rescore rows — at 100 TB this is the difference
    between re-encoding the corpus per query batch and a parquet scan
    of m-byte rows."""
    import shutil

    from pandas_sigproc_spark.operators.sigstore import (
        read_pq_code_store,
        write_pq_code_store,
    )

    base = _persist(_embeds_base(spark, sf_dir))
    codes = _ann.pq_code_table(base)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".pqstore_gate", sf_tag
    )
    shutil.rmtree(path, ignore_errors=True)  # idempotent per call
    params = dict(m=_ann.PQ_M, ksub=_ann.PQ_KSUB, nlist=_ann.IVF_NLIST)
    write_pq_code_store(codes, path, **params)
    store = read_pq_code_store(spark, path, **params)
    return _ann.ivf_pq_topk(
        base,
        F.col("vec_id") < 50,
        k=3,
        code_table=store,
        persist=_persist,
    )


_PQ_M = _ann.PQ_M
_PQ_KSUB = _ann.PQ_KSUB
_PQ_SUB = _ann.LSH_DIM // _ann.PQ_M
_PQ_FUNNEL = _ann.PQ_FUNNEL

# the m*ksub L2 fold, rounded to 9 digits pre-argmin exactly like
# pq_codes_expr; dd is inlined twice (LIST_POSITION + LIST_MIN) — the
# oracle may recompute, the engine must not
_SQL_PQ_DD = (
    "LIST_TRANSFORM(cbv, cv -> ROUND(LIST_SUM(LIST_TRANSFORM("
    f"RANGE(1, {_PQ_SUB} + 1), i -> (u[j*{_PQ_SUB}+i] - cv[j*{_PQ_SUB}+i])"
    f" * (u[j*{_PQ_SUB}+i] - cv[j*{_PQ_SUB}+i]))), 9))"
)

SQL_ANN_IVF_PQ = f"""
WITH e AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
un AS MATERIALIZED (
  SELECT vec_id, v, LIST_TRANSFORM(v, x -> x / nr) AS u
  FROM (SELECT vec_id, v,
               SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))) AS nr
        FROM e)
),
cb AS (SELECT LIST(u ORDER BY vec_id) AS cbv FROM un WHERE vec_id < {_PQ_KSUB}),
coded AS MATERIALIZED (
  SELECT vec_id, v,
         LIST_TRANSFORM(RANGE(0, {_PQ_M}),
                        j -> LIST_POSITION({_SQL_PQ_DD}, LIST_MIN({_SQL_PQ_DD})) - 1
         ) AS codes,
         LIST_TRANSFORM(RANGE(0, {_PQ_M}),
                        j -> LIST_TRANSFORM(cbv, cv -> LIST_SUM(LIST_TRANSFORM(
                               RANGE(1, {_PQ_SUB} + 1),
                               i -> u[j*{_PQ_SUB}+i] * cv[j*{_PQ_SUB}+i])))
         ) AS lut
  FROM un CROSS JOIN cb
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_IVF_NLIST}),
ac AS (
  SELECT coded.vec_id, coded.codes, coded.lut, c.cid,
         ROUND({_SQL_COS.format(a="coded.v", b="c.cv")}, 9) AS ccos
  FROM coded CROSS JOIN c
),
ranked_c AS (
  SELECT vec_id, codes, lut, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS r
  FROM ac
),
lists AS (SELECT vec_id, codes, cid AS list_id FROM ranked_c WHERE r = 1),
probes AS (
  SELECT vec_id AS qid, lut, cid AS list_id
  FROM ranked_c WHERE r <= {_IVF_NPROBE} AND vec_id < 50
),
cand AS (
  SELECT qid, l.vec_id AS vec_id,
         ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, {_PQ_M} + 1),
                                       j -> p.lut[j][l.codes[j] + 1])), 6) AS qscore
  FROM probes p JOIN lists l ON p.list_id = l.list_id AND p.qid != l.vec_id
),
s1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id) AS r1
  FROM cand
),
s2 AS (
  SELECT s1.qid, s1.vec_id, s1.qscore,
         ROUND({_SQL_COS.format(a="eqv.v", b="ev.v")}, 6) AS cos
  FROM s1
  JOIN e eqv ON s1.qid = eqv.vec_id
  JOIN e ev ON s1.vec_id = ev.vec_id
  WHERE s1.r1 <= {_PQ_FUNNEL}
),
r AS (
  SELECT qid, vec_id, qscore, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
  FROM s2
)
SELECT qid, vec_id, qscore, cos, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 3
"""


# Constants for the relational Welch below (repr-round-tripped so both
# engines evaluate the same double).  _WELCH_W0 is derived from the
# Welch segment length itself, NOT reused from _DFT_W0, so changing one
# query's N cannot silently corrupt the other (the oracle mirrors the
# same constants and would stay green on the wrong math).
_WELCH_DFT_N = 64
_WELCH_W0 = 2.0 * math.pi / _WELCH_DFT_N
_HANN_C = 2.0 * math.pi / (_WELCH_DFT_N - 1)


def q_psd_welch_dft(spark, sf_dir):
    """Relational WELCH periodogram under the full hash gate: the whole
    get_psd pipeline shape (tools.py:54-98 — segmentation, hann window,
    per-segment periodogram, mean summarize) expressed as SQL that DuckDB
    can replay.  Segments are rn div N per channel (incomplete tails
    dropped, replicating the stride-trick truncation of tools.py:67);
    the hann taper and the mod-N-reduced DFT trig evaluate at identical
    doubles in both engines (see q_psd_dft); the summarize stage is a
    plain AVG over segments.  Correctness anchor for the FFT kernel path
    (q_psd_welch does the same math in O(N log N)); the O(N^2) DFT is
    not the scale path.
    """
    per_seg = _welch_dft_segments(spark, sf_dir)
    return (
        per_seg.groupBy("channel_id", "k")
        .agg((F.round(F.avg("p"), 3) + F.lit(0.0)).alias("power"))
        .select("channel_id", "k", "power")
    )


def _welch_dft_segments(spark, sf_dir):
    """Shared per-(channel, segment, bin) windowed-DFT power table for
    the relational Welch family."""
    n = _WELCH_DFT_N
    sig = _sig_ch(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("t", "seq")
    base = (
        sig.withColumn("rn", F.row_number().over(w) - 1)
        .select(
            "channel_id",
            F.expr(f"rn div {n}").alias("seg"),
            (F.col("rn") % n).alias("m"),
            (F.col("value") / 100.0).alias("x"),
        )
    )
    segw = Window.partitionBy("channel_id", "seg")
    full = base.withColumn("nseg", F.count("*").over(segw)).filter(
        F.col("nseg") == n
    )
    xw = (F.col("x") * (0.5 - 0.5 * F.cos(F.lit(_HANN_C) * F.col("m")))).alias("xw")
    windowed = full.select("channel_id", "seg", "m", xw)
    kgrid = spark.range(0, n // 2 + 1).select(F.col("id").cast("int").alias("k"))
    ang = F.lit(_WELCH_W0) * ((F.col("m") * F.col("k")) % n)
    per_seg = (
        windowed.crossJoin(F.broadcast(kgrid))
        .groupBy("channel_id", "seg", "k")
        .agg(
            F.sum(F.col("xw") * F.cos(ang)).alias("re"),
            F.sum(F.col("xw") * F.sin(ang)).alias("im"),
        )
    )
    return per_seg.select(
        "channel_id",
        "seg",
        "k",
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("p"),
    )


def q_psd_summary_dft(spark, sf_dir):
    """The remaining get_psd summarize modes (tools.py:74-98 — median /
    max / min alongside mean) under the hash gate, over the same
    relational Welch segments as q_psd_welch_dft.  Median is the exact
    percentile (§2.4's oracle-parity note); max/min are order-exact;
    every reduced value is rounded on both sides.
    """
    per_seg = _welch_dft_segments(spark, sf_dir)
    return per_seg.groupBy("channel_id", "k").agg(
        (F.round(F.avg("p"), 3) + F.lit(0.0)).alias("p_mean"),
        (F.round(F.percentile("p", 0.5), 3) + F.lit(0.0)).alias("p_median"),
        (F.round(F.max("p"), 3) + F.lit(0.0)).alias("p_max"),
        (F.round(F.min("p"), 3) + F.lit(0.0)).alias("p_min"),
    )


_SQL_WELCH_SEG_CTES = f"""{_SIG_CTE},
r AS (
  SELECT channel_id, value / 100.0 AS x,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) - 1 AS rn
  FROM sig
),
b AS (
  SELECT channel_id, rn // {_WELCH_DFT_N} AS seg, rn % {_WELCH_DFT_N} AS m, x
  FROM r
),
c AS (
  SELECT *, COUNT(*) OVER (PARTITION BY channel_id, seg) AS nseg FROM b
),
f AS (
  SELECT channel_id, seg, m,
         x * (0.5 - 0.5 * COS({_HANN_C!r} * m)) AS xw
  FROM c WHERE nseg = {_WELCH_DFT_N}
),
kg AS (SELECT CAST(UNNEST(RANGE(0, {_WELCH_DFT_N // 2 + 1})) AS INTEGER) AS k),
agg AS (
  SELECT channel_id, seg, k,
         SUM(xw * COS({_WELCH_W0!r} * ((m * k) % {_WELCH_DFT_N}))) AS re,
         SUM(xw * SIN({_WELCH_W0!r} * ((m * k) % {_WELCH_DFT_N}))) AS im
  FROM f CROSS JOIN kg
  GROUP BY channel_id, seg, k
),
pseg AS (SELECT channel_id, seg, k, re * re + im * im AS p FROM agg)"""

SQL_PSD_WELCH_DFT = f"""
WITH {_SQL_WELCH_SEG_CTES}
SELECT channel_id, k, ROUND(AVG(p), 3) + 0.0 AS power
FROM pseg GROUP BY channel_id, k
"""

SQL_PSD_SUMMARY_DFT = f"""
WITH {_SQL_WELCH_SEG_CTES}
SELECT channel_id, k,
       ROUND(AVG(p), 3) + 0.0 AS p_mean,
       ROUND(QUANTILE_CONT(p, 0.5), 3) + 0.0 AS p_median,
       ROUND(MAX(p), 3) + 0.0 AS p_max,
       ROUND(MIN(p), 3) + 0.0 AS p_min
FROM pseg GROUP BY channel_id, k
"""


def q_training_mix(spark, sf_dir):
    """The full training-data preparation pipeline as ONE declarative
    plan: quality gate -> exact dedup -> test-set decontamination ->
    deterministic stratified sampling -> greedy sequence packing ->
    per-language mix report (docs, packs, tokens, pack fill ratio).
    Composes the standalone stages (quality_score, dedup_exact,
    decontaminate, stratified_sample, seq_pack) with identical
    arithmetic, so the end-to-end result stays oracle-exact — the oracle
    replays the whole pipeline including the packing recurrence in one
    recursive-CTE SQL statement.

    Scale shape: scoring and gram hashing are map-side; exact dedup is
    one hash agg on md5(text); the benchmark gram set is broadcast; the
    sample filter is a map-side predicate; packing shuffles once into
    per-(lang, shard) streams; the report agg is tiny.
    """
    d = _docs_par(spark, sf_dir)
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        _text.quality_expr().alias("quality"),
    )
    dedup = _persist(
        base.filter(F.col("quality") >= 0.6)
        .groupBy(F.md5("text").alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("text").alias("text"),
        )
    )  # feeds the decontamination probe AND the clean set:
    # one scan+quality+dedup pass instead of two
    # benchmark gram set from the RAW corpus slice (held-out docs are
    # excluded from training regardless of quality).  r15: gram hashes
    # via the Arrow kernel (text.gram_hash_map, pinned bit-identical to
    # gram_hash_expr) instead of interpreted per-gram md5 evals.
    bench = (
        _text.gram_hash_map(
            d.filter(F.col("doc_id") % 10 == 0).select("text"),
            _DECON_N,
            "",
        )
        .select(F.explode("gs").alias("h"))
        .distinct()
    )
    train_grams = _text.gram_hash_map(
        dedup.filter(F.col("doc_id") % 10 != 0).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ),
        _DECON_N,
        "doc_id long",
    ).select("doc_id", F.explode("gs").alias("h"))
    contaminated = train_grams.join(F.broadcast(bench), "h").select("doc_id").distinct()
    clean = dedup.filter(F.col("doc_id") % 10 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    sampled = clean.filter(
        _text.sample_bucket_expr()
        < _text.sample_threshold_expr(_SAMPLE_THRESH, _SAMPLE_DEFAULT)
    ).select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).cast("long").alias("shard"),
        "doc_id",
        "n_tokens",
    )
    packed = pack_sequences(
        sampled,
        _PACK_BUDGET,
        tokens_col="n_tokens",
        order_col="doc_id",
        group_cols=("lang", "shard"),
    )
    agg = packed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("shard", "pack_id").alias("n_packs"),
        F.sum("n_tokens").alias("sum_toks"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_packs",
        F.col("sum_toks").cast("long").alias("n_tokens"),
        F.round(F.col("sum_toks") / (F.col("n_packs") * float(_PACK_BUDGET)), 6).alias(
            "fill_ratio"
        ),
    )


SQL_TRAINING_MIX = f"""
WITH RECURSIVE tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, STRING_SPLIT(text, ' ') AS ws
  FROM documents
),
q AS (
  SELECT doc_id, text, lang, CAST(LEN(ws) AS INTEGER) AS n_tokens,
         ROUND(0.3 * LEAST(1.0, LENGTH(text) / 400.0)
             + 0.25 * GREATEST(0.0, 1.0 - ABS(LENGTH(text) / CAST(LEN(ws) AS DOUBLE) - 4.7) / 4.7)
             + 0.25 * LEAST(1.0, LEN(LIST_FILTER(ws, w -> w IN ('the','a','of','and','is')))
                                 / (LEN(ws) * 0.05))
             + 0.2 * (LEN(LIST_DISTINCT(ws)) / CAST(LEN(ws) AS DOUBLE)), 6) AS quality
  FROM tok
),
dedup AS (
  SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang, MIN(n_tokens) AS n_tokens,
         MIN(text) AS text
  FROM q WHERE quality >= 0.6 GROUP BY MD5(text)
),
bg AS (
  SELECT DISTINCT CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ws) - {_DECON_N - 1}, 1) + 1),
                                 i -> ARRAY_TO_STRING(ws[i:i+{_DECON_N - 1}], ' '))) AS s
    FROM tok WHERE doc_id % 10 = 0
  )
),
tg AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - {_DECON_N - 1}, 1) + 1),
                            i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+{_DECON_N - 1}], ' ')),
             s -> CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT)))) AS h
  FROM dedup WHERE doc_id % 10 != 0
),
contaminated AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (h)),
clean AS (
  SELECT doc_id, lang, n_tokens FROM dedup
  WHERE doc_id % 10 != 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sampled AS (
  SELECT lang, CAST(doc_id % {_PACK_SHARDS} AS BIGINT) AS shard, doc_id, n_tokens
  FROM clean
  WHERE CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), ':sample')), 1, 15))
             AS BIGINT) % {_SAMPLE_MOD} < {_sql_sample_case()}
),
o AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, shard ORDER BY doc_id) AS rn
  FROM sampled
),
r AS (
  SELECT lang, shard, doc_id, n_tokens, rn, 0 AS pack_id, n_tokens AS run
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.shard, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN r.run + o.n_tokens > {_PACK_BUDGET} THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.run + o.n_tokens > {_PACK_BUDGET} THEN o.n_tokens ELSE r.run + o.n_tokens END
  FROM r JOIN o ON o.lang = r.lang AND o.shard = r.shard AND o.rn = r.rn + 1
),
stats AS (
  SELECT lang, COUNT(*) AS n_docs,
         COUNT(DISTINCT (shard, pack_id)) AS n_packs,
         SUM(n_tokens) AS sum_toks
  FROM r GROUP BY lang
)
SELECT lang, n_docs, n_packs, CAST(sum_toks AS BIGINT) AS n_tokens,
       ROUND(sum_toks / (n_packs * {float(_PACK_BUDGET)!r}), 6) AS fill_ratio
FROM stats
"""


# ---------------------------------------------------------------------------
# round-6 corpus-curation tier (operators/curation.py)
# ---------------------------------------------------------------------------

from pandas_sigproc_spark.operators import curation as _cur

_BLOCK_TOKENS = 10


def q_para_dedup(spark, sf_dir):
    """CCNet-style block-level (paragraph) dedup: drop every repeated
    10-word block except its first corpus occurrence and reassemble the
    cleaned documents.  See operators/curation.py:block_dedup for the
    three-uniform-shuffle scale shape (digest partial agg + keeper
    equi-join + per-doc reassembly bounded by document length)."""
    d = _docs_par(spark, sf_dir)
    return _cur.block_dedup(d, _BLOCK_TOKENS)


SQL_PARA_DEDUP = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
b AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(
             RANGE(1, GREATEST(LEN(words), 1) + 1, {_BLOCK_TOKENS}),
             i -> {{'bid': CAST((i + {_BLOCK_TOKENS - 1}) // {_BLOCK_TOKENS} AS BIGINT),
                    'btext': ARRAY_TO_STRING(words[i:i+{_BLOCK_TOKENS - 1}], ' ')}})) AS u
  FROM tok
),
occ AS (SELECT doc_id, u.bid AS bid, u.btext AS btext, MD5(u.btext) AS digest FROM b),
marked AS (
  SELECT doc_id, bid, btext,
         (COUNT(*) OVER (PARTITION BY digest) < 2
          OR ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id, bid) = 1) AS keep
  FROM occ
)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
       ROUND(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_frac,
       COALESCE(ARRAY_TO_STRING(LIST(btext ORDER BY bid) FILTER (WHERE keep), ' '), '')
         AS clean_text
FROM marked GROUP BY doc_id
"""


_QC_THRESHOLD = 0.85


def q_quality_classify(spark, sf_dir):
    """Logistic quality classifier (model-based filter stage): four
    map-side features -> fixed-weight logistic score -> keep flag at
    threshold _QC_THRESHOLD (0.85).  0 shuffles, 0 UDFs — a single
    expression tree.
    The 6-dp rounding margin over exp() is pinned by
    tests/test_curation.py against DuckDB on the full corpus."""
    d = _docs_par(spark, sf_dir)
    return _cur.quality_classifier(d, threshold=_QC_THRESHOLD)


_QC_W = _cur.QUALITY_WEIGHTS

SQL_QUALITY_CLASSIFY = f"""
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         STRING_SPLIT(text, ' ') AS words,
         LENGTH(text) AS n_chars
  FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(LEN(words) AS BIGINT) AS n_tokens,
         LEAST(1.0, LEN(words) / 100.0) AS f_len,
         GREATEST(0.0, 1.0 - ABS(n_chars / LEN(words) - 4.7) / 4.7) AS f_awl,
         LEN(LIST_FILTER(words, w -> w IN ('the', 'a', 'of', 'and', 'is')))
           / CAST(LEN(words) AS DOUBLE) AS f_stop,
         LEN(LIST_DISTINCT(words)) / CAST(LEN(words) AS DOUBLE) AS f_uniq
  FROM f
),
scored AS (
  SELECT doc_id, n_tokens,
         ROUND(f_len, 6) AS f_len, ROUND(f_awl, 6) AS f_awl,
         ROUND(f_stop, 6) AS f_stop, ROUND(f_uniq, 6) AS f_uniq,
         ROUND(1.0 / (1.0 + EXP(-({_QC_W[0]!r} + {_QC_W[1]!r} * f_len
                                  + {_QC_W[2]!r} * f_awl + {_QC_W[3]!r} * f_stop
                                  + {_QC_W[4]!r} * f_uniq))), 6) AS score
  FROM feat
)
SELECT doc_id, n_tokens, f_len, f_awl, f_stop, f_uniq, score,
       score >= {_QC_THRESHOLD!r} AS keep
FROM scored
"""


def q_gopher_rules(spark, sf_dir):
    """The Gopher rule-based quality filter (Rae et al. 2021 A1.1) —
    the heuristic companion gate to quality_classify: word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, bullet /
    ellipsis line fractions, alphabetic-word fraction, and the
    required-word probe (>=2 of 8), with keep decided on unrounded
    values.  0 shuffles, 0 UDFs — one expression tree per document
    (operators/curation.py gopher_rules)."""
    d = _docs_par(spark, sf_dir)
    return _cur.gopher_rules(d)


def _sql_gopher_m(source_sql: str) -> str:
    """The Gopher metric CTEs (``f``/``m``) over any ``(doc_id, text)``
    row source — shared by SQL_GOPHER_RULES and the composed
    SQL_CRAWL_CURATE oracle so both replay identical rule math."""
    return (
        r"""f AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         STRING_SPLIT(text, ' ') AS ws,
         STRING_SPLIT(text, chr(10)) AS ls,
         LENGTH(text) AS tl
  FROM """
        + source_sql
        + r"""
),
m AS (
  SELECT doc_id,
    CAST(LEN(ws) AS BIGINT) AS n_words,
    LENGTH(REPLACE(text, ' ', '')) / CAST(LEN(ws) AS DOUBLE)
      AS mean_word_len,
    (  (tl - LENGTH(REPLACE(text, '#', '')))
     + (tl - LENGTH(REPLACE(text, '...', ''))) / 3
     + (tl - LENGTH(REPLACE(text, chr(8230), ''))) )
      / CAST(LEN(ws) AS DOUBLE) AS symbol_ratio,
    LEN(LIST_FILTER(ls, l -> regexp_matches(l, '^[ \t]*[' || chr(8226) || '*-]')))
      / CAST(LEN(ls) AS DOUBLE) AS bullet_frac,
    LEN(LIST_FILTER(ls, l -> regexp_matches(l, '(\.\.\.|' || chr(8230) || ')[ \t]*\z')))
      / CAST(LEN(ls) AS DOUBLE) AS ellipsis_frac,
    LEN(LIST_FILTER(ws, w -> regexp_matches(w, '[A-Za-z]')))
      / CAST(LEN(ws) AS DOUBLE) AS alpha_frac,
    CAST(LEN(LIST_INTERSECT(
        LIST_DISTINCT(LIST_TRANSFORM(ws, w -> LOWER(w))),
        ['the','be','to','of','and','that','have','with'])) AS BIGINT)
      AS n_required
  FROM f
)"""
    )


_SQL_GOPHER_KEEP = """(n_words BETWEEN 50 AND 100000)
         AND (mean_word_len >= 3.0) AND (mean_word_len <= 10.0)
         AND (symbol_ratio <= 0.1)
         AND (bullet_frac <= 0.1) AND (ellipsis_frac <= 0.3)
         AND (alpha_frac >= 0.8) AND (n_required >= 2)"""


SQL_GOPHER_RULES = f"""
WITH {_sql_gopher_m("documents")}
SELECT doc_id, n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(symbol_ratio, 6) AS symbol_ratio,
       ROUND(bullet_frac, 6) AS bullet_frac,
       ROUND(ellipsis_frac, 6) AS ellipsis_frac,
       ROUND(alpha_frac, 6) AS alpha_frac,
       n_required,
       {_SQL_GOPHER_KEEP} AS keep
FROM m
"""


def _warc_fixture_enc(uri_pairs):
    """The shared WARC producer stand-in for the crawl gates
    (crawl_curate, corpus_to_shards): HTML-wrap each document (escape
    chain + the script/comment boilerplate template the html_text
    oracle mirrors) and serialize one record per URI that
    ``uri_pairs(row) -> [uri, ...]`` yields — each gate supplies only
    its URI-variant device, so the gate-load-bearing escape/template
    logic lives ONCE (a review finding: two hand-copies could silently
    diverge).  Returns an applyInPandas kernel producing one
    record-gzipped archive per group."""
    import pandas as pd

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.sources.warc import encode_warc

        pdf = pdf.sort_values("doc_id")
        recs = []
        for r in pdf.itertuples():
            esc = (
                str(r.text)
                .replace("&", "&amp;")
                .replace("<", "&lt;")
                .replace(">", "&gt;")
            )
            html = (
                "<html><head><script>var a = 1 < 2;</script></head>"
                "<body><!-- boilerplate --><p>" + esc + "</p></body></html>"
            ).encode("utf-8")
            for uri in uri_pairs(r):
                recs.append({"uri": uri, "payload": html})
        return pd.DataFrame(
            {
                "archive_id": [int(pdf["doc_id"].min())],
                "payload": [encode_warc(recs, gzip_records=True)],
            }
        )

    return enc


def q_crawl_curate(spark, sf_dir):
    """The END-TO-END crawl pipeline gate — the composition a web-
    corpus user actually runs, chaining every round-10 crawl operator:

    1. each sf document is HTML-wrapped (python-side escape — the
       crawl-producer stand-in) and serialized TWICE per doc into
       per-source record-gzipped WARC archives under two messy URL
       variants of the SAME page (uppercase host + default port +
       utm_* + unsorted params vs lowercase + fbclid + fragment);
    2. warc_documents re-extracts the records (gzip split + header
       parse + Content-Length framing);
    3. html_text strips the markup back to the original text
       (whitespace-collapsed); canonicalize_url collapses both URL
       variants to ONE key;
    4. URL-level dedup keeps rank 1 per canonical key (n_url_dups
       proves both variants arrived), and gopher_rules issues the
       quality verdict on the extracted text.

    The oracle derives everything INDEPENDENTLY from the documents
    table: the canonical URL by CASE arithmetic, n_url_dups = 2, and
    the Gopher verdict over the whitespace-collapsed text (the shared
    _sql_gopher_m CTE) — so a green row certifies the whole chain:
    WARC framing, HTML extraction, URL canonicalization, dedup
    grouping, and rule math, composed.

    Scale shape: one applyInPandas archive encode per source (the
    producer), one zero-shuffle mapInPandas record explode, then
    JVM-only expression trees; the single exchange is the canonical-
    key window — the URL-dedup shuffle itself."""
    from pandas_sigproc_spark.operators.webcrawl import (
        canonicalize_url,
        html_text,
        warc_documents,
    )
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)

    def uri_pairs(r):
        i, source = int(r.doc_id), str(r.source)
        return [
            f"HTTP://WWW.{source}.COM:80/doc/{i}?utm_source=a&b=2&a=1",
            f"http://www.{source}.com/doc/{i}?a=1&b=2&fbclid=z#frag",
        ]

    archives = (
        d.select("doc_id", "text", "source")
        .groupBy("source")
        .applyInPandas(
            _warc_fixture_enc(uri_pairs), "archive_id long, payload binary"
        )
    )
    docs = warc_documents(archives).select(
        F.regexp_extract("uri", "/doc/([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("uri"),
        canonicalize_url(F.col("uri")).alias("url_key"),
        html_text(F.col("text")).alias("text"),
    )
    w = Window.partitionBy("url_key")
    wr = Window.partitionBy("url_key").orderBy("uri")
    deduped = (
        docs.withColumn("n_url_dups", F.count("*").over(w).cast("long"))
        .withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "uri")
    )
    g = _cur.gopher_rules(deduped, keep_cols=("url_key", "n_url_dups"))
    return g.select("doc_id", "url_key", "n_url_dups", "keep")


SQL_CRAWL_CURATE = f"""
WITH cleaned AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         trim(regexp_replace(text, '[ \\t\\r\\n\\f]+', ' ', 'g')) AS text
  FROM documents
),
{_sql_gopher_m("cleaned")}
SELECT m.doc_id,
       'http://www.' || c.source || '.com/doc/'
         || CAST(m.doc_id AS VARCHAR) || '?a=1&b=2' AS url_key,
       CAST(2 AS BIGINT) AS n_url_dups,
       {_SQL_GOPHER_KEEP} AS keep
FROM m JOIN cleaned c ON m.doc_id = c.doc_id
"""


_C2S_CAP = 50  # admission domain cap (trims the big hosts at sf0.01 up)


_DSIR_K = 100


def q_dsir_select(spark, sf_dir):
    """DSIR data selection under the FULL hash gate (Xie et al. 2023,
    arXiv:2302.03169 — operators/dsir.py): hashed-unigram importance
    weights of every document against the English-target distribution
    (target = ``lang = 'en'`` rows; raw = the whole corpus), then the
    deterministic Gumbel top-100 draw proportional to exp(weight).  The
    oracle is GENERATED from the same constants (dsir_duckdb_sql — the
    normalize_text single-homing rule), so a green hash certifies the
    feature hashing, the smoothed distribution fit, the per-document
    log-ratio sum (rounded-6 float contract), the salted-hash Gumbel
    arithmetic, and the top-k boundary itself.

    Scale shape: two map-side explode passes over corpus tokens (fit +
    score, the paper implementation's own two passes); the fit shuffles
    1024 bucket keys of partial counts, scoring shuffles one
    partial-summed row per document, the 1024-row log-ratio table
    broadcasts, and the selection is a global top-k
    (TakeOrderedAndProject) — the corpus text itself never shuffles."""
    from pandas_sigproc_spark.operators.dsir import dsir_select

    d = _docs_par(spark, sf_dir)
    return dsir_select(d, F.col("lang") == "en", _DSIR_K)


def _sql_dsir_select() -> str:
    from pandas_sigproc_spark.operators.dsir import dsir_duckdb_sql

    return dsir_duckdb_sql(target_sql="lang = 'en'", k=_DSIR_K)


def _c2s_archives(spark, sf_dir):
    """The capstone's WARC fixture PRODUCER (the crawl-bytes stand-in a
    real deployment gets from its fetchers): two messy URI variants of
    the SAME page per document, gzip-record WARC-encoded one archive
    per 32-way group.  Factored out so bench.py can time the stand-in
    separately from the pipeline it feeds (two timers, one leg — the
    producer is ~28% of the corpus_to_shards wall and is NOT engine
    cost)."""
    hosts = [e[0] for e in _URL_BLOCKLIST_EXPECT]
    paths = list(_ROBOTS_PATHS)

    def uri_pairs(r):
        # two messy variants of the SAME page (the crawl_curate
        # device): canonicalization must collapse them or the dedup
        # window keeps 2 rows and every digest shifts
        i = int(r.doc_id)
        h, p = hosts[i % 8], paths[i % 6]
        return [
            f"HTTP://{h.upper()}:80{p}?id={i}&utm_source=a",
            f"http://{h}{p}?id={i}&fbclid=z#frag",
        ]

    return (
        _docs_par(spark, sf_dir)
        .select("doc_id", "text")
        .withColumn("_g", (F.col("doc_id") % 32).cast("int"))
        .groupBy("_g")
        .applyInPandas(
            _warc_fixture_enc(uri_pairs), "archive_id long, payload binary"
        )
    )


def q_corpus_to_shards(spark, sf_dir):
    """The round-12 CAPSTONE: the complete 100 TB corpus job as ONE
    composed plan, crawl bytes to training shards —

    WARC ingest -> admission (URL blocklist + RFC 9309 robots + domain
    cap) -> URL-canonical dedup -> html_text -> normalize_text ->
    Gopher quality -> exact n-gram decontamination -> BPE token counts
    -> token-balanced shard assignment -> greedy packing ->
    WebDataset shard WRITE -> re-extract -> per-shard manifests.

    Every stage is an already-hash-gated operator (warc_extract,
    crawl_admission, crawl_curate, text_normalize, gopher_rules,
    decontaminate, bpe_pack, wds_roundtrip); what THIS gate certifies
    is the composition — verdicts feeding filters feeding token math
    feeding the sink, in one lineage.  The oracle derives the final
    shard manifests (member count, byte total, an order-canonical
    digest of every member's key/ext/md5) straight from the documents
    table: it replays admission from its own CASE expectation tables,
    quality/decontamination/BPE/packing from first-principles SQL, and
    never sees a WARC record, an HTML tag, or a tar byte — so a green
    hash certifies every seam at once (a dedup that kept both URL
    variants, a cap off by one host, a packing drift, or a tar header
    bug each change the digests).

    Scale shape: the producer stand-in is one applyInPandas WARC
    encode per 32-way group; everything from extraction to verdicts is
    JVM expression trees with two bounded windows (url_key dedup over
    the payload; the host-cap rank over a NARROW key projection whose
    admitted url_keys join back — payloads never shuffle through the
    low-cardinality host key); decontamination broadcasts the benchmark gram set;
    BPE counts fold per DISTINCT word; shard assignment is the
    distributed prefix sum; packing and the shard writer are one
    repartition + one sorted mapInPandas each, task state bounded by a
    single shard.  The one corpus-sized shuffle chain is exactly the
    dedup/pack exchanges the standalone gates already audit."""
    import pandas as pd

    from pyspark.sql import Window

    from pandas_sigproc_spark.operators.bpe import bpe_token_counts
    from pandas_sigproc_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )
    from pandas_sigproc_spark.operators.text import normalize_text_expr
    from pandas_sigproc_spark.operators.webcrawl import (
        canonicalize_url,
        html_text,
        url_blocklist_filter,
        warc_documents,
    )
    from pandas_sigproc_spark.operators.webdataset import (
        wds_members,
        write_wds_shards,
    )

    archives = _c2s_archives(spark, sf_dir)
    hosts = [e[0] for e in _URL_BLOCKLIST_EXPECT]
    docs = warc_documents(archives).select(
        F.regexp_extract("uri", "[?&]id=([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("uri"),
        canonicalize_url(F.col("uri")).alias("url_key"),
        html_text(F.col("text")).alias("ctext"),
    )
    wr = Window.partitionBy("url_key").orderBy("uri")
    # r15 optimization (guide §2.3 "shuffle keys and metadata instead of
    # payloads", §2.5 skew): the host-cap ranking used to run as a
    # Window over (host, elig) carrying ctext — host cardinality is
    # tiny (a handful of sources here; hot hosts at corpus scale), so
    # the whole admitted payload funneled into 1-2 tasks and the
    # normalize/Gopher expression chain downstream of the window ran
    # nearly serial (measured: a 1.5 s single-task stage inside the
    # 7 s leg; at 100 TB a hot host would be a straggler).  Now the
    # url-deduped payload table is materialized ONCE (the same eager
    # localCheckpoint lifecycle the keep/clean/sharded seams already
    # use — it also truncates the producer/decode subtree out of every
    # downstream re-analysis), admission is decided on a NARROW
    # (doc_id, url_key, host, verdict) projection — the low-cardinality
    # cap window shuffles ~50 bytes/row — and the admitted url_keys
    # equi-join back to the payload on the uniform url_key, restoring
    # full-width parallelism for normalize/Gopher.  Row set and bytes
    # are unchanged (verified bit-identical vs the window-on-payload
    # plan at sf0.01/sf0.1 before the swap).
    one = (
        docs.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "uri")
    ).localCheckpoint(eager=True)
    bl = url_blocklist_filter(
        one.select("doc_id", "url_key"), uri_col="url_key"
    ).withColumn(
        "path", F.regexp_extract("url_key", "^[a-z]+://[^/]+([^?#]*)", 1)
    )
    robots = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": [hosts[i] for i in _ADMIT_ROBOTS_HOST],
                "robots_txt": [
                    _ROBOTS_TEXTS[t] for t in _ADMIT_ROBOTS_HOST.values()
                ],
            }
        )
    )
    rb = robots_verdicts(bl, parse_robots(robots), agent="sparkbot")
    elig = F.col("category").isNull() & F.col("allowed")
    wcap = Window.partitionBy("host", elig).orderBy("doc_id")
    adm_keys = (
        rb.withColumn(
            "_admitted", elig & (F.row_number().over(wcap) <= _C2S_CAP)
        )
        .filter("_admitted")
        .select("url_key")
    )
    adm = one.join(adm_keys, "url_key")
    norm = adm.select(
        "doc_id", normalize_text_expr(F.col("ctext")).alias("text")
    )
    # required-word probe at >=1: the synthetic corpus vocabulary
    # carries only 'the' of the 8 Gopher probe words (measured:
    # n_required <= 1 for every sf0.01 doc), so the production
    # default of 2 would zero the pipeline and hollow the gate; at 1
    # the probe still bites (docs without 'the' drop) and the
    # word-count bound stays the main live filter.
    # r15 optimization (guide §3.3 "very wide plans"): the capstone's
    # three decision tables are eager localCheckpoints, not persists.
    # Every DataFrame op re-ANALYZES its whole accumulated logical plan
    # (and AQE re-optimizes it per query stage), so the composed
    # pipeline's driver time grew quadratically with depth — measured
    # 12.9s -> 4.7s at sf0.1 from exactly this change, with executor
    # work unchanged.  A persist pins blocks but keeps the full plan;
    # the checkpoint truncates it to the materialized blocks (the
    # bpe_train / graph.py lifecycle: blocks are reclaimed when the
    # last reference drops — release_caches has nothing to unpersist).
    # Same storage class as the persist it replaces at 100 TB.
    keep = (
        _cur.gopher_rules(norm, keep_cols=("text",), min_required_words=1)
        .filter("keep")
        .select("doc_id", "text")
    ).localCheckpoint(eager=True)
    hits = _cur.decontaminate_exact(
        keep,
        bench_pred=F.col("doc_id") % 10 == 0,
        n=_DECON_N,
        persist=_persist,
    )
    # clean and sharded are each consumed TWICE downstream (clean by
    # the BPE fold and the member text join; sharded by the packer and
    # the member key join) — persisted so the decontamination anti-join
    # and the distinct-word fold run once, not per consumer
    clean = (
        keep.filter(F.col("doc_id") % 10 != 0).join(
            hits.select("doc_id"), "doc_id", "left_anti"
        )
    ).localCheckpoint(eager=True)
    counts = bpe_token_counts(clean, _BPE_PACK_MERGES)
    sharded = assign_shards(
        counts, _BPE_SHARD_TOKENS, buckets=_SHARD_BUCKETS
    ).localCheckpoint(eager=True)
    packed = pack_sequences(
        sharded,
        _BPE_PACK_BUDGET,
        tokens_col="n_tokens",
        order_col="global_start",
        group_cols=("shard",),
    )
    mem = (
        sharded.select("doc_id", "shard", "global_start")
        .join(packed, ["shard", "global_start"])
        .join(clean, "doc_id")
    )
    key = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    js = F.concat(
        F.lit('{"doc_id":'),
        F.col("doc_id").cast("string"),
        F.lit(',"pack_id":'),
        F.col("pack_id").cast("string"),
        F.lit(',"pack_pos":'),
        F.col("pack_pos").cast("string"),
        F.lit(',"n_tokens":'),
        F.col("n_tokens").cast("string"),
        F.lit("}"),
    )
    # r15 optimization: ONE pass with a 2-way explode instead of a
    # self-union — the union's two arms each re-ran the mem join chain
    # (clean/sharded are persisted but the joins above them are not),
    # and the duplicated subtree also doubled every downstream
    # analysis pass.  Row multiset is identical (txt+json member per
    # doc); write_wds_shards lays members out in (key, ext) order, so
    # even the shard bytes are unchanged.
    members = mem.select(
        "shard",
        key.alias("key"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("txt").alias("ext"),
                    F.encode("text", "UTF-8").alias("payload"),
                ),
                F.struct(
                    F.lit("json").alias("ext"),
                    F.encode(js, "UTF-8").alias("payload"),
                ),
            )
        ).alias("_m"),
    ).select("shard", "key", F.col("_m.ext").alias("ext"), F.col("_m.payload").alias("payload"))
    back = wds_members(write_wds_shards(members), id_col="shard")
    return (
        back.select(
            "shard_id", "n_bytes",
            F.struct("key", "ext", F.md5("payload").alias("sha")).alias(
                "_e"
            ),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("_e")),
                        lambda x: F.concat_ws(
                            ":", x["key"], x["ext"], x["sha"]
                        ),
                    ),
                    ",",
                )
            ).alias("digest"),
        )
    )


def _sql_corpus_to_shards() -> str:
    """The capstone oracle: shard manifests from the documents table
    alone — admission from the gate expectation CASE tables, the
    html_text/normalize mirror, the shared Gopher CTE, the
    decontamination gram join, the unrolled BPE merge rounds, the
    integer shard/pack arithmetic, and an order-canonical digest."""
    from pandas_sigproc_spark.operators.text import normalize_duckdb_sql

    # The gate relaxes the Gopher rule count by TEXT substitution below;
    # if the shared constant ever drifts, fail here by name instead of
    # surfacing as a puzzling hash mismatch (ADVICE r12).
    assert "n_required >= 2" in _SQL_GOPHER_KEEP, (
        "_SQL_GOPHER_KEEP no longer contains 'n_required >= 2' — update "
        "the threshold substitution in _sql_corpus_to_shards to match"
    )

    rounds = []
    prev = "m0"
    for i, (a, b) in enumerate(_BPE_PACK_MERGES, start=1):
        rounds.append(_bpe_merge_round_sql(prev, f"m{i}", a, b))
        prev = f"m{i}"
    rounds_sql = ",".join(rounds)
    norm = normalize_duckdb_sql("text")
    js = (
        "'{\"doc_id\":' || CAST(doc_id AS VARCHAR)"
        " || ',\"pack_id\":' || CAST(pack_id AS VARCHAR)"
        " || ',\"pack_pos\":' || CAST(pack_pos AS VARCHAR)"
        " || ',\"n_tokens\":' || CAST(n_tokens AS VARCHAR) || '}'"
    )
    return f"""
WITH RECURSIVE src AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_url_blocklist_case([e[0] for e in _URL_BLOCKLIST_EXPECT])} AS host,
         {_url_blocklist_case([e[2] for e in _URL_BLOCKLIST_EXPECT])} AS category,
         {_sql_admission_robots_case()} AS robots_allowed,
         text
  FROM documents
),
adm AS (
  SELECT *,
         (category IS NULL AND robots_allowed) AS elig,
         ROW_NUMBER() OVER (
           PARTITION BY host, (category IS NULL AND robots_allowed)
           ORDER BY doc_id) AS rk
  FROM src
),
collapsed AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \\t\\r\\n\\f]+', ' ', 'g')) AS text
  FROM adm WHERE elig AND rk <= {_C2S_CAP}
),
cleaned AS (
  SELECT doc_id, {norm} AS text FROM collapsed
),
{_sql_gopher_m("cleaned")},
q AS (
  SELECT c.doc_id, c.text
  FROM m JOIN cleaned c USING (doc_id)
  WHERE {_SQL_GOPHER_KEEP.replace("n_required >= 2", "n_required >= 1")}
),
gtok AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM q
),
gg AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - {_DECON_N - 1}, 1) + 1),
                            i -> ARRAY_TO_STRING(words[i:i+{_DECON_N - 1}], ' ')),
             s -> CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT))) AS gs
  FROM gtok
),
ghx AS (SELECT doc_id, UNNEST(gs) AS h FROM gg),
benchx AS (SELECT DISTINCT h FROM ghx WHERE doc_id % 10 = 0),
contam AS (
  SELECT DISTINCT ghx.doc_id FROM ghx JOIN benchx USING (h)
  WHERE ghx.doc_id % 10 != 0
),
clean AS MATERIALIZED (
  SELECT q.doc_id, q.text FROM q
  WHERE doc_id % 10 != 0
    AND doc_id NOT IN (SELECT doc_id FROM contam)
),
base AS (
  SELECT doc_id,
         string_split_regex(LOWER(text), '[ \\t\\n\\r\\f\\v]+') AS ws
  FROM clean
),
wd AS (
  SELECT doc_id, u.wi, u.word
  FROM base,
  LATERAL (SELECT UNNEST(ws) AS word, generate_subscripts(ws, 1) AS wi) u
  WHERE u.word <> ''
),
m0 AS (
  SELECT doc_id, wi, u.ti, u.tok
  FROM (
    SELECT doc_id, wi,
           list_concat(
             list_transform(range(1, LENGTH(word) + 1),
               i -> SUBSTRING(word, CAST(i AS INTEGER), 1)),
             ['</w>']) AS toks
    FROM wd
  ) t,
  LATERAL (SELECT UNNEST(toks) AS tok, generate_subscripts(toks, 1) AS ti) u
),{rounds_sql},
cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM {prev} GROUP BY doc_id
),
tok AS (
  SELECT doc_id, n_tokens,
         CAST(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_SHARD_BUCKETS} AS INTEGER) AS bucket
  FROM cnt WHERE n_tokens > 0
),
sh AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS gs
  FROM tok
),
o AS MATERIALIZED (
  SELECT doc_id,
         CAST(gs // {_BPE_SHARD_TOKENS} AS BIGINT) AS shard,
         CAST(gs AS BIGINT) AS global_start,
         n_tokens,
         ROW_NUMBER() OVER (PARTITION BY gs // {_BPE_SHARD_TOKENS} ORDER BY gs) AS rn
  FROM sh
),
r AS (
  SELECT shard, global_start, n_tokens, rn,
         0 AS pack_id, 0 AS pack_pos, n_tokens AS run
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.global_start, o.n_tokens, o.rn,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN 0 ELSE r.pack_pos + 1 END,
         CASE WHEN r.run + o.n_tokens > {_BPE_PACK_BUDGET} THEN o.n_tokens ELSE r.run + o.n_tokens END
  FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
),
memx AS (
  SELECT o.doc_id, r.shard, r.pack_id, r.pack_pos, r.n_tokens, c.text
  FROM r
  JOIN o ON o.shard = r.shard AND o.rn = r.rn
  JOIN clean c ON c.doc_id = o.doc_id
),
rows2 AS (
  SELECT shard AS shard_id,
         LPAD(CAST(doc_id AS VARCHAR), 8, '0') AS key,
         'txt' AS ext,
         CAST(STRLEN(text) AS BIGINT) AS n_bytes,
         MD5(text) AS sha
  FROM memx
  UNION ALL
  SELECT shard,
         LPAD(CAST(doc_id AS VARCHAR), 8, '0'),
         'json',
         CAST(STRLEN({js}) AS BIGINT),
         MD5({js})
  FROM memx
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
       MD5(STRING_AGG(key || ':' || ext || ':' || sha, ','
                      ORDER BY key, ext)) AS digest
FROM rows2
GROUP BY shard_id
"""


# ide_scan geometry: 3-axis frames at 1024 Hz on the 32768 Hz MIDE
# device clock (32 ticks/frame), 64-frame blocks, first block START
# just below the 2**24 time-code modulus so block 0 STRADDLES the
# rollover and every later block sits past it — the gate exercises the
# unwrap, not just the happy path.
_IDE_SUBS = 3
_IDE_FRAMES = 64
_IDE_TICKS_PER_FRAME = 32
_IDE_TICK0 = 16_776_000


def q_ide_scan(spark, sf_dir):
    """The ``.ide`` source under the FULL hash gate — the reference's
    entire ingest layer is this format (``daq/io.py:161-301``).  Each
    of 4 "recorders" takes its slice of the events table (event_id % 4,
    rank-ordered), quantizes a deterministic int16 stream, and writes a
    REAL MIDE-profile EBML file (sources/mide.py encode_mide: struct
    "<hhh" interleaved 3-axis frames, start/end block time codes
    stored modulo 2**24, referenced univariate polynomial
    calibrations).  The files are read back through
    ``spark.read.format("ide")`` (the Spark 4 Python Data Source, one
    partition per file) and the gate emits every decoded sample.  The
    oracle derives (recorder, axis, t, value) straight from the events
    parquet by integer arithmetic — it never sees an EBML byte — so a
    green hash certifies varint framing, container walking, the
    struct-format de-interleave, the modulus unwrap (block 0 straddles
    2**24 by construction), time-code interpolation, and the
    calibration polynomials, end to end.  All constants are powers of
    two, so every float on both sides is exact.

    Scale shape: one applyInPandas encode per recorder (the producer
    stand-in — real recorders write these files; the driver collect is
    4 manifest rows), then one scan task per .ide file — exactly the
    per-file parallelism a fleet of loggers gives a real cluster
    (ide_datasource.py docs; the 100 TB pattern is read-once ->
    canonical parquet)."""
    import shutil

    import numpy as np
    import pandas as pd

    from pandas_sigproc_spark.sources.ide_datasource import (
        register_ide_source,
    )

    per_block = _IDE_FRAMES * _IDE_SUBS
    block_ticks = _IDE_FRAMES * _IDE_TICKS_PER_FRAME
    tick0 = _IDE_TICK0
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".idegate",
        os.path.basename(sf_dir.rstrip("/")),
    )
    shutil.rmtree(out_dir, ignore_errors=True)  # idempotent per call
    os.makedirs(out_dir, exist_ok=True)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").cast("long").alias("event_id"),
        (F.col("event_id") % 4).cast("int").alias("g"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        from pandas_sigproc_spark.sources.mide import encode_mide

        pdf = pdf.sort_values("event_id")
        g = int(pdf["g"].iloc[0])
        raw = (
            (pdf["event_id"].to_numpy(np.int64) * 2731) % 4096 - 2048
        ).astype(np.int16)
        nb = len(raw) // per_block  # whole blocks only; tail dropped
        blocks = []
        for b in range(nb):
            fr = raw[b * per_block : (b + 1) * per_block].reshape(
                _IDE_FRAMES, _IDE_SUBS
            )
            start = tick0 + b * block_ticks
            blocks.append((start, start + block_ticks, fr))
        channels = [
            {
                "ch_id": 8,
                "name": "Accel",
                "fmt": "<hhh",
                "subchannels": [
                    {"sub_id": 0, "name": "X", "units": "g", "cal_id": 1},
                    {"sub_id": 1, "name": "Y", "units": "g", "cal_id": 2},
                    {"sub_id": 2, "name": "Z", "units": "g", "cal_id": 3},
                ],
                "blocks": blocks,
            }
        ]
        cals = {
            1: (0.0, [1.0 / 128, 0.25]),
            2: (2048.0, [1.0 / 64, 0.0]),
            3: (0.0, [1.0 / 256, -0.5]),
        }
        blob = encode_mide(channels, cals, time_base_utc=1_704_067_200)
        fn = os.path.join(out_dir, f"rec{g}.ide")
        tmp = f"{fn}.{os.getpid()}.inprogress"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.rename(tmp, fn)  # atomic: the read below never sees a torn file
        return pd.DataFrame({"g": [g], "n_bytes": [len(blob)]})

    # bounded collect: ONE manifest row per recorder file, never samples
    ev.groupBy("g").applyInPandas(build, "g int, n_bytes long").collect()
    register_ide_source(spark)
    df = spark.read.format("ide").load(out_dir)
    return df.select(
        F.regexp_extract("channel_id", "rec([0-9]+)\\.ide", 1)
        .cast("int")
        .alias("recorder"),
        F.regexp_extract("channel_id", ":Accel:([XYZ])$", 1).alias("axis"),
        "t",
        F.col("value"),
    )


SQL_IDE_SCAN = f"""
WITH r AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(event_id % 4 AS INTEGER) AS g,
         ROW_NUMBER() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY event_id % 4) AS n
  FROM events
),
s AS (
  SELECT g, rn,
         CAST((event_id * 2731) % 4096 - 2048 AS DOUBLE) AS raw,
         rn // {_IDE_FRAMES * _IDE_SUBS} AS b,
         (rn % {_IDE_FRAMES * _IDE_SUBS}) // {_IDE_SUBS} AS i,
         CAST(rn % {_IDE_SUBS} AS INTEGER) AS k
  FROM r
  WHERE rn < (n // {_IDE_FRAMES * _IDE_SUBS}) * {_IDE_FRAMES * _IDE_SUBS}
)
SELECT g AS recorder,
       CASE k WHEN 0 THEN 'X' WHEN 1 THEN 'Y' ELSE 'Z' END AS axis,
       ({_IDE_TICK0} + b * {_IDE_FRAMES * _IDE_TICKS_PER_FRAME}
        + i * {_IDE_TICKS_PER_FRAME}) / 32768.0 AS t,
       CASE k WHEN 0 THEN raw / 128.0 + 0.25
              WHEN 1 THEN (raw - 2048.0) / 64.0
              ELSE raw / 256.0 - 0.5 END AS value
FROM s
"""


_PR_ITER = 5
_PR_D = 0.85


def q_link_pagerank(spark, sf_dir):
    """The crawl LINK-GRAPH pipeline under the hash gate: each sf
    document becomes an HTML page carrying two deterministic outbound
    anchors (one double-quoted, one single-quoted href — targets
    derived from doc_id arithmetic over the 20 source hosts), the
    edges are extracted NATIVELY (html_links -> explode -> url_host),
    and host-level PageRank runs 5 fixed power steps
    (operators/linkgraph.py — the authority prior crawl curation
    weights corpora by).  The oracle derives the same edges by CASE
    arithmetic and replays the power iteration as an UNROLLED chain
    of 5 CTE stages — certifying link extraction, host keying, edge
    dedup, out-degree math, and the damped update, composed.

    Scale shape: link extraction is a per-row expression tree; each
    power step is ONE exchange (the contribution groupBy on the
    destination host) with lineage cut per step (localCheckpoint, the
    graph.py rule)."""
    from pandas_sigproc_spark.operators.linkgraph import pagerank
    from pandas_sigproc_spark.operators.webcrawl import (
        html_links,
        url_host,
    )

    d = _docs_par(spark, sf_dir)
    i = F.col("doc_id").cast("long")
    h1 = F.concat(F.lit("src"), ((i * 7 + 1) % 20).cast("string"))
    h2 = F.concat(F.lit("src"), ((i * 13 + 3) % 20).cast("string"))
    html = F.concat(
        F.lit('<p>see <a href="http://'),
        h1,
        F.lit('.example.com/x">one</a> and <a href=\'http://'),
        h2,
        F.lit(".example.com/y'>two</a></p>"),
    )
    links = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("src"),
        F.explode(html_links(html)).alias("link"),
    )
    edges = links.select(
        "src", url_host(F.col("link")).alias("dst")
    )
    # rounding is a GATE concern (hash comparability), not the
    # operator's: at real host counts rank ~ 1/N sits far below any
    # fixed decimal grid
    return pagerank(edges, _PR_ITER, damping=_PR_D).select(
        F.col("node").alias("host"), F.round("rank", 6).alias("rank")
    )


def _sql_link_pagerank() -> str:
    d = _PR_D
    base = f"{(1.0 - d)!r}/(SELECT n FROM nn)"
    stages = []
    for t in range(_PR_ITER):
        stages.append(
            f"""pr{t + 1} AS (
  SELECT nd.node,
         {base} + {d!r} * COALESCE(c.contrib, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT ew.dst, SUM(p.rank / ew.outdeg) AS contrib
    FROM ew JOIN pr{t} p ON ew.src = p.node GROUP BY ew.dst
  ) c ON nd.node = c.dst
)"""
        )
    return (
        """
WITH raw AS (
  SELECT source || '.example.com' AS src,
         'src' || CAST((CAST(doc_id AS BIGINT) * 7 + 1) % 20 AS VARCHAR)
           || '.example.com' AS dst
  FROM documents
  UNION ALL
  SELECT source || '.example.com' AS src,
         'src' || CAST((CAST(doc_id AS BIGINT) * 13 + 3) % 20 AS VARCHAR)
           || '.example.com' AS dst
  FROM documents
),
e AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
pr0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
"""
        + ",\n".join(stages)
        + f"""
SELECT node AS host, ROUND(rank, 6) AS rank FROM pr{_PR_ITER}
"""
    )


SQL_LINK_PAGERANK = _sql_link_pagerank()


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination — the constant-memory scale path of
    q_decontaminate: the benchmark slice's distinct 5-gram hashes are
    folded into a 2^20-bit bitmap (256 KiB, independent of suite size)
    and every training document is probed MAP-SIDE against one
    broadcast row.  The corpus never shuffles and never equi-joins;
    at this bitmap sizing the probe is exact on the test corpus (the
    FP analysis lives in operators/curation.py).
    """
    d = _docs_par(spark, sf_dir)
    # r15: gram hashing via the Arrow kernel (see q_decontaminate).
    bench = (
        _text.gram_hash_map(
            d.filter(F.col("doc_id") % 10 == 0).select("text"), _DECON_N, ""
        )
        .select(F.explode("gs").alias("h"))
        .distinct()
    )
    bitmap = _cur.build_bloom_bitmap(bench)
    return _cur.bloom_probe(
        d.filter(F.col("doc_id") % 10 != 0), bitmap, _DECON_N
    )


_BLOOM_M = _cur.BLOOM_M_BITS
_BLOOM_KS = ", ".join(f"({j})" for j in range(_cur.BLOOM_K))

SQL_BLOOM_DECONTAMINATE = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, STRING_SPLIT(text, ' ') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - {_DECON_N - 1}, 1) + 1),
                            i -> ARRAY_TO_STRING(words[i:i+{_DECON_N - 1}], ' ')),
             s -> CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT))) AS gs
  FROM tok
),
gh AS (SELECT doc_id, UNNEST(gs) AS h FROM g),
bench AS (SELECT DISTINCT h FROM gh WHERE doc_id % 10 = 0),
bpos AS (
  SELECT (h % {_BLOOM_M} + j * ((h >> 20) % ({_BLOOM_M} - 1) + 1)) % {_BLOOM_M} AS pos
  FROM bench CROSS JOIN (VALUES {_BLOOM_KS}) ks(j)
),
bitmap AS (
  SELECT pos >> 5 AS wi, BIT_OR(1::BIGINT << (pos % 32)) AS bits
  FROM bpos GROUP BY 1
),
probe AS (
  SELECT doc_id, h,
         (h % {_BLOOM_M} + j * ((h >> 20) % ({_BLOOM_M} - 1) + 1)) % {_BLOOM_M} AS pos
  FROM gh CROSS JOIN (VALUES {_BLOOM_KS}) ks(j)
  WHERE doc_id % 10 != 0
),
pt AS (
  SELECT doc_id, h,
         BOOL_AND(COALESCE(bits, 0) % ((1::BIGINT << (pos % 32)) * 2)
                  >= (1::BIGINT << (pos % 32))) AS hit
  FROM probe LEFT JOIN bitmap ON bitmap.wi = probe.pos >> 5
  GROUP BY doc_id, h
)
SELECT doc_id, COUNT(*) AS n_ngrams,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       ROUND(SUM(CASE WHEN hit THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS flag_frac
FROM pt GROUP BY doc_id
"""


def q_temp_sample(spark, sf_dir):
    """Temperature-scaled language rebalancing (T=2): per-language keep
    thresholds DERIVED from corpus counts (integer-exact weight sums —
    see operators/curation.py:temperature_thresholds), applied as a
    deterministic map-side hash filter.  The corpus side never
    shuffles; the threshold table is language-cardinality and
    broadcast."""
    d = _docs_par(spark, sf_dir)
    return _cur.temperature_sample(d)


SQL_TEMP_SAMPLE = f"""
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS w
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(w) AS wsum, SUM(n_docs) AS n FROM per),
thr AS (
  SELECT lang, n_docs,
         CAST(FLOOR({float(_SAMPLE_MOD)!r} * LEAST(n_docs,
             CAST(FLOOR((CAST(n AS DOUBLE) * w) / CAST(wsum AS DOUBLE)) AS BIGINT))
             / n_docs) AS BIGINT) AS thr
  FROM per CROSS JOIN tot
),
u AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR), ':tsample')), 1, 15))
              AS BIGINT) % {_SAMPLE_MOD} AS u
  FROM documents
)
SELECT u.doc_id, u.lang, u.u
FROM u JOIN thr USING (lang)
WHERE u.u < thr.thr
"""


def q_pii_scrub(spark, sf_dir):
    """Regex PII masking over the events props payload: chained
    regexp_replace (email -> IP -> digit runs) plus a masked-character
    count.  Pure map-side codegen — 0 shuffles, 0 UDFs; the regex
    subset is portable between Java regex and RE2 so the oracle replays
    it byte-for-byte."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _cur.scrub_pii(ev, "props").select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "props_scrubbed",
        "props_masked_chars",
    )


def _sql_pii_scrub() -> str:
    scrubbed = "props"
    for pat, rep in _cur.PII_RULES:
        scrubbed = f"REGEXP_REPLACE({scrubbed}, '{pat}', '{rep}', 'g')"
    stripped = "props_scrubbed"
    for _, rep in _cur.PII_RULES:
        stripped = f"REPLACE({stripped}, '{rep}', '')"
    return f"""
WITH s AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, event_type, props,
         {scrubbed} AS props_scrubbed
  FROM events
)
SELECT event_id, event_type, props_scrubbed,
       CAST(LENGTH(props) - LENGTH({stripped}) AS BIGINT) AS props_masked_chars
FROM s
"""


SQL_PII_SCRUB = _sql_pii_scrub()


def q_incr_dedup(spark, sf_dir):
    """Incremental ingestion dedup (daily-crawl pattern): a delta batch
    is screened against the existing corpus without rescanning it as
    text — only digest and band-key probes.  The delta here is the
    doc_id%5==4 slice plus RELABELED copies of the doc_id%25==0 docs
    (+100000 ids), so the exact-dup flag, the near-dup-vs-existing
    count, and the within-delta defer rule all fire on driver data.
    See operators/curation.py:incremental_dedup for the scale shape."""
    d = _docs_par(spark, sf_dir)
    base = d.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    existing = base.filter(F.col("doc_id") % 5 != 4)
    delta = base.filter(F.col("doc_id") % 5 == 4).unionByName(
        base.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return _cur.incremental_dedup(existing, delta)


def _sql_incr_dedup() -> str:
    p = _cur.INCR_MINHASH_P
    perms = _cur.INCR_MINHASH_PERMS
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(perms)
    )
    n_bands = len(perms) // _cur.INCR_BAND_ROWS
    est = "(" + " + ".join(
        f"CASE WHEN ds.m{i} = es.m{i} THEN 1 ELSE 0 END" for i in range(len(perms))
    ) + ") / 8.0"
    est_dd = "(" + " + ".join(
        f"CASE WHEN ds.m{i} = d2s.m{i} THEN 1 ELSE 0 END" for i in range(len(perms))
    ) + ") / 8.0"

    def _bands_sql(table: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, m{2*b} * {p} + m{2*b+1} AS key FROM {table}"
            for b in range(n_bands)
        )

    def _sig_cte(src: str) -> str:
        return f"""
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(sh), 1, 15)) AS BIGINT) % {p} AS h
    FROM (
      SELECT DISTINCT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                                   i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM {src})
    )
  ) GROUP BY doc_id"""

    return f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
ex AS (SELECT doc_id, text FROM base WHERE doc_id % 5 != 4),
delta AS (
  SELECT doc_id, text FROM base WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 25 = 0
),
dd AS (SELECT doc_id, MD5(text) AS digest FROM delta),
exd AS (SELECT DISTINCT MD5(text) AS digest FROM ex),
firsts AS (SELECT digest, MIN(doc_id) AS f FROM dd GROUP BY digest),
exact AS (
  SELECT dd.doc_id,
         (exd.digest IS NOT NULL OR dd.doc_id > firsts.f) AS is_exact_dup
  FROM dd
  JOIN firsts USING (digest)
  LEFT JOIN exd USING (digest)
),
dsig AS ({_sig_cte("delta")}),
esig AS ({_sig_cte("ex")}),
dband AS ({_bands_sql("dsig")}),
eband AS ({_bands_sql("esig")}),
cand_ex AS (
  SELECT DISTINCT dband.doc_id AS d_id, eband.doc_id AS e_id
  FROM dband JOIN eband USING (band, key)
),
near_ex AS (
  SELECT c.d_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_existing
  FROM cand_ex c
  JOIN dsig ds ON ds.doc_id = c.d_id
  JOIN esig es ON es.doc_id = c.e_id
  WHERE {est} >= 0.5
  GROUP BY c.d_id
),
cand_dd AS (
  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS d2_id
  FROM dband a JOIN dband b USING (band, key)
  WHERE b.doc_id < a.doc_id
),
near_dd AS (
  SELECT c.d_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_delta_earlier
  FROM cand_dd c
  JOIN dsig ds ON ds.doc_id = c.d_id
  JOIN dsig d2s ON d2s.doc_id = c.d2_id
  WHERE {est_dd} >= 0.5
  GROUP BY c.d_id
)
SELECT e.doc_id, e.is_exact_dup,
       COALESCE(nx.n_near_existing, 0) AS n_near_existing,
       COALESCE(nd.n_near_delta_earlier, 0) AS n_near_delta_earlier,
       (NOT e.is_exact_dup AND COALESCE(nx.n_near_existing, 0) = 0
        AND COALESCE(nd.n_near_delta_earlier, 0) = 0) AS kept
FROM exact e
LEFT JOIN near_ex nx USING (doc_id)
LEFT JOIN near_dd nd USING (doc_id)
"""


SQL_INCR_DEDUP = _sql_incr_dedup()


def q_incr_dedup_store(spark, sf_dir):
    """q_incr_dedup's probe run off the MATERIALIZED signature store —
    the full production lifecycle under the driver gate: the corpus
    half is written as a store batch, the second half APPENDED as a new
    batch, the store COMPACTED (batch dirs rewritten + meta-swapped,
    operators/sigstore.py), and the delta screened via
    incremental_dedup_from_store without ever rescanning corpus text.
    The oracle is SQL_INCR_DEDUP verbatim: the store path's equality
    contract says the verdict frame is EXACTLY the text path's.

    Scale shape: the probe is curation._incremental_dedup_core on two
    ~150 B/doc parquet tables; the build/append/compact writes are the
    maintenance cycle a deployment runs per admitted crawl batch."""
    import shutil

    from pandas_sigproc_spark.operators.sigstore import (
        compact_signature_store,
        incremental_dedup_from_store,
        read_signature_store,
        write_signature_store,
    )

    d = _docs_par(spark, sf_dir)
    base = d.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    existing = base.filter(F.col("doc_id") % 5 != 4)
    delta = base.filter(F.col("doc_id") % 5 == 4).unionByName(
        base.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".sigstore_gate", sf_tag
    )
    shutil.rmtree(path, ignore_errors=True)  # idempotent per call
    # partitions=8: multi-partition batch layout without 32-file churn
    # at gate SF (a deployment sizes this to its batch bytes instead)
    write_signature_store(
        existing.filter(F.col("doc_id") % 2 == 0), path, partitions=8
    )
    write_signature_store(
        existing.filter(F.col("doc_id") % 2 != 0), path,
        mode="append", partitions=8,
    )
    compact_signature_store(spark, path, partitions=8)
    store = read_signature_store(spark, path)
    return incremental_dedup_from_store(store, delta)


# ---------------------------------------------------------------------------
# round-6 LM-perplexity quality filter (operators/lm.py) + source overlap
# ---------------------------------------------------------------------------

# CCNet-style fixed cutoffs on the rounded log10-perplexity (its
# production per-language thresholds are likewise published constants,
# not data-derived at query time); chosen to straddle the measured
# sf0.01/sf0.1 score distributions (terciles ~1.56/1.60 and ~1.49/1.51).
_LM_T1, _LM_T2 = 1.49, 1.56
_LM_ALPHA = 0.5


def q_lm_ppl(spark, sf_dir):
    """CCNet-style LM quality filter, production form: train an
    add-alpha bigram LM on the src0 slice, score EVERY document by
    average negative log10 transition probability, bucket
    head/middle/tail with FIXED cutoffs (map-side CASE — no global
    window anywhere; the LM tables broadcast).  See operators/lm.py
    for the scale shape."""
    from pandas_sigproc_spark.operators.lm import ngram_lm_score

    d = _docs_par(spark, sf_dir)
    ref = d.filter(F.col("source") == "src0")
    return ngram_lm_score(
        d, ref, alpha=_LM_ALPHA, thresholds=(_LM_T1, _LM_T2)
    )


def q_lm_ppl_terciles(spark, sf_dir):
    """Scale-safe tercile BOOTSTRAP of `lm_ppl` (r8 rewrite — the old
    form ran NTILE(3) as an unpartitioned window over every scored doc,
    a single-task funnel at corpus scale): tercile cutoffs are derived
    from a deterministic md5 sample of the scored docs via the exact
    ``percentile`` aggregate (memory bounded by the sample), rounded,
    broadcast as one row, and applied as the same map-side CASE as the
    production fixed-threshold mode.  NO window in the plan
    (tests/test_lm.py asserts it); the exact-NTILE mode survives as the
    small-SF audit twin inside operators/lm.py."""
    from pandas_sigproc_spark.operators.lm import ngram_lm_score

    d = _docs_par(spark, sf_dir)
    ref = d.filter(F.col("source") == "src0")
    return ngram_lm_score(
        d, ref, alpha=_LM_ALPHA, thresholds="sampled", persist=_persist
    )


def _sql_lm_scored_cte() -> str:
    """Shared CTE block: per-doc (n_trans, rounded log10_ppl) under the
    add-alpha bigram LM trained on the src0 slice — composed by BOTH
    lm oracles as a named constant (never spliced out of rendered
    SQL)."""
    a = _LM_ALPHA
    return f"""
base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, source FROM documents),
ref AS (SELECT text FROM base WHERE source = 'src0'),
uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')) AS w1
        FROM ref)
  GROUP BY w1
),
voc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
rp AS (
  SELECT pr.w1 AS w1, pr.w2 AS w2 FROM (
    SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1),
                  i -> {{'w1': words[i], 'w2': words[i + 1]}})) AS pr
    FROM (SELECT LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '') AS words
          FROM ref)
  )
),
big AS (SELECT w1, w2, COUNT(*) AS c2 FROM rp GROUP BY w1, w2),
dp AS (
  SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM (
    SELECT doc_id,
           UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1),
                  i -> {{'w1': words[i], 'w2': words[i + 1]}})) AS pr
    FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w != '')
                 AS words FROM base)
  )
),
lp AS (
  SELECT dp.doc_id,
         LOG10((COALESCE(big.c2, 0) + {a})
               / (COALESCE(uni.c1, 0) + {a} * (voc.v + 1.0))) AS l
  FROM dp
  LEFT JOIN big USING (w1, w2)
  LEFT JOIN uni USING (w1)
  CROSS JOIN voc
),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
         ROUND(-SUM(l) / COUNT(*), 6) AS log10_ppl
  FROM lp GROUP BY doc_id
)"""


SQL_LM_PPL = f"""
WITH {_sql_lm_scored_cte()}
SELECT doc_id, n_trans, log10_ppl,
       CASE WHEN log10_ppl <= {_LM_T1} THEN 'head'
            WHEN log10_ppl <= {_LM_T2} THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc
"""


SQL_LM_PPL_TERCILES = f"""
WITH {_sql_lm_scored_cte()},
samp AS (
  -- salted like text.sample_bucket_expr(':lmppl'): decorrelated from
  -- every other doc_id-hash operator (r13 review finding)
  SELECT log10_ppl FROM sc
  WHERE CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(doc_id AS VARCHAR),
        ':lmppl')), 1, 15)) AS BIGINT) % 4 = 0
),
cuts AS (
  SELECT ROUND(QUANTILE_CONT(log10_ppl, 1.0/3), 6) AS t1,
         ROUND(QUANTILE_CONT(log10_ppl, 2.0/3), 6) AS t2
  FROM samp
)
SELECT doc_id, n_trans, log10_ppl,
       CASE WHEN log10_ppl <= t1 THEN 'head'
            WHEN log10_ppl <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc CROSS JOIN cuts
"""


def q_source_overlap(spark, sf_dir):
    """Cross-source MinHash overlap matrix: estimated shingle-set
    Jaccard between every pair of sources in one corpus pass (per-
    (source, perm) MIN partial agg; the elementwise min over a union
    IS the union's MinHash).  See operators/curation.py:source_overlap
    for the scale shape."""
    d = _docs_par(spark, sf_dir)
    return _cur.source_overlap(
        d.select(F.col("source"), "text")
    ).orderBy("src_a", "src_b")


def _sql_source_overlap() -> str:
    p = _cur.INCR_MINHASH_P
    perms = _cur.INCR_MINHASH_PERMS
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(perms)
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(len(perms))
    )
    return f"""
WITH sh AS (
  SELECT source AS grp,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 2, 1) + 1),
                i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS s
  FROM (SELECT source, STRING_SPLIT(text, ' ') AS words FROM documents)
),
hh AS (
  SELECT grp, CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT) % {p} AS h
  FROM sh
),
sig AS (SELECT grp, {mins} FROM hh GROUP BY grp)
SELECT a.grp AS src_a, b.grp AS src_b,
       ({agree}) / {float(len(perms))} AS est_jaccard
FROM sig a JOIN sig b ON a.grp < b.grp
ORDER BY src_a, src_b
"""


SQL_SOURCE_OVERLAP = _sql_source_overlap()


# ---------------------------------------------------------------------------
# streaming tier under the driver gate (round 13 — r12 verdict #3): the one
# shipped tier that had ZERO oracle coverage (SURVEY.md §2.9; the reference
# is batch-only, streaming is the engine's extension, previously pinned
# stream==batch by pytest fixtures alone).  Both gates replay the sf tables
# as GENUINE multi-micro-batch file-source streams (one parquet file per
# batch, mtime-ordered, maxFilesPerTrigger=1 + trigger(availableNow) — the
# tests/test_streaming.py harness) into a parquet file sink, so a green
# hash certifies cross-batch state carry on the driver's own data.  The
# sink is files, not a memory sink: results never materialize on the
# driver, the same shape a production stream has at any scale.
# ---------------------------------------------------------------------------


def _replay_stream_gate(spark, name, sf_dir, parts, schema, build):
    """Replay ``parts`` (one DataFrame per intended micro-batch, in order)
    as a file-source stream through ``build`` into a parquet sink; return
    the sink as a batch DataFrame.

    Each part is written as ONE parquet file whose mtime encodes its
    position (the file source schedules oldest-first), and
    ``maxFilesPerTrigger=1`` makes each file its own micro-batch — the
    multi-batch replay is what proves state actually carries; a single
    batch would pass trivially.  Raises when the replay collapsed into
    fewer micro-batches than source files (the gate would then certify
    nothing about state carry).

    r15 optimization (guide §2.6, then §2.4): the part writes used to be
    4 overlapped single-task jobs (each arm re-scanned the source and
    ``coalesce(1)`` collapsed it to one serial task).  Now all parts
    ride ONE job: each arm is tagged with a literal part index, the
    union repartitions on that index (one task per part, every arm's
    scan/filter running concurrently inside the job) and a single
    ``partitionBy`` write emits one file per part directory; ordering
    within a file is irrelevant because every gate either sorts per
    batch (rainflow/lfilter) or projects order-insensitive columns
    (corpus dedup), and each file's mtime is assigned deterministically
    afterwards."""
    import glob
    import shutil

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".streamgate",
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(root, ignore_errors=True)  # idempotent per call
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src, exist_ok=True)
    base = 1_700_000_000

    stage = os.path.join(root, "stage")
    tagged = None
    for i, part in enumerate(parts):
        arm = part.withColumn("_gate_part", F.lit(i))
        tagged = arm if tagged is None else tagged.unionByName(arm)
    (
        tagged.repartition(len(parts), "_gate_part")
        .write.mode("overwrite")
        .partitionBy("_gate_part")
        .parquet(stage)
    )
    empty_stage = None
    n_files = 0
    for i in range(len(parts)):
        found = glob.glob(
            os.path.join(stage, f"_gate_part={i}", "part-*.parquet")
        )
        if not found:
            # An all-filtered-out part writes no directory under
            # partitionBy, but the old per-part coalesce(1) write
            # emitted an EMPTY parquet file — which still triggers its
            # own (empty) micro-batch, and the gates' batch-count
            # arithmetic relies on that (streaming_lfilter at sf0.01
            # has fewer than 129 samples per channel, so parts 2-4 are
            # empty there).  r16: the empty file is written DIRECTLY
            # with pyarrow — the r15 form ran a Spark job
            # (createDataFrame([]).coalesce(1).write) for zero rows,
            # measured at seconds of the lfilter leg's wall on a loaded
            # host; a 4-column empty parquet needs no cluster.
            if empty_stage is None:
                import pyarrow.parquet as pq
                from pyspark.sql.pandas.types import to_arrow_schema

                empty_stage = os.path.join(root, "empty.parquet")
                pq.write_table(
                    to_arrow_schema(
                        tagged.drop("_gate_part").schema
                    ).empty_table(),
                    empty_stage,
                )
            dst = os.path.join(src, f"part-{i:03d}.parquet")
            shutil.copyfile(empty_stage, dst)
        else:
            (pf,) = found
            dst = os.path.join(src, f"part-{i:03d}.parquet")
            os.replace(pf, dst)
        os.utime(dst, (base + i, base + i))
        n_files += 1
    if empty_stage is not None:
        os.remove(empty_stage)
    shutil.rmtree(stage, ignore_errors=True)
    if n_files < 2:
        # a degenerate split (all rows in one residue class / empty
        # ranges) would replay as <=1 micro-batch and certify NOTHING
        # about state carry — refuse before running (a review finding:
        # the post-hoc guard below passes trivially at n_files<=1)
        raise RuntimeError(
            f"stream gate {name!r}: only {n_files} non-empty source "
            f"file(s) from {len(parts)} parts — the replay would not "
            "exercise cross-batch state; fix the partitioning"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # r15 optimization (guide §2.2/§2.5): the stream's stateful exchange
    # width (= state-store partition count, pinned by the checkpoint at
    # first batch) defaults to spark.sql.shuffle.partitions, but each
    # micro-batch here is ONE source file — per-partition state-store
    # open/commit overhead dominates when the batch is far smaller than
    # the session's shuffle width (measured: 32 state partitions ~850 ms
    # addBatch vs 4 partitions ~370 ms on a ~1 MB batch).  Derive the
    # width from the per-batch input size (64 MB per state partition,
    # the same sizing rule AQE applies to stateless exchanges — AQE
    # cannot coalesce stateful ones), clamped to [4, session width]:
    # production-sized micro-batches land back at the session width,
    # tiny replay batches stop paying 8x their data in state commits.
    batch_bytes = max(
        os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
    )
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    state_parts = max(4, min(sess_parts, (batch_bytes >> 26) + 1))
    built = build(stream)
    # r15 kept a cpus//2 floor for Python-stateful ops here: with ONE
    # group PER CHANNEL (1500 tiny groups/batch) the per-key Python work
    # serialized at narrow widths (rainflow replay 4.2 s at width 16 vs
    # 7.0 s at width 4).  r16's bucket-level state ops (channel_buckets
    # in streaming_rainflow/streaming_lfilter) amortize that per-group
    # cost, and the sweep INVERTED: bucketed rainflow runs 3.1 s at
    # width 4 vs 4.1 s at width 16 vs 4.9 s at width 32 (min-of-2 warm,
    # this host) — per-partition state-store open/commit is the
    # remaining cost, so the byte-derived width above is now right for
    # Python-stateful ops too and the floor is gone.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        q = (
            built.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    n_batches = len(q.recentProgress)
    if n_batches < n_files:
        raise RuntimeError(
            f"stream gate {name!r}: {n_batches} micro-batches for "
            f"{n_files} source files — cross-batch state carry was not "
            "exercised; check maxFilesPerTrigger/mtime ordering"
        )
    return spark.read.parquet(sink)


def q_streaming_corpus_filter(spark, sf_dir):
    """Streaming corpus ingestion under the FULL hash gate: the documents
    table replayed as 4 doc_id-bucketed micro-batches through
    streaming_corpus_filter (quality score + language argmax + token
    count + quality gate + FIRST-arrival exact dedup — the dedup's
    digest state must survive across micro-batches for later copies of
    an earlier text to be dropped).

    The gate projects TEXT-DERIVED columns only (digest, quality,
    pred_lang, n_tokens): which doc_id wins a duplicate race depends on
    intra-batch arrival order, but every projected column is a pure
    function of the text, so the survivor multiset is deterministic —
    exactly one row per distinct quality-passing digest — and the oracle
    derives it with SELECT DISTINCT.  A green row certifies the stream's
    scoring arithmetic equals the batch engine's AND that dedup state
    carries across batches (a state loss would duplicate digests and
    break the row count).

    Scale shape: scoring is stateless map-side expression work per
    micro-batch; the dedup holds one digest per distinct document in the
    state store (documented unbounded-state trade,
    streaming/__init__.py:streaming_corpus_filter)."""
    from pandas_sigproc_spark.streaming import streaming_corpus_filter

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    parts = [d.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    res = _replay_stream_gate(
        spark,
        "corpus",
        sf_dir,
        parts,
        "doc_id long, text string",
        lambda s: streaming_corpus_filter(s, min_quality=0.6, dedup=True),
    )
    return res.select(
        F.md5("text").alias("digest"),
        "quality",
        "pred_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# quality arm reuses the ONE shared transcription of quality_expr
# (_SQL_QUALITY_SCORE_EXPR) rather than a third copy — a weight change
# in operators/text.py then has a single DuckDB edit point (a review
# finding, same drift class as the _SQL_GOPHER_KEEP assert).
SQL_STREAMING_CORPUS_FILTER = f"""
WITH tok AS (
  SELECT text, STRING_SPLIT(text, ' ') AS ws FROM documents
),
scored AS (
  SELECT text,
         {{quality_expr}} AS quality,
         {{lang_pred}} AS pred_lang,
         CAST(LEN(ws) AS BIGINT) AS n_tokens
  FROM tok
)
SELECT DISTINCT MD5(text) AS digest, quality, pred_lang, n_tokens
FROM scored WHERE quality >= 0.6
""".replace("{lang_pred}", _lang_pred_sql()).replace(
    "{quality_expr}", _SQL_QUALITY_SCORE_EXPR
)


def q_streaming_rainflow(spark, sf_dir):
    """Streaming fatigue monitoring under the FULL hash gate: the signals
    view replayed as 4 contiguous time-range micro-batches through
    streaming_rainflow (applyInPandasWithState — the per-channel reversal
    residue is the state carried across batches), then the emitted full
    cycles binned exactly like the batch operator
    (F.round(rng, ndigits=2), operators/rainflow.py).

    By the residue-decomposition theorem (SURVEY.md §7.3.1, the same one
    behind rainflow_chunked) the union of full cycles emitted across the
    fold equals the whole signal's 4-point full cycles, bit-exactly —
    every range is a subtraction of the same two doubles in either
    order of assembly.  The oracle replays the 4-POINT rule (distinct
    from SQL_RAINFLOW's 3-point E1049 machine: reductions never touch
    the stack bottom and no half cycles exist) as a recursive small-step
    machine over the reversal sequence, so a green hash certifies
    reversal extraction, the 4-point reduction, residue carry ACROSS
    micro-batches, and the binning, end to end.

    Scale shape: state per channel is the divergent reversal envelope
    (a few dozen doubles regardless of stream length); each micro-batch
    costs one groupBy(channel) state exchange — the streaming twin of
    the batch kernel's per-channel shuffle."""
    from pandas_sigproc_spark.streaming import streaming_rainflow

    sig = _signals(spark, sf_dir)
    lo, hi = sig.agg(F.min("t"), F.max("t")).first()  # bounded: 2 scalars
    cuts = [lo + (hi - lo) * i / 4.0 for i in (1, 2, 3)]
    bounds = list(zip([None, *cuts], [*cuts, None]))
    parts = []
    for lo_b, hi_b in bounds:
        p = sig
        if lo_b is not None:
            p = p.filter(F.col("t") >= F.lit(lo_b))
        if hi_b is not None:
            p = p.filter(F.col("t") < F.lit(hi_b))
        parts.append(p)
    res = _replay_stream_gate(
        spark,
        "rainflow",
        sf_dir,
        parts,
        "channel_id string, t double, value double, seq long",
        # r16 (guide §4 — amortize the per-group protocol cost): bucket
        # the state op's keys to 4x the core count instead of one group
        # per channel (1500 tiny groups/batch paid ~0.85 s/batch of
        # applyInPandasWithState per-group overhead).  Scale-adaptive
        # (derived from defaultParallelism, honoring $SPARK_GRAFT_CPUS),
        # output bit-identical (tests/test_streaming.py pins it).
        lambda s: streaming_rainflow(
            s,
            order_cols=("t", "seq"),
            channel_buckets=4 * spark.sparkContext.defaultParallelism,
        ),
    )
    return res.groupBy(
        "channel_id", F.round("rng", 2).alias("bin")
    ).agg(F.sum("cnt").alias("cycles"))


# The 4-point machine: same reversal CTEs as SQL_RAINFLOW, but the
# reduction arm requires FOUR stack points t1..t4 with |t3-t2| <= |t2-t1|
# AND |t3-t2| <= |t4-t3| (3-point only checks the latter), always emits a
# 1.0 cycle (never the first-datum 0.5), and the final residue is NOT
# counted — it is the state a live stream carries forward.  The removal
# slice is identical (drop t2, t3 = positions L-2, L-1, keep the bottom
# and t4).  Binning reuses SQL_RAINFLOW's repr-faithful decimal HALF_UP
# hop, which matches Spark F.round on doubles.
SQL_STREAMING_RAINFLOW = f"""
WITH RECURSIVE {_SIG_CTE},
ord_t AS (
  SELECT channel_id, value AS v,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) AS i,
         COUNT(*) OVER (PARTITION BY channel_id) AS n
  FROM sig
),
d AS (
  SELECT channel_id, i, v,
         v - LAG(v) OVER (PARTITION BY channel_id ORDER BY i) AS dv
  FROM ord_t
),
nz AS (
  SELECT channel_id, i,
         CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s,
         LAG(CASE WHEN dv > 0 THEN 1 ELSE -1 END)
           OVER (PARTITION BY channel_id ORDER BY i) AS ps
  FROM d WHERE dv IS NOT NULL AND dv != 0
),
rev0 AS (
  SELECT channel_id, 1 AS pos FROM ord_t WHERE i = 1
  UNION ALL
  SELECT channel_id, i - 1 FROM nz WHERE ps IS NOT NULL AND s != ps
  UNION ALL
  SELECT channel_id, CAST(n AS BIGINT) FROM ord_t WHERE i = n AND n >= 2
),
rev AS MATERIALIZED (
  SELECT r.channel_id,
         ROW_NUMBER() OVER (PARTITION BY r.channel_id ORDER BY r.pos) AS j,
         o.v
  FROM rev0 r JOIN ord_t o ON o.channel_id = r.channel_id AND o.i = r.pos
),
mm AS MATERIALIZED (SELECT channel_id, MAX(j) AS m FROM rev GROUP BY channel_id),
steps AS (
  SELECT channel_id, 0 AS step, CAST(2 AS BIGINT) AS k, [v] AS st,
         CAST(NULL AS DOUBLE) AS er
  FROM rev WHERE j = 1
  UNION ALL
  SELECT q.channel_id, q.step + 1,
         CASE WHEN q.can_red THEN q.k ELSE q.k + 1 END,
         CASE WHEN q.can_red
              THEN q.st[1:LEN(q.st)-3] || q.st[LEN(q.st):LEN(q.st)]
              ELSE q.st || [rv.v] END,
         CASE WHEN q.can_red THEN ABS(q.st[LEN(q.st)-1] - q.st[LEN(q.st)-2]) END
  FROM (
    SELECT s.*, mm.m,
           LEN(s.st) >= 4
           AND ABS(s.st[LEN(s.st)-1] - s.st[LEN(s.st)-2])
               <= ABS(s.st[LEN(s.st)-2] - s.st[LEN(s.st)-3])
           AND ABS(s.st[LEN(s.st)-1] - s.st[LEN(s.st)-2])
               <= ABS(s.st[LEN(s.st)] - s.st[LEN(s.st)-1]) AS can_red
    FROM steps s JOIN mm USING (channel_id)
  ) q
  LEFT JOIN rev rv ON rv.channel_id = q.channel_id AND rv.j = q.k
  WHERE q.can_red OR q.k <= q.m
),
cyc AS (SELECT channel_id, er AS rng FROM steps WHERE er IS NOT NULL),
binned AS (
  SELECT channel_id,
         CASE WHEN isfinite(rng) AND ABS(rng) < 1e18
              THEN CAST(ROUND(CAST(CAST(rng AS VARCHAR) AS DECIMAL(38,18)), 2)
                        AS DOUBLE)
              ELSE rng END AS bin,
         CAST(1.0 AS DOUBLE) AS cnt
  FROM cyc
)
SELECT channel_id, bin, SUM(cnt) AS cycles
FROM binned GROUP BY channel_id, bin
"""


def q_streaming_lfilter(spark, sf_dir):
    """Stateful streaming IIR under the FULL hash gate — the third
    streaming gate, and the one that proves cross-batch DELAY-LINE
    state carry under the oracle: the bit-exact head-512 anchor input
    (q_filt_iir_exact's segment) is replayed as 4 index-range
    micro-batches through streaming_lfilter
    (applyInPandasWithState — the per-channel z-vector is the state),
    with the SAME order-2 Butterworth as filt_iir_exact.

    Every micro-batch is 128 samples per channel, far under the
    kernels' exact-recursion cutover, so each batch runs the textbook
    DF2T loop seeded with the carried z-state — which IS the
    continuation of one whole-series recursion, making the replay
    bit-identical to filtering the concatenated stream (the module's
    stream==batch contract, tests/test_streaming.py).  The oracle
    replays that same recursion sample-by-sample as a recursive CTE
    (_sql_df2t_recursion — the filt_iir_exact machine) — so a green
    hash certifies reversal-free causal filtering AND that the z⁻¹
    state genuinely carried across all 4 micro-batches: a dropped or
    re-zeroed state diverges from sample 129 onward, bit-exactly
    detectable, no rounding anywhere.

    Scale shape: state is max(len(a),len(b))-1 doubles per channel;
    each micro-batch costs one per-channel state exchange — the
    streaming twin of the batch kernel's per-channel shuffle."""
    from pandas_sigproc_spark.streaming import streaming_lfilter

    head = _head512(spark, sf_dir)
    parts = [
        head.filter(
            (F.col("i") > F.lit(lo)) & (F.col("i") <= F.lit(lo + 128))
        ).select(
            "channel_id",
            F.col("i").cast("double").alias("t"),
            F.col("x").alias("value"),
        )
        for lo in (0, 128, 256, 384)
    ]
    return _replay_stream_gate(
        spark,
        "lfilter",
        sf_dir,
        parts,
        "channel_id string, t double, value double",
        # r16: bucket-level state (see q_streaming_rainflow) — fewer,
        # fatter stateful groups; per-channel z-state carry unchanged.
        lambda s: streaming_lfilter(
            s,
            _IIR_B,
            _IIR_A,
            order_cols=("t",),
            channel_buckets=4 * spark.sparkContext.defaultParallelism,
        ),
    )


def _sql_streaming_lfilter():
    # the filt_iir_exact recursion verbatim, re-shaped to the streaming
    # operator's (channel_id, t, value) output
    return _sql_df2t_recursion(
        _IIR_B,
        _IIR_A,
        "SELECT channel_id, CAST(i AS DOUBLE) AS t, y AS value FROM f",
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per capability.  A slot that folds several plans or
    variants runs each as a labeled branch and carries the oracle of
    the whole (:func:`_slot`).  The correctness gate hash-checks the
    first 50 entries each round, so the registry stays at 50 or fewer
    and every entry is checked every round."""
    return {
        "levels": _slot(
            (q_rms, SQL_RMS),
            (q_spl, SQL_SPL),
            (q_rms_lin, SQL_RMS_LIN),
            (q_rms_log, SQL_RMS_LOG),
        ),
        "detrend": _slot(
            (q_detrend_constant, SQL_DETREND_CONSTANT),
            # agg plan == window plan under the nudge+round contract
            (
                q_detrend_linear,
                [("global", SQL_DETREND_LINEAR), ("agg", SQL_DETREND_LINEAR)],
            ),
            (q_detrend_piecewise, SQL_DETREND_PIECEWISE),
        ),
        "interp": _slot(
            # the chunked as-of arm is bit-identical to the global plan
            # (tests/test_interp_chunked)
            (
                q_interp_daily,
                [("global", SQL_INTERP_DAILY), ("chunked", SQL_INTERP_DAILY)],
            ),
            (q_interp_nearest, SQL_INTERP_NEAREST),
            (q_interp_cubic, _oracle_prod.sql_interp_cubic()),
            (q_interp_quadratic, _oracle_prod.sql_interp_quadratic()),
            (q_interp_log, SQL_INTERP_LOG),
            (q_interp_cubic_exact, _sql_interp_cubic_exact()),
            exact=("j",),
        ),
        "psd": _slot(
            (q_psd_welch, _oracle_prod.sql_psd_welch()),
            (q_psd_dft, SQL_PSD_DFT),
            (q_psd_welch_dft, SQL_PSD_WELCH_DFT),
            (q_psd_segmented, _oracle_prod.sql_psd_segmented()),
            exact=("k",),
        ),
        "psd_summary": _slot(
            (q_psd_rms, _oracle_prod.sql_psd_rms()),
            (q_psd_rms_dft, SQL_PSD_RMS_DFT),
            (q_psd_median, _oracle_prod.sql_psd_median()),
            (q_psd_maxrms, _oracle_prod.sql_psd_maxrms()),
            (q_psd_all, _oracle_prod.sql_psd_all()),
            (q_psd_summary_dft, SQL_PSD_SUMMARY_DFT),
            (q_psd_damage, _oracle_prod.sql_psd_damage()),
            (q_psd_damage_dft, _sql_psd_damage_dft()),
            exact=("seg", "k"),
        ),
        "filt": _slot(
            (q_filt_cfc, _oracle_prod.sql_filt_cfc()),
            (q_filt_a, _oracle_prod.sql_filt_a()),
            (q_filt_chain, _oracle_prod.sql_filt_chain()),
            (q_filt_iir_exact, _sql_filt_iir_exact()),
            (q_filt_iir_fft_exact, _sql_filt_iir_fft_exact()),
            (q_filtfilt_exact, _sql_filtfilt_exact()),
            exact=("i",),
        ),
        "slice": _slot(
            (q_between, SQL_BETWEEN),
            (q_between_freq, SQL_BETWEEN_FREQ),
            (q_timeshift, SQL_TIMESHIFT),
            (q_samplerate, SQL_SAMPLERATE),
            (q_deduplicate, SQL_DEDUPLICATE),
        ),
        "windows": _slot(
            (q_mov_rms, [("global", SQL_MOV_RMS), ("chunked", SQL_MOV_RMS_CHUNKED)]),
            (
                q_integral,
                [("global", SQL_INTEGRAL), ("chunked", SQL_INTEGRAL_CHUNKED)],
            ),
            (
                q_derivative,
                [("global", SQL_DERIVATIVE), ("chunked", SQL_DERIVATIVE_CHUNKED)],
            ),
        ),
        "shock_spectrum": _slot(
            (q_srs, _oracle_prod.sql_srs()),
            (q_srs_exact, _sql_srs_exact()),
        ),
        "filt_butter": q_filt_butter,
        "resample": q_resample,
        "segment_stats": q_segment_stats,
        "rss_daily": q_rss_daily,
        "rainflow": q_rainflow,
        "streaming_lfilter": q_streaming_lfilter,
        "streaming_rainflow": q_streaming_rainflow,
        "accessor_chain": q_accessor_chain,
        "ide_scan": q_ide_scan,
        "textio_roundtrip": q_textio_roundtrip,
        "tpch": _slot(
            (q_tpch_pricing, SQL_TPCH_PRICING),
            (q_tpch_order_priority, SQL_TPCH_ORDER_PRIORITY),
            (q_tpch_rollup, SQL_TPCH_ROLLUP),
            (q_tpch_custdist, SQL_TPCH_CUSTDIST),
            (q_tpch_revenue_join, SQL_TPCH_REVENUE_JOIN),
            (q_tpch_local_supplier, SQL_TPCH_LOCAL_SUPPLIER),
            exact=(
                "c_count", "count_order", "custdist", "n_items", "n_rows",
                "o_orderkey", "order_count",
            ),
        ),
        "near_dup": _slot(
            (q_dedup_exact, SQL_DEDUP_EXACT),
            (q_dedup_minhash, SQL_DEDUP_MINHASH),
            (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
            (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
            (q_dedup_simhash, SQL_DEDUP_SIMHASH),
            (q_dedup_jaccard_pairs, SQL_DEDUP_JACCARD_PAIRS),
            # the prefix-filtered join returns the naive join's pairs
            # (tests/test_jaccard_ppjoin)
            (q_dedup_jaccard_ppjoin, SQL_DEDUP_JACCARD_PAIRS),
            (q_para_dedup, SQL_PARA_DEDUP),
            (q_substr_dedup, SQL_SUBSTR_DEDUP),
            (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
            (q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
            exact=(
                "component", "d1", "d2", "doc_id", "fingerprint",
                "is_dropped", "keeper_doc_id", "mh0", "mh1", "mh2", "mh3",
                "n_blocks", "n_copies", "n_dup_blocks", "n_dup_tokens",
                "n_flagged", "n_ngrams", "n_tokens", "simhash",
            ),
        ),
        "semantic_dedup": _slot(
            (q_semdedup, _sql_semdedup(exact=False)),
            (q_semdedup_exact, _sql_semdedup(exact=True)),
            (q_dedup_embed, _sql_dedup_embed()),
            (q_embed_kmeans, _sql_embed_kmeans()),
            (q_cluster_rep, SQL_CLUSTER_REP),
            (q_cluster_sample, _sql_cluster_sample()),
            exact=(
                "cluster", "component", "dim", "doc_id", "keep", "kept", "n",
                "rep_doc_id", "u", "v1", "v2", "vec_id",
            ),
        ),
        "ann": _slot(
            (q_ann_lsh, _sql_ann_lsh()),
            (q_ann_int8, _sql_ann_int8()),
            (q_embed_cosine_topk, SQL_EMBED_COSINE_TOPK),
            (q_ann_ivf, SQL_ANN_IVF),
            (q_ann_ivf_int8, SQL_ANN_IVF_INT8),
            exact=("qscore",),
        ),
        "pq_search": _slot(
            (q_ann_ivf_pq, SQL_ANN_IVF_PQ),
            # store == recompute: the PQ-store probe returns the plain
            # ivf_pq_topk rows exactly
            (q_ann_pq_store, SQL_ANN_IVF_PQ),
        ),
        "quality": _slot(
            (q_gopher_rules, SQL_GOPHER_RULES),
            (q_quality_classify, SQL_QUALITY_CLASSIFY),
            (q_quality_score, SQL_QUALITY_SCORE),
            (q_lm_ppl, SQL_LM_PPL),
            (q_lm_ppl_terciles, SQL_LM_PPL_TERCILES),
            (q_pii_scrub, SQL_PII_SCRUB),
            exact=(
                "doc_id", "event_id", "keep", "n_required", "n_tokens",
                "n_trans", "n_words", "props_masked_chars",
            ),
        ),
        "decontam": _slot(
            (q_decontaminate, SQL_DECONTAMINATE),
            (q_source_overlap, SQL_SOURCE_OVERLAP),
            exact=("doc_id", "n_hits", "n_ngrams"),
        ),
        "language_id": _slot(
            (q_lang_id, SQL_LANG_ID),
            (q_lang_id_model, _sql_lang_id_model()),
            exact=("n_stopword_hits", "n_grams", "n_hits", "agree"),
        ),
        "text_profile": _slot(
            (q_text_stats, SQL_TEXT_STATS),
            (q_token_count, SQL_TOKEN_COUNT),
            (q_rep_stats, SQL_REP_STATS),
            exact=(
                "n_chars_actual",
                "n_tokens",
                "n_stopwords",
                "n_ws_tokens",
                "n_re_tokens",
                "n_unique_tokens",
                "n_lines",
            ),
        ),
        "tfidf_topk": q_tfidf_topk,
        "ngram_counts": q_ngram_counts,
        "doc_chunks": q_doc_chunks,
        "curation": _slot(
            (q_corpus_curate, _sql_corpus_curate(exact=False)),
            (q_corpus_curate_exact, _sql_corpus_curate(exact=True)),
            (q_streaming_corpus_filter, SQL_STREAMING_CORPUS_FILTER),
            (q_text_normalize, SQL_TEXT_NORMALIZE),
            exact=(
                "changed", "clean_tokens", "doc_id", "n_chars_norm",
                "n_chars_raw", "n_docs", "n_tokens",
            ),
        ),
        "crawl": _slot(
            (q_url_canon, SQL_URL_CANON),
            (q_url_blocklist, SQL_URL_BLOCKLIST),
            (q_robots_filter, SQL_ROBOTS_FILTER),
            (q_domain_cap, SQL_DOMAIN_CAP),
            (q_crawl_admission, SQL_CRAWL_ADMISSION),
            (q_crawl_curate, SQL_CRAWL_CURATE),
            (q_link_pagerank, SQL_LINK_PAGERANK),
            exact=(
                "admitted", "allowed", "doc_id", "host_docs", "keep", "kept",
                "n_same", "n_url_dups", "robots_allowed",
            ),
        ),
        "crawl_frontier": q_crawl_frontier,
        "container_extract": _slot(
            (q_warc_extract, SQL_WARC_EXTRACT),
            (q_zip_extract, SQL_ZIP_EXTRACT),
            (q_html_extract, SQL_HTML_EXTRACT),
            (q_sitemap_extract, SQL_SITEMAP_EXTRACT),
            exact=("n_bytes", "pos"),
        ),
        "sampling": _slot(
            (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
            (q_temp_sample, SQL_TEMP_SAMPLE),
            (q_training_mix, SQL_TRAINING_MIX),
            (q_dsir_select, _sql_dsir_select()),
            (q_train_order, SQL_TRAIN_ORDER),
            (q_shard_assign, SQL_SHARD_ASSIGN),
            exact=(
                "bucket", "doc_id", "global_pos", "global_start", "n_docs",
                "n_packs", "n_tokens", "shard", "u",
            ),
        ),
        "packing": _slot(
            (q_seq_pack, SQL_SEQ_PACK),
            (q_bpe_pack, _sql_bpe_pack()),
            (q_corpus_to_shards, _sql_corpus_to_shards()),
            (q_corpus_prep, SQL_CORPUS_PREP),
            exact=(
                "global_start", "n_bytes", "n_docs", "n_members", "n_tokens",
                "pack_id", "pack_pos", "shard", "shard_id",
            ),
        ),
        "media_decode": _slot(
            (q_media_image_png, SQL_MEDIA_IMAGE_PNG),
            (q_media_image_real, SQL_MEDIA_IMAGE_REAL),
            (q_media_audio_real, SQL_MEDIA_AUDIO_REAL),
            # each arm against its construction-arithmetic expectation table
            (
                q_video_stream_info,
                [(fl, _sql_video_stream_info(fl)) for fl in ("h264", "hevc")],
            ),
            exact=(
                "is_keyframe", "level_idc", "n_bytes", "n_frames", "n_nals",
                "pixel_sum", "profile_idc", "sample_idx",
            ),
        ),
        "perceptual_hash": _slot(
            (q_media_phash, _sql_media_phash()),
            (q_media_phash_pairs, _sql_media_phash_pairs()),
            (q_media_video_dedup, _sql_media_video_dedup()),
            (q_media_features, SQL_MEDIA_FEATURES),
            exact=(
                "best_hamming", "hamming", "height", "m1", "m2", "media_id",
                "n_bytes", "n_frame_pairs", "n_frames", "phash", "v1", "v2",
                "width",
            ),
        ),
        "incr_store": _slot(
            (q_incr_dedup, SQL_INCR_DEDUP),
            # the store path's contract: the text path's verdict frame
            # (tests/test_sigstore.py)
            (q_incr_dedup_store, SQL_INCR_DEDUP),
            (q_incr_phash_store, _sql_incr_phash_store()),
            (q_incr_audio_store, _sql_incr_audio_store()),
            exact=("doc_id", "is_exact_dup", "media_id", "phash", "n_fp"),
        ),
        "media_image": _slot(
            (q_media_image_jpeg, SQL_MEDIA_IMAGE_JPEG),
            (q_media_image_jpeg_prog, SQL_MEDIA_IMAGE_JPEG_PROG),
            (q_media_image_gif, SQL_MEDIA_IMAGE_GIF),
            exact=("pixel_sum",),
        ),
        "media_video": _slot(
            (q_media_video_gif, SQL_MEDIA_VIDEO_GIF),
            (q_media_video_mp4, SQL_MEDIA_VIDEO_MP4),
            exact=("pixel_sum",),
        ),
        "wds": _slot(
            (q_wds_extract, SQL_WDS_EXTRACT),
            (q_wds_roundtrip, SQL_WDS_ROUNDTRIP),
            # the store layout roundtrips the same member table
            (q_wds_store_roundtrip, SQL_WDS_ROUNDTRIP),
            exact=(
                "media_id",
                "n_members",
                "bmp_bytes",
                "width",
                "height",
                "pixel_sum",
                "label",
                "shard_id",
                "n_bytes",
            ),
        ),
        "audio_fingerprint": _slot(
            (q_audio_fp, _sql_audio_fp()),
            (q_audio_fp_pairs, _sql_audio_fp_pairs()),
            exact=("media_id", "fp", "m1", "m2", "n_matches"),
        ),
    }


def oracle_sql() -> dict[str, str]:
    slots = {n: q.oracle for n, q in queries().items() if hasattr(q, "oracle")}
    return {
        **slots,
        # production kernel-tier legs: full recursive-CTE replays
        # (oracle_prod.py) — bit-exact at the gate's sf0.01 scale where
        # every channel runs the kernels' exact loop/banded paths.
        # r15 consolidated: the chunked arm keeps its own order-2
        # production oracle (different filter than the global arm)
        "filt_butter": _compose_oracle(
            ("global", _oracle_prod.sql_filt_butter()),
            ("chunked", _oracle_prod.sql_filt_chunked()),
        ),
        # chunked arm bit-identical to the global pair plan
        # (tests/test_interp_chunked), so both arms share SQL_RESAMPLE
        "resample": _compose_oracle(
            ("global", SQL_RESAMPLE), ("chunked", SQL_RESAMPLE)
        ),
        "segment_stats": SQL_SEGMENT_STATS,
        "rss_daily": SQL_RSS_DAILY,
        # r15 consolidated: identical counts by the residue-merge
        # theorem (tests pin the chunked==whole equality; the oracle
        # pins both arms to the standard)
        "rainflow": _compose_oracle(
            ("global", SQL_RAINFLOW), ("chunked", SQL_RAINFLOW)
        ),
        # the filt_iir_exact DF2T recursion re-shaped to the streaming
        # operator's output
        "streaming_lfilter": _sql_streaming_lfilter(),
        "streaming_rainflow": SQL_STREAMING_RAINFLOW,
        "accessor_chain": _oracle_prod.sql_accessor_chain(),
        "ide_scan": SQL_IDE_SCAN,
        # documents-derived roundtrip + measured PERMISSIVE quarantine
        # literals
        "textio_roundtrip": SQL_TEXTIO_ROUNDTRIP,
        "tfidf_topk": SQL_TFIDF_TOPK,
        "ngram_counts": SQL_NGRAM_COUNTS,
        "doc_chunks": SQL_DOC_CHUNKS,
        "crawl_frontier": _sql_crawl_frontier(),
    }
