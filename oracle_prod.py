"""Recursive-CTE DuckDB oracles for the PRODUCTION kernel-tier queries.

Round 3's verdict: the SciPy-tier production legs (filt_butter / filt_cfc /
filt_a / filt_chain / filt_chunked / srs / psd_* / interp_cubic /
accessor_chain) ran rows-only — their kernels were pinned by bit-exact
anchors on head-512 slices, but the production configurations over full
channels had no independent oracle.  This module closes that gap.

Why full bit-exact replay is possible at the gate's scale: the driver's
correctness gate runs at sf0.01, where every hourly-resampled channel is
~700 samples — BELOW kernels/iir._LOOP_CUTOVER (2048) — so the kernels
execute the exact DF2T recursion / banded solve, which a recursive CTE
replays multiply-add for multiply-add (the same technique as the head-512
anchors, generalized to arbitrary filter order, per-channel lengths, odd
extension, and chained stages).  Where a reduction intervenes (PSD means,
np.dot window norms, detrend means), both sides round with margins that
are MEASURED on the fixed datasets (tests/test_prod_oracle_margins.py).

Reference semantics being replayed: scipy-default ``filtfilt``
(extension.py:493,535), causal ``lfilter`` (extension.py:563), Smallwood
SRS (tools.py:304-376), Welch PSD (tools.py:13-100, extension.py:569-625),
``interp1d`` spline kinds (extension.py:819-851).
"""

from __future__ import annotations

import math

import numpy as np

from pandas_sigproc_spark.kernels import design as _design
from pandas_sigproc_spark.kernels.iir import _normalize_ba, lfilter_zi

DAY = 86400.0
HOURLY = 1.0 / 3600.0
DT = 1.0 / float(HOURLY)  # == 3600.0 exactly


def dlit(x: float) -> str:
    """A float as a DuckDB expression that is EXACTLY the Python double
    (see __spark_entry__._dlit: bare decimal literals parse as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


SIG_CTE = """sig AS (
  SELECT CAST(user_id AS VARCHAR) AS channel_id,
         epoch(ts) AS t,
         CAST(value AS DOUBLE) AS value,
         CAST(event_id AS BIGINT) AS seq
  FROM events
)"""

# Replay of _uniform = resample(deduplicate(sig), 1/3600): per-channel
# end-exclusive hourly arange grid + linear interpolation, UNROUNDED (the
# filter recursions need the bit-exact kernel input).  The bracket
# formulation produces the same values as the operator's emit-pairs plan
# (operators/joins.py resample: knot assignment is decided by the same
# float comparisons; the interpolation expression is replayed with
# identical association).  Emits:
#   uni(channel_id, i, t, x)  -- i = 1-based time-order row number
#   unt(channel_id, n)        -- per-channel sample count
UNIFORM_CTES = f"""dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
bnd AS (
  SELECT channel_id, MIN(t) AS t0, MAX(t) AS t1 FROM dedup GROUP BY channel_id
),
ugrid AS (
  SELECT channel_id,
         t0 + UNNEST(RANGE(0, CAST(CEIL((t1 - t0) / {DT!r}) AS BIGINT))) * {DT!r} AS t
  FROM bnd WHERE t1 > t0
),
uu AS (
  SELECT channel_id, t AS x, value AS y, 1 AS is_src FROM dedup
  UNION ALL
  SELECT channel_id, t, NULL, 0 FROM ugrid
),
um AS (
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
  FROM uu
),
urs AS (
  SELECT channel_id, x AS t,
         CASE WHEN x0 = x THEN y0
              WHEN x1 = x0 THEN y0
              ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END AS x_val
  FROM um WHERE is_src = 0 AND x0 IS NOT NULL AND (x1 IS NOT NULL OR x0 = x)
),
uni AS MATERIALIZED (
  SELECT channel_id, t, x_val AS x,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) AS i
  FROM urs
),
unt AS MATERIALIZED (SELECT channel_id, MAX(i) AS n FROM uni GROUP BY channel_id)"""

# The 48 kHz per-channel index time base used by filt_a / filt_chain /
# accessor_chain (q_filt_a): t = (row_number - 1) / 48000 over the
# dedup'd raw signal.  Emits idx(channel_id, i, t, x) + idxn(channel_id, n).
IDX_CTES = """dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
idx AS MATERIALIZED (
  SELECT channel_id,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) AS i,
         (ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) - 1) / 48000.0 AS t,
         value AS x
  FROM dedup
),
idxn AS MATERIALIZED (SELECT channel_id, MAX(i) AS n FROM idx GROUP BY channel_id)"""


# ---------------------------------------------------------------------------
# Generalized DF2T recursion builders (arbitrary filter order)
# ---------------------------------------------------------------------------


def _df2t_select(b, a, e: str, prev: list[str]) -> str:
    """SELECT expressions replaying ONE step of kernels/iir._lfilter_loop.

    ``e`` is the current input sample expression; ``prev`` holds the
    expressions for the incoming delay-line state z1..z_{n-1} (e.g.
    ``["f.z1", "f.z2"]`` for a step, or the zi-seed expressions).
    The multiply-add association mirrors the loop exactly:
      y     = b0*x + z1
      z_j   = (b_j*x + z_{j+1}) - a_j*y        (j = 1..n-2)
      z_n-1 = b_{n-1}*x - a_{n-1}*y
    """
    n = len(b)
    assert len(a) == n and n >= 2
    bl = [dlit(v) for v in b]
    al = [dlit(v) for v in a]
    y = f"{bl[0]} * {e} + {prev[0]}"
    cols = [f"{y} AS y"]
    for j in range(1, n - 1):
        cols.append(f"({bl[j]} * {e} + {prev[j]}) - {al[j]} * ({y}) AS z{j}")
    cols.append(f"{bl[n-1]} * {e} - {al[n-1]} * ({y}) AS z{n-1}")
    return ",\n         ".join(cols)


def _pad_ba(b, a):
    """Normalize and zero-pad (b, a) to common length (kernels/iir)."""
    b, a = _normalize_ba(b, a)
    n = max(len(b), len(a))
    bp = np.zeros(n)
    ap = np.zeros(n)
    bp[: len(b)] = b
    ap[: len(a)] = a
    return bp, ap


def lfilter_ctes(p: str, b, a, src: str) -> str:
    """CTE chain replaying causal ``lfilter`` (zero initial state) over
    ``src(channel_id, i, x)``; emits ``{p}out(channel_id, i, y)``.
    """
    bp, ap = _pad_ba(b, a)
    n = len(bp)
    zeros = ["0.0"] * (n - 1)
    seed = _df2t_select(bp, ap, "h.x", zeros)
    prev = [f"f.z{j}" for j in range(1, n)]
    step = _df2t_select(bp, ap, "h.x", prev)
    return f"""{p}f AS (
  SELECT h.channel_id, h.i,
         {seed}
  FROM {src} h WHERE h.i = 1
  UNION ALL
  SELECT h.channel_id, h.i,
         {step}
  FROM {p}f f JOIN {src} h ON h.channel_id = f.channel_id AND h.i = f.i + 1
),
{p}out AS MATERIALIZED (SELECT channel_id, i, y FROM {p}f)"""


def filtfilt_ctes(p: str, b, a, src: str, srcn: str) -> str:
    """CTE chain replaying SciPy-default ``filtfilt`` (kernels/iir.filtfilt:
    odd extension by 3*ntaps, forward pass seeded zi*ext[0], reverse,
    backward pass seeded zi*y[-1], reverse, strip pads) over
    ``src(channel_id, i, x)`` with counts ``srcn(channel_id, n)``.
    Emits ``{p}out(channel_id, i, y)``.  Channels with n <= padlen are
    excluded (the kernel raises for them; production channels are far
    longer).
    """
    bp, ap = _pad_ba(b, a)
    n = len(bp)
    pad = 3 * n
    zi = lfilter_zi(bp, ap)
    zi_seed = [f"({dlit(z)} * {{e}})" for z in zi]

    def seed(e):
        return _df2t_select(bp, ap, e, [s.format(e=e) for s in zi_seed])

    prev = [f"f.z{j}" for j in range(1, n)]

    def step(e):
        return _df2t_select(bp, ap, e, prev)

    return f"""{p}nt AS (SELECT channel_id, n FROM {srcn} WHERE n > {pad}),
{p}x1 AS (SELECT h.channel_id, h.x AS xfirst FROM {src} h JOIN {p}nt USING (channel_id) WHERE h.i = 1),
{p}xn AS (SELECT h.channel_id, h.x AS xlast FROM {src} h JOIN {p}nt nt ON h.channel_id = nt.channel_id AND h.i = nt.n),
{p}jg AS (SELECT CAST(UNNEST(RANGE(1, {pad + 1})) AS BIGINT) AS j),
{p}front AS (
  SELECT g.channel_id, g.j AS pos, 2.0 * g.xfirst - h.x AS e
  FROM (SELECT x1.channel_id, jg.j, x1.xfirst FROM {p}x1 x1 CROSS JOIN {p}jg jg) g
  JOIN {src} h ON h.channel_id = g.channel_id AND h.i = {pad + 2} - g.j
),
{p}mid AS (
  SELECT h.channel_id, h.i + {pad} AS pos, h.x AS e
  FROM {src} h JOIN {p}nt USING (channel_id)
),
{p}back AS (
  SELECT g.channel_id, g.n + {pad} + g.j AS pos, 2.0 * g.xlast - h.x AS e
  FROM (SELECT xn.channel_id, jg.j, xn.xlast, nt.n
        FROM {p}xn xn JOIN {p}nt nt USING (channel_id) CROSS JOIN {p}jg jg) g
  JOIN {src} h ON h.channel_id = g.channel_id AND h.i = g.n - g.j
),
{p}ext AS MATERIALIZED (
  SELECT * FROM {p}front UNION ALL SELECT * FROM {p}mid UNION ALL SELECT * FROM {p}back
),
{p}fw AS (
  SELECT e.channel_id, e.pos,
         {seed("e.e")}
  FROM {p}ext e WHERE e.pos = 1
  UNION ALL
  SELECT e.channel_id, e.pos,
         {step("e.e")}
  FROM {p}fw f JOIN {p}ext e ON e.channel_id = f.channel_id AND e.pos = f.pos + 1
),
{p}mt AS MATERIALIZED (SELECT channel_id, MAX(pos) AS m FROM {p}ext GROUP BY channel_id),
{p}yr AS MATERIALIZED (
  SELECT f.channel_id, mt.m + 1 - f.pos AS j, f.y AS e
  FROM {p}fw f JOIN {p}mt mt USING (channel_id)
),
{p}bw AS (
  SELECT e.channel_id, e.j,
         {seed("e.e")}
  FROM {p}yr e WHERE e.j = 1
  UNION ALL
  SELECT e.channel_id, e.j,
         {step("e.e")}
  FROM {p}bw f JOIN {p}yr e ON e.channel_id = f.channel_id AND e.j = f.j + 1
),
{p}out AS MATERIALIZED (
  SELECT b.channel_id, (mt.m + 1 - b.j) - {pad} AS i, b.y
  FROM {p}bw b JOIN {p}mt mt USING (channel_id)
  WHERE mt.m + 1 - b.j BETWEEN {pad + 1} AND mt.m - {pad}
)"""


# ---------------------------------------------------------------------------
# Production filter designs (mirror the make_ba of the filter stage
# builders in pandas_sigproc_spark/pipeline/fused.py exactly)
# ---------------------------------------------------------------------------

# q_filt_butter: filt_butter(_uniform, 0.3*(HOURLY/2), 4, 'lowpass',
# n_buckets=32).  order 4 halves to 2 (extension.py:480-483 quirk); the
# kernel designs from the inferred rate as is — the hourly grid's diffs
# are exactly 3600.0 (t0 + i*3600.0 stays exact at epoch magnitudes), so
# sr == 1/3600 == HOURLY and the design is a global constant.


def butter_prod_ba():
    wn = np.asarray(0.3 * (HOURLY / 2), dtype=np.float64) / (0.5 * HOURLY)
    return _design.butter(2, wn, "lowpass")


def cfc_prod_ba():
    return _design.cfc_coefficients(0.05 * HOURLY, HOURLY)


def aw_prod_ba():
    # 48 kHz index base: diffs of (i/48000) average to ~1/48000 and the
    # integer snap in _infer_sr lands exactly on 48000.0.
    return _design.a_weighting(48000.0)


def butter_chain_ba():
    # q_filt_chain / q_accessor_chain: filt_butter(8000.0, 4, 'lowpass')
    # on the 48 kHz base -> order 2, wn = 8000/24000.
    wn = np.asarray(8000.0, dtype=np.float64) / (0.5 * 48000.0)
    return _design.butter(2, wn, "lowpass")


def butter_chunked_ba():
    # q_filt_chunked: butter(2, 0.3) designed directly (no halving).
    return _design.butter(2, 0.3, "lowpass")


def sql_filt_butter() -> str:
    b, a = butter_prod_ba()
    return f"""
WITH RECURSIVE {SIG_CTE},
{UNIFORM_CTES},
{filtfilt_ctes("ff", b, a, "uni", "unt")}
SELECT o.channel_id, u.t, o.y AS value
FROM ffout o JOIN uni u ON u.channel_id = o.channel_id AND u.i = o.i
"""


def sql_filt_cfc() -> str:
    b, a = cfc_prod_ba()
    return f"""
WITH RECURSIVE {SIG_CTE},
{UNIFORM_CTES},
{filtfilt_ctes("ff", b, a, "uni", "unt")}
SELECT o.channel_id, u.t, o.y AS value
FROM ffout o JOIN uni u ON u.channel_id = o.channel_id AND u.i = o.i
"""


def sql_filt_chunked() -> str:
    # chunk_rows=4096 with ~700-sample channels: every channel is a single
    # chunk, so the chunked operator computes whole-channel filtfilt
    # (equality pinned in tests/test_chunked_filter.py).
    b, a = butter_chunked_ba()
    return f"""
WITH RECURSIVE {SIG_CTE},
{UNIFORM_CTES},
{filtfilt_ctes("ff", b, a, "uni", "unt")}
SELECT o.channel_id, u.t, o.y AS value
FROM ffout o JOIN uni u ON u.channel_id = o.channel_id AND u.i = o.i
"""


def sql_filt_a() -> str:
    b, a = aw_prod_ba()
    return f"""
WITH RECURSIVE {SIG_CTE},
{IDX_CTES},
{lfilter_ctes("ca", b, a, "idx")}
SELECT o.channel_id, x.t, o.y AS value
FROM caout o JOIN idx x ON x.channel_id = o.channel_id AND x.i = o.i
"""


# ---------------------------------------------------------------------------
# Tridiagonal solve by odd-even cyclic reduction, unrolled (kernels/interp
# _cyclic_reduction replayed level-for-level).  CR_LEVELS static levels
# handle systems up to 2 * 2^CR_LEVELS unknowns — far above the ~100-knot
# channels of every driver dataset (asserted in tests).
# ---------------------------------------------------------------------------

CR_LEVELS = 8


def cyclic_reduction_ctes(p: str, band: str) -> str:
    """CTE chain solving, per channel, the tridiagonal system given by
    ``{band}(channel_id, pos, a, b, c, r, sz)`` (pos 0-based, sz = row
    count, a[0] and c[sz-1] already zero).  Emits ``{p}sol0(channel_id,
    pos, xs)``.  Every multiply-add replays kernels/interp._cyclic_reduction
    with identical association, so the solution is bit-identical.
    """
    ctes = [f"{p}cr0 AS MATERIALIZED (SELECT channel_id, pos, a, b, c, r, sz FROM {band})"]
    # Forward elimination levels.
    for l in range(1, CR_LEVELS + 1):
        al = "(e.a / COALESCE(e.bl, 1.0))"  # alpha
        be = "(e.c / COALESCE(e.br, 1.0))"  # beta
        ctes.append(f"""{p}cr{l} AS MATERIALIZED (
  SELECT channel_id, pos, a, b, c, r, sz FROM {p}cr{l - 1} WHERE sz <= 2
  UNION ALL
  SELECT e.channel_id, e.pos // 2,
         (-{al}) * COALESCE(e.al_, 0.0) AS a,
         (e.b - {al} * COALESCE(e.cl, 0.0)) - {be} * COALESCE(e.ar_, 0.0) AS b,
         (-{be}) * COALESCE(e.cr_, 0.0) AS c,
         (e.r - {al} * COALESCE(e.rl, 0.0)) - {be} * COALESCE(e.rr, 0.0) AS r,
         (e.sz + 1) // 2 AS sz
  FROM (
    SELECT channel_id, pos, a, b, c, r, sz,
           LAG(a) OVER w AS al_, LAG(b) OVER w AS bl, LAG(c) OVER w AS cl,
           LAG(r) OVER w AS rl,
           LEAD(a) OVER w AS ar_, LEAD(b) OVER w AS br, LEAD(c) OVER w AS cr_,
           LEAD(r) OVER w AS rr
    FROM {p}cr{l - 1} WHERE sz > 2
    WINDOW w AS (PARTITION BY channel_id ORDER BY pos)
  ) e WHERE e.pos % 2 = 0
)""")
    # Terminal closed forms (n == 1: r/b; n == 2: 2x2 solve).
    L = CR_LEVELS
    ctes.append(f"""{p}pair AS MATERIALIZED (
  SELECT channel_id,
         MAX(CASE WHEN pos = 0 THEN b END) AS b0,
         MAX(CASE WHEN pos = 1 THEN b END) AS b1,
         MAX(CASE WHEN pos = 0 THEN c END) AS c0,
         MAX(CASE WHEN pos = 1 THEN a END) AS a1,
         MAX(CASE WHEN pos = 0 THEN r END) AS r0,
         MAX(CASE WHEN pos = 1 THEN r END) AS r1
  FROM {p}cr{L} WHERE sz = 2 GROUP BY channel_id
),
{p}sol{L} AS MATERIALIZED (
  SELECT channel_id, pos, r / b AS xs FROM {p}cr{L} WHERE sz = 1
  UNION ALL
  SELECT channel_id, 0 AS pos,
         (r0 * b1 - c0 * r1) / (b0 * b1 - c0 * a1) AS xs FROM {p}pair
  UNION ALL
  SELECT channel_id, 1,
         (b0 * r1 - a1 * r0) / (b0 * b1 - c0 * a1) FROM {p}pair
)""")
    # Back-substitution levels: even rows copy down, odd rows solve from
    # their even neighbours (ghost zeros beyond the ends).
    for l in range(CR_LEVELS, 0, -1):
        ctes.append(f"""{p}sz{l - 1} AS MATERIALIZED (
  SELECT channel_id, MAX(sz) AS sz FROM {p}cr{l - 1} GROUP BY channel_id
),
{p}sol{l - 1} AS MATERIALIZED (
  SELECT s.channel_id, s.pos, s.xs
  FROM {p}sol{l} s JOIN {p}sz{l - 1} z USING (channel_id) WHERE z.sz <= 2
  UNION ALL
  SELECT s.channel_id, 2 * s.pos, s.xs
  FROM {p}sol{l} s JOIN {p}sz{l - 1} z USING (channel_id) WHERE z.sz > 2
  UNION ALL
  SELECT o.channel_id, o.pos,
         ((o.r - o.a * COALESCE(sl.xs, 0.0)) - o.c * COALESCE(sr.xs, 0.0)) / o.b
  FROM (SELECT * FROM {p}cr{l - 1} WHERE sz > 2 AND pos % 2 = 1) o
  LEFT JOIN {p}sol{l} sl
    ON sl.channel_id = o.channel_id AND sl.pos = (o.pos - 1) // 2
  LEFT JOIN {p}sol{l} sr
    ON sr.channel_id = o.channel_id AND sr.pos = (o.pos + 1) // 2
)""")
    return ",\n".join(ctes)


def sql_interp_cubic() -> str:
    """q_interp_cubic replay: not-a-knot cubic spline on every dedup'd
    channel's full knot set (kernels/interp._cubic_spline_coeffs — fold
    boundary conditions into the interior band, cyclic-reduction solve,
    closed-form boundary recovery), evaluated on the daily grid.  Every
    step is deterministic elementwise arithmetic replayed with identical
    association — BIT-EXACT, no rounding.  Channels need >= 4 knots
    (every driver channel has ~50+).
    """
    return f"""
WITH {SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
kn AS MATERIALIZED (
  SELECT channel_id, t AS x, value AS y,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) AS i,
         COUNT(*) OVER (PARTITION BY channel_id) AS n
  FROM dedup
),
kh AS (
  SELECT channel_id, i, n, x, y,
         LEAD(x) OVER w - x AS h,
         (LEAD(y) OVER w - y) / (LEAD(x) OVER w - x) AS dif
  FROM kn WINDOW w AS (PARTITION BY channel_id ORDER BY i)
),
kh2 AS (
  SELECT channel_id, i, n, h, dif,
         LEAD(h) OVER w AS h2, LEAD(dif) OVER w AS dif2
  FROM kh WINDOW w AS (PARTITION BY channel_id ORDER BY i)
),
hend AS (
  SELECT channel_id,
         MAX(CASE WHEN i = n - 2 THEN h END) AS hm2,
         MAX(CASE WHEN i = n - 1 THEN h END) AS hm1
  FROM kh WHERE n >= 4 GROUP BY channel_id
),
band AS MATERIALIZED (
  SELECT k.channel_id, k.i - 1 AS pos,
         CASE WHEN k.i = 1 THEN 0.0
              WHEN k.i = k.n - 2 THEN (e.hm2 * e.hm2 - e.hm1 * e.hm1) / e.hm2
              ELSE k.h END AS a,
         CASE WHEN k.i = 1 THEN (k.h + k.h2) * (k.h + 2.0 * k.h2) / k.h2
              WHEN k.i = k.n - 2
                THEN (e.hm2 + e.hm1) * (2.0 * e.hm2 + e.hm1) / e.hm2
              ELSE 2.0 * (k.h + k.h2) END AS b,
         CASE WHEN k.i = k.n - 2 THEN 0.0
              WHEN k.i = 1 THEN (k.h2 * k.h2 - k.h * k.h) / k.h2
              ELSE k.h2 END AS c,
         6.0 * (k.dif2 - k.dif) AS r,
         k.n - 2 AS sz
  FROM kh2 k JOIN hend e USING (channel_id)
  WHERE k.i <= k.n - 2 AND k.n >= 4
),
{cyclic_reduction_ctes("q", "band")},
mint AS (SELECT channel_id, pos + 2 AS ki, xs AS m FROM qsol0),
h12 AS (
  SELECT channel_id,
         MAX(CASE WHEN i = 1 THEN h END) AS h1,
         MAX(CASE WHEN i = 2 THEN h END) AS h2
  FROM kh WHERE n >= 4 GROUP BY channel_id
),
mpick AS (
  SELECT m.channel_id,
         MAX(CASE WHEN ki = 2 THEN m END) AS m2,
         MAX(CASE WHEN ki = 3 THEN m END) AS m3,
         MAX(CASE WHEN ki = n - 1 THEN m END) AS mn1,
         MAX(CASE WHEN ki = n - 2 THEN m END) AS mn2
  FROM mint m JOIN (SELECT DISTINCT channel_id, n FROM kn) c USING (channel_id)
  GROUP BY m.channel_id
),
mall AS MATERIALIZED (
  SELECT channel_id, ki, m FROM mint
  UNION ALL
  SELECT p.channel_id, 1,
         ((f.h1 + f.h2) * p.m2 - f.h1 * p.m3) / f.h2
  FROM mpick p JOIN h12 f USING (channel_id)
  UNION ALL
  SELECT p.channel_id, c.n,
         ((e.hm2 + e.hm1) * p.mn1 - e.hm1 * p.mn2) / e.hm2
  FROM mpick p JOIN hend e USING (channel_id)
  JOIN (SELECT DISTINCT channel_id, n FROM kn) c USING (channel_id)
),
dgrid AS (
  SELECT channel_id,
         UNNEST(RANGE(CAST(CEIL(t0 / {DAY!r}) AS BIGINT),
                      CAST(FLOOR(t1 / {DAY!r}) AS BIGINT) + 1)) * {DAY!r} AS tg
  FROM (SELECT channel_id, MIN(t) AS t0, MAX(t) AS t1 FROM dedup GROUP BY channel_id)
),
ev0 AS (
  SELECT channel_id, x, i, 1 AS is_src FROM kn
  UNION ALL
  SELECT channel_id, tg, NULL, 0 FROM dgrid
),
ev1 AS (
  SELECT channel_id, x AS tg,
         LAST_VALUE(CASE WHEN is_src = 1 THEN i END IGNORE NULLS)
           OVER (PARTITION BY channel_id ORDER BY x, is_src DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ilast,
         is_src
  FROM ev0
),
evt AS (
  SELECT e.channel_id, e.tg,
         LEAST(GREATEST(e.ilast, 1), c.n - 1) AS li
  FROM ev1 e JOIN (SELECT DISTINCT channel_id, n FROM kn) c USING (channel_id)
  WHERE e.is_src = 0
)
SELECT e.channel_id, e.tg AS t,
       ((kl.m * ((kr.x - e.tg) * (kr.x - e.tg) * (kr.x - e.tg))
           / (6.0 * (kr.x - kl.x))
         + km.m * ((e.tg - kl.x) * (e.tg - kl.x) * (e.tg - kl.x))
           / (6.0 * (kr.x - kl.x)))
        + (kl.y / (kr.x - kl.x) - kl.m * (kr.x - kl.x) / 6.0) * (kr.x - e.tg))
       + (kr.y / (kr.x - kl.x) - km.m * (kr.x - kl.x) / 6.0) * (e.tg - kl.x)
       AS value
FROM evt e
JOIN (SELECT k.channel_id, k.i, k.x, k.y, m.m
      FROM kn k JOIN mall m ON m.channel_id = k.channel_id AND m.ki = k.i) kl
  ON kl.channel_id = e.channel_id AND kl.i = e.li
JOIN kn kr ON kr.channel_id = e.channel_id AND kr.i = e.li + 1
JOIN mall km ON km.channel_id = e.channel_id AND km.ki = e.li + 1
"""


def sql_accessor_chain() -> str:
    """q_accessor_chain replay: between(0,1) -> filtfilt(butter(2, 1/3))
    -> detrend(linear) -> causal A-weighting -> mov_rms(24 samples,
    drop-last, re-centered time base) — the fused KernelPipeline
    (pipeline/fused.py) replayed stage for stage.  The filter recursions
    are bit-exact; the detrend means and the rolling mean-of-squares are
    reductions (numpy pairwise / longdouble-cumsum vs SQL AVG), so the
    output VALUE is rounded to 6 digits on both sides (divergence ~1e-13
    against a ~1e-10 measured boundary margin); the time base is exact.
    """
    b1, a1 = butter_chain_ba()
    b2, a2 = aw_prod_ba()
    half_win = dlit(0.0005 / 2.0)
    return f"""
WITH RECURSIVE {SIG_CTE},
{IDX_CTES},
ibx AS MATERIALIZED (
  SELECT channel_id, ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) AS i,
         t, x
  FROM idx WHERE t BETWEEN 0.0 AND 1.0
),
ibn AS MATERIALIZED (SELECT channel_id, MAX(i) AS n FROM ibx GROUP BY channel_id),
{filtfilt_ctes("c1", b1, a1, "ibx", "ibn")},
c1t AS MATERIALIZED (
  SELECT o.channel_id, o.i, x.t, o.y
  FROM c1out o JOIN ibx x ON x.channel_id = o.channel_id AND x.i = o.i
),
dstat AS (
  SELECT channel_id, AVG(t) AS mt, AVG(y) AS my FROM c1t GROUP BY channel_id
),
dcent AS (
  SELECT c.channel_id, c.i, c.t, c.t - s.mt AS tc, c.y - s.my AS yc
  FROM c1t c JOIN dstat s USING (channel_id)
),
dden AS (
  SELECT channel_id, AVG(tc * tc) AS denom, AVG(tc * yc) AS cov
  FROM dcent GROUP BY channel_id
),
det AS MATERIALIZED (
  SELECT d.channel_id, d.i, d.t,
         d.yc - (CASE WHEN n.denom > 0.0 THEN n.cov / n.denom ELSE 0.0 END)
                * d.tc AS x
  FROM dcent d JOIN dden n USING (channel_id)
),
{lfilter_ctes("c2", b2, a2, "det")},
mv AS (
  SELECT o.channel_id, o.i, d.t,
         SUM(o.y * o.y) OVER (PARTITION BY o.channel_id ORDER BY o.i
                              ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS ss
  FROM c2out o JOIN det d ON d.channel_id = o.channel_id AND d.i = o.i
)
SELECT m.channel_id, m.t - {half_win} AS t,
       ROUND(SQRT(GREATEST(m.ss / 24.0, 0.0)), 6) AS value
FROM mv m JOIN ibn c USING (channel_id)
WHERE m.i >= 24 AND m.i < c.n
"""


def _quad_basis_sql(u: str) -> dict[str, str]:
    """The three degree-2 B-spline basis values at ``u`` given joined knot
    vector values tm_1/tm/tm1/tm2 (kernels/interp._quad_basis, identical
    association, with the same den>0 guards)."""

    def frac(num, den):
        return f"(CASE WHEN {den} > 0 THEN ({num}) / ({den}) ELSE 0.0 END)"

    n1l = frac(f"tm1 - {u}", "tm1 - tm")
    n1r = frac(f"{u} - tm", "tm1 - tm")
    return {
        "b0": f"{frac(f'tm1 - {u}', 'tm1 - tm_1')} * {n1l}",
        "b1": f"{frac(f'{u} - tm_1', 'tm1 - tm_1')} * {n1l}"
              f" + {frac(f'tm2 - {u}', 'tm2 - tm')} * {n1r}",
        "b2": f"{frac(f'{u} - tm', 'tm2 - tm')} * {n1r}",
    }


def sql_interp_quadratic() -> str:
    """q_interp_quadratic replay: interpolating quadratic B-spline on
    clamped midpoint knots (kernels/interp._quadratic_eval — collocation
    band from the de Boor basis at the data sites, cyclic-reduction
    solve, basis evaluation at the day-grid targets).  BIT-EXACT: every
    step is elementwise arithmetic replayed with identical association;
    the searchsorted spans reduce to counting midpoints <= the site
    (midpoints are strictly interior for these channels).
    """
    bas_d = _quad_basis_sql("u")
    bas_e = _quad_basis_sql("tg")
    return f"""
WITH {SIG_CTE},
dedup AS (
  SELECT channel_id, t, AVG(value) AS value FROM sig GROUP BY channel_id, t
),
kn AS MATERIALIZED (
  SELECT channel_id, t AS x, value AS y,
         ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t) AS i,
         COUNT(*) OVER (PARTITION BY channel_id) AS n
  FROM dedup
),
-- knot vector kv(kidx 0-based 0..n+2): [x1 x1 x1, m2..m_{{n-2}}, xn xn xn]
-- with m_j = 0.5 * (x_j + x_{{j+1}})
mids AS (
  SELECT channel_id, i AS j, 0.5 * (x + LEAD(x) OVER w) AS mval, n
  FROM kn WINDOW w AS (PARTITION BY channel_id ORDER BY i)
  QUALIFY i BETWEEN 2 AND n - 2
),
kv AS MATERIALIZED (
  SELECT k.channel_id, g.kidx,
         CASE WHEN g.kidx <= 2 THEN k.x1
              WHEN g.kidx >= k.n THEN k.xn
              ELSE NULL END AS tv
  FROM (SELECT channel_id, n,
               MAX(CASE WHEN i = 1 THEN x END) AS x1,
               MAX(CASE WHEN i = n THEN x END) AS xn
        FROM kn GROUP BY channel_id, n) k
  JOIN LATERAL (SELECT UNNEST(RANGE(0, k.n + 3)) AS kidx) g ON true
  WHERE g.kidx <= 2 OR g.kidx >= k.n
  UNION ALL
  SELECT channel_id, j + 1 AS kidx, mval FROM mids
),
-- collocation rows: span_i = 2 (i=1), i (2<=i<=n-1), n-1 (i=n)
dsp AS (
  SELECT channel_id, i, n, x AS u, y,
         CASE WHEN i = 1 THEN 2
              WHEN i = n THEN n - 1
              ELSE i END AS span
  FROM kn
),
dbas AS (
  SELECT d.channel_id, d.i, d.n, d.y,
         {bas_d['b0']} AS b0v,
         {bas_d['b1']} AS b1v,
         {bas_d['b2']} AS b2v
  FROM (
    SELECT d.*, km1.tv AS tm_1, k0.tv AS tm, k1.tv AS tm1, k2.tv AS tm2
    FROM dsp d
    JOIN kv km1 ON km1.channel_id = d.channel_id AND km1.kidx = d.span - 1
    JOIN kv k0  ON k0.channel_id = d.channel_id AND k0.kidx = d.span
    JOIN kv k1  ON k1.channel_id = d.channel_id AND k1.kidx = d.span + 1
    JOIN kv k2  ON k2.channel_id = d.channel_id AND k2.kidx = d.span + 2
  ) d
),
qband AS MATERIALIZED (
  SELECT channel_id, i - 1 AS pos,
         CASE WHEN i = 1 THEN 0.0
              WHEN i = n THEN b1v
              ELSE b0v END AS a,
         CASE WHEN i = 1 THEN b0v
              WHEN i = n THEN b2v
              ELSE b1v END AS b,
         CASE WHEN i = 1 THEN b1v
              WHEN i = n THEN 0.0
              ELSE b2v END AS c,
         y AS r,
         n AS sz
  FROM dbas WHERE n >= 3
),
{cyclic_reduction_ctes("p", "qband")},
dgrid AS (
  SELECT channel_id,
         UNNEST(RANGE(CAST(CEIL(t0 / {DAY!r}) AS BIGINT),
                      CAST(FLOOR(t1 / {DAY!r}) AS BIGINT) + 1)) * {DAY!r} AS tg
  FROM (SELECT channel_id, MIN(t) AS t0, MAX(t) AS t1 FROM dedup GROUP BY channel_id)
),
-- span2 = clip(#(t <= u) - 1, 2, n_basis - 1): 3 leading clamps + count
-- of midpoints <= target (+3 trailing clamps when target == xn)
tspan AS (
  SELECT g.channel_id, g.tg,
         LEAST(GREATEST(CAST(2 + COUNT(m.mval)
                 + (CASE WHEN g.tg >= k.xn THEN 3 ELSE 0 END) AS BIGINT),
               2), k.n - 1) AS span,
         k.n
  FROM dgrid g
  JOIN (SELECT channel_id, n, MAX(CASE WHEN i = n THEN x END) AS xn
        FROM kn GROUP BY channel_id, n) k USING (channel_id)
  LEFT JOIN mids m ON m.channel_id = g.channel_id AND m.mval <= g.tg
  GROUP BY g.channel_id, g.tg, k.n, k.xn
)
SELECT e.channel_id, e.tg AS t,
       (c0.xs * ({bas_e['b0']}) + c1.xs * ({bas_e['b1']}))
         + c2.xs * ({bas_e['b2']}) AS value
FROM (
  SELECT s.*, km1.tv AS tm_1, k0.tv AS tm, k1.tv AS tm1, k2.tv AS tm2
  FROM tspan s
  JOIN kv km1 ON km1.channel_id = s.channel_id AND km1.kidx = s.span - 1
  JOIN kv k0  ON k0.channel_id = s.channel_id AND k0.kidx = s.span
  JOIN kv k1  ON k1.channel_id = s.channel_id AND k1.kidx = s.span + 1
  JOIN kv k2  ON k2.channel_id = s.channel_id AND k2.kidx = s.span + 2
) e
JOIN psol0 c0 ON c0.channel_id = e.channel_id AND c0.pos = e.span - 2
JOIN psol0 c1 ON c1.channel_id = e.channel_id AND c1.pos = e.span - 1
JOIN psol0 c2 ON c2.channel_id = e.channel_id AND c2.pos = e.span
"""


# ---------------------------------------------------------------------------
# PSD family: relational Welch with an O(N^2) DFT standing in for the
# kernel's rfft.  The two transforms agree to ~1e-7 absolute on this data
# while every output sits >= 100x farther from its rounding boundary
# (measured in tests/test_prod_oracle_margins.py), so both sides round
# HALF_UP at the digits below and the hash compare is stable.
# ---------------------------------------------------------------------------

_TWO_PI = 2.0 * math.pi
# Rounding digits per PSD leg (power values are >= ~500 on this data, so
# integer rounding preserves many significant digits).
PSD_ROUND = 0


def _psd_consts(n_window: int, fs: float):
    """(scale, rfftfreq-val) exactly as kernels/spectral.periodogram
    computes them — same calls, same doubles."""
    from pandas_sigproc_spark.kernels.spectral import get_window

    win = get_window("hann", n_window)
    scale = 1.0 / (fs * float(np.dot(win, win)))
    val = 1.0 / (n_window * (1.0 / fs))
    return scale, val


def welch_seg_ctes(p: str, n_window: int, n_ov: int, fs: float,
                   src: str = "uni", srcn: str = "unt") -> tuple[str, str]:
    """CTEs computing the per-(channel, segment, bin) one-sided-density
    periodogram table ``{p}seg(channel_id, seg, k, p)`` (doubling applied,
    ALL bins incl. DC — the freq>0 mask is the caller's, matching
    tools.py:87-95 which integrates the full spectrum before masking).
    Returns (cte_sql, freq_value_literal).
    """
    n_step = n_window - n_ov
    scale, val = _psd_consts(n_window, fs)
    w0 = _TWO_PI / n_window
    cte = f"""{p}sg AS (
  SELECT channel_id, UNNEST(RANGE(0, GREATEST((n - {n_ov}) // {n_step}, 0))) AS seg
  FROM {srcn}
),
{p}sm AS (
  SELECT s.channel_id, s.seg, u.i - 1 - s.seg * {n_step} AS m, u.x
  FROM {p}sg s JOIN {src} u ON u.channel_id = s.channel_id
   AND u.i - 1 >= s.seg * {n_step} AND u.i - 1 < s.seg * {n_step} + {n_window}
),
{p}wm AS (
  SELECT channel_id, seg, m,
         (x - AVG(x) OVER (PARTITION BY channel_id, seg))
           * (0.5 - 0.5 * COS(({dlit(_TWO_PI)} * m) / {float(n_window)!r})) AS xw
  FROM {p}sm
),
{p}kg AS (SELECT UNNEST(RANGE(0, {n_window // 2 + 1})) AS k),
{p}dft AS (
  SELECT channel_id, seg, k,
         SUM(xw * COS({dlit(w0)} * ((m * k) % {n_window}))) AS re,
         SUM(xw * SIN({dlit(w0)} * ((m * k) % {n_window}))) AS im
  FROM {p}wm CROSS JOIN {p}kg
  GROUP BY channel_id, seg, k
),
{p}seg AS MATERIALIZED (
  SELECT channel_id, seg, k,
         (re * re + im * im) * {dlit(scale)}
           * (CASE WHEN k = 0 OR k = {n_window // 2} THEN 1.0 ELSE 2.0 END) AS p
  FROM {p}dft
)"""
    return cte, dlit(val)


def sql_psd_welch() -> str:
    # q_psd_welch: wl=128*3600, overlap .5, hann, mean, bucketed ->
    # rate = 1/3600 as inferred; n_window = int(rate*wl) = 128.
    cte, val = welch_seg_ctes("w", 128, 64, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte}
SELECT channel_id, k * {val} AS freq,
       ROUND(AVG(p), {PSD_ROUND}) + 0.0 AS power
FROM wseg WHERE k > 0 GROUP BY channel_id, k
"""


def sql_psd_median() -> str:
    cte, val = welch_seg_ctes("w", 64, 32, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte}
SELECT channel_id, k * {val} AS freq,
       ROUND(QUANTILE_CONT(p, 0.5), {PSD_ROUND}) + 0.0 AS power
FROM wseg WHERE k > 0 GROUP BY channel_id, k
"""


def _psd_factor_ctes(val: str) -> str:
    """Shared trapezoid CTEs over ``wseg``: per-(channel, seg) spectrum RMS
    and the mean-PSD RMS (tools.py:87-95 — FULL spectrum incl. DC)."""
    return f"""wmean AS (
  SELECT channel_id, k, AVG(p) AS mp FROM wseg GROUP BY channel_id, k
),
wmp AS (
  SELECT channel_id, k, mp, k * {val} AS f,
         LEAD(mp) OVER w AS mp2, LEAD(k * {val}) OVER w AS f2
  FROM wmean WINDOW w AS (PARTITION BY channel_id ORDER BY k)
),
wmrms AS (
  SELECT channel_id, SQRT(SUM((f2 - f) * (mp2 + mp) / 2.0)) AS mean_rms
  FROM wmp WHERE f2 IS NOT NULL GROUP BY channel_id
),
wsp AS (
  SELECT channel_id, seg, k, p, k * {val} AS f,
         LEAD(p) OVER w AS p2, LEAD(k * {val}) OVER w AS f2
  FROM wseg WINDOW w AS (PARTITION BY channel_id, seg ORDER BY k)
),
wsrms AS (
  SELECT channel_id, seg, SQRT(SUM((f2 - f) * (p2 + p) / 2.0)) AS seg_rms
  FROM wsp WHERE f2 IS NOT NULL GROUP BY channel_id, seg
)"""


def sql_psd_maxrms() -> str:
    cte, val = welch_seg_ctes("w", 64, 32, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte},
{_psd_factor_ctes(val)},
wfac AS (
  SELECT s.channel_id, POW(MAX(s.seg_rms) / ANY_VALUE(m.mean_rms), 2.0) AS factor
  FROM wsrms s JOIN wmrms m USING (channel_id) GROUP BY s.channel_id
)
SELECT w.channel_id, w.k * {val} AS freq,
       ROUND(AVG(w.p) * ANY_VALUE(f.factor), {PSD_ROUND}) + 0.0 AS power
FROM wseg w JOIN wfac f USING (channel_id)
WHERE w.k > 0 GROUP BY w.channel_id, w.k
"""


def sql_psd_damage() -> str:
    # fatigue_exponent b=4: factor = (mean((seg_rms/mean_rms)^4)^(1/4))^2.
    cte, val = welch_seg_ctes("w", 64, 32, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte},
{_psd_factor_ctes(val)},
wfac AS (
  SELECT s.channel_id,
         POW(POW(AVG(POW(s.seg_rms / m.mean_rms, 4.0)), 0.25), 2.0) AS factor
  FROM wsrms s JOIN wmrms m USING (channel_id) GROUP BY s.channel_id
)
SELECT w.channel_id, w.k * {val} AS freq,
       ROUND(AVG(w.p) * ANY_VALUE(f.factor), {PSD_ROUND}) + 0.0 AS power
FROM wseg w JOIN wfac f USING (channel_id)
WHERE w.k > 0 GROUP BY w.channel_id, w.k
"""


def sql_psd_all() -> str:
    # q_psd_all: summarize='all' -> the whole-channel body with the
    # declared samplerate as is (operators/psd.py _bucketed_psd).
    cte, val = welch_seg_ctes("w", 64, 32, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte}
SELECT channel_id, seg, k * {val} AS freq,
       ROUND(p, {PSD_ROUND}) + 0.0 AS power
FROM wseg WHERE k > 0
"""


def sql_psd_segmented() -> str:
    # q_psd_segmented: the relational-segmentation scale path, mean
    # summarize, explicit (unrounded) samplerate per _segmented_psd.
    cte, val = welch_seg_ctes("w", 128, 64, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte}
SELECT channel_id, k * {val} AS freq,
       ROUND(AVG(p), {PSD_ROUND}) + 0.0 AS power
FROM wseg WHERE k > 0 GROUP BY channel_id, k
"""


def sql_psd_rms() -> str:
    # q_psd_rms: 128-window bucketed Welch mean -> rms_lin trapezoid over
    # the POSITIVE-frequency spectrum (get_psd output), rounded 6.
    cte, val = welch_seg_ctes("w", 128, 64, HOURLY)
    return f"""
WITH {SIG_CTE},
{UNIFORM_CTES},
{cte},
wmean AS (
  SELECT channel_id, k, AVG(p) AS mp FROM wseg WHERE k > 0 GROUP BY channel_id, k
),
wmp AS (
  SELECT channel_id, mp, k * {val} AS f,
         LEAD(mp) OVER w AS mp2, LEAD(k * {val}) OVER w AS f2
  FROM wmean WINDOW w AS (PARTITION BY channel_id ORDER BY k)
)
SELECT channel_id,
       ROUND(SQRT(SUM((mp + mp2) / 2.0 * (f2 - f))), 6) AS rms_lin
FROM wmp WHERE f2 IS NOT NULL GROUP BY channel_id
"""


def sql_srs() -> str:
    """q_srs replay: 13 Smallwood SDOF resonators (kernels/srs.py
    smallwood_coefficients at dt=3600.0, Q=10 — get_srs's mean(diff(t))
    is exactly 3600.0 on the hourly grid, whose epoch times stay in one
    binade) run over every uniform channel; the envelope is
    GREATEST(MAX(y), ABS(MIN(y))) — selection over bit-identical doubles,
    so no rounding anywhere.  The recursion carries the running extremes
    instead of materializing every response sample.
    """
    from pandas_sigproc_spark.kernels.srs import smallwood_coefficients

    fns = [1e-5 * 2 ** (i / 3.0) for i in range(13)]  # == q_srs freq list
    b, a = smallwood_coefficients(np.asarray(fns, np.float64), 3600.0, 10.0)
    rows = ",\n    ".join(
        f"({i}, {dlit(fns[i])}, {dlit(b[i,0])}, {dlit(b[i,1])}, {dlit(b[i,2])},"
        f" {dlit(a[i,1])}, {dlit(a[i,2])})"
        for i in range(len(fns))
    )
    y0 = "c.b0 * h.x + 0.0"
    yi = "f.b0 * h.x + f.z1"
    return f"""
WITH RECURSIVE {SIG_CTE},
{UNIFORM_CTES},
coef AS MATERIALIZED (
  SELECT * FROM (VALUES
    {rows}
  ) AS c(fidx, freq, b0, b1, b2, a1, a2)
),
f AS (
  SELECT h.channel_id, c.fidx, c.freq, c.b0, c.b1, c.b2, c.a1, c.a2, h.i,
         {y0} AS y,
         (c.b1 * h.x + 0.0) - c.a1 * ({y0}) AS z1,
         c.b2 * h.x - c.a2 * ({y0}) AS z2,
         {y0} AS pos,
         {y0} AS neg
  FROM uni h CROSS JOIN coef c WHERE h.i = 1
  UNION ALL
  SELECT h.channel_id, f.fidx, f.freq, f.b0, f.b1, f.b2, f.a1, f.a2, h.i,
         {yi} AS y,
         (f.b1 * h.x + f.z2) - f.a1 * ({yi}) AS z1,
         f.b2 * h.x - f.a2 * ({yi}) AS z2,
         GREATEST(f.pos, {yi}) AS pos,
         LEAST(f.neg, {yi}) AS neg
  FROM f JOIN uni h ON h.channel_id = f.channel_id AND h.i = f.i + 1
)
SELECT f.channel_id, f.freq, GREATEST(f.pos, ABS(f.neg)) AS power
FROM f JOIN unt nt ON nt.channel_id = f.channel_id AND f.i = nt.n
"""


def sql_filt_chain() -> str:
    # KernelPipeline: filtfilt(butter(2, 1/3)) then causal A-weighting,
    # fused in one task (pipeline/fused.py) — replay the two stages
    # back-to-back; the intermediate feeds the second recursion directly.
    b1, a1 = butter_chain_ba()
    b2, a2 = aw_prod_ba()
    return f"""
WITH RECURSIVE {SIG_CTE},
{IDX_CTES},
{filtfilt_ctes("st1", b1, a1, "idx", "idxn")},
mid1 AS MATERIALIZED (SELECT channel_id, i, y AS x FROM st1out),
{lfilter_ctes("st2", b2, a2, "mid1")}
SELECT o.channel_id, x.t, o.y AS value
FROM st2out o JOIN idx x ON x.channel_id = o.channel_id AND x.i = o.i
"""
