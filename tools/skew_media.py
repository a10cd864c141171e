"""Media-tier skew probes (round 10): the r9 pHash hot-bucket probe
covered the batch pair join; these probe the NEW r10 surfaces' guards.

1. INCREMENTAL PHASH PROBE vs a poisoned store: the delta is clean but
   the EXISTING store holds a block of identical hashes, so the
   store-side band table has one degenerate (band_id, band_bits)
   bucket.  The default-on guard (phash_band_keys ->
   guard_bucket_rows on BOTH probe tables) must refuse loudly; the
   unguarded plan grinds delta x block candidate pairs.

2. STREAMING STATE CAP (streaming_phash_dedup): a stream of identical
   images accretes one band key's state; the per-key cap must raise
   BEFORE the quadratic in-state compare, in seconds.  (Uses the batch
   fallback path — same _cap_check, same message — so the probe needs
   no streaming sink.)

3. AUDIO HOT-HASH CAP (audio_near_pairs max_df): a block of identical
   clips makes every fingerprint hash df=block size, so the fp
   self-join is O(m^2) per hash without the cap; with max_df below the
   block size the degenerate hashes drop from matching AND totals and
   the join is empty-bounded.

Usage: python tools/skew_media.py  ->  markdown table on stdout
(appended to SKEW.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from pandas_sigproc_spark.session import get_spark

N_DISTINCT = int(os.environ.get("SKEW_MEDIA_DISTINCT", 500))
N_DUP = int(os.environ.get("SKEW_MEDIA_DUP", 4_000))
N_CLIPS = int(os.environ.get("SKEW_AUDIO_DUP", 300))


def _wall(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def _evaluate(df):
    """Force FULL evaluation of every output column.  count() is the
    WRONG probe for the incremental operators: their verdict columns
    come from LeftOuter joins against per-key aggregates (distinct join
    keys), which Catalyst legitimately ELIMINATES under count(*) — the
    guard subtree then never runs and a probe would misread that as
    "guard did not fire" (exactly the r10 false alarm that motivated
    this helper).  The noop sink evaluates every row of every column."""
    df.write.mode("overwrite").format("noop").save()
    return "evaluated"


def _smooth(seed: int, h: int = 64, w: int = 64) -> np.ndarray:
    r = np.random.default_rng(seed)
    base = r.standard_normal((8, 8))
    big = np.kron(base, np.ones((h // 8, w // 8)))
    big = (big - big.min()) / (big.max() - big.min()) * 255
    return np.repeat(big[:, :, None], 3, 2).astype(np.uint8)


def probe_incremental_probe_guard(spark):
    from pandas_sigproc_spark.operators.imagedup import (
        incremental_phash_dedup,
        phash_bytes,
        phash_images,
    )
    from pandas_sigproc_spark.sources.bmp import encode_bmp

    # store: N_DISTINCT distinct hashes + N_DUP copies of ONE hash
    hot = phash_bytes(encode_bmp(_smooth(0)))
    store_pdf = pd.DataFrame(
        {
            "media_id": np.arange(N_DISTINCT + N_DUP, dtype="int64"),
            "phash": np.array(
                [phash_bytes(encode_bmp(_smooth(1 + i))) for i in range(N_DISTINCT)]
                + [hot] * N_DUP,
                dtype="int64",
            ),
        }
    )
    store = spark.createDataFrame(store_pdf, "media_id long, phash long")
    delta = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [10_000_000 + i for i in range(200)],
                "payload": [encode_bmp(_smooth(0))] * 200,  # all hit the hot hash
            }
        ),
        "media_id long, payload binary",
    )

    w_grind, out = _wall(
        lambda: _evaluate(
            incremental_phash_dedup(
                store, delta, max_hamming=6, max_bucket_rows=None
            )
        )
    )
    def _guarded():
        try:
            _evaluate(
                incremental_phash_dedup(
                    store, delta, max_hamming=6, max_bucket_rows=1000
                )
            )
            return "NO RAISE (bug)"
        except Exception as exc:
            msg = str(exc)
            assert "exact" in msg and "dedup" in msg, msg[:200]
            return "refused"
    w_guard, verdict = _wall(_guarded)
    return [
        (
            f"incremental_phash_dedup, poisoned store ({N_DUP} identical "
            f"hashes), UNGUARDED (max_bucket_rows=None)",
            w_grind,
            "200 delta verdicts ground through the hot band bucket",
        ),
        (
            "same store, guard cap=1000 (default-on shape)",
            w_guard,
            f"{verdict}: loud refusal, "
            f"{w_guard / w_grind:.2f}x of the grind",
        ),
    ]


def probe_streaming_state_cap(spark):
    from pandas_sigproc_spark.operators.imagedup import phash_images
    from pandas_sigproc_spark.sources.bmp import encode_bmp
    from pandas_sigproc_spark.streaming import streaming_phash_dedup

    existing = phash_images(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": list(range(10)),
                    "payload": [encode_bmp(_smooth(100 + i)) for i in range(10)],
                }
            ),
            "media_id long, payload binary",
        )
    )
    same = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1000 + i for i in range(N_DUP)],
                "payload": [encode_bmp(_smooth(0))] * N_DUP,
            }
        ),
        "media_id long, payload binary",
    )

    def _refuse():
        try:
            _evaluate(
                streaming_phash_dedup(
                    same, existing, max_hamming=6,
                    max_state_rows_per_key=1000,
                )
            )
            return "NO RAISE (bug)"
        except Exception as exc:
            assert "max_state_rows_per_key" in str(exc), str(exc)[:200]
            return "refused"

    w, verdict = _wall(_refuse)
    return [
        (
            f"streaming_phash_dedup (batch-fallback path), {N_DUP} identical "
            "images into one band key, state cap=1000",
            w,
            f"{verdict} BEFORE the O(m^2) in-key compare "
            f"({N_DUP * (N_DUP - 1) // 2:,} pairs never ran)",
        )
    ]


def probe_audio_hot_hash(spark):
    from pandas_sigproc_spark.operators.audiodup import audio_near_pairs
    from pandas_sigproc_spark.sources.wav import encode_wav_bytes

    r = np.random.default_rng(3)
    t = np.arange(16384) / 8000.0
    freqs = r.uniform(100, 3500, 6)
    amps = r.uniform(0.4, 1.0, 6)
    clip = encode_wav_bytes(
        8000, (np.sin(2 * np.pi * np.outer(t, freqs)) @ amps).astype(np.float64)
    )
    media = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": list(range(N_CLIPS)), "payload": [clip] * N_CLIPS}
        ),
        "media_id long, payload binary",
    )
    w_grind, n = _wall(
        lambda: audio_near_pairs(media, 0.2, max_df=None).count()
    )
    w_cap, n_cap = _wall(
        lambda: audio_near_pairs(media, 0.2, max_df=N_CLIPS // 2).count()
    )
    # pair streams come straight off joins/aggregates (no eliminable
    # outer join), so count() is a true evaluation here
    return [
        (
            f"audio_near_pairs, {N_CLIPS} identical clips, max_df=None",
            w_grind,
            f"{n:,} pairs — every hash df={N_CLIPS}, O(m^2) per hash",
        ),
        (
            f"same clips, max_df={N_CLIPS // 2} (degenerate hashes dropped "
            "from matching AND totals)",
            w_cap,
            f"{n_cap} pairs, {w_cap / w_grind:.2f}x of the grind",
        ),
    ]


def main():
    spark = get_spark("skew_media")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    rows += probe_incremental_probe_guard(spark)
    rows += probe_streaming_state_cap(spark)
    rows += probe_audio_hot_hash(spark)
    print("| probe | wall (s) | note |")
    print("|---|---|---|")
    for name, w, note in rows:
        print(f"| {name} | {w:.2f} | {note} |")


if __name__ == "__main__":
    main()
