"""n-gram Jaccard near-duplicate detection with a document-frequency skew guard.

Extension tier (no reference counterpart — SURVEY.md §2's LLM-pipeline rows):
exact set-similarity self-join over word n-gram shingles, in two plans:

- ``jaccard_pairs``: all-shingle self-join + per-pair count aggregation.
  Simple and fast below ~1M docs, but the (d1, d2) pair aggregation grows
  quadratically with shingle document frequency.
- ``jaccard_ppjoin``: PPJoin-style prefix-filtered join — candidates must
  share a member of both docs' prefixes (first n - ceil(t*n) + 1 shingles
  in a global sort order) and pass the size bound max <= min/t; each
  distinct candidate pair is verified once against the full arrays.  This
  is the plan that survives 100 TB.

Both plans accept ``max_df``, a document-frequency cap on shingles: any
shingle appearing in more than ``max_df`` documents (boilerplate headers,
license blocks, navigation chrome) is dropped from the similarity universe
*consistently* — from the join, from the intersection counts, AND from the
set sizes — so the result is exactly Jaccard similarity over the
df-filtered shingle sets.  This is the standard near-dup skew guard: on a
boilerplate-heavy corpus a single hot shingle with df=d contributes
O(d^2) join output rows, and d is unbounded in corpus size while honest
near-dup shingles have small df.  When every shingle's df <= max_df the
results are bit-identical to the uncapped run (property-tested).

Scale shape of the cap itself: one extra map-side-combinable count over
exploded shingles to find the hot set (which is tiny by construction —
only shingles with df > max_df), broadcast anti-join to drop them, and a
per-doc window count to re-derive set sizes.  No all-pairs work anywhere.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window, functions as F


def _shingles_expr(text_col: str, n: int):
    """Distinct word n-gram shingle array, computed map-side via the
    linear zip-of-slices builder (text.gram_sql — the transform+slice
    idiom re-splits the document per gram; 158x on a 20k-token doc)."""
    from pandas_sigproc_spark.operators.text import grams_expr

    return F.array_distinct(grams_expr(n, text_col))


def _exploded(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, n_sh, sh, h): one row per distinct shingle per doc.

    n_sh is computed map-side (F.size before the explode) so the uncapped
    path needs no shuffle at all to know set sizes.
    """
    shs = _shingles_expr(text_col, n)
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), shs.alias("shs"))
        .select("doc_id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh"))
        .withColumn("h", F.xxhash64("sh"))
    )


def _pruning_threshold(threshold: float) -> float:
    """Slightly-relaxed threshold for the PRUNING bounds only.

    The size bound ``n_min >= t * n_max`` and the PPJoin prefix length
    ``ceil(t * n)`` evaluate ``t * n`` in float64; for thresholds not
    exactly representable in binary (0.55, 0.7, ...) the product can land
    one ulp ABOVE the true rational value (100 * 0.55 -> 55.000...01),
    silently pruning a true pair whose Jaccard equals the threshold and
    breaking the documented no-true-pair-lost contract.  Scaling the
    pruning threshold down by 1e-12 over-covers that ulp error by ~4
    orders of magnitude while admitting essentially no extra candidates;
    the FINAL exact ``jaccard >= threshold`` filter still decides
    membership, so results are unchanged except that boundary pairs are
    no longer lost.
    """
    return threshold * (1.0 - 1e-12)


def _hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Shingles with document frequency above the cap — small by construction."""
    return (
        sh.groupBy("h", "sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h", "sh")
    )


def _apply_df_cap(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Drop hot shingles and re-derive n_sh over the kept set.

    The hot set is broadcast (it cannot be large: there are at most
    total_shingle_rows / max_df shingles over the cap), so the anti-join
    is map-side; the size re-derivation is one window count partitioned by
    doc_id, which downstream per-doc stages reuse.
    """
    if max_df is None:
        return sh
    hot = _hot_shingles(sh, max_df)
    kept = sh.join(F.broadcast(hot), ["h", "sh"], "left_anti").drop("n_sh")
    return kept.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """All near-dup pairs (d1 < d2) with Jaccard >= threshold.

    Shingle self-join on xxhash64(shingle) (8-byte join key; string
    equality kept in the condition so hash collisions cannot corrupt
    results), size-ratio bound J <= n_min/n_max pruning pairs before the
    aggregation.  Two shuffles (three with max_df).  Small-corpus plan;
    see jaccard_ppjoin for the 100 TB variant.
    """
    if not 0.0 < threshold <= 1.0:
        # threshold > 1 dies mid-job with a cryptic negative
        # slice-length error; threshold <= 0 silently degenerates to
        # the unguarded all-pairs quadratic this module exists to avoid
        # (a review finding; the lsh_band_tuning/guard_bucket_rows
        # siblings validate the same way)
        raise ValueError(f"need 0 < threshold <= 1, got {threshold}")
    sh = _apply_df_cap(_exploded(docs, text_col, id_col, n), max_df)
    t_lo = _pruning_threshold(threshold)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_lo <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * t_lo <= F.col("a.n_sh")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    j = inter.withColumn(
        "jaccard", F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter"))
    ).filter(F.col("jaccard") >= threshold)
    return j.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


def jaccard_ppjoin(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Same result as jaccard_pairs via an exact PPJoin-style plan.

    1. per doc: distinct shingles sorted by a global total order
       (xxhash64, string tiebreak);
    2. candidates must share an element of each other's PREFIX (first
       n - ceil(t*n) + 1 sorted shingles), pass the size bound
       max(n1, n2) <= n_min / t, and pass the PPJoin positional filter
       (some shared prefix element at positions (i1, i2) must leave
       min(n1-i1, n2-i2) >= the overlap the threshold requires) — all
       necessary for J >= t, so no true pair is lost;
    3. each distinct candidate pair verified once with
       size(array_intersect) against the full arrays.

    The trailing repartition on the per-doc array table is a
    materialization point: the prefix explode and both verification joins
    consume it via exchange reuse instead of re-running the shingle build.
    With max_df set, the per-doc arrays are rebuilt from the df-filtered
    exploded set (one groupBy(doc_id) collect) — the hot-shingle guard
    matters MOST here, because prefix entries of boilerplate shingles are
    exactly what floods the candidate join.
    """
    if not 0.0 < threshold <= 1.0:
        # threshold > 1 dies mid-job with a cryptic negative
        # slice-length error; threshold <= 0 silently degenerates to
        # the unguarded all-pairs quadratic this module exists to avoid
        # (a review finding; the lsh_band_tuning/guard_bucket_rows
        # siblings validate the same way)
        raise ValueError(f"need 0 < threshold <= 1, got {threshold}")
    nparts = parallelism or docs.sparkSession.sparkContext.defaultParallelism
    if max_df is None:
        arr = (
            docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                _shingles_expr(text_col, n).alias("shs"),
            )
            .select(
                "doc_id",
                F.array_sort(
                    F.transform(
                        "shs",
                        lambda s: F.struct(F.xxhash64(s).alias("h"), s.alias("sh")),
                    )
                ).alias("e"),
            )
        )
    else:
        # the exploded shingle table exists ONLY on the capped path —
        # the uncapped branch builds per-doc arrays straight from docs
        # (a review finding: an unconditional assignment read as if the
        # default plan consumed it)
        sh = _exploded(docs, text_col, id_col, n)
        kept = sh.join(F.broadcast(_hot_shingles(sh, max_df)), ["h", "sh"], "left_anti")
        arr = kept.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(F.struct("h", "sh"))).alias("e")
        )
    arr = (
        arr.select(
            "doc_id",
            F.col("e.sh").alias("shs"),
            F.col("e.h").alias("hs"),
            F.size("e").alias("n_sh"),
        )
        .repartition(nparts, "doc_id")
    )
    t_lo = _pruning_threshold(threshold)
    pre_len = (
        F.col("n_sh") - F.ceil(F.lit(t_lo) * F.col("n_sh")) + F.lit(1)
    ).cast("int")
    pre = arr.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("hs", F.lit(1), pre_len)).alias("i", "h"),
    )
    # PPJoin positional filter: a match at 0-based sorted positions
    # (i1, i2) bounds the pair's total overlap by min(n1-i1, n2-i2)
    # PROVIDED no common element precedes it — true at the pair's
    # earliest common prefix element, and keeping the pair when ANY
    # match row passes is a superset of that, so no true pair is lost
    # (J >= t needs overlap*(1+t) >= t*(n1+n2); t_lo absorbs the float
    # ulp exactly like the size bound).  The exact array_intersect
    # verification still decides membership.
    ub = F.least(
        F.col("a.n_sh") - F.col("a.i"), F.col("b.n_sh") - F.col("b.i")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * t_lo <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * t_lo <= F.col("a.n_sh"))
            & (
                ub * (1.0 + t_lo)
                >= t_lo * (F.col("a.n_sh") + F.col("b.n_sh"))
            ),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    full = arr.select("doc_id", "shs", "n_sh")
    v = (
        cand.join(
            full.select(
                F.col("doc_id").alias("d1"),
                F.col("shs").alias("shs1"),
                F.col("n_sh").alias("n1"),
            ),
            "d1",
        )
        .join(
            full.select(
                F.col("doc_id").alias("d2"),
                F.col("shs").alias("shs2"),
                F.col("n_sh").alias("n2"),
            ),
            "d2",
        )
        # Hash collisions in the candidate step only ever ADD candidates;
        # exact string-array intersection decides membership, so output is
        # bit-identical to the brute-force plan.
        .withColumn("n_inter", F.size(F.array_intersect("shs1", "shs2")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return v.select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))


def jaccard_near_dupes(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    plan: str = "auto",
    **kwargs,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs — the DEFAULT entry point.

    ``plan='auto'`` (and ``'ppjoin'``) runs the prefix-filtered PPJoin
    plan: its candidate ``distinct`` replaces ``jaccard_pairs``'s (d1, d2)
    pair aggregation, which is O(df^2) per shingle and becomes the
    bottleneck the moment any shingle is common (measured 50% slower at
    sf0.1 already; unusable at corpus scale).  Both plans return
    bit-identical results (verification is an exact string-array
    intersection), so 'auto' is always the scale-safe choice;
    ``plan='pairs'`` keeps the two-shuffle small-corpus plan for tiny
    inputs where PPJoin's extra stages dominate.
    """
    if plan in ("auto", "ppjoin"):
        return jaccard_ppjoin(docs, threshold, **kwargs)
    if plan == "pairs":
        # ppjoin-only TUNING knobs are dropped, not forwarded: a caller
        # switching plan='pairs' with parallelism=... set would get a
        # TypeError instead of the pairs plan (a review finding) —
        # tuning hints may be ignored, semantic kwargs still raise.
        kwargs.pop("parallelism", None)
        return jaccard_pairs(docs, threshold, **kwargs)
    raise ValueError(f"unknown jaccard plan {plan!r}")


def guard_bucket_rows(
    df: DataFrame,
    bucket_cols,
    *,
    guarded_col: str,
    max_bucket_rows: int | None = 100_000,
    op_name: str = "lsh_pair_join",
) -> DataFrame:
    """Hot-bucket row cap for banded-LSH pair joins — fail LOUDLY instead
    of silently grinding when one bucket is degenerate.

    A banded-LSH self/probe join is bounded only per NORMAL bucket: a
    bucket holding ``m`` near-identical items (a 1,500-duplicate probe
    ground 28 s where the capped join refused in 4 s; at 100 TB, a
    boilerplate embedding repeated millions of times)
    contributes O(m^2) join output rows in ONE task, and the job grinds
    for hours with no error.  This mirrors semantic_dedup's
    ``max_cluster_rows`` guard (kmeans.py): any task that reads a row of
    an over-cap bucket raises immediately with the remediation — run
    EXACT (hash) dedup first so identical items collapse to one
    representative, then re-run the near tier.

    Scale shape: the count is a window partitioned by the bucket key —
    the SAME partitioning the downstream equi-join needs, so the exchange
    is reusable and nothing is collected or broadcast (bucket-key spaces
    like MinHash band keys are O(corpus) — a count-table broadcast would
    not survive 100 TB; the window does).  The guard wraps
    ``guarded_col`` (an id column every downstream join/agg keys on) so
    column pruning cannot eliminate it.

    ``max_bucket_rows=None`` opts out; the default (100k rows ~ 5e9
    candidate pairs in one bucket) is far above any healthy bucket at
    any tuned (b, L) and exists purely to catch degenerate skew.
    """
    if max_bucket_rows is None:
        return df
    cap = int(max_bucket_rows)
    if cap <= 0:
        raise ValueError(f"max_bucket_rows must be positive, got {cap}")
    bcols = list(bucket_cols)
    dtype = df.schema[guarded_col].dataType.simpleString()
    cnt = F.count("*").over(Window.partitionBy(*bcols))
    msg = F.concat(
        F.lit(f"{op_name}: LSH bucket ("),
        F.concat_ws(
            ", ",
            *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in bcols],
        ),
        F.lit(") holds "),
        cnt.cast("string"),
        F.lit(
            f" rows, above max_bucket_rows={cap} — degenerate bucket"
            " (near-identical items). Run exact/hash dedup FIRST to"
            " collapse identical items, widen the band (raise b), or"
            " pass max_bucket_rows=None to lift the guard."
        ),
    )
    guard = (
        F.when(cnt > cap, F.raise_error(msg).cast(dtype))
        .otherwise(F.col(guarded_col))
        .alias(guarded_col)
    )
    return df.select(
        *[guard if c == guarded_col else F.col(c) for c in df.columns]
    )


class LSHBandTuning(NamedTuple):
    bands: int  # b: OR tables
    rows: int  # r: minhash rows ANDed per band
    n_perms_used: int  # b * r (<= the permutation budget)
    s50: float  # similarity with 50% candidate probability ~ (1/b)^(1/r)
    p_at_threshold: float  # candidate probability AT the target threshold
    fp_mass: float  # integral of p(s) below threshold (wasted candidates)
    fn_mass: float  # integral of 1 - p(s) above threshold (missed pairs)


def lsh_band_tuning(
    threshold: float,
    n_perms: int,
    *,
    fn_weight: float = 2.0,
    min_rows: int = 2,
) -> LSHBandTuning:
    """Pick the banded-MinHash ``(bands, rows)`` split for a Jaccard
    ``threshold`` and a permutation budget — the MinHash analog of
    :func:`curation.bloom_sizing`, replacing hand-picked band constants
    with a derivation the caller can log.

    Banding theory (Leskovec/Rajaraman/Ullman ch. 3): a pair with true
    Jaccard ``s`` becomes a candidate with probability
    ``p(s) = 1 - (1 - s^r)^b`` — an S-curve whose midpoint sits near
    ``(1/b)^(1/r)``.  Every split of the budget trades the two error
    masses against each other: small ``r`` pushes the curve left (more
    false-positive candidates to verify), large ``r`` pushes it right
    (true near-dups silently missed).  The chooser enumerates every
    ``(r, b = n_perms // r)`` split and minimizes
    ``fp_mass + fn_weight * fn_mass``, where the masses are the exact
    integrals of the wrong-side probabilities (1000-point midpoint
    rule).  ``fn_weight`` defaults to 2.0 — mildly FN-averse, since in
    dedup a missed duplicate (train-set contamination) costs more than
    a wasted verification — and the weight is the knob a deployment
    tunes (raise it toward ~10 when misses are truly expensive).

    Scale note: this is a driver-side pure function — nothing here
    touches data.  The VERIFICATION cost of false positives is what the
    candidate join downstream pays per pair, so at 100 TB re-run the
    chooser per corpus with the measured similarity histogram in mind
    rather than inheriting a fixed (b, r).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("need 0 < threshold < 1")
    if n_perms < 2:
        raise ValueError("need n_perms >= 2")
    if not 1 <= min_rows <= n_perms:
        raise ValueError("need 1 <= min_rows <= n_perms")
    grid = [(i + 0.5) / 1000.0 for i in range(1000)]
    best = None
    for r in range(min_rows, n_perms + 1):
        b = n_perms // r
        if b < 1:
            break
        fp = fn = 0.0
        for s in grid:
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        fp /= 1000.0
        fn /= 1000.0
        cost = fp + fn_weight * fn
        if best is None or cost < best[0]:
            p_thr = 1.0 - (1.0 - threshold**r) ** b
            best = (
                cost,
                LSHBandTuning(
                    bands=b,
                    rows=r,
                    n_perms_used=b * r,
                    s50=(1.0 / b) ** (1.0 / r) if b > 0 else 1.0,
                    p_at_threshold=p_thr,
                    fp_mass=fp,
                    fn_mass=fn,
                ),
            )
    return best[1]
