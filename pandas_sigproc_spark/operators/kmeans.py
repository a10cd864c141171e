"""Embedding k-means (fixed-iteration Lloyd's) — cluster-based corpus
curation for training-data pipelines.

Clustering embeddings is the workhorse behind diversity sampling,
cluster-balanced mixes, and semantic dedup at corpus scale.  This
operator runs a FIXED number of Lloyd iterations with deterministic
seeding (the k smallest ids), which makes the whole algorithm a finite
composition of joins + aggregations — declarative, AQE-optimizable, and
(in ``exact_sums`` mode) bit-reproducible on any cluster layout.

Scale shape per iteration: centroids are a k-row broadcast table; the
assignment is a map-side broadcast join + per-row argmin (no shuffle of
the corpus); the update is one partial-aggregated groupBy(cluster, dim).
That is the canonical distributed k-means plan — O(iters) passes, no
driver-side loops over data.

``exact_sums=True`` computes centroid sums as LEFT FOLDS over members in
id order (array_sort + aggregate) instead of a parallel SUM.  Floating-
point addition is order-sensitive; the ordered fold makes centroids a
pure function of the data — identical bits on 1 executor or 1000 — at
the cost of collecting each (cluster, dim) group into an array, so it
suits audit/replay runs (it is exactly what lets the DuckDB oracle
compare BIT-EXACT with no rounding).  Production runs keep the default
partial-agg SUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pandas_sigproc_spark.operators.ann import _dot, _norm

# Assignment is the map-side array_min(transform(...)) fold over a
# one-row broadcast of the centroids.  r15 A/B against a vectorized
# mapInPandas argmin over driver-collected centroids (interleaved
# min-of-4, 1x / 8x / 64x embeddings, both exact modes): at the gate
# regime (k=8, dim=64) the kernel LOST ~0.2-0.5 s per leg at every scale
# tried (e.g. 64x production 4.08 vs 3.65 s) — the per-row fold is only
# k*dim=512 interpreted steps while the kernel paid two driver collect
# jobs plus Arrow encode stages, and the per-iteration wall is dominated
# by the centroid update, not the assignment.  No caller runs the
# many-cluster regime (k*dim 1-2 orders larger) where the kernel could
# win, so the fold is the one path.
#
# Production-mode (exact_sums=False) centroid UPDATE: per-batch partial
# sums in one mapInPandas (each Arrow batch emits k rows of (cluster, n,
# dim-long partial-sum array); the explode then runs over k*batches rows
# instead of N*dim — guide §2.3 "aggregate before you shuffle").  The
# exact-mode fence: exact_sums=True ALWAYS uses the expression fold —
# its ordered per-(cluster, dim) fold is the bit-reproducibility
# contract, and a batch-local NumPy sum would change the summation
# order.  Production mode's partial-agg SUM never pinned an order (its
# result already depends on Spark's partitioning), so the per-batch
# partials are inside the documented semantics class; on float32-sourced
# embeddings every order sums exactly in float64 (zero rounding, see
# semantic_dedup's determinism note).  NULL vectors are skipped; a NULL
# ELEMENT inside a vector is the one documented carve-out: NumPy's NaN
# partial crosses the Arrow boundary as NULL, so SUM skips the whole
# batch's partial for that coordinate (see kmeans_embeddings).


def kmeans_embeddings(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_sums: bool = False,
    persist=None,
) -> DataFrame:
    """Fixed-iteration Lloyd's over an ``array<float|double>`` column.

    Returns one row per (cluster, dim): ``(cluster int, n long,
    dim int, c double)`` — the member count and centroid coordinates
    after ``iters`` assign/update rounds.  Ties in the argmin break to
    the smallest cluster id (stable, engine-independent on equal
    distances).

    NULL elements: a NULL vector is skipped, but a NULL ELEMENT inside a
    vector is not.  In the default production mode
    (``exact_sums=False``) it turns its Arrow batch's partial sum of that
    coordinate for its cluster into NULL (the NaN NumPy computes crosses
    the Arrow boundary as NULL), and Spark's SUM skips that partial
    while the member count keeps it.  The centroid coordinate then
    silently leaves out every member that shared the batch, so it
    depends on the batch layout; when all of the cluster's members share
    one batch the coordinate is NULL (NaN in pandas).  A NULL coordinate
    makes every distance to that centroid NULL, which the argmin ranks
    FIRST, so the next round assigns every vector to that one cluster.
    ``exact_sums=True`` gives the NULL coordinate, and that collapse,
    whenever a member has a NULL element.  Drop or impute NULL elements
    before clustering.
    """
    assigned, cents = _lloyd(
        df, k, iters, id_col, vec_col, exact_sums, persist=persist
    )
    if persist:
        # ONE block for both consumers: counts and the centroid table
        # each re-run every Lloyd round otherwise, and in
        # exact_sums=False mode an ulp-scale argmin tie can flip a
        # vector between the two recomputations — returning an n
        # inconsistent with c (a review finding).  Cache substitution
        # is plan-keyed, so cents' subtree picks this block up too.
        assigned = (
            persist(assigned) if callable(persist) else assigned.persist()
        )
    counts = assigned.groupBy("cluster").agg(F.count("*").alias("n"))
    return (
        cents.join(counts, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.posexplode("c").alias("dim", "c"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n").cast("long").alias("n"),
            F.col("dim").cast("int").alias("dim"),
            F.col("c").cast("double").alias("c"),
        )
    )


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_sums: bool = False,
    persist=None,
) -> DataFrame:
    """Per-vector cluster assignment after ``iters`` Lloyd rounds:
    ``(vec_id long, cluster int)`` — the input to cluster-balanced
    sampling / semantic curation stages."""
    assigned, _ = _lloyd(
        df, k, iters, id_col, vec_col, exact_sums, persist=persist
    )
    return assigned.select(
        F.col("vid").alias(id_col), F.col("cluster").cast("int").alias("cluster")
    )


def _update_partials(assigned):
    """Per-batch partial centroid sums (production-mode update): one
    ``mapInPandas`` pass emits, per Arrow batch and per (cluster, vector
    length) group, a single ``(cluster, n, s array<double>)`` row — the
    batch's member count and elementwise sum.  Downstream explodes
    k*batches partial rows instead of N*dim element rows.  Grouping by
    length keeps ragged inputs on the expression semantics: a row
    contributes to exactly the dims it has, and ``sum(ps)/sum(n)`` per
    (cluster, dim) then equals a per-element ``sum(val)/count(*)``
    over the exploded vectors row for row."""
    import numpy as np
    import pandas as pd

    from pandas_sigproc_spark.operators.ann import _one_batch

    def kern(pdf):
        ok = pdf["v"].notna()
        cl = pdf["cluster"][ok]
        vs = pdf["v"][ok]
        out_c, out_n, out_s = [], [], []
        if len(vs):
            lens = vs.map(len)
            for (c, _L), idx in vs.groupby([cl, lens]).groups.items():
                M = np.asarray(list(vs.loc[idx]), dtype=np.float64)
                out_c.append(int(c))
                out_n.append(M.shape[0])
                out_s.append(M.sum(axis=0))
        return pd.DataFrame({"cluster": pd.Series(out_c, dtype="int32"),
                             "n": pd.Series(out_n, dtype="int64"),
                             "s": out_s})

    return assigned.select("cluster", "v").mapInPandas(
        _one_batch(kern), schema="cluster int, n long, s array<double>"
    )


def _lloyd(df, k, iters, id_col, vec_col, exact_sums, persist=None):
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    e = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    if persist:
        # Cache the prepared vector table before iterating — the
        # canonical Spark pattern for an iterative algorithm (MLlib's
        # KMeans caches its working set the same way): every Lloyd
        # round AND every nested broadcast subtree (the per-iteration
        # centroid arrays) re-reads these rows, so without the cache the
        # corpus is re-scanned once per round per consumer branch.
        e = persist(e) if callable(persist) else e.persist()

    # Deterministic seeding: the k smallest ids, cluster = seed rank - 1.
    # orderBy().limit(k) executes as a distributed TakeOrdered (per-
    # partition top-k, O(k) merged at the driver) — NOT a global window
    # over the corpus, which would funnel the entire embeddings table
    # through one single-partition sort just to pick k rows.  The rank
    # IS a window, but over the k already-limited seed rows only: a
    # single-partition stage bounded by the constant k, never by the
    # corpus (it does emit WindowExec's blanket single-partition
    # warning — spurious here).  The warning-free alternative (broadcast
    # theta-join rank, r5) costs two extra nested broadcast jobs per
    # Lloyd consumer branch, which measured ~1.8s of pure job-scheduling
    # overhead per semdedup run at sf0.1.
    from pyspark.sql import Window

    seeds = e.select("vid", "v").orderBy("vid").limit(k)
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("vid")) - 1)
        .cast("int")
        .alias("cluster"),
        F.col("v").alias("c"),
    )

    def sqdist(vcol, ccol):
        return F.aggregate(
            F.zip_with(vcol, ccol, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # Assignment is FULLY map-side: the k centroids collapse to a ONE-ROW
    # broadcast array and the argmin runs per input row — struct
    # ordering is lexicographic (d, then cluster), exactly the stable
    # smallest-cluster tie-break the oracle's QUALIFY ROW_NUMBER()
    # OVER (ORDER BY d, cluster) replays.  No corpus shuffle, no window:
    # the explode-to-pairs + partitionBy(vid) row_number alternative
    # shuffles N*k rows per iteration — a corpus-sized exchange that
    # dominated the sf0.1 wall and would be the bottleneck at 100 TB.
    assigned = None
    for _ in range(iters):
        carr = cents.agg(
            F.sort_array(F.collect_list(F.struct("cluster", "c"))).alias(
                "_cs"
            )
        )
        best = F.array_min(
            F.transform(
                F.col("_cs"),
                lambda s: F.struct(
                    sqdist(F.col("v"), s["c"]).alias("d"),
                    s["cluster"].alias("cluster"),
                ),
            )
        )
        assigned = e.crossJoin(F.broadcast(carr)).select(
            "vid", "v", best["cluster"].alias("cluster")
        )
        if exact_sums:
            per_dim = assigned.select(
                "cluster",
                "vid",
                F.posexplode("v").alias("dim", "val"),
            )
            summed = per_dim.groupBy("cluster", "dim").agg(
                (
                    F.aggregate(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("vid", "val"))
                            ),
                            lambda s: s["val"],
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / F.count("*")
                ).alias("cval"),
            )
        else:
            # per-batch partial sums — the N*dim explode becomes
            # k*batches partial rows (see _update_partials)
            partials = _update_partials(assigned)
            summed = partials.select(
                "cluster", "n", F.posexplode("s").alias("dim", "ps")
            ).groupBy("cluster", "dim").agg(
                (F.sum("ps") / F.sum("n")).alias("cval")
            )
        cents = (
            summed.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("c")
            )
            .select(F.col("cluster").cast("int").alias("cluster"), "c")
        )

    return assigned, cents


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_sums: bool = False,
    round_digits: int = 6,
    max_cluster_rows: int | None | str = "auto",
    persist=True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (after Abbas et al. 2023,
    arXiv:2303.09540): k-means the embeddings, then inside each cluster
    drop every vector that has a higher-similarity earlier twin — keep
    ``x`` iff no ``y`` with ``y.id < x.id`` in the same cluster has
    ``round(cos(x, y), round_digits) >= threshold``.

    Output: ``(id_col long, cluster int, keep boolean)`` — one row per
    input vector, so downstream filters see both kept and dropped rows
    (and the drop rate) without a second pass.

    NULL elements inside a vector corrupt the k-means rounds this runs
    first (see :func:`kmeans_embeddings`): in the default production
    mode the affected centroid coordinate drops the members that shared
    the NULL element's Arrow batch, or turns NULL and pulls every vector
    into one cluster — which makes the pair join quadratic in the
    corpus (the ``max_cluster_rows`` guard fails it once that cluster
    passes the cap).  Drop or impute NULL elements first.

    The dominance rule (compare against ALL smaller ids, not a greedy
    kept-chain) is deterministic, engine-independent, and expressible as
    one self-join — the standard large-scale simplification of the
    paper's per-cluster pruning.  Cosines are rounded before the
    threshold compare so the boundary cannot flip on last-ulp
    summation-order differences between engines.

    Scale shape: the candidate pairs are WITHIN-CLUSTER only, so the
    quadratic blow-up of all-pairs cosine is bounded by the largest
    cluster: cost ~ sum(|c|^2).  k is the knob — at corpus scale pick
    k ≈ N / target_cluster_size (the paper uses ~100k clusters for
    ~100M docs, clusters of ~1k).  The guard is ON BY DEFAULT
    (``max_cluster_rows="auto"``): a degenerate clustering (k too small,
    duplicate-heavy corpus) fails loudly instead of silently running
    Σ|c|² pairs.  ``"auto"`` caps each cluster at
    ``greatest(10_000, 10 * ceil(n / k))`` — 10× a uniform split, the
    same precedent as :func:`~..ann.cosine_topk_bruteforce`'s
    ``max_pairs`` — computed IN-PLAN from the per-cluster size table
    (k rows + one 1-row total, both broadcast; no eager job).  An
    explicit int pins the cap; ``None`` opts out.  The ``raise_error``
    fires inside the same plan and judges the exact assignments the
    pair join consumes (an up-front ``collect`` would recompute the
    Lloyd rounds and, in non-``exact_sums`` mode, could judge different
    float-tie assignments than the main run).
    The corpus never shuffles for assignment (broadcast centroids, see
    module docstring); the pair join shuffles on cluster id once.

    The assignment table fans out to FIVE consumers (the guard's size
    table and its total, both pair-join sides, the final left join), and
    their differing projections defeat Catalyst's exchange reuse — each
    branch would re-run every Lloyd round over the corpus.
    ``persist=True`` (default) materializes TWO corpus-sized blocks —
    the prepared vector table the Lloyd rounds iterate over, and the
    normalized ``(id, u, cluster)`` assignment — ONCE each
    (MEMORY_AND_DISK — spills, never OOMs; ~corpus-sized, exactly what a
    production pipeline would stage before a quadratic step).  Blocks
    are LRU-reclaimed; long-lived sessions that want eager release pass
    a callable ``df -> df.persist()`` that records the block in their
    own cache registry (``__spark_entry__._persist`` does exactly this),
    or ``persist=False`` to keep the plan side-effect free.

    Determinism note (``exact_sums=False``): with ``persist=False`` the
    recomputing branches may see different partial-agg summation orders,
    so centroids can differ across branches in the last ulps and a
    vector at an ulp-scale argmin tie could flip clusters between
    branches.  ``persist=True`` makes all branches read the same
    materialized assignments (barring executor loss), and on real
    embeddings the corner is theoretical twice over anyway:
    float32-sourced vectors sum EXACTLY (zero rounding) in float64 up
    to ~2^29 members per cluster, so every summation order yields
    identical centroid bits; and argmin margins dominate any residual
    jitter by orders of magnitude (tests/test_prod_oracle_margins.py
    measures both on the gate corpora).  Audit runs that need a
    bit-pinned guarantee regardless of input dtype use
    ``exact_sums=True``, which makes centroids a pure function of the
    data.
    """
    assigned, _ = _lloyd(
        df, k, iters, id_col, vec_col, exact_sums, persist=persist
    )
    # Normalize ONCE per row before the pair fan-out: the pair cosine then
    # collapses to a single dot-product fold.  Computing norms inside the
    # pair join costs two extra per-PAIR folds (HOFs get no common-
    # subexpression elimination) — 2/3 of the join's arithmetic for the
    # same answer.  The norm is a plain column first so the division
    # lambda doesn't re-fold per element.
    # ann._norm: the SAME transform+fold shape (bit-identical for any
    # real vector) plus its 1e-30 floor — an all-zero embedding divided
    # by a raw sqrt(0) norm aborts the whole job under ANSI mode, the
    # exact bug ann._norm's docstring records (a review finding; a zero
    # vector now scores cosine 0 and never dedups anything).
    nr = _norm("v")
    assigned = assigned.withColumn("_nr", nr).select(
        "vid",
        F.transform("v", lambda x: x / F.col("_nr")).alias("u"),
        "cluster",
    )
    if persist:
        # ``persist`` may be a callable (df -> persisted df) so callers
        # with a cache registry (e.g. __spark_entry__._persist) can track
        # the block for explicit release; True uses a bare .persist()
        # (MEMORY_AND_DISK, LRU-reclaimed — the rainflow precedent).
        assigned = (
            persist(assigned) if callable(persist) else assigned.persist()
        )
    if max_cluster_rows is not None:
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csz"))
        if max_cluster_rows == "auto":
            # In-plan cap: greatest(10_000, 10 * ceil(n / k)).  The total
            # comes from an unbounded window over the k-row size table —
            # O(k) rows through one tiny single-partition stage (the
            # WindowExec warning is spurious at k rows), cheaper than a
            # second aggregation branch + broadcast join by one AQE job.
            from pyspark.sql import Window

            wall = Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            sizes = sizes.select(
                "cluster",
                "_csz",
                F.greatest(
                    F.lit(10_000).cast("long"),
                    10
                    * F.ceil(F.sum("_csz").over(wall) / F.lit(k)).cast(
                        "long"
                    ),
                ).alias("_cap"),
            )
            cap_desc = f"auto=greatest(10000, 10*ceil(n/{k}))"
        elif isinstance(max_cluster_rows, str):
            raise ValueError(
                f"max_cluster_rows must be an int, None, or 'auto';"
                f" got {max_cluster_rows!r}"
            )
        else:
            sizes = sizes.withColumn(
                "_cap", F.lit(int(max_cluster_rows)).cast("long")
            )
            cap_desc = str(max_cluster_rows)
        # The guard wraps ``vid`` — the column every downstream join
        # keys on — NOT a projection-only column: column pruning would
        # silently eliminate a guard the query never needs (count()
        # prunes everything but join keys).
        guard = F.when(
            F.col("_csz") > F.col("_cap"),
            F.raise_error(
                F.concat(
                    F.lit("semantic_dedup: cluster "),
                    F.col("cluster").cast("string"),
                    F.lit(" has "),
                    F.col("_csz").cast("string"),
                    F.lit(" rows, above max_cluster_rows="),
                    F.col("_cap").cast("string"),
                    F.lit(
                        f" ({cap_desc});"
                        " raise k (target k ~ N / desired_cluster_size) or"
                        " lift the guard"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("vid"))
        assigned = assigned.join(F.broadcast(sizes), "cluster").select(
            guard.alias("vid"), "u", "cluster"
        )

    # shared ann._dot: the single-homed zip_with fold the oracle
    # bit-exactness contract depends on (a review finding: this was a
    # hand copy that could drift independently)
    a = assigned.select("vid", "u", "cluster")
    b = assigned.select(
        F.col("vid").alias("_bvid"), F.col("u").alias("_bu"), "cluster"
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("_bvid") < F.col("vid"))
        .filter(
            F.round(_dot(F.col("u"), F.col("_bu")), round_digits)
            >= F.lit(threshold)
        )
        .select("vid")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return a.join(dropped, "vid", "left").select(
        F.col("vid").cast("long").alias(id_col),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("_drop").isNull().alias("keep"),
    )
