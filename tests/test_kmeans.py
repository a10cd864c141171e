"""Embedding k-means operator (operators/kmeans.py)."""

import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark.operators.kmeans import kmeans_embeddings


def _emb(spark, n=40, d=4, seed=3):
    rng = np.random.default_rng(seed)
    # two well-separated blobs so convergence is unambiguous
    pts = np.concatenate(
        [rng.normal(0, 0.1, (n // 2, d)), rng.normal(5, 0.1, (n // 2, d))]
    )
    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(map(float, p)) for p in pts]}
        )
    )


def _numpy_kmeans(pts, k, iters):
    cents = pts[:k].copy()
    assign = None
    for _ in range(iters):
        d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = []
        for c in range(k):
            m = pts[assign == c]
            if len(m):
                new.append((c, m.mean(axis=0), len(m)))
        cents = np.stack([v for _, v, _ in new])
        ids = [c for c, _, _ in new]
    return ids, cents, assign


@pytest.mark.parametrize("exact", [False, True])
def test_kmeans_matches_numpy_lloyd(spark, exact):
    df = _emb(spark)
    out = kmeans_embeddings(df, k=2, iters=2, exact_sums=exact).toPandas()
    pts = np.array(
        [r for r in df.toPandas().sort_values("vec_id")["embedding"]], dtype=float
    )
    ids, cents, assign = _numpy_kmeans(pts, 2, 2)
    got = out.pivot(index="cluster", columns="dim", values="c").to_numpy()
    assert np.allclose(got, cents, rtol=0, atol=1e-12)
    counts = out.groupby("cluster")["n"].first()
    for i, c in enumerate(ids):
        assert counts[c] == (assign == c).sum()


def test_kmeans_exact_sums_partition_invariant(spark):
    # The ordered-fold mode is a pure function of the data: identical
    # bits regardless of how the input is partitioned.
    df = _emb(spark, n=60)
    a = kmeans_embeddings(df.repartition(1), k=3, iters=2, exact_sums=True).toPandas()
    b = kmeans_embeddings(df.repartition(7), k=3, iters=2, exact_sums=True).toPandas()
    key = ["cluster", "dim"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert (a["c"].to_numpy() == b["c"].to_numpy()).all()
    assert (a["n"].to_numpy() == b["n"].to_numpy()).all()


def test_kmeans_validates_args(spark):
    df = _emb(spark, n=8)
    with pytest.raises(ValueError):
        kmeans_embeddings(df, k=0)
    with pytest.raises(ValueError):
        kmeans_embeddings(df, iters=0)


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup-style within-cluster cosine pruning)
# ---------------------------------------------------------------------------

from pandas_sigproc_spark.operators.kmeans import (  # noqa: E402
    kmeans_assignments,
    semantic_dedup,
)


def _ref_semdedup(pts, assign, threshold, digits=6):
    """Reference dominance rule: drop x iff some y < x in the same
    cluster has round(cos(x, y), digits) >= threshold."""
    import numpy as np

    norm = np.sqrt((pts**2).sum(axis=1))
    keep = []
    for x in range(len(pts)):
        dominated = False
        for y in range(x):
            if assign[y] != assign[x]:
                continue
            cos = float(pts[x] @ pts[y] / (norm[x] * norm[y]))
            if round(cos, digits) >= threshold:
                dominated = True
                break
        keep.append(not dominated)
    return keep


def test_semantic_dedup_matches_reference(spark):
    df = _emb(spark, n=40)
    pdf = df.toPandas().sort_values("vec_id")
    pts = np.array(pdf["embedding"].tolist())
    asg = (
        kmeans_assignments(df, k=3, iters=2)
        .toPandas()
        .set_index("vec_id")["cluster"]
        .sort_index()
        .to_numpy()
    )
    # Blob data: everything in a blob is near-parallel, so a high
    # threshold still prunes most of each cluster down to its earliest
    # members — a strong, non-degenerate check.
    out = (
        semantic_dedup(df, k=3, iters=2, threshold=0.9)
        .toPandas()
        .sort_values("vec_id")
    )
    expected = _ref_semdedup(pts, asg, 0.9)
    assert out["keep"].tolist() == expected
    assert out["cluster"].to_numpy().tolist() == asg.tolist()
    # sanity: the rule actually fires and actually spares the earliest
    # vector of every cluster
    assert not out["keep"].all()
    first_per_cluster = out.groupby("cluster")["vec_id"].min()
    kept_ids = set(out[out["keep"]]["vec_id"])
    assert set(first_per_cluster).issubset(kept_ids)


def test_semantic_dedup_threshold_monotone(spark):
    # A looser threshold can only drop MORE vectors.
    df = _emb(spark, n=30)
    tight = semantic_dedup(df, k=2, iters=1, threshold=0.999999)
    loose = semantic_dedup(df, k=2, iters=1, threshold=0.5)
    n_tight = tight.filter("NOT keep").count()
    n_loose = loose.filter("NOT keep").count()
    assert n_tight <= n_loose
    assert tight.count() == loose.count() == 30


def test_semantic_dedup_cluster_guard(spark):
    # the guard is lazy (a raise_error inside the plan, not an eager
    # collect) — it fires at action time, on the exact assignments the
    # pair join consumes
    df = _emb(spark, n=30)
    with pytest.raises(Exception, match="max_cluster_rows"):
        # any action that consumes `keep` evaluates the pair join the
        # guard protects; a bare count() lets Catalyst eliminate the
        # (duplicate-free) outer join AND the pair join with it — then
        # there is nothing to guard, and nothing expensive runs either
        semantic_dedup(df, k=2, iters=1, max_cluster_rows=5).filter(
            "NOT keep"
        ).count()
    # guard passes when the bound is generous; result matches unguarded
    out = semantic_dedup(df, k=2, iters=1, max_cluster_rows=30)
    ref = semantic_dedup(df, k=2, iters=1)
    assert out.count() == 30
    a = out.toPandas().sort_values("vec_id").reset_index(drop=True)
    b = ref.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert a.equals(b)


def test_semantic_dedup_auto_guard_fires_on_degenerate_clustering(spark):
    # DEFAULT args (max_cluster_rows="auto"): a duplicate-heavy corpus
    # collapses every vector into cluster 0 (equal distances tie-break to
    # the smallest id), so one cluster holds all 12_000 rows — above the
    # auto cap greatest(10_000, 10*ceil(n/k)) = 10_000 at k=16.  The
    # quadratic pair join (144M pairs) must be refused loudly instead of
    # silently run: the in-plan raise fires before the join materializes.
    import pandas as pd

    n = 12_000
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(n),
                "embedding": [[1.0, 2.0, 3.0]] * n,
            }
        )
    )
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup(df, k=16, iters=1).filter("NOT keep").count()
    # explicit opt-out must be honored (and is cheap here only because we
    # never run it — just check the plan builds without the guard node)
    plan = semantic_dedup(
        df, k=16, iters=1, max_cluster_rows=None
    )._jdf.queryExecution().analyzed().toString()
    assert "raise_error" not in plan


def test_semantic_dedup_rejects_bad_cap_string(spark):
    df = _emb(spark, n=10)
    with pytest.raises(ValueError, match="auto"):
        semantic_dedup(df, k=2, iters=1, max_cluster_rows="huge")


def test_semantic_dedup_random_embeddings_match_reference(spark):
    # Seeded random (non-blob) embeddings at several thresholds: the
    # Spark plan must reproduce the dominance rule exactly.
    import pandas as pd

    for seed, thr in [(11, 0.7), (12, 0.9), (13, 0.99)]:
        rng = np.random.default_rng(seed)
        pts = rng.normal(0, 1, (36, 5))
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": range(len(pts)),
                    "embedding": [list(map(float, p)) for p in pts],
                }
            )
        )
        asg = (
            kmeans_assignments(df, k=4, iters=2)
            .toPandas()
            .set_index("vec_id")["cluster"]
            .sort_index()
            .to_numpy()
        )
        out = (
            semantic_dedup(df, k=4, iters=2, threshold=thr)
            .toPandas()
            .sort_values("vec_id")
        )
        assert out["keep"].tolist() == _ref_semdedup(pts, asg, thr), (
            seed,
            thr,
        )


def test_semantic_dedup_zero_norm_embedding_survives(spark):
    # r13 review finding: an all-zero embedding divided by a raw
    # sqrt(0) norm — ANSI divide-by-zero job abort.  With ann._norm's
    # floor it scores cosine 0 and never dedups anything.
    from pandas_sigproc_spark.operators.kmeans import semantic_dedup

    rows = [(i, [float(i % 3) + 1.0, 2.0, 1.0]) for i in range(10)]
    rows.append((99, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=2, iters=1, threshold=0.99, persist=False)
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert got[99] is True  # zero vector: never a near-dup of anything
    assert len(got) == 11   # every row got a verdict


def test_jaccard_threshold_validation(spark):
    from pandas_sigproc_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_ppjoin,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for fn in (jaccard_pairs, jaccard_ppjoin):
        with pytest.raises(ValueError, match="0 < threshold <= 1"):
            fn(df, threshold=1.5)
        with pytest.raises(ValueError, match="0 < threshold <= 1"):
            fn(df, threshold=0.0)


def test_kmeans_embeddings_persist_hook(spark):
    # the hook caches the prepared vectors AND the final assignment so
    # the counts/centroid branches read one clustering (r13 review
    # finding: two independent recomputations of every Lloyd round)
    from pandas_sigproc_spark.operators.kmeans import kmeans_embeddings

    df = spark.createDataFrame(
        [(i, [float(i % 4), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    blocks = []

    def hook(d):
        blocks.append(d)
        return d.persist()

    out = kmeans_embeddings(df, k=2, iters=1, persist=hook)
    rows = out.collect()
    assert len(blocks) == 2  # prepared vectors + final assignment
    assert sum(r["n"] for r in rows if r["dim"] == 0) == 20
    for b in blocks:
        b.unpersist()


def test_default_exact_assignment_plan_has_no_mapinpandas(spark):
    # The assignment is the map-side array_min fold over a broadcast of
    # the centroids, and exact mode's update is the ordered fold: no
    # Python stage anywhere in the plan.
    from pandas_sigproc_spark.operators.kmeans import kmeans_assignments

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(40),
                "embedding": [list(map(float, v)) for v in rng.normal(size=(40, 8))],
            }
        )
    )
    asg = kmeans_assignments(df, k=4, iters=2, exact_sums=True)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert len(asg.collect()) == 40
