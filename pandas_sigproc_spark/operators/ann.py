"""Similarity search over embedding columns.

The production paths are the bucketed operators below — each bounds the
candidate set per query and broadcasts only k-row/centroid/scale
tables, so the corpus never shuffles:

- :func:`lsh_topk` — banded multi-table random-hyperplane LSH
  (OR-of-ANDs over L tables of b sign planes), exact cosine rescore.
- :func:`ivf_topk` — coarse-quantizer inverted lists (IVF): one
  broadcast centroid row, map-side list assignment, nprobe lists
  probed per query.  The recall/cost knob is nprobe/nlist.
- :func:`int8_lsh_topk` — scalar-quantized funnel over the LSH keys:
  the wide candidate scan touches only int8 codes, full vectors are
  fetched for the tiny rescore set alone.
- :func:`ivf_sq8_topk` — the production layout (FAISS IVFx,SQ8 shape):
  IVF candidate selection + int8 code scan + exact float64 rescore.
  Measured recall@3 0.91 on the gate corpora vs 0.70-0.73 for the LSH
  funnel, at a 0.5 probed fraction (see tests/test_ann_recall.py).

All four return ``(qid, vec_id, cos, rank)`` (plus ``qscore`` for the
quantized funnels) with deterministic ordering — integer bucket keys,
ties to the smaller id.  Where ranking crosses a FLOAT APPROXIMATION
boundary (the SQ8/PQ funnel keys, the exact rescore) the key is
rounded to 6 digits BEFORE ranking so a last-ulp cross-engine
difference cannot flip funnel membership; lsh_topk/ivf_topk rank on
the raw cosine (their oracles compute the identical doubles, so raw
order IS the oracle order) and round only the reported column.  The
driver queries (`ann_lsh` / `ann_ivf` / `ann_int8` / `ann_ivf_int8`)
delegate here verbatim and stay DuckDB-oracle-exact.  :func:`embedding_near_pairs`
is the pair-emitting sibling (near-dup candidates over the same banded
keys, hot-bucket guard default-on) that feeds
``graph.connected_components``.

:func:`cosine_topk_bruteforce` is the EXACT-RECALL BASELINE those are
measured against — a labeled cartesian product.  It refuses to run past
``max_pairs`` (the guard the r4 review asked for): on a corpus of any
real size the cartesian plan is the wrong tool by construction, and the
error message routes users to the bucketed operators instead of letting
a 10^14-pair join quietly saturate a cluster.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..kernels import vecmath as vm

#: Refuse the cartesian baseline above this many (query x corpus) pairs —
#: ~50M pairs x ~128 dims is minutes of vectorized work on one host,
#: already far past where the bucketed ANN operators win.
BRUTE_FORCE_MAX_PAIRS = 50_000_000


def _sq_norm(col):
    return F.aggregate(
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )


def _dot(va, vb):
    """The ordered dot-product fold — ONE definition, because the
    oracle bit-exactness contract depends on this exact zip_with shape
    (a review finding: four hand-copied sites risked drifting)."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(col):
    """sqrt(sum of squares), floored at 1e-30 like _sq8_scales: under
    Spark 4's default ANSI mode a zero-norm embedding (a failed
    upstream encoder's all-zero row) would otherwise abort the WHOLE
    job with a bare DIVIDE_BY_ZERO deep inside a fold (a review
    finding).  A zero vector now scores cosine 0 against everything —
    orthogonal, never a neighbor — instead of killing a 100 TB pass;
    any real vector's norm is >> 1e-30, so values are bit-identical."""
    return F.greatest(F.sqrt(_sq_norm(col)), F.lit(1e-30))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
    max_pairs: int | None = BRUTE_FORCE_MAX_PAIRS,
) -> DataFrame:
    """Exact cosine top-k via a full cartesian scan — the recall baseline.

    Returns ``(qid, vec_id, cos, rank)`` with rank 1..k per query, ties
    broken to the smaller corpus id.  Self-matches (same id) are dropped.

    ``max_pairs`` guards the plan: the constructor counts both sides and
    raises when |queries| x |corpus| exceeds it — pass ``None`` only for
    deliberate offline recall audits.  The two count() jobs are EAGER
    and re-execute each input's full plan, so they are cheap only for
    cheap (scan-shaped) or cached inputs; if either side is an expensive
    derived plan, ``.persist()`` it before calling, or skip the guard
    with an explicit ``max_pairs=None`` after sizing it yourself.
    """
    if max_pairs is not None:
        n_pairs = queries.count() * corpus.count()
        if n_pairs > max_pairs:
            raise ValueError(
                f"cosine_topk_bruteforce: {n_pairs:,} query x corpus pairs "
                f"exceeds max_pairs={max_pairs:,}. This operator is the "
                "exact-recall BASELINE (a true cartesian product) — for "
                "production similarity search use the bucketed ANN plans "
                "(ann_lsh / ann_ivf / ann_int8), or pass max_pairs=None "
                "for a deliberate offline recall audit."
            )
    pairs = _pair_cos(
        queries.crossJoin(corpus).filter(
            F.col(query_id_col) != F.col(id_col)
        ),
        [query_id_col, id_col],
        query_vec_col,
        vec_col,
        normalized=False,
        op="cosine_topk_bruteforce",
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cos", F.col("rank").cast("int").alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# Banded multi-table sign-projection LSH
# ---------------------------------------------------------------------------

LSH_TABLES = 8  # L: a pair is a candidate if it co-buckets in ANY table
LSH_BAND = 4  # b: sign planes ANDed into one bucket key per table
LSH_DIM = 64  # plane dimensionality (must equal the vector length)


def lsh_plane_signs(
    table: int, *, band: int = LSH_BAND, dim: int = LSH_DIM
) -> list[list[int]]:
    """The table's ``band`` random hyperplanes as ±1 sign rows, derived
    deterministically from md5 of (table, plane, dim-index) — identical
    on every executor, every run, and in the DuckDB oracle replay."""
    planes = []
    for p in range(band):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"lsh-{table}-{p}-{d}".encode()).hexdigest()
            row.append(1 if int(h[:8], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_bucket_col(
    table: int,
    *,
    vec_col: str = "v",
    band: int = LSH_BAND,
    dim: int = LSH_DIM,
) -> Column:
    """The table's bucket key ``sum_p 2^p * [v . w_p > 0]`` as a Column:
    each plane dot is a zip_with(v, ±1-literal array) left fold — the
    same bits as a flat signed sum (x*±1.0 is an exact sign flip; the
    fold's 0.0+x1 head is exact; the add chain associates identically)
    but a SMALL expression tree: inlining L*b 64-term CASE sums as flat
    codegen blows janino's 64KB method limit and drops the fused stage
    to interpreted mode.

    A row whose vector length differs from ``dim`` RAISES instead of
    silently hashing: zip_with null-pads the shorter side, every plane
    dot goes NULL, and every bucket would collapse to 0 — turning the
    bounded (t, bucket) equi-join into a full cross join with
    numerically-correct results (recall tests cannot catch it)."""
    terms = None
    for p, row in enumerate(lsh_plane_signs(table, band=band, dim=dim)):
        w = F.array(*[F.lit(float(wi)) for wi in row])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), w, lambda x, wi: x * wi),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        terms = bit if terms is None else terms + bit
    bad = F.raise_error(
        F.concat(
            F.lit("lsh_bucket_col: vector length "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(
                f" != plane dim={dim} — every bucket would silently"
                " collapse to 0 (a full cross join); pass dim=<vector"
                " length>"
            ),
        )
    ).cast("long")
    return (
        F.when(F.size(F.col(vec_col)) == dim, terms.cast("long")).otherwise(bad)
    )


def lsh_bucket_keys(
    df: DataFrame,
    *,
    vec_col: str = "v",
    tables: int = LSH_TABLES,
    band: int = LSH_BAND,
    dim: int = LSH_DIM,
) -> DataFrame:
    """Explode a (.., v, ..) table to one row per (t, bucket) key — L
    map-side plane-dot folds per row, then posexplode; no shuffle."""
    cols = list(df.columns)
    staged = df.select(
        *cols,
        *[
            lsh_bucket_col(t, vec_col=vec_col, band=band, dim=dim).alias(f"_b{t}")
            for t in range(tables)
        ],
    )
    return staged.select(
        *cols,
        F.posexplode(
            F.array(*[F.col(f"_b{t}") for t in range(tables)])
        ).alias("t", "bucket"),
    )


def multiprobe_masks(band: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight <= ``radius`` over ``band`` sign
    bits, including 0 (the exact bucket).  Multiprobe LSH (Lv et al.,
    VLDB 2007): a true neighbor that disagrees with the query on ONE of
    a table's b planes lands in a bucket one bit-flip away, so probing
    those neighbor buckets recovers exactly the near misses banding
    loses — the recall lift of adding tables without re-hashing or
    growing the CORPUS side at all (only the small query side fans out
    x(1+b) at radius 1)."""
    if not 0 <= radius <= band:
        raise ValueError(f"need 0 <= radius <= band, got {radius}")
    return [m for m in range(1 << band) if bin(m).count("1") <= radius]


def _expand_probes(q: DataFrame, band: int, radius: int) -> DataFrame:
    """Fan the query side out to its multiprobe buckets: one row per
    (original key, mask), bucket XOR mask.  Corpus side untouched."""
    if radius == 0:
        return q
    masks = multiprobe_masks(band, radius)
    cols = [c for c in q.columns if c != "bucket"]
    return q.select(
        *cols,
        F.explode(
            F.array(*[F.lit(m).cast("long") for m in masks])
        ).alias("_m"),
        "bucket",
    ).select(
        *cols, F.col("bucket").bitwiseXOR(F.col("_m")).alias("bucket")
    )


def _cos(va, vb):
    return _dot(va, vb) / (_norm(va) * _norm(vb))


# ---------------------------------------------------------------------------
# Vectorized (Arrow-batched NumPy) twins of the per-row fold stages.
#
# r15 optimization round: the map-side plane-dot / centroid-distance /
# pair-cosine folds above are Catalyst higher-order functions —
# CodegenFallback, evaluated element-by-element by the interpreted
# expression walker.  Measured at bench scale they dominate every
# ANN/embedding leg (guide §4.2).  The stages below run the identical
# arithmetic batch-wise in NumPy inside mapInPandas, under the
# kernels/vecmath.py ordered-fold bit-exactness contract, so every
# output double (and therefore every oracle hash) is unchanged.  The
# expression forms above remain the specification and the test anchor
# (tests/test_vecmath_equivalence.py pins kernel == expression on the
# gate corpora).
# ---------------------------------------------------------------------------


def _one_batch(fn):
    """mapInPandas adapter: apply ``fn`` per non-empty pandas batch."""

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return run


def _plane_sign_matrix(tables: int, band: int, dim: int) -> np.ndarray:
    """All L*b hyperplanes as one (dim, tables*band) ±1 float64 matrix,
    column t*band+p = plane p of table t (lsh_plane_signs order)."""
    cols = []
    for t in range(tables):
        cols.extend(lsh_plane_signs(t, band=band, dim=dim))
    return np.array(cols, dtype=np.float64).T


def _bucket_cols(tables: int) -> list[str]:
    return [f"_b{t}" for t in range(tables)]


def _explode_buckets(df: DataFrame, tables: int, keep: list[str]) -> DataFrame:
    """(.., _b0.._bT) -> one row per (t, bucket) — the posexplode half of
    lsh_bucket_keys, unchanged."""
    return df.select(
        *keep,
        F.posexplode(F.array(*[F.col(c) for c in _bucket_cols(tables)])).alias(
            "t", "bucket"
        ),
    )


def _pair_cos(
    df: DataFrame,
    out_cols: list[str],
    a_col: str,
    b_col: str,
    *,
    normalized: bool,
    out_name: str = "cos",
    op: str = "ann",
) -> DataFrame:
    """Per-row cosine/dot stage on a pair-carrying DataFrame: emits
    ``out_cols`` + the raw (unrounded) cosine via the ordered fold
    expressions (`_dot`, `_cos`).

    Deliberately NOT vectorized through Arrow (r15 A/B): a pair row
    ships ~1 KB of vectors across the Python boundary to save a 64-step
    JIT-compiled fold — measured net-negative on every pair leg
    (ann_ivf 1.06→2.19 s, ann_ivf_int8 0.66→2.97 s with the mapInPandas
    form; guide §4.1 — you control how many columns cross, and here the
    answer is none).  The vectorized kernels stay on the MAP-SIDE encode
    stages, where each row is touched once and the per-row expression
    tree is ~30x larger."""
    val = (
        _dot(F.col(a_col), F.col(b_col))
        if normalized
        else _cos(F.col(a_col), F.col(b_col))
    )
    return df.select(*out_cols, val.alias(out_name))


def _collect_centroids(
    vecs: DataFrame, centroid_pred: Column | None, centroids: DataFrame | None
):
    """The coarse-quantizer table as driver-side NumPy (cids ascending,
    C row-per-centroid) — bounded by nlist/k rows, the same data the
    expression path ships via a one-row broadcast.  Raises the same loud
    message on an empty selection."""
    if centroids is not None:
        rows = centroids.select(
            F.col("cid").cast("long").alias("cid"), "cv"
        ).collect()
    else:
        rows = (
            vecs.filter(centroid_pred)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
            .collect()
        )
    if not rows:
        raise ValueError(
            "ivf: the centroid selection is empty — centroid_pred"
            " matched no corpus row (e.g. vec_ids not starting at"
            " 0) or the centroids table is empty; fix"
            " centroid_pred/centroids"
        )
    pairs = sorted((int(r["cid"]), list(r["cv"])) for r in rows)
    cids = np.array([c for c, _ in pairs], dtype=np.int64)
    C = np.array([v for _, v in pairs], dtype=np.float64)
    return cids, C


def _ranked_cids(X: np.ndarray, cids: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per row, ALL centroid ids ordered by (round9(-cos(v, c)), cid) —
    the `_ivf_ranked_centroids` array_sort, replayed exactly (cosine on
    the RAW vectors, like the expression)."""
    D = vm.ordered_matmul(X, C.T) / (
        vm.norms(X)[:, None] * vm.norms(C)[None, :]
    )
    return vm.order_by_round9(-D, cids)


def _ivf_assigned(
    vecs: DataFrame, centroid_pred: Column | None, centroids: DataFrame | None
) -> DataFrame:
    """Vectorized `_ivf_ranked_centroids`: ``(vec_id, v, _rk)`` with
    ``_rk`` the centroid ids best-first — `_ranked_cids` per Arrow
    batch.  The centroid table (nlist rows) is collected once, exactly
    the bytes the expression path shipped as a one-row broadcast."""
    import pandas as pd

    cids, C = _collect_centroids(vecs, centroid_pred, centroids)

    def kern(pdf):
        X = vm.stack_vectors(pdf["v"], C.shape[1], "ivf: vector length")
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "v": pdf["v"],
                "_rk": list(_ranked_cids(X, cids, C)),
            }
        )

    return vecs.select("vec_id", "v").mapInPandas(
        _one_batch(kern),
        schema="vec_id long, v array<double>, _rk array<long>",
    )


def lsh_topk(
    vecs: DataFrame,
    probe_pred: Column,
    *,
    k: int = 3,
    tables: int = LSH_TABLES,
    band: int = LSH_BAND,
    dim: int = LSH_DIM,
    multiprobe: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k per probe vector over banded multi-table LSH.

    ``vecs`` is ``(vec_id long, v array<double>)``; ``probe_pred`` a
    boolean Column over it selecting the query rows (e.g.
    ``F.col("vec_id") < 50`` — a predicate, not a join, so the probe
    side rides the same scan).  Returns ``(qid, vec_id, cos, rank)``.

    A corpus vector is a candidate if it co-buckets with the query in
    ANY of the L tables (OR-of-ANDs; a single AND-only table recalled
    2-3% on a weakly-separated corpus — banding measures ~0.70
    recall@3).  ``multiprobe`` additionally probes every bucket within
    that Hamming radius of the query's key in each table (see
    multiprobe_masks): radius 1 lifts measured recall@3 on the gate
    corpora from ~0.73 to ~0.9 for a query-side-only x(1+b) fan-out —
    the corpus side's keys, layout, and any materialized form of them
    are untouched.  The (t, bucket) equi-join replaces the brute-force
    cross join and shuffles on a bounded integer key; duplicate
    candidates (pairs co-bucketing in several tables/probes) collapse
    with a (qid, vec_id) MAX — the cosine is identical across tables,
    so MAX is pure dedup.  Vectors are normalized ONCE per row, so the
    per-pair cosine is a single dot fold; buckets are computed from the
    RAW vector so the sign sums match the oracle's literal ±v terms
    bit-for-bit.
    """
    import pandas as pd

    signs = _plane_sign_matrix(tables, band, dim)

    def _enc(pdf):
        X = vm.stack_vectors(pdf["v"], dim, "lsh_bucket_col")
        B = vm.lsh_buckets(X, signs, band)
        out = {
            "vec_id": pdf["vec_id"].to_numpy(),
            "u": list(X / vm.norms(X)[:, None]),
        }
        for t in range(tables):
            out[f"_b{t}"] = B[:, t]
        return pd.DataFrame(out)

    enc_schema = "vec_id long, u array<double>, " + ", ".join(
        f"{c} long" for c in _bucket_cols(tables)
    )
    e = _explode_buckets(
        vecs.select("vec_id", "v").mapInPandas(
            _one_batch(_enc), schema=enc_schema
        ),
        tables,
        ["vec_id", "u"],
    )
    q = _expand_probes(
        e.filter(probe_pred).select(
            F.col("vec_id").alias("qid"), F.col("u").alias("qu"), "t", "bucket"
        ),
        band,
        multiprobe,
    )
    pairs = _pair_cos(
        q.join(e, ["t", "bucket"]).filter(F.col("qid") != F.col("vec_id")),
        ["qid", "vec_id"],
        "qu",
        "u",
        normalized=True,
        op="lsh_topk",
    )
    scored = pairs.groupBy("qid", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "vec_id",
            F.round("cos", round_digits).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (coarse-quantizer inverted lists)
# ---------------------------------------------------------------------------

IVF_NLIST = 32
IVF_NPROBE = 16


def centroids_from_kmeans(km: DataFrame) -> DataFrame:
    """Adapt ``kmeans.kmeans_embeddings`` output — one row per
    (cluster, n, dim, c) — into the ``(cid, cv)`` centroid table the
    IVF operators accept as a TRAINED coarse quantizer."""
    return (
        km.groupBy("cluster")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("c")))
            ).alias("s")
        )
        .select(
            F.col("cluster").cast("long").alias("cid"),
            F.transform("s", lambda st: st["c"]).alias("cv"),
        )
    )


def _ivf_ranked_centroids(
    vecs: DataFrame, centroid_pred: Column, centroids: DataFrame | None = None
):
    """(vecs ⨯ broadcast centroid row) with a ``ranked`` array column of
    (negcos, cid) structs sorted best-first.  Centroid cosines are
    rounded to 9 digits before ranking so the argmin can't flip on
    last-ulp summation-order differences between engines.  ``centroids``
    (cid, cv) — e.g. :func:`centroids_from_kmeans` — takes precedence
    over selecting corpus rows via ``centroid_pred``."""
    if centroids is not None:
        cents = centroids.agg(
            F.collect_list(
                F.struct(F.col("cid").cast("long").alias("cid"), F.col("cv"))
            ).alias("cs")
        )
    else:
        cents = vecs.filter(centroid_pred).agg(
            F.collect_list(
                F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
            ).alias("cs")
        )
    ea = vecs.crossJoin(F.broadcast(cents))
    # Loud empty-selection guard, inherited by every IVF tier: with a
    # centroid_pred matching no corpus row (e.g. vec_ids not starting
    # at 0) the cs array is empty, ranked[0] is out-of-bounds, and the
    # probe either returned silently-empty top-k (legacy mode) or an
    # opaque INVALID_ARRAY_INDEX (ANSI) — the same misconfiguration
    # _pq_code_table already asserts on (a review finding).  The
    # when(assert.isNull, col) shape keeps the assert type-free and
    # un-prunable (it feeds the consumed column).
    cs_ok = F.when(
        F.assert_true(
            F.size("cs") > 0,
            F.lit(
                "ivf: the centroid selection is empty — centroid_pred"
                " matched no corpus row (e.g. vec_ids not starting at"
                " 0) or the centroids table is empty; fix"
                " centroid_pred/centroids"
            ),
        ).isNull(),
        F.col("cs"),
    )
    ranked = F.array_sort(
        F.transform(
            cs_ok,
            lambda s: F.struct(
                F.round(-_cos(F.col("v"), s["cv"]), 9).alias("negcos"),
                s["cid"].alias("cid"),
            ),
        )
    )
    return ea, ranked


def ivf_topk(
    vecs: DataFrame,
    probe_pred: Column,
    *,
    k: int = 5,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    centroid_pred: Column | None = None,
    centroids: DataFrame | None = None,
    round_digits: int = 6,
    persist=None,
) -> DataFrame:
    """IVF ANN top-k: assign every vector to its nearest of ``nlist``
    coarse centroids, probe each query's ``nprobe`` best lists, exact
    cosine inside.  Returns ``(qid, vec_id, cos, rank)``.

    ``centroid_pred`` selects centroid rows from the corpus (default:
    the first ``nlist`` ids — deterministic seeding); ``centroids``
    passes a TRAINED quantizer instead — a ``(cid, cv)`` table, e.g.
    ``centroids_from_kmeans(kmeans_embeddings(vecs, k))`` — and takes
    precedence.  Scale shape: the centroid set is ONE broadcast
    row, so list assignment is a map-side array_sort — no shuffle, no
    per-vector window — and the only shuffles are the list-id equi-join
    and the final top-k window.  nprobe/nlist is the probed fraction —
    the runtime recall/cost knob (bench.py prints the live curve).
    ``persist`` (r16, the siblings' pattern — ivf_sq8_topk/int8_lsh_topk
    already carry it): applied to the encoded ``(vec_id, v, _rk)``
    table both join sides consume — without it the vectorized encode
    kernel runs twice, once per side.
    """
    if centroid_pred is None:
        centroid_pred = F.col("vec_id") < nlist
    persist = persist or (lambda df: df)
    assigned = persist(_ivf_assigned(vecs, centroid_pred, centroids))
    lists = assigned.select(
        "vec_id", "v", F.element_at("_rk", 1).alias("list_id")
    )
    probes = assigned.filter(probe_pred).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.explode(F.slice("_rk", 1, nprobe)).alias("list_id"),
    )
    pairs = _pair_cos(
        probes.join(lists, "list_id").filter(F.col("qid") != F.col("vec_id")),
        ["qid", "vec_id"],
        "qv",
        "v",
        normalized=False,
        op="ivf_topk",
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "vec_id",
            F.round("cos", round_digits).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (int8) funnels
# ---------------------------------------------------------------------------


def _sq8_scales(vecs: DataFrame):
    """One-row per-dim scale table: max |x| per dimension, floored at
    1e-30 — int8 code = floor(x / scale * 127)."""
    dims = vecs.select(F.posexplode("v").alias("j", "x"))
    sc = dims.groupBy("j").agg(F.max(F.abs(F.col("x"))).alias("s"))
    return sc.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("j"), F.col("s")))),
            lambda st: F.greatest(st["s"], F.lit(1e-30)),
        ).alias("sarr")
    )


_CODE = lambda: F.zip_with(  # noqa: E731 — shared literal expression
    "v", "sarr", lambda x, s: F.floor(x / s * 127.0).cast("long")
)

_QSCORE = lambda: F.aggregate(  # noqa: E731
    F.zip_with("qcode", "code", lambda x, y: x * y),
    F.lit(0).cast("long"),
    lambda acc, x: acc + x,
)


def _rescore(cand: DataFrame, vecs: DataFrame, k: int, funnel: int) -> DataFrame:
    """Shared funnel tail: top-``funnel`` candidates per query by exact
    integer score, exact float64 cosine rescore, top-``k``."""
    w1 = Window.partitionBy("qid").orderBy(F.col("qscore").desc(), "vec_id")
    top = _pair_cos(
        cand.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= funnel)
        .join(
            vecs.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")),
            "qid",
        )
        .join(vecs, "vec_id"),
        ["qid", "vec_id", "qscore"],
        "qv",
        "v",
        normalized=False,
        op="ann rescore",
    ).select("qid", "vec_id", "qscore", F.round("cos", 6).alias("cos"))
    w2 = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "vec_id", "qscore", "cos", F.col("rank").cast("int").alias("rank")
        )
    )


def int8_lsh_topk(
    vecs: DataFrame,
    probe_pred: Column,
    *,
    k: int = 3,
    funnel: int = 10,
    tables: int = LSH_TABLES,
    band: int = LSH_BAND,
    dim: int = LSH_DIM,
    multiprobe: int = 1,
    persist=None,
) -> DataFrame:
    """Scalar-quantized ANN over the banded LSH keys: candidates are
    generated inside the LSH bucket by the INTEGER code dot product
    (16x less data than float64, exact-deterministic — no float ranking
    at the wide stage), the top-``funnel`` funnel down to an exact
    float64 cosine top-``k``.  ``multiprobe`` fans the query side out
    to Hamming-radius neighbor buckets exactly as in :func:`lsh_topk`
    (same recall lift, same corpus-side-untouched contract).  Returns
    ``(qid, vec_id, qscore, cos, rank)``.  ``persist`` (e.g.
    ``DataFrame.persist``-wrapping cache hooks) is applied to the coded
    key table both join sides consume — without it the scale-agg +
    encode + explode runs twice.
    """
    import pandas as pd

    persist = persist or (lambda df: df)
    signs = _plane_sign_matrix(tables, band, dim)

    def _enc(pdf):
        X = vm.stack_vectors(pdf["v"], dim, "lsh_bucket_col")
        S = vm.stack_vectors(pdf["sarr"], dim, "sq8 scales")
        B = vm.lsh_buckets(X, signs, band)
        out = {
            "vec_id": pdf["vec_id"].to_numpy(),
            "code": list(vm.sq8_codes_rowwise(X, S)),
        }
        for t in range(tables):
            out[f"_b{t}"] = B[:, t]
        return pd.DataFrame(out)

    enc_schema = "vec_id long, code array<long>, " + ", ".join(
        f"{c} long" for c in _bucket_cols(tables)
    )
    eqt = persist(
        _explode_buckets(
            vecs.crossJoin(F.broadcast(_sq8_scales(vecs)))
            .select("vec_id", "v", "sarr")
            .mapInPandas(_one_batch(_enc), schema=enc_schema),
            tables,
            ["vec_id", "code"],
        )
    )
    q = _expand_probes(
        eqt.filter(probe_pred).select(
            F.col("vec_id").alias("qid"),
            F.col("code").alias("qcode"),
            "t",
            "bucket",
        ),
        band,
        multiprobe,
    )

    cand = (
        q.join(eqt, ["t", "bucket"])
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", _QSCORE().alias("qscore"))
        .groupBy("qid", "vec_id")
        .agg(F.max("qscore").alias("qscore"))
    )  # MAX dedupes multi-table candidates (scores identical per pair)
    return _rescore(cand, vecs, k, funnel)


def ivf_sq8_topk(
    vecs: DataFrame,
    probe_pred: Column,
    *,
    k: int = 3,
    funnel: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    centroid_pred: Column | None = None,
    centroids: DataFrame | None = None,
    persist=None,
) -> DataFrame:
    """IVF-SQ8: coarse-quantizer candidate selection + int8 code scan +
    exact rescore — the production ANN layout (FAISS IVFx,SQ8 shape).
    Candidate recall tracks the IVF tier (~0.91 recall@3 on the gate
    corpora vs the LSH funnel's ~0.70) while the WIDE stage still
    touches only int8 codes.  Each vector lives in exactly one list, so
    a (qid, vec_id) candidate appears at most once — no dedup agg.
    Returns ``(qid, vec_id, qscore, cos, rank)``.
    """
    if centroid_pred is None:
        centroid_pred = F.col("vec_id") < nlist
    import pandas as pd

    persist = persist or (lambda df: df)
    cids, C = _collect_centroids(vecs, centroid_pred, centroids)

    def _enc(pdf):
        X = vm.stack_vectors(pdf["v"], C.shape[1], "ivf-sq8: vector length")
        S = vm.stack_vectors(pdf["sarr"], C.shape[1], "sq8 scales")
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "code": list(vm.sq8_codes_rowwise(X, S)),
                "rk": list(_ranked_cids(X, cids, C)),
            }
        )

    assigned = persist(
        vecs.crossJoin(F.broadcast(_sq8_scales(vecs)))
        .select("vec_id", "v", "sarr")
        .mapInPandas(
            _one_batch(_enc),
            schema="vec_id long, code array<long>, rk array<long>",
        )
    )  # codes + centroid ranking computed once; both join sides reuse
    lists = assigned.select(
        "vec_id", "code", F.element_at("rk", 1).alias("list_id")
    )
    probes = assigned.filter(probe_pred).select(
        F.col("vec_id").alias("qid"),
        F.col("code").alias("qcode"),
        F.explode(F.slice("rk", 1, nprobe)).alias("list_id"),
    )

    cand = (
        probes.join(lists, "list_id")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", _QSCORE().alias("qscore"))
    )
    return _rescore(cand, vecs, k, funnel)


# ---------------------------------------------------------------------------
# IVF-PQ (product quantization with ADC scoring)
# ---------------------------------------------------------------------------

PQ_M = 16  # subspaces (r10 at ksub=256: recall@3 0.92 at both gate SFs)
PQ_KSUB = 256  # codebook entries per subspace (the FAISS default: 1-byte codes)
PQ_FUNNEL = 80  # ADC candidates exact-rescored per query


def _pq_l2(a: Column, b: Column, off: int, sub: int) -> Column:
    """Squared L2 between the ``[off, off+sub)`` slices of two array
    columns — an ordered left fold, so the bits match the oracle's
    ordered LIST_SUM replay."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, off + 1, sub),
            F.slice(b, off + 1, sub),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_ip(a: Column, b: Column, off: int, sub: int) -> Column:
    """Inner product of the ``[off, off+sub)`` slices (ordered fold)."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, off + 1, sub),
            F.slice(b, off + 1, sub),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codes_expr(
    u: Column, cbv: Column, *, m: int, sub: int
) -> Column:
    """Product-quantization codes of normalized vector ``u`` against the
    codebook column ``cbv`` (array of ksub normalized vectors): for each
    of the ``m`` subspaces, the index of the L2-nearest codebook
    subvector.  Distances are rounded to 9 digits before the argmin
    (the `_ivf_ranked_centroids` stability contract: a last-ulp
    summation-order difference between engines cannot flip a code), and
    ties resolve to the FIRST occurrence in both engines
    (array_position / LIST_POSITION semantics)."""
    # NB: the subspace offset is bound through a factory closure — a
    # second lambda parameter with a default (`lambda cv, _j=j`) would
    # make pyspark pass the ARRAY INDEX into it (transform's binary
    # form), silently scoring subspace c against codebook entry c.
    # The argmin is a RUNNING-MIN left fold over (dist, index) structs
    # (r10: replaces an array_sort of ksub structs — O(ksub) instead of
    # O(ksub log ksub) per subspace, which matters at the ksub=256
    # production profile): each of the m*ksub distance folds is
    # evaluated ONCE (array_position(d, array_min(d)) would reference
    # the fold array twice), and the STRICT < keeps the first
    # occurrence on ties — exactly the oracle's
    # LIST_POSITION(d, LIST_MIN(d)) semantics.
    def _code(j: int) -> Column:
        pairs = F.zip_with(
            F.transform(
                cbv, lambda cv: F.round(_pq_l2(u, cv, j * sub, sub), 9)
            ),
            F.sequence(F.lit(0), F.size(cbv) - 1),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
        best = F.aggregate(
            pairs,
            F.struct(
                F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")
            ),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
        return best["i"].cast("int")

    return F.array(*[_code(j) for j in range(m)])


def _pq_codebook(
    vecs: DataFrame,
    codebook_pred: Column,
    codebook: DataFrame | None,
    u_expr: Column,
) -> DataFrame:
    """The ONE-row broadcastable codebook table ``(cbv: array of ksub
    normalized vectors, cb_id order)`` shared by the corpus encode and
    the query-side LUT."""
    if codebook is not None:
        cb_nrm = _norm(F.col("cv"))
        cb_src = codebook.select(
            F.col("cb_id").cast("long").alias("_id"),
            F.transform("cv", lambda x: x / cb_nrm).alias("u"),
        )
    else:
        cb_src = vecs.filter(codebook_pred).select(
            F.col("vec_id").alias("_id"), u_expr.alias("u")
        )
    return cb_src.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_id", "u"))),
            lambda st: st["u"],
        ).alias("cbv")
    )


def _collect_codebook(
    vecs: DataFrame, codebook_pred: Column, codebook: DataFrame | None
) -> np.ndarray:
    """The ksub-row codebook as a driver-side (ksub, dim) matrix of
    NORMALIZED vectors, ordered by id — the bytes `_pq_codebook` shipped
    as a one-row broadcast, normalized with the exact `_norm`/division
    sequence (bit-identical).  Raises the r13 review finding's loud
    refusal on an empty selection instead of encoding -1 sentinels."""
    if codebook is not None:
        rows = codebook.select(
            F.col("cb_id").cast("long").alias("_id"), F.col("cv").alias("_v")
        ).collect()
    else:
        rows = vecs.filter(codebook_pred).select(
            F.col("vec_id").alias("_id"), F.col("v").alias("_v")
        ).collect()
    if not rows:
        raise ValueError(
            "ivf-pq: the codebook selection is empty (codebook_pred"
            " matched no corpus row — e.g. vec_ids not starting at 0) or"
            " the codebook table is empty; fix codebook_pred/codebook"
            " before the table is materialized"
        )
    pairs = sorted((int(r["_id"]), list(r["_v"])) for r in rows)
    raw = np.array([v for _, v in pairs], dtype=np.float64)
    return raw / vm.norms(raw)[:, None]


def _pq_encode_kernel(CB: np.ndarray, m: int, sub: int):
    """Per-batch PQ encode: normalized u, then per subspace the first
    index attaining the minimum of round9(squared L2) — the
    `pq_codes_expr` running-min fold, replayed exactly
    (vm.argmin_round9)."""

    def codes_for(X: np.ndarray) -> np.ndarray:
        U = X / vm.norms(X)[:, None]
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            off = j * sub
            D = vm.ordered_sqdist(U[:, off:off + sub], CB[:, off:off + sub])
            out[:, j] = vm.argmin_round9(D).astype(np.int32)
        return out

    return codes_for


def _pq_code_table(
    vecs: DataFrame,
    centroid_pred: Column,
    centroids: DataFrame | None,
    CB: np.ndarray,
    *,
    m: int,
    sub: int,
    cc: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Corpus-side IVF-PQ encode: ``(vec_id, codes array<int>,
    list_id)`` — one vectorized mapInPandas stage (codebook + coarse
    centroids are bounded driver-side tables, exactly what the
    expression path broadcast).  ``cc`` passes an already-collected
    ``(cids, C)`` pair so a caller that also needs the centroids (the
    probe stage) collects them ONCE per query (r16, guide §4.5 —
    heavyweight init once; each collect is a driver job)."""
    import pandas as pd

    if CB.shape[1] != m * sub:
        raise ValueError(
            f"ivf-pq: vector length / codebook width mismatch — codebook"
            f" width {CB.shape[1]} != dim={m * sub}; fix codebook_pred/dim"
            " before the table is materialized"
        )
    cids, C = cc if cc is not None else _collect_centroids(
        vecs, centroid_pred, centroids
    )
    codes_for = _pq_encode_kernel(CB, m, sub)
    dim = m * sub

    def kern(pdf):
        for row in pdf["v"]:
            if row is None or len(row) != dim:
                raise ValueError(
                    f"ivf-pq: vector length "
                    f"{'null' if row is None else len(row)} != dim={dim}"
                    " — pass the corpus dimensionality via dim="
                )
        X = vm.stack_vectors(pdf["v"], dim, "ivf-pq")
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "codes": list(codes_for(X)),
                "list_id": _ranked_cids(X, cids, C)[:, 0],
            }
        )

    return vecs.select("vec_id", "v").mapInPandas(
        _one_batch(kern),
        schema="vec_id long, codes array<int>, list_id long",
    )


def pq_code_table(
    vecs: DataFrame,
    *,
    nlist: int = IVF_NLIST,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = LSH_DIM,
    centroid_pred: Column | None = None,
    centroids: DataFrame | None = None,
    codebook_pred: Column | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """The ONE-TIME-PER-CORPUS IVF-PQ encode as a standalone pass:
    ``(vec_id, codes array<int>, list_id)`` — exactly the corpus-side
    table :func:`ivf_pq_topk` derives internally, exposed so it can be
    MATERIALIZED (``sigstore.write_pq_code_store``) and probed without
    re-encoding (``ivf_pq_topk(code_table=...)``).  At 100 TB the
    encode reads every vector once and writes ``m`` codes (array<int>
    as stored — 1 byte of entropy each at ksub=256, a pack-to-bytes
    materialization option) + a list id per vector; every later query
    reads only that."""
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    if centroid_pred is None:
        centroid_pred = F.col("vec_id") < nlist
    if codebook_pred is None:
        codebook_pred = F.col("vec_id") < ksub
    CB = _collect_codebook(vecs, codebook_pred, codebook)
    return _pq_code_table(
        vecs, centroid_pred, centroids, CB, m=m, sub=dim // m
    )


def ivf_pq_topk(
    vecs: DataFrame,
    probe_pred: Column,
    *,
    k: int = 3,
    funnel: int = PQ_FUNNEL,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = LSH_DIM,
    centroid_pred: Column | None = None,
    centroids: DataFrame | None = None,
    codebook_pred: Column | None = None,
    codebook: DataFrame | None = None,
    code_table: DataFrame | None = None,
    persist=None,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer candidate selection + product-quantized
    asymmetric-distance scan + exact float64 rescore — the
    highest-compression production ANN layout (FAISS IVFx,PQm shape;
    Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011).

    Each NORMALIZED corpus vector is encoded as ``m`` codebook indices
    (one per ``dim/m``-wide subspace; L2-nearest of ``ksub`` entries) —
    ``m`` small ints per vector, vs dim int8s for SQ8 and dim float64s
    for the exact scan: at the defaults (m=16 over dim=64 float64s) a
    code row is an 8x width reduction of the candidate scan as stored
    (array<int>; packing codes to 1 byte each — ksub=256 fits — would
    make it 32x, a documented materialization option, not the shipped
    layout).  Scoring is ADC: the QUERY
    precomputes ``lut[j][c] = <u_q[j], codebook[j][c]>`` (m x ksub
    doubles, query-side only), and a candidate's approximate cosine is
    ``sum_j lut[j][codes[j]]`` — m array lookups and adds per
    candidate, no per-candidate vector arithmetic at all.  The
    top-``funnel`` by rounded ADC score rescore with the exact float64
    cosine, identical to the SQ8 funnel.

    ``codebook_pred`` selects the ksub codebook rows from the corpus
    (default: the first ``ksub`` ids — the same deterministic seeding
    as the coarse quantizer).  ``codebook`` passes a TRAINED codebook
    instead — a ``(cb_id long, cv array<double>)`` table of ksub FULL
    vectors (e.g. k-means centroids over normalized vectors, via
    ``centroids_from_kmeans``-style adaptation), ordered by cb_id, each
    normalized internally exactly like corpus rows — and takes
    precedence, mirroring the coarse tier's trained-quantizer
    injection.  Returns ``(qid, vec_id, qscore, cos, rank)``;
    ``qscore`` is the ADC approximation rounded to 6 digits (the funnel
    rank key — rounded so a last-ulp cross-engine difference cannot
    change funnel membership).

    Scale shape: codebook and coarse centroids are one broadcast row
    each; the corpus-side table is ``(vec_id, codes[m], list_id)`` —
    the 100 TB scan touches only that; full vectors are fetched for
    the <= funnel rows/query rescore alone.  The encode is
    one-time-per-corpus: materialize it with :func:`pq_code_table` +
    ``sigstore.write_pq_code_store`` and pass the read-back table as
    ``code_table`` to probe without re-encoding (store==recompute
    equality is pinned in tests/test_mediastore.py and the
    ``ann_pq_store`` gate).
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    if centroid_pred is None:
        centroid_pred = F.col("vec_id") < nlist
    if codebook_pred is None:
        codebook_pred = F.col("vec_id") < ksub
    import pandas as pd

    persist = persist or (lambda df: df)
    sub = dim // m

    CB = _collect_codebook(vecs, codebook_pred, codebook)
    # Coarse centroids collected ONCE per query (r16, guide §4.5): the
    # corpus encode and the probe-side ranking consume the same
    # nlist-row table, and each _collect_centroids is its own driver
    # job — the r15 plan paid it twice.
    if centroids is None:
        centroids = vecs.filter(centroid_pred).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    cids, C = _collect_centroids(None, None, centroids)

    if code_table is not None:
        # pre-encoded (vec_id, codes, list_id) — the materialized
        # one-time-per-corpus encode (pq_code_table -> the PQ code
        # store); MUST have been built with the same codebook/coarse
        # centroids and (m, ksub, nlist) — the store's kind string
        # pins the int parameters, the codebook provenance is the
        # caller's contract (sigstore.write_pq_code_store docs)
        lists = code_table
    else:
        # corpus side: (vec_id, codes, list_id) — coarse-assign on the
        # raw vector (cosine is norm-invariant), PQ-encode the
        # normalized one.
        lists = persist(
            _pq_code_table(
                vecs, centroid_pred, centroids, CB, m=m, sub=sub,
                cc=(cids, C),
            )
        )
    if CB.shape[1] != dim:
        raise ValueError(
            f"ivf-pq: vector length / codebook width mismatch — codebook"
            f" width {CB.shape[1]} != dim={dim}; fix codebook_pred/dim"
        )

    def _probe_kern(pdf):
        # dim-checked like the corpus encode: with code_table= the
        # corpus path (and its dim check) never runs, so a wrong-dim
        # probe table would silently slice-truncate into
        # plausible-but-wrong LUTs (a review finding)
        for row in pdf["v"]:
            if row is None or len(row) != dim:
                raise ValueError(
                    f"ivf-pq: vector length "
                    f"{'null' if row is None else len(row)} != dim={dim}"
                    " — pass the corpus dimensionality via dim="
                )
        X = vm.stack_vectors(pdf["v"], dim, "ivf-pq")
        U = X / vm.norms(X)[:, None]
        lut = vm.ordered_subspace_ip(U, CB, m, sub)  # (n, m, ksub)
        rk = _ranked_cids(X, cids, C)[:, :nprobe]
        return pd.DataFrame(
            {
                "qid": pdf["vec_id"].to_numpy(),
                "lut": [[list(r) for r in row] for row in lut],
                "_rkq": list(rk),
            }
        )

    probes = (
        vecs.filter(probe_pred)
        .select("vec_id", "v")
        .mapInPandas(
            _one_batch(_probe_kern),
            schema="qid long, lut array<array<double>>, _rkq array<long>",
        )
        .select("qid", "lut", F.explode("_rkq").alias("list_id"))
    )

    adc = F.aggregate(
        F.zip_with(
            "codes", "lut", lambda cj, lj: F.element_at(lj, cj + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        probes.join(lists, "list_id")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.round(adc, 6).alias("qscore"))
    )
    return _rescore(cand, vecs, k, funnel)


def embedding_near_pairs(
    vecs: DataFrame,
    threshold: float = 0.4,
    *,
    tables: int = LSH_TABLES,
    band: int = LSH_BAND,
    dim: int = LSH_DIM,
    max_bucket_rows: int | None = 100_000,
    op_name: str = "embedding_near_pairs",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate CANDIDATE PAIRS: ``(v1, v2,
    cos)`` with ``v1 < v2`` and ``cos >= threshold``, for pairs that
    co-bucket in ANY of the L banded LSH tables — the embedding
    analogue of MinHash-LSH text dedup, feeding
    ``graph.connected_components`` for cluster collapse.

    Same banded-join scale shape as :func:`lsh_topk` (the single-table
    probe surfaced ~2% of threshold pairs on a weakly-separated corpus;
    banding recalls the bulk at a bounded candidate fraction), with the
    default-on hot-bucket guard (``dedup.guard_bucket_rows``): a
    degenerate bucket of m near-identical vectors costs O(m^2) pair
    rows in ONE task — the guard fails loudly with the
    exact-dedup-first remediation instead of grinding.

    Join-width contract (r9 advice): the L-table band self-join carries
    ONLY ``(t, bucket, vec_id)`` — ints, not vectors — so its shuffle is
    ~L x 24 B per vector instead of L x dim x 8 B x 2.  Candidate pairs
    dedup to DISTINCT ``(v1, v2)`` *before* any vector is touched, and
    the normalized vectors are fetched once per surviving pair from a
    ``(vec_id, u)`` side derived in one pass; the cosine fold is the
    same ordered ``zip_with`` expression as before, so the result (and
    the oracle hash) is bit-identical to the wide-join plan.
    """
    import pandas as pd

    from .dedup import guard_bucket_rows

    signs = _plane_sign_matrix(tables, band, dim)

    def _enc(pdf):
        X = vm.stack_vectors(pdf["v"], dim, "lsh_bucket_col")
        B = vm.lsh_buckets(X, signs, band)
        out = {
            "vec_id": pdf["vec_id"].to_numpy(),
            "u": list(X / vm.norms(X)[:, None]),
        }
        for t in range(tables):
            out[f"_b{t}"] = B[:, t]
        return pd.DataFrame(out)

    enc_schema = "vec_id long, u array<double>, " + ", ".join(
        f"{c} long" for c in _bucket_cols(tables)
    )
    staged = vecs.select("vec_id", "v").mapInPandas(
        _one_batch(_enc), schema=enc_schema
    )
    uvecs = staged.select("vec_id", "u")
    e = _explode_buckets(staged, tables, ["vec_id"])
    e = guard_bucket_rows(
        e,
        ["t", "bucket"],
        guarded_col="vec_id",
        max_bucket_rows=max_bucket_rows,
        op_name=op_name,
    )
    a = e.select(F.col("vec_id").alias("v1"), "t", "bucket")
    b = e.select(F.col("vec_id").alias("v2"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2")
        .distinct()
    )
    return _pair_cos(
        cand.join(
            uvecs.select(F.col("vec_id").alias("v1"), F.col("u").alias("ua")),
            "v1",
        ).join(
            uvecs.select(F.col("vec_id").alias("v2"), F.col("u").alias("ub")),
            "v2",
        ),
        ["v1", "v2"],
        "ua",
        "ub",
        normalized=True,
        op=op_name,
    ).filter(F.col("cos") >= threshold).select(
        "v1", "v2", F.round("cos", round_digits).alias("cos")
    )
