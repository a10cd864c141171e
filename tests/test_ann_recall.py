"""Recall floors for the bucketed ANN tiers (r5 verdict item 5).

The ANN queries are oracle-exact on their own plans, but their QUALITY —
recall@3 against brute-force cosine ground truth — is what a dedup
pipeline's false-negative rate at 100 TB depends on.  The gate corpus is
near-random at dim 64 (true top-3 neighbors sit at cos~0.34, ~70 deg,
barely outside the random-pair band cos 0.0 +/- 0.125), so recall for
ANY sublinear method tracks the candidate fraction plus a structural
lift; the floors below pin the measured behavior of the shipped defaults
(banded LSH b=4 x L=8 with Hamming-1 MULTIPROBE — the r9 lift: the old
probe-own-bucket-only tiers measured ~0.70-0.73, radius-1 query-side
fan-out measures 0.99-1.00 at both SFs for <2x wall; IVF nlist=32 /
nprobe=16 ~ 0.92 @ 0.5 — the r8 retune: finer quantization lifts recall
at CONSTANT scan fraction, 8/4 scanned the same 0.5 for 0.74; LSH-funnel
int8 ~ 0.99 — it shares the multiprobe candidates minus the occasional
true neighbor the top-10 integer funnel drops; IVF-SQ8 `ann_ivf_int8`
~ 0.91 at both SFs) with headroom for a data refresh.
A drop below floor means a bucketing/probing regression, not noise —
everything here is deterministic on fixed data.
"""

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

FLOORS = {
    "ann_lsh": 0.9,
    "ann_ivf": 0.9,
    "ann_int8": 0.9,
    "ann_ivf_int8": 0.85,
    # IVF-PQ: measured 0.92 at both SFs at the r10 production profile
    # (m=16, ksub=256 — the FAISS default 1-byte codes — funnel=80);
    # the highest-compression tier trades the last recall points for a
    # 40x narrower candidate scan
    "ann_ivf_pq": 0.9,
}


@pytest.fixture(scope="module")
def truth():
    """Exact top-3 cosine neighbors for the 50 probe vectors, from
    numpy — independent of every Spark/SQL code path under test."""
    df = duckdb.sql(
        f"""SELECT CAST(vec_id AS BIGINT) AS vid,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM '{SF_DIR}/embeddings.parquet' ORDER BY vid"""
    ).df()
    pts = np.array(df["v"].tolist())
    nrm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    cos = nrm @ nrm.T
    np.fill_diagonal(cos, -2.0)
    return {
        (q, int(j)) for q in range(50) for j in np.argsort(-cos[q])[:3]
    }


@pytest.mark.parametrize("name", sorted(FLOORS))
def test_ann_recall_floor(spark, name, truth):
    out = (
        getattr(entry_mod, f"q_{name}")(spark, SF_DIR)
        .filter("rank <= 3")
        .select("qid", "vec_id")
        .collect()
    )
    entry_mod.release_caches()
    pred = {(r["qid"], r["vec_id"]) for r in out}
    recall = len(pred & truth) / len(truth)
    assert recall >= FLOORS[name], (
        f"{name} recall@3 {recall:.3f} below floor {FLOORS[name]} on the "
        f"fixed gate corpus — deterministic, so this is a bucketing or "
        f"probe regression"
    )
