"""PPJoin prefix-filtered Jaccard == brute-force self-join, on random corpora.

The prefix-filter lemma (candidates must share an element of the first
``n - ceil(t*n) + 1`` hash-ordered shingles) is the only part of
``q_dedup_jaccard_ppjoin`` that could silently LOSE pairs; the DuckDB
oracle checks one fixed corpus, this pins the equivalence on randomized
ones with forced near-duplicates and short-doc edge cases.
"""

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod


def _write_corpus(tmp: Path, seed: int, n: int = 120) -> str:
    rng = np.random.default_rng(seed)
    # Small vocabulary + short docs => dense shingle collisions, many
    # pairs near the 0.5 threshold (the regime where a wrong prefix
    # bound would actually show).
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        " ".join(rng.choice(vocab, size=rng.integers(1, 12)).tolist())
        for _ in range(n)
    ]
    for i in range(0, n, 7):  # forced near-dups: one-word edits of originals
        w = docs[i].split()
        w[rng.integers(0, len(w))] = "w0"
        docs.append(" ".join(w))
    tmp.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({"doc_id": range(len(docs)), "text": docs}).to_parquet(
        tmp / "documents.parquet"
    )
    return str(tmp)


def test_ppjoin_equals_naive_random_corpora(spark, tmp_path):
    # both plans are path branches of the near_dup slot; compare their
    # own q_* functions
    for seed in (0, 1, 2):
        sf = _write_corpus(tmp_path / f"c{seed}", seed)
        naive = sorted(
            map(tuple, entry_mod.q_dedup_jaccard_pairs(spark, sf).collect())
        )
        pp = sorted(
            map(tuple, entry_mod.q_dedup_jaccard_ppjoin(spark, sf).collect())
        )
        assert naive == pp, f"seed {seed}: {len(naive)} vs {len(pp)} pairs"
        assert naive, f"seed {seed}: corpus produced no near-dup pairs"
