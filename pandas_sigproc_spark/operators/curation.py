"""Corpus-curation operators (LLM-data extension tier, round 6).

Pretraining-pipeline stages the round-5 tier did not yet cover, each
expressed as a declarative DataFrame plan with a DuckDB oracle mirror
in ``__spark_entry__``:

- :func:`block_dedup` — CCNet-style paragraph/block-level exact dedup
  (Wenzek et al. 2020): drop every repeated fixed-size token block
  except its first corpus occurrence, reassemble the cleaned text.
- :func:`quality_classifier` — logistic quality model over map-side
  document features (the fastText-classifier stage of C4/CCNet/Gopher
  pipelines, with fixed published-style weights instead of a learned
  binary, so the whole scorer stays a JVM expression tree).
- :func:`bloom_positions_expr` / :func:`build_bloom_bitmap` /
  :func:`bloom_probe` — Bloom-filter decontamination: the benchmark
  n-gram set is folded into a constant-size bitmap and the corpus is
  probed MAP-SIDE, with no join at all.  The scale path when the
  held-out suite is too large to broadcast as a distinct-gram set.
- :func:`temperature_thresholds` / :func:`temperature_sample` —
  temperature-scaled language rebalancing (the multilingual mixing rule
  of Conneau & Lample 2019, T=2): per-language keep probabilities are
  DERIVED from corpus counts, then applied as a deterministic map-side
  hash filter.
- :func:`scrub_pii` — regex PII masking (emails, IPv4, digit runs) as
  chained ``regexp_replace`` — pure map-side, portable RE2/Java regex
  subset so the DuckDB oracle replays it exactly.
- :func:`incremental_dedup` — delta-vs-corpus ingestion dedup (exact
  digest probe + banded-MinHash near-dup probe): screen a new crawl
  batch against 100 TB without rescanning it as text — the corpus is
  touched only as digest and band-key tables.

Reference parity note: the reference engine (jscans12/pandas-sigproc)
has no corpus tier — these extend the engine for training-data work at
the 100 TB design point, following the same scale rules as the rest of
the tier (no all-pairs, no per-row Python, uniform shuffle keys,
broadcast only provably tiny sides).
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from . import text as _text
from .dedup import guard_bucket_rows

# ---------------------------------------------------------------------------
# 1. Block-level (paragraph) dedup
# ---------------------------------------------------------------------------


def block_dedup(
    docs: DataFrame,
    block_tokens: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """CCNet-style block-level exact deduplication.

    Documents are cut into NON-overlapping ``block_tokens``-word blocks
    (the whitespace analogue of CCNet's paragraph unit — the synthetic
    corpus has no newlines, so the block boundary is positional).  A
    block whose text occurs ``min_count``+ times anywhere in the corpus
    is dropped from every document EXCEPT its first corpus occurrence
    (smallest ``(doc_id, block_id)``); the cleaned document is the
    surviving blocks re-joined in order.

    Output: ``(doc_id long, n_blocks long, n_dup_blocks long,
    dup_frac double, clean_text string)``.

    Scale shape: blocks are assembled by exploding TOKENS (one small
    row per token) and folding them back on the uniform ``(doc_id,
    block_id)`` key with per-group state bounded by ``block_tokens``.
    This shape was forced by a measured Spark quadratic, caught by a
    giant-document probe: any column referenced
    after a ``posexplode`` is copied into EVERY generated row, so both
    the tempting map-side forms — ``transform(starts, i ->
    slice(ws, i, B))`` (HOF lambdas get no subexpression elimination:
    re-splits the document per block) and explode-the-starts-then-
    slice-the-carried-array (the array rides every output row) — are
    O(len²/B) per document; ``element_at(_ws, i)`` after a generate
    measured 175 s on ONE 160k-token doc vs 0.07 s with the array
    pruned.  The token fold costs one extra (uniform) shuffle and is
    strictly linear.  The duplicate test is a partial agg on md5 block
    digests with a ``min(struct(doc_id, block_id))`` keeper — uniform
    digest key (hot blocks deepen one group's count, not its key
    count); the keeper join is a digest equi-join where each occurrence
    matches exactly one keeper row; the reassembly groups on doc_id
    with per-task state bounded by document length.  Total O(corpus
    tokens), four uniform shuffles.
    """
    if block_tokens < 1:
        raise ValueError("need block_tokens >= 1")
    if min_count < 2:
        raise ValueError("need min_count >= 2")
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p0", "w"),
    )
    occ = (
        tok.groupBy(
            "doc_id",
            (F.expr(f"p0 div {int(block_tokens)}") + 1).cast("long").alias("bid"),
        )
        .agg(
            _text.token_fold_expr(F.struct("p0", "w"), "w").alias("btext")
        )
        .select("doc_id", "bid", "btext", F.md5("btext").alias("digest"))
    )
    keepers = occ.groupBy("digest").agg(
        F.count("*").alias("_c"),
        F.min(F.struct("doc_id", "bid")).alias("_first"),
    )
    marked = occ.join(keepers, "digest").select(
        "doc_id",
        "bid",
        "btext",
        (
            (F.col("_c") < min_count)
            | (
                (F.col("_first.doc_id") == F.col("doc_id"))
                & (F.col("_first.bid") == F.col("bid"))
            )
        ).alias("keep"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_blocks"),
        F.round(
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("dup_frac"),
        _text.token_fold_expr(
            F.when(F.col("keep"), F.struct("bid", "btext")), "btext"
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# 2. Logistic quality classifier
# ---------------------------------------------------------------------------

# Fixed logistic weights (a published-style quality model, not trained
# here): bias + [length saturation, mean-word-length proximity,
# stopword fraction, type-token ratio].  Chosen so the synthetic corpus
# splits into a non-trivial keep/drop mix at threshold 0.5.
QUALITY_WEIGHTS = (-3.0, 2.0, 1.5, 20.0, 2.5)


def quality_features_expr(
    text_col: str = "text",
) -> tuple[Column, Column, Column, Column]:
    """The classifier's four map-side features (f_len, f_awl, f_stop,
    f_uniq) — unrounded, shared by the batch classifier and the
    streaming curation filter so both score identically."""
    ws = _text.words_expr(text_col)
    n_w = F.size(ws)
    stop = F.size(F.filter(ws, lambda w: w.isin(*_text.STOPWORDS)))
    f_len = F.least(F.lit(1.0), n_w / F.lit(100.0))
    # Mean characters PER TOKEN over the raw text — separators included
    # by design (~= true mean word length + 1 for single-space text), so
    # one length() replaces a per-word fold; the 4.7 prose anchor and
    # the logistic weights were calibrated against THIS definition, and
    # every replica (text.quality_expr, the DuckDB oracles, the pytest
    # reference) uses the identical expression.
    awl = F.length(text_col) / n_w
    f_awl = F.greatest(F.lit(0.0), 1.0 - F.abs(awl - 4.7) / F.lit(4.7))
    f_stop = stop / n_w.cast("double")
    f_uniq = F.size(F.array_distinct(ws)) / n_w.cast("double")
    return f_len, f_awl, f_stop, f_uniq


def quality_score_expr(
    text_col: str = "text",
    weights: tuple[float, float, float, float, float] = QUALITY_WEIGHTS,
) -> Column:
    """Logistic quality score in [0, 1], rounded to 6 dp."""
    w0, w1, w2, w3, w4 = (float(x) for x in weights)
    f_len, f_awl, f_stop, f_uniq = quality_features_expr(text_col)
    z = (
        F.lit(w0)
        + F.lit(w1) * f_len
        + F.lit(w2) * f_awl
        + F.lit(w3) * f_stop
        + F.lit(w4) * f_uniq
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def quality_classifier(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[float, float, float, float, float] = QUALITY_WEIGHTS,
    threshold: float = 0.5,
) -> DataFrame:
    """Logistic document-quality classifier (the model-based filter
    stage of C4/CCNet-style pipelines) over four map-side features:

    - ``f_len``  — length saturation ``min(1, n_tokens/100)``;
    - ``f_awl``  — mean word length proximity to prose
      ``max(0, 1 - |chars/n_tokens - 4.7|/4.7)``;
    - ``f_stop`` — stopword token fraction;
    - ``f_uniq`` — type-token ratio.

    ``score = 1/(1+exp(-(w0 + w1*f_len + w2*f_awl + w3*f_stop +
    w4*f_uniq)))`` rounded to 6 dp; ``keep = score >= threshold``.

    Output: ``(doc_id, n_tokens, f_len, f_awl, f_stop, f_uniq, score,
    keep)`` with all feature columns rounded to 6 dp.

    Scale shape: a single map-side expression tree — 0 shuffles, 0 UDFs,
    embarrassingly parallel.  ``exp`` is the one non-correctly-rounded
    primitive shared with the DuckDB oracle; the 6-dp rounding margin is
    verified empirically over the full sf0.1 corpus in
    ``tests/test_curation.py`` (max pre-round disagreement measured at
    <1e-12, five orders below the rounding step).
    """
    f_len, f_awl, f_stop, f_uniq = quality_features_expr(text_col)
    score = quality_score_expr(text_col, weights)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(_text.words_expr(text_col)).cast("long").alias("n_tokens"),
        F.round(f_len, 6).alias("f_len"),
        F.round(f_awl, 6).alias("f_awl"),
        F.round(f_stop, 6).alias("f_stop"),
        F.round(f_uniq, 6).alias("f_uniq"),
        score.alias("score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


# The Gopher rule set's required-word probe (Rae et al. 2021, appendix
# A1.1: a document must contain at least 2 of these 8 words).
GOPHER_REQUIRED_WORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.1,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_required_words: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021, appendix
    A1.1) — the standard HEURISTIC companion to the model-based
    :func:`quality_classifier`, and the rule set most crawl pipelines
    (Gopher, RefinedWeb, Dolma) run first:

    - word count in ``[min_words, max_words]``;
    - mean word length in ``[min_mean_word_len, max_mean_word_len]``;
    - symbol-to-word ratio (``#`` and ellipsis ``...``/``…``) at most
      ``max_symbol_ratio``;
    - at most ``max_bullet_frac`` of lines start with a bullet
      (``•``/``*``/``-``) and at most ``max_ellipsis_frac`` end with
      an ellipsis;
    - at least ``min_alpha_frac`` of words contain an alphabetic char;
    - at least ``min_required_words`` DISTINCT members of
      :data:`GOPHER_REQUIRED_WORDS` appear (lowercased match).

    Input contract: ``text_col`` is expected WHITESPACE-NORMALIZED
    (the html_text / normalize_text output shape — single spaces, no
    hard-wrapped words): tokenization is single-space by the tier's
    corpus contract, so a token spanning a raw newline would corrupt
    the word metrics.  Run the normalizer first on raw multi-line
    input (the crawl_curate composition does).

    Output: ``(doc_id, n_words, mean_word_len, symbol_ratio,
    bullet_frac, ellipsis_frac, alpha_frac, n_required, keep)`` plus
    any ``keep_cols`` passed through verbatim (so pipeline context —
    URL keys, dedup counts — rides the same single pass instead of a
    join back) — fractions rounded to 6 dp, ``keep`` decided on the UNROUNDED
    values (both engines derive identical doubles from identical
    integer counts, so the verdict is replayable).  No rows removed —
    the verdict column composes with the other curation filters.

    Scale shape: one map-side expression tree per document — zero
    shuffles, zero Python, whole-stage codegen; tokenization is the
    engine-wide single-space convention (``text.words_expr``), lines
    split on newline.
    """
    ws = _text.words_expr(text_col)
    n_w = F.size(ws)
    # total word chars = non-space chars (words are the ' '-separated
    # pieces), so one replace+length beats a per-word fold
    mean_wl = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))) / n_w
    tl = F.length(text_col)
    n_hash = tl - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    n_ell3 = (
        tl - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / 3
    n_ellu = tl - F.length(
        F.replace(F.col(text_col), F.lit("\u2026"), F.lit(""))
    )
    symbol_ratio = (n_hash + n_ell3 + n_ellu) / n_w
    lines = F.split(F.col(text_col), "\n")
    n_l = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike("^[ \\t]*[\u2022*-]")))
        / n_l
    )
    # \z (true end-of-text, identical in Java and RE2), NOT $: Java's
    # default $ also matches before a trailing \r/\u2028/\u0085, so a
    # CRLF corpus would count ellipsis lines differently per engine.
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|\u2026)[ \\t]*\\z"))
        )
        / n_l
    )
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / n_w
    )
    n_req = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(ws, F.lower)),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        )
    )
    keep = (
        (n_w >= F.lit(int(min_words)))
        & (n_w <= F.lit(int(max_words)))
        & (mean_wl >= F.lit(float(min_mean_word_len)))
        & (mean_wl <= F.lit(float(max_mean_word_len)))
        & (symbol_ratio <= F.lit(float(max_symbol_ratio)))
        & (bullet_frac <= F.lit(float(max_bullet_frac)))
        & (ellipsis_frac <= F.lit(float(max_ellipsis_frac)))
        & (alpha_frac >= F.lit(float(min_alpha_frac)))
        & (n_req >= F.lit(int(min_required_words)))
    )
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_w.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_req.cast("long").alias("n_required"),
        keep.alias("keep"),
    )


def compression_ratio(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetition/boilerplate signal (highly repetitive or templated text
    compresses far below prose; near-random text barely compresses):
    ``(doc_id, n_bytes, n_compressed, ratio)`` with ``ratio =
    n_compressed / n_bytes`` rounded to 6 dp (empty documents get
    ratio 0.0).  Compose with :func:`repetition_stats` and
    :func:`gopher_rules` as a filter column; typical pipeline cuts
    drop documents below ~0.3 (template spam) or above ~1.1 (binary
    junk in a text field).

    Scale shape: one Arrow-batched ``mapInPandas`` pass — per-row
    zlib, no shuffle, no state; DEFLATE is not reasonably
    SQL-expressible, so this operator is pytest-gated (the repo rule
    for non-relational kernels) with ordering anchors: repeated text
    below prose below random bytes.
    """
    if not 1 <= int(level) <= 9:
        raise ValueError("need 1 <= level <= 9")
    lv = int(level)

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            ids, nb, nc = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # NULL text is an empty document (ratio 0.0), not the
                # 4-byte literal "None"
                raw = b"" if pd.isna(text) else str(text).encode("utf-8")
                # NULL id passes through as NULL (int(None) would kill
                # the whole job on one corrupt row — a review finding)
                ids.append(None if pd.isna(did) else int(did))
                nb.append(len(raw))
                nc.append(len(zlib.compress(raw, lv)) if raw else 0)
            out = pd.DataFrame(
                {"doc_id": ids, "n_bytes": nb, "n_compressed": nc}
            )
            out["ratio"] = (
                out["n_compressed"]
                / out["n_bytes"].where(out["n_bytes"] > 0, 1)
            ).where(out["n_bytes"] > 0, 0.0).round(6)
            yield out

    return docs.select(id_col, text_col).mapInPandas(
        run, "doc_id long, n_bytes long, n_compressed long, ratio double"
    )


# ---------------------------------------------------------------------------
# 3. Bloom-filter decontamination
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 20  # bitmap bits; 2^20 -> 32768 32-bit words (256 KiB)
BLOOM_WORD_BITS = 32  # 32-bit words keep every mask positive in a BIGINT
BLOOM_K = 4  # hash probes per gram (Kirsch-Mitzenmacher double hashing)

# Sizing: per-gram false-positive rate ~ (1 - e^{-k n / m})^k.  At the
# defaults with n = 25k benchmark grams (sf0.1): fill 9%, FP/gram 7e-5
# — a handful of false grams across a 270k-gram corpus probe and ~zero
# false DOCUMENTS.  m=2^16/k=2 measured 111 false documents out of 450
# at sf0.01 (doc-level flagging compounds per-gram FP), hence the
# larger default; at 100 TB you size m per benchmark suite with
# bloom_sizing() below instead of inheriting these constants (the
# bitmap is broadcast state, not expression state — see bloom_probe).

# 2^0..2^31 as longs: bit masks and the mod-compare bit test both come
# from this table, so the whole bitmap arithmetic is exact LONG ops —
# no shifts-by-column (unsupported in the DataFrame API) and no doubles
# (a 60-bit hash does not round-trip through double division, and
# double->long casts truncate in Spark but round in DuckDB).
_POW2 = tuple(1 << b for b in range(BLOOM_WORD_BITS))


class BloomSizing(NamedTuple):
    m_bits: int  # bitmap bits (power of two, >= one word)
    k: int  # probes per gram
    fp: float  # predicted per-gram FP rate at exactly n_items inserted


def bloom_sizing(
    n_items: int,
    target_fp: float = 1e-4,
    *,
    max_m_bits: int = 1 << 30,
) -> BloomSizing:
    """Size a Bloom bitmap for ``n_items`` expected benchmark grams and a
    per-gram false-positive target: the calculator behind the fixed
    ``BLOOM_M_BITS``/``BLOOM_K`` defaults — ``bloom_sizing(25_000,
    1e-4)`` returns the same m=2^20 with k=8 (fp 8e-7); the shipped
    k=4 halves the per-gram probe cost and still measures 7e-5 < 1e-4
    at that m (the sizing note above).  A 100 TB deployment resizes
    per benchmark suite instead of inheriting the sf0.1 constants.

    Textbook formulas: ``m_ideal = -n ln(p) / ln(2)^2`` rounded UP to a
    power of two (so the ``% m`` position arithmetic and whole-word
    counts stay exact and the realized FP only drops), then
    ``k = round(m/n ln 2)`` clamped to [1, 8].  The k ceiling matters
    here more than in a textbook filter: each probe is an inlined
    expression in the map-side probe tree (bloom_hit_exprs), so k is a
    per-gram CPU multiplier — beyond 8 probes you are better off
    doubling m (memory is broadcast-once, probes are per-corpus-gram).
    Returns the realized ``fp = (1 - e^{-kn/m})^k``, which the caller
    should log next to the suite size; tests/test_curation.py pins
    measured FP <= target on the real probe path.

    Double-hash caveat (documented, not hidden): positions are derived
    from ``h % m`` and ``(h >> 20) % m`` of one 60-bit gram hash, so for
    m > 2^20 the two legs share ``log2(m) - 20`` low bits.  That mild
    correlation is the standard Kirsch-Mitzenmacher trade and stays
    negligible through ``max_m_bits`` = 2^30 (shared bits never exceed
    10 of 30); the cap refuses sizes where the 60-bit hash itself would
    run out of independent material.
    """
    if n_items <= 0:
        raise ValueError("need n_items > 0")
    if not 0.0 < target_fp < 1.0:
        raise ValueError("need 0 < target_fp < 1")
    if max_m_bits < BLOOM_WORD_BITS or max_m_bits & (max_m_bits - 1):
        raise ValueError(
            f"max_m_bits must be a power of two >= {BLOOM_WORD_BITS}"
            f" (got {max_m_bits}) — the %-m position arithmetic and"
            " whole-word bitmap counts depend on it"
        )
    ln2 = math.log(2.0)
    m_ideal = -n_items * math.log(target_fp) / (ln2 * ln2)
    m = BLOOM_WORD_BITS
    while m < m_ideal:
        m = min(m * 2, max_m_bits)
        if m == max_m_bits:
            break
    while True:
        # the k clamp can leave fp a shade above target right at the
        # textbook m (clamped k < optimal k) — double m until the
        # REALIZED rate, not the textbook one, meets the target
        k = min(8, max(1, round(m / n_items * ln2)))
        fp = (1.0 - math.exp(-k * n_items / m)) ** k
        if fp <= target_fp:
            return BloomSizing(m, k, fp)
        if m >= max_m_bits:
            raise ValueError(
                f"bloom_sizing: fp={fp:.3g} > target {target_fp} even at"
                f" max_m_bits={max_m_bits} for n_items={n_items} — relax"
                " target_fp or shard the benchmark suite into multiple"
                " bitmaps"
            )
        m *= 2


def bloom_positions_expr(
    h_col: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> list[Column]:
    """The ``k`` bit positions of a 60-bit gram hash, by double hashing:
    ``pos_j = (h%m + j*(1 + (h>>20)%(m-1))) % m``.  The stride draws
    from [1, m-1] — ``% m + 1`` would reach m, which is congruent to 0
    mod m and collapses all k probes onto one bit for ~1/m of grams,
    quietly exceeding the bloom_sizing FP prediction (a review
    finding).  Pure integer arithmetic — bit-portable to the oracle
    (the SQL mirror applies the identical formula).

    COMPATIBILITY: the [1, m-1] stride fix (r11) changed every bit
    position relative to the earlier ``% m + 1`` formula.  A bitmap
    built before that fix and held across the change (e.g. a
    persisted ``bloom_bitmap`` argument to the streaming gate) will
    silently mismatch probes — rebuild stored bitmaps with
    :func:`build_bloom_bitmap` before probing with current code."""
    h1 = h_col % m_bits
    h2 = F.shiftright(h_col, 20) % (m_bits - 1) + 1
    return [(h1 + F.lit(j) * h2) % m_bits for j in range(k)]


def build_bloom_bitmap(
    gram_hashes: DataFrame,
    h_col: str = "h",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> list[int]:
    """Fold a benchmark gram-hash set into an ``m_bits`` Bloom bitmap,
    returned as ``m_bits/32`` driver-side ints (32 bits per word).

    The aggregation is distributed (explode k positions → ``bit_or``
    partial agg on the word index); only the FINISHED bitmap — 8 KiB at
    the default size, independent of benchmark cardinality — is
    collected, the same constant-size-collect contract as the k-means
    centroid fold.  This is the whole point of the operator: the
    broadcast side of decontamination stops growing with the suite.

    COMPATIBILITY: bitmaps built before the r11 double-hash stride fix
    (see :func:`bloom_positions_expr`) use different bit positions and
    must be rebuilt — probing an old bitmap with current code silently
    loses benchmark grams instead of erroring.
    """
    n_words = m_bits // BLOOM_WORD_BITS
    pow2 = F.array(*[F.lit(p).cast("long") for p in _POW2])
    pos = gram_hashes.select(
        F.explode(F.array(*bloom_positions_expr(F.col(h_col), m_bits, k))).alias(
            "pos"
        )
    )
    rows = (
        pos.select(
            F.shiftright(F.col("pos"), 5).alias("wi"),
            F.element_at(
                pow2, (F.col("pos") % BLOOM_WORD_BITS + 1).cast("int")
            ).alias("mask"),
        )
        .groupBy("wi")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in rows:
        bitmap[int(r["wi"])] = int(r["bits"])
    return bitmap


def bloom_hit_exprs(
    bm: Column,
    grams: Column,
    *,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> tuple[Column, Column]:
    """``(n_ngrams, n_flagged)`` expressions over a document's
    PRE-COMPUTED distinct gram-hash array column (callers select
    ``text.gram_hash_expr(n)`` into a column first, so the md5 gram
    pass runs once per row, not once per consumer), given the Bloom
    bitmap as an array Column (the one-row broadcast relation).  Shared
    by the batch probe and the streaming curation filter — both
    evaluate the identical map-side expression tree."""
    pow2 = F.array(*[F.lit(p).cast("long") for p in _POW2])

    def _hit(h: Column) -> Column:
        # bit `b` of word `w` is set  <=>  w mod 2^(b+1) >= 2^b — exact
        # long arithmetic, identical semantics in Spark and DuckDB
        # (no double casts, no shift-by-column).
        conds = None
        for pos in bloom_positions_expr(h, m_bits, k):
            word = F.element_at(bm, (F.shiftright(pos, 5) + 1).cast("int"))
            p = F.element_at(pow2, (pos % BLOOM_WORD_BITS + 1).cast("int"))
            c = (word % (p * 2)) >= p
            conds = c if conds is None else (conds & c)
        return conds

    return (
        F.size(grams).cast("long"),
        F.size(F.filter(grams, _hit)).cast("long"),
    )


def bloom_probe(
    docs: DataFrame,
    bitmap: list[int],
    n: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per-document Bloom contamination probe: count the distinct word
    ``n``-grams whose ``k`` bit positions are ALL set in ``bitmap``.

    Output: ``(doc_id, n_ngrams, n_flagged, flag_frac)``.

    Scale shape: the probe is ONE Arrow-batched map-side pass — the
    corpus never shuffles and never equi-joins; the bitmap ships in the
    task closure (256 KiB at the default size, the MLlib model-closure
    pattern; a production multi-MB bitmap still ships once per task).
    r15 optimization (guide §4.2): the old form evaluated the k-probe
    conjunction as a higher-order ``filter`` lambda over the gram array
    — CodegenFallback, one interpreted eval chain per gram — plus an
    interpreted md5 per gram to build the array; the kernel hashes
    grams with :func:`pandas_sigproc_spark.operators.text.gram_hashes_py`
    (pinned bit-identical) and tests the k positions with vectorized
    NumPy int64 arithmetic, identical integer semantics
    (tests/test_curation.py pins the probe against the expression
    twin :func:`bloom_hit_exprs`, which remains the streaming form).
    False positives are possible (the Bloom trade: rate ≈
    (1-e^{-kn/m})^k per gram, ~7e-5 at the defaults for the sf0.1
    benchmark slice — see the sizing note above) but deterministic, and
    identical in the oracle, which replays the same bitmap arithmetic
    relationally.
    """
    # Loud size check: a bitmap built at a different m than the probe's
    # m_bits would silently never flag a gram (the expression form
    # indexed past the array to NULL; the kernel would raise an opaque
    # IndexError mid-job) — contaminated documents would pass with zero
    # errors (a review finding; the COMPATIBILITY note warns of this).
    if len(bitmap) * 32 != m_bits:
        raise ValueError(
            f"bloom_probe: bitmap holds {len(bitmap) * 32} bits but "
            f"m_bits={m_bits} — the bitmap was built at a different m; "
            "rebuild it or pass the matching m_bits"
        )
    import numpy as np
    import pandas as pd

    bm = np.asarray([int(x) for x in bitmap], dtype=np.int64)

    def run(batches):
        for pdf in batches:
            ids, nn, nf = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(None if pd.isna(did) else int(did))
                hs = _text.gram_hashes_py(
                    None if text is None else str(text), n
                )
                if hs is None:
                    # NULL text: the expression form yields size(NULL)
                    # = -1 for both counts (non-ANSI) — keep it.
                    nn.append(-1)
                    nf.append(-1)
                    continue
                arr = np.asarray(hs, dtype=np.int64)
                h1 = arr % m_bits
                h2 = (arr >> 20) % (m_bits - 1) + 1
                hit = np.ones(arr.size, dtype=bool)
                for j in range(k):
                    pos = (h1 + j * h2) % m_bits
                    hit &= ((bm[pos >> 5] >> (pos & 31)) & 1) == 1
                nn.append(arr.size)
                nf.append(int(hit.sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "n_ngrams": nn, "n_flagged": nf}
            )

    return (
        docs.select(id_col, text_col)
        .mapInPandas(run, "doc_id long, n_ngrams long, n_flagged long")
        .select(
            "doc_id",
            "n_ngrams",
            "n_flagged",
            F.round(
                F.col("n_flagged") / F.col("n_ngrams").cast("double"), 6
            ).alias("flag_frac"),
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    n: int = 5,
    *,
    target_fp: float = 1e-4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    max_m_bits: int = 1 << 30,
) -> DataFrame:
    """One-call Bloom decontamination, SIZED by the calculator: derive
    the benchmark suite's distinct ``n``-gram hash set, count it (one
    aggregate job over the suite — dimension-sized, not corpus-sized),
    pick ``(m_bits, k)`` with :func:`bloom_sizing` for ``target_fp``,
    fold the bitmap distributed, and probe ``docs`` map-side.

    This is the production entry point: instead of inheriting the
    module's sf0.1-tuned ``BLOOM_M_BITS``/``BLOOM_K`` constants, the
    bitmap is sized per benchmark suite, so the realized per-gram FP
    tracks ``target_fp`` at any suite cardinality (the calculator's
    guarantee, property-swept in tests/test_bloom_sizing.py; the
    end-to-end exact-join match is pinned in the same file).  Output
    and scale shape are :func:`bloom_probe`'s — the corpus never
    shuffles, the bitmap rides in as one broadcast row.
    """
    gh = (
        bench_docs.select(
            _text.gram_hash_expr(n, bench_text_col).alias("_gs")
        )
        .select(F.explode("_gs").alias("h"))
        .distinct()
        .persist()
    )
    try:
        n_items = gh.count()
        sz = bloom_sizing(max(n_items, 1), target_fp, max_m_bits=max_m_bits)
        bitmap = build_bloom_bitmap(gh, m_bits=sz.m_bits, k=sz.k)
    finally:
        gh.unpersist()
    return bloom_probe(
        docs,
        bitmap,
        n,
        id_col=id_col,
        text_col=text_col,
        m_bits=sz.m_bits,
        k=sz.k,
    )


# ---------------------------------------------------------------------------
# 4. Temperature-scaled language rebalancing
# ---------------------------------------------------------------------------

TEMP_SAMPLE_SALT = ":tsample"


def temperature_thresholds(
    docs: DataFrame,
    *,
    lang_col: str = "lang",
    mod: int = _text.SAMPLE_MOD,
) -> DataFrame:
    """Per-language keep thresholds for T=2 temperature sampling.

    The multilingual mixing rule (Conneau & Lample 2019): resample the
    corpus so language shares follow ``p_l ∝ n_l^(1/T)``; T=2 flattens
    the mix toward uniform (low-resource languages are upsampled in
    SHARE — here, without replacement, they are kept whole while
    high-resource languages are cut).  T is fixed at 2 so the exponent
    is ``sqrt`` — an IEEE correctly-rounded primitive, hence bit-exact
    against the oracle, unlike a general ``pow``.

    Returns ``(lang, n_docs, target, thr)`` where ``target =
    min(n_l, floor(N * w_l / Σ w_m))`` with integer weights ``w_l =
    round(1e6 * sqrt(n_l))``, and ``thr = floor(mod * target / n_l)``
    is the hash-bucket cutoff for a map-side filter.

    The weights are rounded to EXACT integers before summation on
    purpose: ``Σ`` over doubles is summation-ORDER-dependent in the
    last ulp, and neither engine guarantees aggregation order — an
    integer sum is exact and order-free, so the derived thresholds are
    bit-identical across engines and across runs.  (``sqrt`` itself is
    IEEE correctly-rounded everywhere, unlike a general ``pow`` —
    that is why T is fixed at 2.)

    Scale shape: one partial-agg count per language plus a single-row
    total joined by cross — language cardinality is tiny by nature
    (it's the GROUPING, not the corpus).
    """
    per = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0, 0).cast(
        "long"
    )
    per = per.select("lang", "n_docs", w.alias("_w"))
    tot = per.agg(
        F.sum("_w").alias("_wsum"),
        F.sum("n_docs").alias("_n"),
    )
    target = F.least(
        F.col("n_docs"),
        F.floor(
            (F.col("_n").cast("double") * F.col("_w"))
            / F.col("_wsum").cast("double")
        ).cast("long"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        target.alias("target"),
        F.floor(F.lit(float(mod)) * target / F.col("n_docs")).cast("long").alias("thr"),
    )


def temperature_sample(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    mod: int = _text.SAMPLE_MOD,
) -> DataFrame:
    """Apply :func:`temperature_thresholds` as a deterministic map-side
    filter: keep a row when its salted id hash bucket clears the
    language's threshold.  RNG-free — re-runs select the same rows at
    any cluster size; realized counts are binomial around the target
    (documented deviation, the price of the no-window scale shape — an
    exact-count rank would put each language in ONE task).

    Output: the selected ``(doc_id, lang, u)`` rows.

    Scale shape: thresholds are a language-cardinality table broadcast
    into an equi-join; the corpus side is a scan + filter, no shuffle.
    """
    thr = temperature_thresholds(docs, lang_col=lang_col, mod=mod)
    u = _text.sample_bucket_expr(id_col, TEMP_SAMPLE_SALT, mod=mod)
    sel = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(lang_col).alias("lang"),
        u.alias("u"),
    )
    # NULL-safe equi-join: thresholds GROUP NULL-lang docs into their
    # own row (and count them in the corpus total), so the apply side
    # must reach that row too — a null-unsafe join silently dropped
    # every NULL-lang doc while deflating the real languages' targets
    # (a review finding).
    t = F.broadcast(thr.select(F.col("lang").alias("_tl"), "thr"))
    return (
        sel.join(t, sel["lang"].eqNullSafe(F.col("_tl")))
        .filter(F.col("u") < F.col("thr"))
        .select("doc_id", "lang", "u")
    )


# ---------------------------------------------------------------------------
# 5. Incremental ingestion dedup (delta-vs-corpus)
# ---------------------------------------------------------------------------

# MinHash machinery for the incremental near-dup probe: word-3-gram
# shingles -> portable 60-bit md5 hashes mod the Mersenne prime 2^31-1
# -> 8 affine permutations -> 4 LSH bands of 2 rows.  Same arithmetic
# family as the batch dedup_minhash query, with its own permutation
# constants so the two operators' band spaces are decorrelated.
INCR_MINHASH_P = 2147483647
INCR_MINHASH_PERMS = (
    (2750161, 982451653),
    (179424673, 373587883),
    (413158511, 961748927),
    (32416190071 % 2147483647, 252097800623 % 2147483647),
    (15487469, 49979693),
    (86028157, 104395301),
    (122949823, 141650939),
    (198491317, 295075147),
)
INCR_BAND_ROWS = 2


def minhash_sig_expr(
    text_col: str = "text",
    n: int = 3,
    perms: tuple[tuple[int, int], ...] = INCR_MINHASH_PERMS,
    p: int = INCR_MINHASH_P,
) -> Column:
    """Per-document MinHash signature (``array<bigint>``, one element
    per permutation) in ONE ``aggregate()`` pass over the row's distinct
    word-``n``-gram shingles.  A single fold matters: Spark inlines the
    shingle-hash subtree into every output column, so k separate
    ``transform()+array_min()`` columns would re-run md5 per shingle k
    times (measured 3.5x slower on the batch minhash query)."""
    acc0 = "array(" + ",".join([f"cast({p} as bigint)"] * len(perms)) + ")"
    upd = ",".join(
        f"least(acc[{i}], ({a}L * h + {b}L) % {p}L)"
        for i, (a, b) in enumerate(perms)
    )
    return F.expr(
        f"""
        aggregate(
          transform(
            array_distinct({_text.gram_sql(n, text_col)}),
            s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {p}L),
          {acc0}, (acc, h) -> array({upd}))
        """
    )


def minhash_sig_py(
    text: str | None,
    n: int = 3,
    perms: tuple[tuple[int, int], ...] = INCR_MINHASH_PERMS,
    p: int = INCR_MINHASH_P,
) -> list[int] | None:
    """Python twin of :func:`minhash_sig_expr` for the Arrow-batched
    kernels (r15 optimization, guide §4.2): the expression form runs one
    INTERPRETED md5 eval plus a k-element array fold per shingle
    (``aggregate``/``transform`` lambdas are CodegenFallback), which
    dominates every signature pass.

    Bit-equivalence, term by term: the gram build and 60-bit md5 hash
    are :func:`pandas_sigproc_spark.operators.text.gram_hashes_py`
    (already pinned against the expression's gram arithmetic); the
    per-permutation minimum over ``(a*h + b) % p`` is integer
    arithmetic on values < 2^62 (``a, h % p < 2^31-ish``), exact in
    int64, and MIN is order- and duplicate-insensitive — so hashing
    the distinct grams (the kernel) equals folding the expression's
    distinct-gram (or raw multiset) walk element by element.  A NULL
    text returns None (the expression propagates NULL).  Pinned against
    the expression in tests/test_minhash_kernel.py."""
    import numpy as np

    if text is None:
        return None
    hs = _text.gram_hashes_py(text, n)
    h = np.asarray(hs, dtype=np.int64) % p
    a = np.asarray([pa for pa, _ in perms], dtype=np.int64)
    b = np.asarray([pb for _, pb in perms], dtype=np.int64)
    return ((a[:, None] * h[None, :] + b[:, None]) % p).min(axis=1).tolist()


def minhash_sig_map(
    src: DataFrame,
    keep_schema: str,
    *,
    text_col: str = "text",
    n: int = 3,
    perms: tuple[tuple[int, int], ...] = INCR_MINHASH_PERMS,
    p: int = INCR_MINHASH_P,
) -> DataFrame:
    """Arrow-batched drop-in for ``src.select(*keep,
    minhash_sig_expr(text_col, n).alias('sig'))``: ``src``'s columns
    must be exactly the ``keep_schema`` columns (in order) plus
    ``text_col``; returns the keep columns plus ``sig array<long>`` —
    one mapInPandas pass, zero shuffle, bit-identical signatures
    (:func:`minhash_sig_py`)."""

    def run(batches):
        for pdf in batches:
            out = pdf.drop(columns=[text_col])
            out["sig"] = [
                minhash_sig_py(
                    None if t is None else str(t), n, perms, p
                )
                for t in pdf[text_col]
            ]
            yield out

    schema = (
        keep_schema + ", sig array<long>" if keep_schema else "sig array<long>"
    )
    return src.mapInPandas(run, schema)


def _band_keys(
    sig_df: DataFrame,
    id_alias: str,
    extra: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Explode a signature table into (band, key, id, sig): one row per
    LSH band, with the band's rows combined into ONE exact bigint key
    ``sig[2b]*P + sig[2b+1]`` (< 2^62, portable integer arithmetic).
    ``extra`` passes ``(src_col, out_alias)`` columns through the
    explode (e.g. a digest) — THIS function is the band-key formula's
    single home; the streaming twin and the signature store both
    derive from it (a review finding counted three hand copies whose
    drift would silently make stream/stored keys incomparable)."""
    n_bands = len(INCR_MINHASH_PERMS) // INCR_BAND_ROWS
    p = INCR_MINHASH_P
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.col("sig")[2 * b] * F.lit(p) + F.col("sig")[2 * b + 1]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig_df.select(
        F.col("doc_id").alias(id_alias),
        *[F.col(src).alias(dst) for src, dst in extra],
        F.col("sig").alias(f"sig_{id_alias}"),
        F.explode(bands).alias("bk"),
    ).select(
        id_alias,
        *[dst for _, dst in extra],
        f"sig_{id_alias}",
        "bk.band",
        "bk.key",
    )


def _est_jaccard(s1: Column, s2: Column) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing components."""
    return F.size(
        F.filter(F.zip_with(s1, s2, lambda a, b: a == b), lambda x: x)
    ) / F.lit(float(len(INCR_MINHASH_PERMS)))


def incremental_dedup(
    existing: DataFrame,
    delta: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_threshold: float = 0.5,
    ngram: int = 3,
    max_bucket_rows: int | None = 100_000,
) -> DataFrame:
    """Deduplicate a NEW ingestion batch against an existing corpus —
    the daily-crawl production pattern, where re-running global dedup
    over corpus+delta from scratch would rescan 100 TB to admit a few
    GB.  Per delta document:

    - ``is_exact_dup`` — its md5 digest appears in the existing corpus,
      or an earlier (smaller-id) delta document has the same digest;
    - ``n_near_existing`` — existing documents sharing an LSH band whose
      MinHash-estimated Jaccard >= ``near_threshold``;
    - ``n_near_delta_earlier`` — same, against SMALLER-ID delta
      documents only (the deterministic greedy within-batch rule: a
      document defers to earlier arrivals regardless of their own fate
      — standard first-wins approximation, documented deviation from a
      transitive-closure answer);
    - ``kept`` — none of the above fired.

    Scale shape: the corpus side is touched exactly twice, both times
    as COMPACT DERIVED TABLES a production deployment would keep
    materialized and incrementally appended (a digest table and a
    band-key table — dozens of bytes per document, not the text):
    the digest probe is a uniform equi-join on md5 keys, and the band
    probe joins delta band keys (4 per doc) against corpus band keys,
    candidate count bounded exactly as in the batch LSH near-dup plan.
    Everything delta-internal is bounded by batch size.  Signatures are
    map-side single-pass folds; no all-pairs stage anywhere.
    """
    if not 0.0 < near_threshold <= 1.0:
        raise ValueError("need 0 < near_threshold <= 1")
    # NULL text coalesces to '' ONCE here, for BOTH sides and BOTH tiers
    # (digest and signature) — the rule sigstore.signature_tables and
    # the streaming twin's _prep already apply.  Before this, the
    # corpus digest and both minhash signatures hashed raw text, where
    # md5(NULL)=NULL made a NULL-text doc unmatchable in batch while
    # the store/streaming twins matched it (a review finding: the
    # 'same probe core' contract disagreed across the three paths on
    # NULL-text corpora).
    d = delta.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    ex = existing.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    ex_digests = ex.select(F.md5("text").alias("digest")).distinct()
    # r15 A/B note (guide §4.2): the Arrow-kernel signature twin
    # (minhash_sig_map) was measured HERE and lost — interleaved
    # min-of-4 at sf0.1: incr_dedup 3.12 s (expression) vs 4.52 s
    # (kernel).  The fold emits just 8 longs per doc and the JVM's
    # native md5 is cheap, so per-gram hashlib in Python costs more
    # than the interpreted fold saves; the kernel only wins where it
    # also removes an explode/shuffle (source_overlap).
    ex_sig = ex.select("doc_id", minhash_sig_expr("text", ngram).alias("sig"))
    ex_bk = _band_keys(ex_sig, "e_id")
    return _incremental_dedup_core(
        d,
        ex_digests,
        ex_bk,
        near_threshold=near_threshold,
        ngram=ngram,
        max_bucket_rows=max_bucket_rows,
    )


def _incremental_dedup_core(
    d: DataFrame,
    ex_digests: DataFrame,
    ex_bk: DataFrame,
    *,
    near_threshold: float,
    ngram: int,
    max_bucket_rows: int | None,
) -> DataFrame:
    """The probe plan shared by :func:`incremental_dedup` (corpus tables
    derived inline from text) and the materialized signature-store path
    (``sigstore.incremental_dedup_from_store`` — corpus tables READ from
    parquet, the corpus text never touched).  ``d`` is the normalized
    delta ``(doc_id long, text string)``; ``ex_digests`` the DISTINCT
    one-column corpus digest table; ``ex_bk`` the UNGUARDED corpus
    band-key table ``(e_id, sig_e_id, band, key)``."""
    # --- exact tier: md5 digest probe -------------------------------
    # NULL text coalesces to '' BEFORE hashing: md5(NULL) is NULL, and
    # null-unsafe equi-joins on the digest would silently drop the row
    # from the output — every delta document must get a verdict (a
    # review finding).  Empty and NULL documents thus share one digest,
    # the bpe/compression_ratio null-as-empty rule.
    dd = d.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("digest")
    )
    hit_ex = (
        dd.join(ex_digests, "digest")
        .select("doc_id")
        .withColumn("_in_corpus", F.lit(True))
    )
    first = dd.groupBy("digest").agg(F.min("doc_id").alias("_first"))
    exact = (
        dd.join(first, "digest")
        .join(hit_ex, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("_in_corpus"), F.lit(False))
                | (F.col("doc_id") > F.col("_first"))
            ).alias("is_exact_dup"),
        )
    )
    # --- near tier: banded MinHash LSH probe ------------------------
    d_sig = d.select("doc_id", minhash_sig_expr("text", ngram).alias("sig"))
    # Default-on hot-bucket guard (dedup.guard_bucket_rows): a band key
    # shared by m near-identical documents makes the probe join emit
    # O(m * matches) rows from ONE bucket — fail loudly with the
    # exact-dedup-first remediation instead of grinding (the
    # semantic_dedup max_cluster_rows precedent).  Guarding d_bk and
    # ex_bk covers all three probe joins (d_bk2 replays d_bk's rows).
    d_bk = guard_bucket_rows(
        _band_keys(d_sig, "d_id"),
        ["band", "key"],
        guarded_col="d_id",
        max_bucket_rows=max_bucket_rows,
        op_name="incremental_dedup(delta)",
    )
    ex_bk = guard_bucket_rows(
        ex_bk,
        ["band", "key"],
        guarded_col="e_id",
        max_bucket_rows=max_bucket_rows,
        op_name="incremental_dedup(corpus)",
    )
    near_ex = (
        d_bk.join(ex_bk, ["band", "key"])
        .select("d_id", "e_id", "sig_d_id", "sig_e_id")
        .distinct()
        .filter(_est_jaccard(F.col("sig_d_id"), F.col("sig_e_id")) >= near_threshold)
        .groupBy(F.col("d_id").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_near_existing"))
    )
    d_bk2 = _band_keys(d_sig, "d2_id")
    near_d = (
        d_bk.join(d_bk2, ["band", "key"])
        .filter(F.col("d2_id") < F.col("d_id"))
        .select("d_id", "d2_id", "sig_d_id", "sig_d2_id")
        .distinct()
        .filter(_est_jaccard(F.col("sig_d_id"), F.col("sig_d2_id")) >= near_threshold)
        .groupBy(F.col("d_id").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("n_near_delta_earlier"))
    )
    out = (
        exact.join(near_ex, "doc_id", "left")
        .join(near_d, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.coalesce("n_near_existing", F.lit(0).cast("long")).alias(
                "n_near_existing"
            ),
            F.coalesce("n_near_delta_earlier", F.lit(0).cast("long")).alias(
                "n_near_delta_earlier"
            ),
        )
    )
    return out.withColumn(
        "kept",
        (~F.col("is_exact_dup"))
        & (F.col("n_near_existing") == 0)
        & (F.col("n_near_delta_earlier") == 0),
    )


# ---------------------------------------------------------------------------
# 6. PII scrubbing
# ---------------------------------------------------------------------------

# (pattern, replacement) chain, applied in order.  The regex subset is
# portable between Java regex (Spark) and RE2 (DuckDB): character
# classes, +, and literal dots only — no \d, no lookaround, no
# backreferences.
PII_RULES: tuple[tuple[str, str], ...] = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+", "<EMAIL>"),
    ("[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+", "<IP>"),
    ("[0-9]+", "<NUM>"),
)


def decontaminate_exact(
    docs: DataFrame,
    bench: DataFrame | None = None,
    *,
    bench_pred: Column | None = None,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist=None,
) -> DataFrame:
    """Exact n-gram-overlap test-set decontamination: flag training
    documents sharing ANY word-``n``-gram with the benchmark set — the
    standard contamination check run before LLM pretraining (the Bloom
    path, :func:`bloom_probe`, is the constant-broadcast twin; this is
    the exact-join answer it is sized against).

    Two forms:

    - ``bench`` — a separate benchmark DataFrame (same id/text cols);
    - ``bench_pred`` — a boolean Column over ``docs`` naming the
      held-out slice IN the same table; one gram-hash pass then feeds
      both the benchmark set and the train probe (pass ``persist`` to
      pin it — without it the shared pass runs twice).

    Output: ``(doc_id, n_hits, n_ngrams, contam_frac)`` — flagged
    documents only.

    Scale shape: the benchmark n-gram set is tiny relative to the
    corpus, so it is DISTINCTed and BROADCAST — the corpus side never
    shuffles for the probe (map-side hash join); the only exchange is
    the per-doc hit aggregation over the (small) matching subset.
    60-bit md5 gram keys keep the join integer-typed and portable to
    the oracle.
    """
    if (bench is None) == (bench_pred is None):
        raise ValueError("pass exactly one of bench / bench_pred")
    persist = persist or (lambda df: df)

    def _gh(src: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
        # r15 optimization (guide §4.2): gram hashing runs in the
        # Arrow-batched kernel (text.gram_hashes_py, pinned
        # bit-identical to gram_hash_expr) instead of one interpreted
        # md5 eval per gram inside a CodegenFallback transform.
        sel = src.select(
            F.col(id_col).cast("long").alias("doc_id"),
            *extra,
            F.col(text_col),
        )
        keep = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in sel.schema.fields
            if f.name != text_col
        )
        g = _text.gram_hash_map(sel, n, keep, text_col=text_col)
        return g.select(
            "doc_id",
            *extra,
            F.size("gs").alias("n_ngrams"),
            F.explode("gs").alias("h"),
        )

    if bench_pred is not None:
        # the predicate is evaluated against the FULL docs row (tagged
        # as a boolean before the gram projection drops other columns)
        # — a review finding: filtering the projected gram table broke
        # the documented "boolean Column over docs" contract for any
        # predicate touching a non-id column (e.g. split == 'test').
        # The tag rides the gram projection itself as a passthrough
        # column (a second review finding: joining it back on doc_id
        # added a corpus-wide shuffle of the exploded gram table just
        # to attach one boolean).
        # coalesce(pred, false): a NULL predicate row (e.g. split IS
        # NULL under pred = split=='test') previously failed BOTH
        # filters — excluded from the benchmark set AND never probed on
        # the train side, a silent decontamination hole (a review
        # finding).  NULL now means "not benchmark": the row is probed.
        tagged = docs.withColumn(
            "_is_bench", F.coalesce(bench_pred, F.lit(False))
        )
        gh = persist(_gh(tagged, extra=("_is_bench",)))
        bench_h = gh.filter(F.col("_is_bench")).select("h").distinct()
        train = gh.filter(~F.col("_is_bench")).drop("_is_bench")
    else:
        bench_h = _gh(bench).select("h").distinct()
        train = _gh(docs)
    return (
        train.join(F.broadcast(bench_h), "h")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count("*").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_ngrams",
            F.round(F.col("n_hits") / F.col("n_ngrams"), 6).alias("contam_frac"),
        )
    )


def scrub_pii(
    df: DataFrame,
    col: str,
    *,
    rules: tuple[tuple[str, str], ...] = PII_RULES,
    out_col: str | None = None,
) -> DataFrame:
    """Mask PII-shaped substrings (emails, IPv4 addresses, digit runs)
    with typed placeholder tokens, via a chain of ``regexp_replace``
    calls applied in rule order (emails before IPs before bare digit
    runs, so a narrower rule is never shadowed by a broader one).

    Adds ``out_col`` (default ``<col>_scrubbed``) plus
    ``<col>_masked_chars`` — how many characters the chain removed,
    measured against placeholder-free re-expansion (original length
    minus scrubbed length with placeholders deleted).  Known caveat
    (review finding, documented rather than re-derived per rule): a
    document whose ORIGINAL text already contains a placeholder
    literal ("<NUM>" etc.) overcounts by that literal's length — the
    re-expansion cannot tell it from an inserted one; exact per-rule
    accounting would need k extra regexp_count passes per row.

    Scale shape: pure map-side regex in codegen — 0 shuffles, 0 UDFs.
    """
    out = out_col or f"{col}_scrubbed"
    scrubbed = F.col(col)
    for pat, rep in rules:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    stripped = scrubbed
    for _, rep in rules:
        stripped = F.replace(stripped, F.lit(rep), F.lit(""))
    return df.withColumn(out, scrubbed).withColumn(
        f"{col}_masked_chars",
        (F.length(col) - F.length(stripped)).cast("long"),
    )


# ---------------------------------------------------------------------------
# 7. Cross-source overlap (MinHash source-similarity matrix)
# ---------------------------------------------------------------------------


def source_overlap(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    perms: tuple[tuple[int, int], ...] = INCR_MINHASH_PERMS,
    p: int = INCR_MINHASH_P,
) -> DataFrame:
    """Estimated Jaccard overlap between SOURCES (crawl snapshots,
    domains, dump versions) over their word-``n``-gram shingle sets —
    the data-governance question "how much of snapshot B is already in
    snapshot A" answered without any doc-to-doc comparison.

    A source's MinHash signature is the per-permutation MIN over the
    shingle hashes of ALL its documents (the MinHash of a union is the
    elementwise min of the parts), so the whole matrix costs one
    corpus pass: shingles explode map-side, the per-(source, perm) mins
    partial-aggregate (map-side combine collapses each task to
    n_sources rows before the one shuffle — low key cardinality is
    FINE for min aggregates; there is no hot-key blow-up because the
    combine is associative), and the pairwise compare is a self-join
    over the k-source signature table — dimension-sized, broadcast.
    ``est_jaccard`` is the agreeing-permutation fraction: exact
    multiples of ``1/len(perms)``, so the doubles hash identically on
    any engine.

    Output: ``(src_a, src_b, est_jaccard double)`` for src_a < src_b.
    """
    # r15 (guide §4.2): per-DOCUMENT signatures via the Arrow kernel
    # (minhash_sig_map, bit-identical arithmetic), then the per-source
    # signature is the elementwise MIN over its documents' signatures —
    # the same "MinHash of a union = min of the parts" identity the
    # docstring already relies on, now applied at the doc level too.
    # min((a*h+b)%p over all grams) == min over per-doc mins, exactly;
    # the interpreted gram-array build + per-gram explode are gone.
    # NULL-text docs produce a NULL signature and are dropped, matching
    # the old explode(NULL) row elimination.
    grp_type = docs.schema[group_col].dataType.simpleString()
    sig_docs = minhash_sig_map(
        docs.select(
            F.col(group_col).alias("grp"), F.col(text_col).alias("text")
        ),
        f"grp {grp_type}",
        n=n,
        perms=perms,
        p=p,
    ).filter(F.col("sig").isNotNull())
    sig = sig_docs.groupBy("grp").agg(
        *[
            F.min(F.col("sig")[i]).alias(f"m{i}")
            for i in range(len(perms))
        ]
    )
    a = sig.select(
        F.col("grp").alias("src_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(len(perms))],
    )
    b = sig.select(
        F.col("grp").alias("src_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(len(perms))],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(len(perms))
    )
    return (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            (agree / F.lit(float(len(perms)))).alias("est_jaccard"),
        )
    )


def cluster_representatives(
    components: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware near-dup collapse: keep the BEST document of each
    duplicate cluster, not the arbitrary min-id one.  Production fuzzy
    dedup (RefinedWeb, FineWeb) picks the cluster representative by a
    quality signal — dropping a well-formatted original because a
    broken scrape of it had the smaller id is a real data-quality bug
    the min-id rule causes.

    ``components`` is (id, component) from
    :func:`~pandas_sigproc_spark.operators.graph.connected_components`;
    ``scores`` is (id, score).  The representative of a cluster is its
    max-``score_col`` member, smaller id winning ties (deterministic on
    any cluster layout).

    Output: ``(doc_id, component, score, rep_doc_id, kept boolean)`` —
    one row per document; ``kept`` marks the representative.

    Scale shape: one equi-join on the uniform id key, then the argmax
    runs as a partial AGGREGATION (``max`` over a ``(score, -id)``
    struct — associative, so a degenerate million-document cluster
    combines map-side instead of funneling through one window task;
    the window-function form would put the whole hot cluster in a
    single partition), and the winners join back on the component
    key.  Both exchanges hash on component — uniform except for hot
    clusters, whose agg side is already collapsed map-side and whose
    probe side is bounded by the cluster itself (AQE skew-split
    territory, not a plan problem).
    """
    # LEFT join: a document missing from `scores` must still be
    # classified (kept or dropped), not silently vanish from the
    # output — the docstring's one-row-per-document contract (a review
    # finding).  Score-less docs compete with -inf, so they never beat
    # a scored member; an all-unscored cluster falls back to the
    # min-id keeper (the -id tiebreak), which is the classic rule.
    j = components.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(comp_col).cast("long").alias("component"),
    ).join(
        scores.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(score_col).alias("score"),
        ),
        "doc_id",
        "left",
    )
    # nanvl first: Spark orders NaN GREATER than every real double, so
    # a NaN-scored member (0/0 from a broken upstream ratio) would
    # always win the argmax — exactly the junk this function exists to
    # demote.  NaN -> NULL -> the same -inf as a missing score (a
    # review finding; only NULL was defended before).
    _s = F.col("score").cast("double")
    reps = j.groupBy("component").agg(
        F.max(
            F.struct(
                F.coalesce(
                    F.nanvl(_s, F.lit(None).cast("double")),
                    F.lit(float("-inf")),
                ).alias("s"),
                (-F.col("doc_id")).alias("negid"),
            )
        ).alias("_best")
    ).select(
        "component", (-F.col("_best.negid")).cast("long").alias("rep_doc_id")
    )
    return j.join(reps, "component").select(
        "doc_id",
        "component",
        "score",
        "rep_doc_id",
        (F.col("doc_id") == F.col("rep_doc_id")).alias("kept"),
    )
