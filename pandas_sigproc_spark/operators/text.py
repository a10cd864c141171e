"""Shared text-pipeline expression builders (LLM-data extension tier).

This module is the SINGLE definition of the engine's text arithmetic —
quality scoring, stopword language ID, word-n-gram hashing, deterministic
hash sampling, MinHash signatures.  The batch queries in
``__spark_entry__``, the end-to-end pipelines (``corpus_prep``,
``training_mix``) and the streaming corpus filter all compose these same
expression trees, so every consumer computes bit-identical doubles and
stays oracle-exact against the DuckDB SQL mirrors.

Everything here is a map-side Column expression — no shuffles, no UDFs:
embarrassingly parallel at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Quality-heuristic stopword probe (English prose markers).
STOPWORDS = ("the", "a", "of", "and", "is")

# Per-language stopword probe sets for the language-ID heuristic.
LANG_STOPS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "que", "y", "es"),
    "fr": ("le", "la", "et", "est", "une"),
    "zh": ("de", "shi", "le_zh", "zai", "he"),
}
LANG_ORDER = ("en", "de", "es", "fr", "zh")

# Deterministic-sampling modulus (buckets per unit probability).
SAMPLE_MOD = 1_000_000


def words_expr(text_col: str = "text") -> Column:
    """Whitespace tokenization."""
    return F.split(F.col(text_col), " ")


def quality_expr(text_col: str = "text") -> Column:
    """Composite document-quality heuristic in [0, 1], rounded to 6dp:
    length saturation, mean word length proximity to English prose
    (~4.7), stopword presence, and type-token ratio."""
    words = words_expr(text_col)
    n_w = F.size(words)
    n_uniq = F.size(F.array_distinct(words))
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    len_score = F.least(F.lit(1.0), F.length(text_col) / F.lit(400.0))
    # chars per token over the raw text, separators included by design
    # (see curation.quality_features_expr — anchor calibrated to this)
    awl = F.length(text_col) / n_w
    wlen_score = F.greatest(F.lit(0.0), 1.0 - F.abs(awl - 4.7) / F.lit(4.7))
    stop_score = F.least(F.lit(1.0), stop / (n_w * F.lit(0.05)))
    return F.round(
        0.3 * len_score + 0.25 * wlen_score + 0.25 * stop_score + 0.2 * (n_uniq / n_w),
        6,
    )


def lang_scores_expr(ws_col: str = "ws") -> dict[str, Column]:
    """Stopword-hit count per candidate language over a words column."""
    return {
        lang: F.size(F.filter(F.col(ws_col), lambda w: w.isin(*stops)))
        for lang, stops in LANG_STOPS.items()
    }


def lang_pred_expr(ws_col: str = "ws") -> Column:
    """Argmax language with fixed priority order; 'und' when all zero."""
    scores = lang_scores_expr(ws_col)
    pred = F.when(sum(scores.values(), F.lit(0)) == 0, F.lit("und"))
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other != lang:
                c = scores[lang] >= scores[other]
                cond = c if cond is None else (cond & c)
        pred = pred.when(cond, F.lit(lang))
    return pred


def gram_sql(n: int, text_col: str = "text") -> str:
    """SQL fragment for a document's word-``n``-gram array (count =
    ``greatest(size - n + 1, 1)``, trailing grams clip), built LINEARLY:
    the start array is one slice of ONE split and each of the n-1
    ``zip_with`` passes appends the next shifted slice (``concat_ws``
    skips the null padding on the short tail).

    This replaces the quadratic idiom ``transform(sequence(1, m), i ->
    concat_ws(' ', slice(split(text), i, n)))`` everywhere a document's
    grams are built: higher-order-function lambdas get NO common-
    subexpression elimination, so that form re-splits the document once
    PER GRAM — measured 27 s for ONE 20k-token document vs 0.17 s for
    this builder (158x), and strictly linear afterwards (0.47 s at
    200k tokens where the old form needs hours).  Identical output
    arrays for every n/length combination (equality-tested in
    tests/test_gram_builder.py)."""
    # Backtick-quoted: an expr-string splice of a raw column name turns
    # 'body-text' into a silent SUBTRACTION of two columns (a review
    # finding); the DataFrame-API siblings use F.col() which already
    # handles such names.
    ws = f"split(`{text_col}`, ' ')"
    m = f"greatest(size({ws}) - {n - 1}, 1)"
    g = f"slice({ws}, 1, {m})"
    for j in range(2, n + 1):
        g = (
            f"zip_with({g}, slice({ws}, {j}, {m}), "
            f"(ga{j}, gb{j}) -> concat_ws(' ', ga{j}, gb{j}))"
        )
    return g


def hash60_sql(inner: str) -> str:
    """The engine's portable 60-bit hash of a SQL string fragment —
    ``cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)``.  ONE
    definition (a review finding counted four hand-copies across
    text.py/curation.py): the oracle-parity guarantee depends on every
    site using the identical arithmetic, and the DuckDB mirrors all
    assume this exact 15-hex-digit prefix."""
    return f"cast(conv(substring(md5({inner}), 1, 15), 16, 10) as bigint)"


def grams_expr(n: int, text_col: str = "text") -> Column:
    """:func:`gram_sql` as a Column."""
    return F.expr(gram_sql(n, text_col))


def token_fold_expr(struct_col: Column, field: str, sep: str = " ") -> Column:
    """Aggregate expression reassembling exploded tokens in order:
    collect the (sort-key..., token) structs, array_sort (leading
    fields are the order key; collect_list drops NULL structs, so a
    ``when(keep, struct(...))`` wrapper filters), project ``field``,
    join with ``sep``.  ONE definition (a review finding counted four
    hand-copies across text.py/curation.py — the hash60_sql/_band_keys
    single-homing rule): the chunk plans and the dedup reassemblies are
    equality-tested on bit-identical strings, which independent copies
    could silently break by drifting."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(struct_col)), lambda s: s[field]
        ),
        sep,
    )


def gram_hash_expr(n: int, text_col: str = "text") -> Column:
    """Distinct word-``n``-gram set of a document as portable 60-bit md5
    bigint hashes (identical arithmetic to the DuckDB oracle mirrors)."""
    return F.expr(
        f"array_distinct(transform({gram_sql(n, text_col)},"
        f" s -> {hash60_sql('s')}))"
    )


def gram_hashes_py(text: str | None, n: int) -> list[int] | None:
    """Python twin of :func:`gram_hash_expr` for the Arrow-batched
    kernels (r15 optimization, guide §4.2): the expression form runs
    one INTERPRETED md5 eval per gram (``transform`` lambdas are
    CodegenFallback), which dominates every decontamination pass.

    Bit-equivalence to the expression, term by term: ``split(text,
    ' ')`` == ``str.split(' ')`` (both keep interior AND trailing empty
    strings; both map '' to ['']); the zip_with/concat_ws gram build ==
    ``' '.join(ws[i:i+n])`` (slice truncation == NULL padding that
    concat_ws skips); ``md5`` is UTF-8 md5; ``conv(substring(hex, 1,
    15), 16, 10)`` == ``int(hexdigest()[:15], 16)`` (60 bits, never
    overflows int64); ``array_distinct`` keeps first occurrence ==
    ``dict.fromkeys``.  A NULL text returns None (the expression
    propagates NULL).  Pinned against the expression on real sf
    documents in tests/test_gram_builder.py."""
    import hashlib

    if text is None:
        return None
    ws = text.split(" ")
    m = max(len(ws) - (n - 1), 1)
    return list(
        dict.fromkeys(
            int(
                hashlib.md5(
                    " ".join(ws[i : i + n]).encode("utf-8")
                ).hexdigest()[:15],
                16,
            )
            for i in range(m)
        )
    )


def gram_hash_map(
    src, n: int, keep_schema: str, *, text_col: str = "text"
):
    """Arrow-batched drop-in for ``src.select(*keep,
    gram_hash_expr(n).alias('gs'))``: ``src``'s columns must be exactly
    the ``keep_schema`` columns (in order) plus ``text_col``; returns
    the keep columns plus ``gs array<long>`` — one mapInPandas pass,
    zero shuffle, bit-identical arrays (:func:`gram_hashes_py`)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = pdf.drop(columns=[text_col])
            out["gs"] = [
                gram_hashes_py(None if t is None else str(t), n)
                for t in pdf[text_col]
            ]
            yield out

    schema = (
        keep_schema + ", gs array<long>" if keep_schema else "gs array<long>"
    )
    return src.mapInPandas(run, schema)


def sample_bucket_expr(
    id_col: str = "doc_id", salt: str = ":sample", mod: int = SAMPLE_MOD
) -> Column:
    """Deterministic uniform bucket in [0, ``mod``): hash of the id,
    salted to decorrelate from other hash-derived operators.  RNG-free —
    re-runs select the same rows on any cluster size.  ``mod`` must
    match the threshold side's modulus (a review finding:
    temperature_sample scaled thresholds by the caller's mod while this
    bucket hardcoded SAMPLE_MOD, silently keeping the wrong fraction
    for any non-default mod)."""
    return (
        F.expr(
            f"cast(conv(substring(md5(concat(cast(`{id_col}` as string), '{salt}')),"
            f" 1, 15), 16, 10) as bigint)"
        )
        % int(mod)
    )


def sample_threshold_expr(
    thresholds: dict[str, int], default: int, lang_col: str = "lang"
) -> Column:
    """Per-language keep threshold (rows kept when bucket < threshold)."""
    if not thresholds:
        return F.lit(default)
    thr = None
    for lang, t in thresholds.items():
        cond = F.col(lang_col) == lang
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    return thr.otherwise(default)


# ---------------------------------------------------------------------------
# Text normalization (unicode cleanup — the first stage of every crawl
# pipeline: CCNet/RefinedWeb normalize before any hashing or scoring so
# cosmetic byte differences don't defeat dedup)
# ---------------------------------------------------------------------------

# Ordered (pattern, replacement) chain.  Patterns stay inside the
# Java-regex/RE2 common subset (literal chars, character classes with
# ranges, +/* quantifiers, ^/$ anchors, alternation — no lookaround, no
# backreferences), the same portability rule as operators/webcrawl.py,
# so Spark's regexp_replace and the DuckDB oracle execute the SAME
# automaton.  Order matters: CR/LF first (so the control-char class may
# assume \r is gone), width/space classes before the whitespace
# collapse, collapse before the trim.
NORMALIZE_STEPS: tuple[tuple[str, str], ...] = (
    ("\r\n", "\n"),                                     # CRLF -> LF
    ("\r", "\n"),                                        # bare CR -> LF
    ("[\u200b\u200c\u200d\ufeff]", ""),                # zero-width + BOM
    ("[\u00a0\u1680\u2000-\u200a\u202f\u205f\u3000]", " "),  # unicode spaces
    ("[\u0000-\u0008\u000b-\u001f\u007f]", ""),       # control chars (keeps \t \n)
    ("[\u2018\u2019\u201a\u2032]", "'"),               # curly single quotes
    ("[\u201c\u201d\u201e\u2033]", '"'),               # curly double quotes
    ("[\u2010-\u2015\u2212]", "-"),                     # dash family
    ("\u2026", "..."),                                    # ellipsis
    ("[ \t]+", " "),                                      # collapse runs of space/tab
    ("[ ]*\n[ ]*", "\n"),                                # strip spaces around newlines
    # trim outer whitespace — \A/\z, NOT ^/$: Java's $ also matches
    # BEFORE a final U+0085/U+2028/U+2029 line terminator (all of which
    # survive every step above) while RE2's $ is end-of-text only, so
    # ^/$ would break the Spark==DuckDB bit-parity this table
    # guarantees (a review finding; gopher_rules documents the same
    # quirk).  Both engines support \A/\z with identical semantics.
    ("\\A[ \n]+|[ \n]+\\z", ""),
)


def normalize_text_expr(col: Column | str) -> Column:
    """Apply the :data:`NORMALIZE_STEPS` chain as one map-side
    expression tree (twelve chained JVM ``regexp_replace`` calls —
    zero Python, one codegen span, embarrassingly parallel)."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in NORMALIZE_STEPS:
        out = F.regexp_replace(out, pat, repl)
    return out


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _re2_pattern_sql(pat: str) -> str:
    """Render a pattern for embedding in a SQL literal: non-printable /
    non-ASCII chars become RE2 ``\\x{hex}`` escapes (a raw NUL or
    zero-width char inside a quoted SQL string would terminate or
    invisibly corrupt the literal), printable ASCII stays verbatim so
    the regex structure (classes, ranges, anchors) is untouched."""
    out = []
    for ch in pat:
        o = ord(ch)
        out.append(ch if 0x20 <= o <= 0x7E else f"\\x{{{o:x}}}")
    return "".join(out)


def normalize_duckdb_sql(inner: str) -> str:
    """The SAME chain as nested DuckDB ``regexp_replace(..., 'g')``
    calls over SQL fragment ``inner`` — the oracle mirror is GENERATED
    from :data:`NORMALIZE_STEPS`, so the two engines cannot drift."""
    out = inner
    for pat, repl in NORMALIZE_STEPS:
        out = (
            f"regexp_replace({out}, {_sql_quote(_re2_pattern_sql(pat))},"
            f" {_sql_quote(repl)}, 'g')"
        )
    return out


def normalize_text(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document normalization report: ``(doc_id long,
    n_chars_raw int, n_chars_norm int, changed boolean,
    norm_text string)``.  Pure map-side — no shuffle at any scale."""
    norm = normalize_text_expr(text_col)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.length(text_col).cast("int").alias("n_chars_raw"),
        F.length(norm).cast("int").alias("n_chars_norm"),
        (norm != F.col(text_col)).alias("changed"),
        norm.alias("norm_text"),
    )


# ---------------------------------------------------------------------------
# Repetition filters + document chunking (DataFrame-level text operators)
# ---------------------------------------------------------------------------


def _rep_counts_py(text: str | None):
    """Integer repetition counts for ONE document — exactly the counts
    a relational explode/agg plan aggregates: ``(n_lines,
    n_distinct_lines, top_bigram_count, total_bigrams)``.  NULL text →
    all None (split(NULL) is NULL, explode(NULL) emits no rows); fewer
    than 2 words → (n_lines, n_dist, None, None) (the empty bigram
    array emits no rows, so the agg side has no doc row).  Python
    ``str.split(sep)`` equals Java ``split`` on these literal one-char
    separators (both keep empty fields); every output is an exact
    integer, so the JVM division/rounding downstream sees identical
    inputs."""
    if text is None:
        return (None, None, None, None)
    lines = text.split("\n")
    ws = text.split(" ")
    n_lines = len(lines)
    n_dist = len(set(lines))
    if len(ws) < 2:
        return (n_lines, n_dist, None, None)
    counts: dict = {}
    prev = ws[0]
    for w in ws[1:]:
        bg = prev + " " + w
        counts[bg] = counts.get(bg, 0) + 1
        prev = w
    return (n_lines, n_dist, max(counts.values()), len(ws) - 1)


def repetition_stats(docs, *, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition quality signals per document:

    - ``dup_line_frac`` — fraction of newline-delimited lines that are
      duplicates of an earlier line;
    - ``top_bigram_frac`` — fraction of word-bigram occurrences taken by
      the single most frequent bigram.

    High values of either mark boilerplate/spam for corpus filtering.

    One Arrow pass computes the four INTEGER counts per document
    (:func:`_rep_counts_py` — a dict-counter walk, linear per doc) and
    the division/rounding stays a JVM expression on those exact
    integers, so every output double is bit-identical to the relational
    explode → count → max → join form the DuckDB oracle
    (``SQL_REP_STATS``) runs, with no per-bigram explode, aggregation
    exchange or corpus-sized join (plan: scan → MapInPandas → project,
    zero shuffles).  A per-doc *expression* over distinct bigrams would
    be quadratic in document length — the hash counter is not.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = [
                _rep_counts_py(None if t is None else str(t))
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_lines": [r[0] for r in rows],
                    "_nd": [r[1] for r in rows],
                    "_top": [r[2] for r in rows],
                    "_tot": [r[3] for r in rows],
                }
            )

    counted = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
    ).mapInPandas(
        run,
        "doc_id long, n_lines long, _nd long, _top long, _tot long",
    )
    return counted.select(
        "doc_id",
        "n_lines",
        F.round(
            (F.col("n_lines") - F.col("_nd"))
            / F.col("n_lines").cast("double"),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.coalesce(F.col("_top") / F.col("_tot"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


def chunk_documents(
    docs,
    chunk_tokens: int,
    overlap: int = 0,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    huge_doc_tokens: int | None = 50_000,
):
    """Split documents into sliding whitespace-token windows — the
    training-prep chunking step (context-length packing's upstream).

    Chunk k starts at token ``1 + k*(chunk_tokens - overlap)`` and takes
    ``chunk_tokens`` tokens (the final chunk may be shorter); documents
    at or under ``chunk_tokens`` yield exactly one chunk.  Output:
    ``(doc_id, chunk_id, n_tokens, chunk_text)``.

    Two plans, auto-selected PER DOCUMENT by length (union of two
    filtered branches, planner-style):

    - below ``huge_doc_tokens``: pure map-side — sequence + posexplode
      + slice off the generate-carried token array; no shuffle, no UDF.
      This shape is O(n²/stride) per document — Spark copies every
      column referenced after a posexplode into EVERY generated row,
      so the token array rides each chunk row (measured: element_at
      off a carried 160k-token array took 175 s for one doc vs 0.07 s
      with the array pruned) — which is irrelevant at web-document
      lengths but a hang on giant documents;
    - at or above it: token-fold — explode tokens (small rows), compute
      each token's chunk range arithmetically (``k ∈ [max(0,
      (p-overlap) div stride), min(K-1, p div stride)]`` — trunc-div
      IS ceil for the negative numerators), explode that range (≤
      chunk/stride ids), and fold back on the uniform ``(doc_id,
      chunk_id)`` key with per-group state ≤ chunk_tokens.  One
      uniform shuffle, strictly linear in output tokens.

    ``huge_doc_tokens=None`` forces the map-side plan (restores the
    0-shuffle property when the corpus is known-bounded).  Both plans
    emit bit-identical rows (equality-tested).
    """
    if chunk_tokens < 1 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("need chunk_tokens >= 1 and 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # null-as-empty (the tier's convention, see curation's bpe rule):
    # size(split(NULL)) is NULL, which fails BOTH branch filters and
    # silently dropped the document with no chunk rows (a review
    # finding); NULL now chunks like '' — one empty chunk.
    ws = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(ws)

    def _map_side(branch):
        starts = F.sequence(
            F.lit(1),
            F.greatest(F.size(ws) - overlap, F.lit(1)),
            F.lit(stride),
        )
        out = branch.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.size(ws).alias("_n"),
            ws.alias("_ws"),
            F.posexplode(starts).alias("chunk_id", "_start"),
        )
        return out.select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start") + 1)
            .cast("int")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("_ws"), F.col("_start"), chunk_tokens)
            ).alias("chunk_text"),
        )

    if huge_doc_tokens is None:
        return _map_side(docs)

    def _token_fold(branch):
        # Materialize the length and the token array BEFORE the explode:
        # an expression over the source text projected in the same select
        # as the posexplode lands in the post-Generate projection, where
        # it re-evaluates per GENERATED row (size(split(text)) recomputed
        # 100k times on a 100k-token doc — the exact quadratic this plan
        # exists to avoid).  Pre-projected, `_n` is a per-input-row
        # scalar and `_ws` is pruned from Generate's output.
        pre = branch.select(
            F.col(id_col).cast("long").alias("doc_id"),
            n.alias("_n"),
            ws.alias("_ws"),
        )
        tok = pre.select(
            "doc_id",
            "_n",
            F.posexplode("_ws").alias("p0", "w"),
        )
        k_last = F.expr(f"(greatest(_n - {overlap}, 1) - 1) div {stride}")
        k_min = F.greatest(F.lit(0), F.expr(f"(p0 - {overlap}) div {stride}"))
        k_max = F.least(k_last, F.expr(f"p0 div {stride}"))
        assign = tok.select(
            "doc_id",
            "p0",
            "w",
            F.explode(F.sequence(k_min, k_max)).alias("chunk_id"),
        )
        return assign.groupBy("doc_id", "chunk_id").agg(
            F.count("*").cast("int").alias("n_tokens"),
            token_fold_expr(F.struct("p0", "w"), "w").alias("chunk_text"),
        ).select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            "n_tokens",
            "chunk_text",
        )

    return _map_side(docs.filter(n < huge_doc_tokens)).unionByName(
        _token_fold(docs.filter(n >= huge_doc_tokens))
    )


def substring_dedup(
    docs,
    n: int = 8,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
):
    """Exact substring-span deduplication (word-level ExactSubstr, after
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): mark every token covered by a word ``n``-gram that occurs
    at least ``min_count`` times ANYWHERE in the corpus (across or within
    documents), and emit the document with those spans removed.

    Output: ``(doc_id long, n_tokens long, n_dup_tokens long,
    dup_frac double, clean_text string)`` — ``clean_text`` is the
    original token sequence with covered tokens dropped (order
    preserved; empty string when everything is covered).

    Scale shape (the suffix-array step of the paper re-expressed
    relationally): gram generation is map-side — ONE split per row, with
    n-grams built by a zip_with chain over array slices, never by
    indexing a re-split inside a higher-order lambda (that pattern
    re-splits the document per element: O(len^2) per doc — see
    repetition_stats).  The duplicate test is a partial-agg count on
    fixed-width md5 keys; the position join is bounded by the corpus
    gram count (hot grams cannot blow it up — each occurrence joins one
    boolean, not the other occurrences); per-doc state is a
    collect_set of covered positions bounded by document length.  Total
    cost O(corpus tokens * n) — linear, shuffle keys uniform.
    """
    if n < 2:
        raise ValueError("need n >= 2")
    if min_count < 2:
        raise ValueError("need min_count >= 2")
    ws = F.split(F.col(text_col), " ")
    # m = number of n-grams; slice chain: gram i = tokens i..i+n-1.
    m = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(0))
    grams = F.slice(ws, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(ws, j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    g = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.transform(grams, lambda s: F.md5(s))).alias(
            "pos0", "h"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    dup = (
        g.groupBy("h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("h")
    )
    cov = g.join(dup, "h").select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("tp"),
    )
    # clean_text by token-level ANTI-JOIN (the same shape the DuckDB
    # oracle uses): explode tokens to (doc_id, p, w), drop covered
    # positions, reassemble in order.  The earlier formulation tested
    # membership per token with array_contains over the doc's covered
    # SET — O(len^2) inside ONE task, which a giant-document skew
    # probe measured hanging at 4e5 tokens (1.6e11 comparisons).  The anti-join is linear in corpus tokens
    # with uniform (doc_id, position) shuffle keys; the per-doc
    # reassembly sort is O(len log len), bounded by document length.
    # The covered COUNT falls out of the same aggregation
    # (n_dup = n_tokens - n_kept), so `cov` is consumed exactly once —
    # no second gram-generation pass, no collected position arrays.
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p0", "w"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    kept = tok.join(
        cov,
        (tok["doc_id"] == cov["doc_id"]) & (tok["p"] == cov["tp"]),
        "left_anti",
    )
    ct = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("_nk"),
        token_fold_expr(F.struct("p", "w"), "w").alias("_ct"),
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)
    )
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    joined = base.join(ct, "doc_id", "left").select(
        "doc_id",
        F.col(text_col),
        (n_tok - F.coalesce(F.col("_nk"), F.lit(0).cast("long"))).alias(
            "_nd"
        ),
        F.coalesce(F.col("_ct"), F.lit("")).alias("_ct"),
    )
    return joined.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.col("_nd").alias("n_dup_tokens"),
        F.round(F.col("_nd").cast("double") / n_tok, 6).alias("dup_frac"),
        F.col("_ct").alias("clean_text"),
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms: tf = in-doc occurrences,
    idf = ln(N/df).  Returns ``(doc_id, term, tfidf, rank)``.

    Scale shape: both aggregations get map-side partial combine; the
    corpus size N is ONE broadcast scalar row (no window over the
    corpus); ranking happens on the rounded score so last-ulp
    differences can't flip ranks.  The df join shuffles on the term key
    — vocabulary-sized, the standard TF-IDF plan (the collect-per-term
    alternative saves one shuffle but dies on stopword skew).
    """
    from pyspark.sql import Window

    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                round_digits,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )
