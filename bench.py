"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Execution is measured with the noop sink (full pipeline runs, nothing is
collected to the driver), after a small warm-up action so JVM/codegen
startup isn't billed to the first query.  Without $SPARK_GRAFT_CPUS the
run uses every core the process may run on.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from pandas_sigproc_spark.session import get_spark, host_cpus

# Fixed 64-merge BPE vocabulary for the encode-throughput leg:
# bpe_train(documents, 64) over the sf0.1 corpus, hardcoded so the leg
# is deterministic and round-over-round comparable (training ties break
# lexicographically, so this IS the list any re-train reproduces).
BPE_BENCH_MERGES = [
    ('e', '</w>'), ('e', 'r'), ('i', 'n'), ('o', 'r'), ('s', 't'),
    ('er', '</w>'), ('o', 'w'), ('ow', '</w>'), ('t', 'a'), ('l', 'u'),
    ('a', 'r'), ('p', 'ar'), ('n', '</w>'), ('g', '</w>'), ('t', '</w>'),
    ('h', '</w>'), ('y', '</w>'), ('p', '</w>'), ('u', 'p</w>'),
    ('k', '</w>'), ('par', 'k</w>'), ('s', 'park</w>'), ('d', 'ow</w>'),
    ('in', 'dow</w>'), ('w', 'indow</w>'), ('er', 'g'), ('erg', 'e</w>'),
    ('m', 'erge</w>'), ('b', 'l'), ('bl', 'e</w>'), ('ta', 'ble</w>'),
    ('c', 'o'), ('co', 'lu'), ('colu', 'm'), ('colum', 'n</w>'),
    ('c', 't'), ('ct', 'or'), ('ctor', '</w>'), ('e', 'ctor</w>'),
    ('v', 'ector</w>'), ('a', 'm'), ('am', '</w>'), ('e', 'am</w>'),
    ('r', 'eam</w>'), ('st', 'ream</w>'), ('a', 'lu'), ('alu', 'e</w>'),
    ('v', 'alue</w>'), ('a', 'ta'), ('ata', '</w>'), ('d', 'ata</w>'),
    ('a', 'l'), ('al', 'l'), ('all', '</w>'), ('m', 'all</w>'),
    ('s', 'mall</w>'), ('in', '</w>'), ('j', 'o'), ('jo', 'in</w>'),
    ('f', 'i'), ('fi', 'l'), ('fil', 't'), ('filt', 'er</w>'),
    ('b', 'i'),
]

HEADLINE = [
    # native relational tier
    "between",
    "between_freq",
    "deduplicate",
    "rms",
    "mov_rms",
    "integral",
    "derivative",
    "detrend_linear",
    "detrend_piecewise",
    "rss_daily",
    "rms_lin",
    "interp_daily",
    "segment_stats",
    # joins / classic relational
    "tpch_pricing",
    "tpch_revenue_join",
    "tpch_local_supplier",
    "tpch_order_priority",
    "tpch_custdist",
    # kernel tier (applyInPandas)
    "filt_butter",
    "filt_chain",
    "psd_welch",
    "psd_dft",
    "srs",
    "rainflow",
    # LLM-data-pipeline tier
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_jaccard_pairs",
    "dedup_embed",
    "doc_fingerprint",
    "lang_id",
    "token_count",
    "embed_cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "media_features",
    "media_audio_real",
    # round-10: the audio near-dup join (fingerprint pass runs once —
    # persisted — then the fp equi-join; measures the whole tier), plus
    # the container-ingestion gates (WebDataset shard explode + decode,
    # WARC record-gzip roundtrip)
    "audio_fp_pairs",
    "wds_extract",
    "warc_extract",
    "zip_extract",
    "html_extract",
    "url_canon",
    "crawl_curate",
    "corpus_prep",
    # round-2 training-pipeline extensions
    "stratified_sample",
    "ngram_counts",
    "decontaminate",
    "tfidf_topk",
    "seq_pack",
    "ann_int8",
    "ann_ivf_int8",
    "ann_ivf_pq",
    "training_mix",
    # round-5 text additions
    "rep_stats",
    "doc_chunks",
    "substr_dedup",
    "semdedup",
    "corpus_curate",
    # round-6 curation additions
    "para_dedup",
    "quality_classify",
    "gopher_rules",
    "bloom_decontaminate",
    "temp_sample",
    "pii_scrub",
    "incr_dedup",
    "lm_ppl",
    "source_overlap",
    # round-11: model-based lang ID, the URL blocklist gate, and the
    # BPE -> shard -> pack composition (relational encode)
    "lang_id_model",
    "url_blocklist",
    "bpe_pack",
    # round-11 late additions: the WebDataset WRITER roundtrip (write +
    # re-extract: the output sink's full cost), the normalize chain
    # (12 chained regexp_replace in one codegen span), the
    # no-global-sort corpus permutation, and the quality-argmax
    # near-dup keeper (pairs -> components -> argmax)
    "wds_roundtrip",
    "text_normalize",
    "train_order",
    "cluster_rep",
    # RFC 9309 robots gate (parse window + LIKE-compiled verdict join)
    "robots_filter",
    # composed admission pipeline: blocklist -> robots -> domain cap
    "crawl_admission",
    # sitemap discovery: robots Sitemap: directives + urlset/index XML
    "sitemap_extract",
    # round-12: the end-to-end capstone (WARC -> admission -> extract ->
    # normalize -> quality -> dedup -> decontaminate -> BPE counts ->
    # pack -> WebDataset shard manifests, ONE plan) and the EBML .ide
    # encode->read roundtrip through spark.read.format("ide")
    "corpus_to_shards",
    "ide_scan",
    # round-13: the streaming tier's driver gates — each leg replays a
    # genuine multi-micro-batch file-source stream to a parquet sink
    # (setup + replay + sink read are all real deployment costs, so they
    # are billed to the leg)
    "streaming_corpus_filter",
    "streaming_rainflow",
    # round-14: frontier expansion (html_links -> resolve_url ->
    # canonicalize/host -> admission, one codegen'd expression tree).
    # The other r14 gate (wds_store_roundtrip) is timed as a DETAIL-ONLY
    # leg: its wall rides in bench_detail.json, keeping the final line
    # under the driver's 1.9 KB window.
    "crawl_frontier",
]


# Linear-work queries re-timed on a replicated dataset to measure scaling
# beyond the sf0.1 scheduling floor: replicas add new channels/documents
# (ids offset, text perturbed), so per-channel and per-doc work grows
# linearly and near-linear wall-clock is the pass signal.  Near-dup pair
# queries are excluded on purpose — replicating a corpus inflates its
# near-dup structure quadratically, which measures the data, not the
# engine.
# Fixed order of the final line's "recall3" array (compact form of the
# per-tier recall@3 floors; the keyed map stays in bench_detail.json).
ANN_RECALL_ORDER = (
    "ann_lsh", "ann_ivf", "ann_int8", "ann_ivf_int8", "ann_ivf_pq",
)

SCALE_QUERIES = [
    "rms", "mov_rms", "filt_butter", "psd_welch",
    "dedup_exact", "dedup_minhash", "token_count",
    "stratified_sample", "seq_pack",
    # round-6: map-side curation ops (linear by construction; the scale
    # row verifies the constant factor holds, not the asymptotic)
    "quality_classify", "pii_scrub",
    # round-11: normalize is map-side (linear by construction);
    # train_order's prefix-sum plan must stay flat per row as the
    # corpus grows (the constant-sized offset window never scales)
    "text_normalize", "train_order",
    # round-14 (r13 verdict #7): the ANN probe and the media decode
    # roundtrip are linear-work and ride the main ratio; the pair
    # queries get their own section below.
    "ann_ivf_pq", "media_audio_real",
]

# Near-dup PAIR queries measured at scale SEPARATELY from the linear
# ratio (r13 verdict #7 wanted ANN+media scale evidence; r14 measured
# WHY they can't share the wall_ratio pass signal): even with replicas
# decorrelated into plausible independent corpora (sign-flip embeddings,
# white-noise audio — without which identical replicas collide ~repl^2),
# the operators' OUTPUT is inherently superlinear in corpus size at a
# fixed absolute threshold — cross-corpus random coincidences (1-hash fp
# matches, cos>=0.4 tails) grow ~n^2 x rate for ANY data (measured at
# repl=2: base 1849/40 rows, replica-internal 2022/~40 — same corpus
# density — cross 3580/~128, avg 1.19 matches).  So these legs record
# wall AND output rows, and the pass signal is wall-per-output-row
# staying ~flat (the engine's join cost per emitted pair), never
# wall/repl.  They are excluded from the final line's max/geomean,
# which would otherwise flag data growth as an engine outlier.
SCALE_PAIR_QUERIES = ["dedup_embed", "audio_fp_pairs"]


def _materialize_scaled(spark, sf_dir: str, repl: int, out_dir: str) -> None:
    """Write events/documents replicated ``repl``x with shifted ids.

    Idempotent via a marker file; ~seconds at sf0.1.  The scaled events
    keep the raw nanos ts as bigint (ts_seconds handles both layouts).
    """
    import pyspark.sql.functions as F

    # v4: + embeddings table, + replica decorrelation (see SCALE_QUERIES;
    # v3's cyclic shift / 40-amplitude noise left x3-4 pair inflation at
    # repl=2 — structured embeddings stay correlated under a shift, and
    # sub-std noise moves too few constellation peaks)
    marker = os.path.join(out_dir, f".done_r{repl}_v4")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    # repartition(cpus): the round-2 scale leg wrote `repl` files, and at
    # these tiny SFs each file is far below files.maxPartitionBytes, so a
    # map-side query got at most `repl` scan tasks on 32 cores — the leg
    # then measured input-file layout, not the engine (r02 wall_ratio
    # 7.13 on token_count).  One file per core restores the scan
    # parallelism a real 100 TB layout would have.
    cpus = spark.sparkContext.defaultParallelism
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = [
        ev.withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        .withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
        # replica i>0 decorrelation: additive WHITE pseudo-noise well
        # above the signal's std (events value std ~50 at sf0.1),
        # deterministic via a multiplicative hash of event_id —
        # replicated IDENTICAL waveforms would make every audio
        # fingerprint collide across replicas and the fp pair join
        # would grow ~repl^2 (measuring the data, not the engine).
        # NOT sin(event_id * k): event_ids are sequential within a
        # channel, so that is a PURE TONE — every replica clip then
        # shares one dominant spectral peak and the constellation
        # hashes collide en masse (measured x3.7 at repl=2).  The hash
        # noise is white per sample, so replica spectra are
        # noise-dominated and essentially unique per clip.
        .withColumn(
            "value",
            F.col("value")
            + (
                F.lit(0.0)
                if i == 0
                else (
                    F.pmod(
                        F.col("event_id") * F.lit(2654435761 + 2 * i),
                        F.lit(8191),
                    ).cast("double")
                    / 8191.0
                    - 0.5
                )
                * 300.0
            ),
        )
        for i in range(repl)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.repartition(cpus).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dparts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(f" repl{i}")))
        for i in range(repl)
    ]
    d = dparts[0]
    for p in dparts[1:]:
        d = d.unionByName(p)
    d.repartition(cpus).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def _flip(i: int):
        # replica i>0 decorrelation: a per-replica SIGN-FLIP pattern
        # over dimensions.  A fixed diagonal +/-1 transform preserves
        # every within-replica pairwise cosine exactly (cos(Sx, Sy) ==
        # cos(x, y)), so the near-dup structure per original vector is
        # constant, while cross-replica cosines collapse toward zero —
        # sign mixing destroys the smooth structure a cyclic shift
        # preserved (v3's shift left x4 pair inflation at repl=2).
        # The pattern differs per replica pair, so replicas also
        # decorrelate from EACH OTHER, not just from the base.
        return F.transform(
            F.col("embedding"),
            lambda x, d: F.when(
                (d * 73 + F.lit(i * 151)) % 7 < 3, -x
            ).otherwise(x),
        )

    eparts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        .withColumn(
            "embedding", F.col("embedding") if i == 0 else _flip(i)
        )
        for i in range(repl)
    ]
    e = eparts[0]
    for p in eparts[1:]:
        e = e.unionByName(p)
    e.repartition(cpus).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    open(marker, "w").close()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench", cpus=cpus)

    qs = entry_mod.queries()
    # A leg keeps its name and its plan when its query is folded into a
    # registry slot: it runs that slot's branch, q_<name>.
    qs.update(
        {
            fn.__name__[2:]: fn
            for slot in list(qs.values())
            for fn in getattr(slot, "branches", ())
        }
    )
    # Warm-up: JVM, parquet footer reads, Python worker pool.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # r15 (r14 verdict #6): the "start" calibration probe used to read
    # 0.40-0.56s under residual JVM/JIT warm-up vs 0.17-0.27s once the
    # run is hot — the one MEASURED systematic normalization bias (it
    # shifted early-position legs' normalized values between rounds
    # with no cost change).  One execution isn't enough to reach C2
    # steady state for the probe's own plan; run the exact probe plan
    # to a stable wall before the first recorded probe.
    for _ in range(4):
        qs["rms"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    # Spin up one Arrow-python worker per core so the first kernel-tier
    # query isn't billed for pool startup (one-time cost, not query cost).
    (
        spark.range(cpus, numPartitions=cpus)
        .groupBy("id")
        .applyInPandas(lambda p: p, "id long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # min of 3 runs per query: this host shows heavy neighbor-load jitter
    # (identical plans varying 10x minutes apart), and the min is the
    # standard estimator for the machine's actual capability.
    #
    # r4->r5 regression attribution (BENCH_r04 corpus_prep 4.05x,
    # stratified_sample 2.18x vs r03): HOST JITTER, not code.  Measured
    # r5 with byte-identical query code: corpus_prep 0.95s in-sequence
    # and 1.01s standalone (r3: 0.70, r4: 2.85); stratified_sample 0.22
    # (r3: 0.18, r4: 0.38).  The r4 run's three reps were all slow —
    # exactly the multi-minute neighbor-load episodes this comment
    # already documents.  The persist-registry change (51c5f47) was
    # ruled out: release_caches() semantics match the old clearCache()
    # for these queries, and within-run rep2/rep3 reuse plan-matched
    # cache blocks identically.
    #
    # r6 DELIBERATE cost increases: ann_lsh / ann_int8 / dedup_embed run
    # ~2-4x their r5 walls BY DESIGN — r5's single-table LSH probe
    # recalled 2-3% of true neighbors (useless as ANN; the corpus is
    # weakly separated, true top-3 at cos~0.34 vs random 0.0+/-0.125),
    # and the banded multi-table rewrite (L=8 x b=4) buys recall@3
    # 0.70-0.80 at a ~0.4 candidate fraction.  The recall leg below
    # prints the numbers next to the walls so the trade is visible.
    #
    # r5->r6 attribution (BENCH_r05 rss_daily 0.501 [2.34x vs r4],
    # rms_lin 0.744 [1.74x], segment_stats 0.615): HOST DRIFT, not code.
    # Re-measured in r6 with byte-identical query code (standalone
    # min-of-5, under concurrent load even): rss_daily 0.399, rms_lin
    # 0.554, segment_stats 0.665 — all at or below the r5 readings with
    # zero operator changes, the same profile KERNEL_BENCH.md documents
    # moving +/-30% between rounds.  The queries_median column added
    # this round makes future attribution automatic: jitter shows as
    # median >> min; a real change moves the min.
    #
    # Round-5 notes: rep_stats dropped 15.07s -> ~1s — a real fix, not
    # jitter (the bigram lambda re-split the document per element;
    # higher-order lambdas get no common-subexpression elimination —
    # operators/text.py).  Conversely segment_stats/media_audio_real
    # read 2.4-2.7x slower in one r5 run (1.02/2.59) than another the
    # same day with byte-identical code (0.43/1.19) — the same
    # neighbor-load episodes; trust the min across runs.
    #
    # planner.get_stats eager count jobs ("auto" scale modes) do NOT
    # bias these numbers: the stats cache is keyed on the plan's
    # semanticHash, so only rep0 of a query ever pays the scan and the
    # min-of-3 always reflects a warm cache.  Deployments chaining many
    # one-shot plans should pre-register geometry via
    # planner.register_stats (see planner.py docs).
    # Dispersion is recorded per query (min AND median of the 3 reps) so
    # jitter attribution is automatic instead of forensic: a query whose
    # median >> min sat in a neighbor-load episode (the r5 rss_daily /
    # rms_lin "regressions" were exactly this — see the r6 attribution
    # note below); a query whose min moved with median is a real change.
    # In-run calibration (r7 made this non-optional: BENCH_r07 ran on
    # byte-identical code and wall times still swung 0.12x-7.1x vs r6 —
    # pure host/neighbor load).  The SAME constant query (rms, full
    # pipeline through the noop sink) is re-timed at the start, middle,
    # and end of the run; the tail reports the three walls and their
    # max/min spread.  A verdict can then separate signal from load:
    # spread ~1 means the run sat on a quiet host and per-query deltas
    # are meaningful; spread >> 1 means the round's walls carry that
    # much ambient noise and only deltas beyond it are real.
    # r12: each calibration point is itself a MIN-OF-3 (the r11 spread
    # of 1.837 was driven by single-shot calibration reps landing inside
    # neighbor-load spikes that the min-of-3 headline legs ride out —
    # comparing a single-shot probe against min-of-3 legs overstated the
    # ambient noise), and the probe interleaves at the quarter points of
    # the headline sweep rather than only start/middle/end, so a load
    # episode confined to one stretch of the run is visible as such.
    # r13 (r12 verdict #2): probes fired INSIDE the headline sweep also
    # record the leg index they fired at, so each leg's wall can be
    # NORMALIZED by its temporally-nearest probe.  wall_leg ~ C_leg *
    # h(t_leg) and wall_probe ~ C_probe * h(t_probe) with C_probe
    # constant across rounds (same rms plan, same data); dividing
    # cancels the host factor h, so normalized legs are adjudicable
    # round-over-round even when the host swings 2x mid-run — the
    # failure mode that made BENCH_r11/r12 leg deltas unreadable.
    calib_walls = []
    calib_points = []  # (leg index fired at, wall) — sweep-interior only

    def _calibrate(tag: str, at_leg: int | None = None) -> None:
        reps = []
        for _ in range(3):
            t0 = time.time()
            qs["rms"](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            reps.append(round(time.time() - t0, 3))
        el = min(reps)
        calib_walls.append(el)
        if at_leg is not None:
            calib_points.append((at_leg, el))
        print(f"[bench] calibration({tag}): min {el:.2f}s of {reps}",
              file=sys.stderr, flush=True)

    _calibrate("start", at_leg=0)

    _calib_at = {
        HEADLINE[len(HEADLINE) // 4]: "q1",
        HEADLINE[len(HEADLINE) // 2]: "middle",
        HEADLINE[(3 * len(HEADLINE)) // 4]: "q3",
    }
    timings = {}
    medians = {}
    for leg_i, name in enumerate(HEADLINE):
        if name in _calib_at:
            _calibrate(_calib_at[name], at_leg=leg_i)
        fn = qs[name]
        reps = []
        for rep in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            el = time.time() - t0
            print(f"[bench] {name} rep{rep}: {el:.2f}s", file=sys.stderr, flush=True)
            reps.append(el)
        timings[name] = round(min(reps), 3)
        medians[name] = round(sorted(reps)[1], 3)
        # Queries that persist() intermediates (psd_damage_dft,
        # decontaminate, ann_int8, training_mix) can't unpersist before
        # their terminal action; release exactly the blocks they pinned
        # (entry_mod.release_caches) so reps and later queries never pay
        # eviction pressure for earlier ones.
        entry_mod.release_caches()

    # "post" probe: immediately after the last headline leg (the "end"
    # probe below fires after the scale/recall/bpe legs, too far in time
    # to normalize the sweep's tail against).
    _calibrate("post", at_leg=len(HEADLINE))

    total = round(sum(timings.values()), 3)

    def _nearest_probe_wall(leg_i: int) -> float:
        return min(calib_points, key=lambda p: abs(p[0] - leg_i))[1]

    normalized = {
        name: (
            round(timings[name] / _nearest_probe_wall(i), 2)
            if _nearest_probe_wall(i) > 0
            else None
        )
        for i, name in enumerate(HEADLINE)
    }
    norm_total = round(sum(v for v in normalized.values() if v), 2)

    # Scale-up leg: same queries on a repl-x dataset; wall should grow
    # ~linearly (32 cores absorb the extra channels/docs until saturated).
    repl = int(os.environ.get("SPARK_GRAFT_SCALE_REPL", "8"))
    scale = None
    if repl > 1:
        # Scale-appropriate scan split size — SCALE LEG ONLY.  At bench SFs
        # whole tables are a few MB, so the production 128 MB split puts an
        # entire table in ONE scan task and map-side queries run
        # single-core — the scale leg would then measure file layout, not
        # the engine.  4 MB restores the scan parallelism a 100 TB
        # deployment gets from 128 MB splits.  The headline leg above runs
        # with production defaults so its timings stay comparable to
        # BASELINE.md and to r1/r2 (r3 applied this to all legs, which is
        # what regressed derivative/detrend_linear/psd_dft ~2.5x vs r2 —
        # extra scheduling overhead per tiny scan, see BENCH_r03 vs r02).
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        spark.conf.set("spark.sql.files.openCostInBytes", "1m")
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               ".bench_scale", f"sf{sf}_r{repl}")
        _materialize_scaled(spark, sf_dir, repl, out_dir)
        # r15 (instrument v5): the BASE side now runs on a 1x-MATERIALIZED
        # copy with the identical 32-file layout, not the raw sf dir.
        # The raw sf tables are ONE parquet file, so the base plan both
        # (a) paid _ensure_par's repartition (a shuffle the scaled side
        # doesn't run — different plan shape) and (b) sat on the ~0.2 s
        # scheduling floor, which the 8x numerator amortizes but the
        # denominator doesn't: dedup_minhash's "4.2x" was five TIGHT
        # reps of (floor + 8c)/(floor + c), not engine superlinearity.
        # Replica 0 is transformed identically in r1 and r8 (same text
        # suffix, same sign-flip pattern), so the ratio isolates pure
        # 8x data growth at constant layout.
        base_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".bench_scale", f"sf{sf}_r1")
        _materialize_scaled(spark, sf_dir, 1, base_dir)
        spark.read.parquet(f"{out_dir}/events.parquet").count()  # warm footers
        spark.read.parquet(f"{base_dir}/events.parquet").count()
        # Record scan parallelism so the leg is self-diagnosing: if the
        # partition count is far below the core count, wall_ratio measures
        # the input layout rather than the engine.
        for tbl in ("events", "documents", "embeddings"):
            n_parts = (
                spark.read.parquet(f"{out_dir}/{tbl}.parquet").rdd.getNumPartitions()
            )
            print(f"[bench] scale{repl}x {tbl} scan partitions: {n_parts}",
                  file=sys.stderr, flush=True)
        s_timings = {}
        base = {}
        for name in SCALE_QUERIES:
            # r13 (r12 verdict #4): the base wall is RE-MEASURED here,
            # seconds before its scaled twin, under the SAME 4 MB split
            # conf — the old ratio divided a scaled wall by the headline
            # sweep's base (different conf, minutes earlier on a host
            # that drifts 2x), which is what inflated dedup_minhash to
            # 4.02 in BENCH_r12.  The headline wall stays in
            # base_queries_headline for continuity.
            best_b = None
            best = None
            # min-of-3 like the main leg: with sub-second bases, a single
            # noisy rep can swing the reported wall_ratio several-fold.
            # r15 (r14 verdict #6): dedup_minhash gets min-of-5 on BOTH
            # sides — its min-of-3 scale ratio printed as the headline
            # max three rounds running (3.43/3.81 spikes adjudicated as
            # single noisy reps each time; same-round sibling reps sat
            # at the post-fix 2.6-2.8 band), so buy the deeper minimum
            # once instead of re-adjudicating every round.
            n_reps = 5 if name == "dedup_minhash" else 3
            for rep in range(n_reps):
                t0 = time.time()
                qs[name](spark, base_dir).write.mode("overwrite").format("noop").save()
                el = time.time() - t0
                best_b = el if best_b is None else min(best_b, el)
            entry_mod.release_caches()
            for rep in range(n_reps):
                t0 = time.time()
                qs[name](spark, out_dir).write.mode("overwrite").format("noop").save()
                el = time.time() - t0
                print(f"[bench] scale{repl}x {name} rep{rep}: {el:.2f}s "
                      f"(fresh base {best_b:.2f}s)",
                      file=sys.stderr, flush=True)
                best = el if best is None else min(best, el)
            s_timings[name] = round(best, 3)
            base[name] = round(best_b, 3)
            entry_mod.release_caches()
        # Pair legs: wall + OUTPUT ROWS on both sides; pass signal is
        # wall-per-output-row ~flat (see SCALE_PAIR_QUERIES note).
        # Walls go through the noop sink like every other leg (count()
        # can prune column work); rows via one count() per side.
        pair_queries = {}

        def _pair_wall(name, d):
            best = None
            for rep in range(3):
                t0 = time.time()
                qs[name](spark, d).write.mode("overwrite").format(
                    "noop"
                ).save()
                el = time.time() - t0
                best = el if best is None else min(best, el)
                entry_mod.release_caches()
            return best

        for name in SCALE_PAIR_QUERIES:
            # layout-matched base (instrument v5), like the linear legs
            wb = _pair_wall(name, base_dir)
            nb = qs[name](spark, base_dir).count()
            entry_mod.release_caches()
            ws = _pair_wall(name, out_dir)
            ns = qs[name](spark, out_dir).count()
            entry_mod.release_caches()
            per_out = (
                round((ws / max(ns, 1)) / (wb / max(nb, 1)), 2)
                if wb and ws
                else None
            )
            pair_queries[name] = {
                "base_wall": round(wb, 3),
                "scaled_wall": round(ws, 3),
                "base_rows": nb,
                "scaled_rows": ns,
                "wall_ratio": round(ws / wb, 2) if wb else None,
                "output_ratio": round(ns / max(nb, 1), 2),
                "wall_per_output_ratio": per_out,
            }
            print(
                f"[bench] scale{repl}x pair {name}: wall {wb:.2f}->{ws:.2f}s"
                f" rows {nb}->{ns} wall/row ratio {per_out}",
                file=sys.stderr, flush=True,
            )
        scale = {
            "replication": repl,
            # v5: base walls measured on the r1-materialized copy
            # (identical 32-file layout as the scaled side) — ratios are
            # NOT comparable to r14 and earlier, whose base ran the raw
            # one-file sf dir (see the base_dir comment above)
            "base_layout": "r1-materialized (v5)",
            "queries": s_timings,
            "base_queries": base,
            "pair_queries": pair_queries,
            "base_queries_headline": {k: timings[k] for k in SCALE_QUERIES},
            # wall growth per query; ~1.0 = perfectly parallel absorption,
            # = repl means serial growth; floor-dominated queries sit < 1
            "wall_ratio": {
                k: round(s_timings[k] / base[k], 2) if base[k] > 0 else None
                for k in SCALE_QUERIES
            },
            # v5: the floor-free pass signal.  wall_ratio divides two
            # walls that BOTH carry the multi-stage scheduling floor
            # (~0.15-0.2 s per leg at these SFs), so a perfectly linear
            # engine with a 0.15 s floor and 0.16 s of real base work
            # prints ~4x — the dedup_minhash "headline max" story every
            # round since r12.  marginal = (w_scaled - w_base)/(repl-1)
            # is the wall each ADDED corpus copy costs;
            # marginal/base <= 1 means adding the Nth corpus costs no
            # more than the whole first corpus did — strictly sublinear
            # growth, the floor cancelled by the subtraction.
            "marginal_over_base": {
                k: round(
                    (s_timings[k] - base[k]) / (repl - 1) / base[k], 2
                )
                for k in SCALE_QUERIES
                if base.get(k)
            },
        }

    # ANN recall leg: the bucketed/quantized ANN tiers are oracle-exact
    # on their own plans, but their QUALITY — recall@3 against the
    # brute-force cosine ground truth — is what a dedup pipeline's
    # false-negative rate at 100 TB depends on.  Outputs are ~150 rows
    # per query (50 probe vectors x top-3), so the collect is O(k).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
    truth = {
        (r["qid"], r["vec_id"])
        for r in qs["embed_cosine_topk"](spark, sf_dir)
        .filter("rank <= 3")
        .collect()
    }
    recall = {}
    for name in ANN_RECALL_ORDER:
        pred = {
            (r["qid"], r["vec_id"])
            for r in qs[name](spark, sf_dir).filter("rank <= 3").collect()
        }
        recall[name] = round(len(pred & truth) / len(truth), 4)
        print(f"[bench] recall@3 {name}: {recall[name]}",
              file=sys.stderr, flush=True)
        entry_mod.release_caches()

    # IVF recall-vs-wall curve: nprobe is the runtime recall/cost knob
    # (probed corpus fraction = nprobe/nlist); the curve makes the trade
    # visible next to the shipped default instead of burying it in a
    # comment.  Walls are single-shot (the curve's shape, not its
    # absolute level, is the signal — calibration above bounds the noise).
    ivf_curve = []
    default_nprobe = entry_mod._IVF_NPROBE
    try:
        for nprobe in (8, 16, 24):
            entry_mod._IVF_NPROBE = nprobe
            t0 = time.time()
            pred = {
                (r["qid"], r["vec_id"])
                for r in qs["ann_ivf"](spark, sf_dir).filter("rank <= 3").collect()
            }
            el = round(time.time() - t0, 3)
            rec = round(len(pred & truth) / len(truth), 4)
            ivf_curve.append(
                {"nlist": entry_mod._IVF_NLIST, "nprobe": nprobe,
                 "recall_at_3": rec, "wall": el}
            )
            print(f"[bench] ivf_curve nprobe={nprobe}: recall={rec} wall={el}s",
                  file=sys.stderr, flush=True)
            entry_mod.release_caches()
    finally:
        entry_mod._IVF_NPROBE = default_nprobe

    # Production bpe_encode throughput (Arrow-batched rank-table path —
    # bpe_pack above times the relational gate twin): a FIXED 64-merge
    # vocabulary (trained once on the sf0.1 corpus, hardcoded for
    # round-over-round comparability), min-of-3 through the noop sink.
    from pandas_sigproc_spark.operators.bpe import bpe_encode

    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bpe_walls = []
    for rep in range(3):
        t0 = time.time()
        bpe_encode(docs_df, BPE_BENCH_MERGES).write.mode("overwrite").format(
            "noop"
        ).save()
        bpe_walls.append(round(time.time() - t0, 3))
        print(f"[bench] bpe_encode rep{rep}: {bpe_walls[-1]:.2f}s",
              file=sys.stderr, flush=True)
    n_bpe_tokens = (
        bpe_encode(docs_df, BPE_BENCH_MERGES)
        .agg({"n_tokens": "sum"})
        .collect()[0][0]
    )
    bpe_wall = min(bpe_walls)
    bpe_leg = {
        "wall": bpe_wall,
        "n_merges": len(BPE_BENCH_MERGES),
        "n_tokens": int(n_bpe_tokens),
        "tokens_per_sec": int(n_bpe_tokens / bpe_wall) if bpe_wall else None,
    }
    print(f"[bench] bpe_encode: {bpe_leg}", file=sys.stderr, flush=True)

    # PQ store: separate the one-time corpus encode+write from the
    # probe-only query cost (the headline ann_ivf_pq wall carries BOTH
    # every rep — this leg shows what a deployment that materialized
    # its codes actually pays per query batch).
    import shutil as _shutil

    from pyspark.sql import functions as F

    from pandas_sigproc_spark.operators import ann as _bench_ann
    from pandas_sigproc_spark.operators.sigstore import (
        read_pq_code_store,
        write_pq_code_store,
    )

    pq_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".pqstore_gate",
        f"bench_sf{sf}",
    )
    _shutil.rmtree(pq_dir, ignore_errors=True)
    pq_params = dict(
        m=_bench_ann.PQ_M, ksub=_bench_ann.PQ_KSUB, nlist=_bench_ann.IVF_NLIST
    )
    emb = entry_mod._embeds_base(spark, sf_dir)
    t0 = time.time()
    write_pq_code_store(
        _bench_ann.pq_code_table(emb), pq_dir, **pq_params
    )
    pq_encode_wall = round(time.time() - t0, 3)
    store = read_pq_code_store(spark, pq_dir, **pq_params)
    probe_walls = []
    for rep in range(3):
        t0 = time.time()
        _bench_ann.ivf_pq_topk(
            emb, F.col("vec_id") < 50, k=3, code_table=store
        ).write.mode("overwrite").format("noop").save()
        probe_walls.append(round(time.time() - t0, 3))
        print(f"[bench] pq_store probe rep{rep}: {probe_walls[-1]:.2f}s",
              file=sys.stderr, flush=True)
        entry_mod.release_caches()
    pq_leg = {
        "encode_write_wall": pq_encode_wall,
        "probe_wall": min(probe_walls),
        "recompute_wall": timings.get("ann_ivf_pq"),
    }
    print(f"[bench] pq_store: {pq_leg}", file=sys.stderr, flush=True)

    # r14 (r13 verdict #5): split the capstone leg's WARC fixture-
    # producer cost from its pipeline cost — the stand-in is ~28% of
    # the corpus_to_shards wall and is NOT engine cost, so it was
    # masking pipeline drift.  Two timers, one leg: the headline wall
    # above is unchanged; the producer's own min-of-3 rides here and
    # pipeline ~= leg - fixture.
    fx_walls = []
    for rep in range(3):
        t0 = time.time()
        entry_mod._c2s_archives(spark, sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()
        fx_walls.append(round(time.time() - t0, 3))
    c2s_split = {
        "fixture_wall": min(fx_walls),
        "leg_wall": timings.get("corpus_to_shards"),
        "pipeline_wall_est": (
            round(timings["corpus_to_shards"] - min(fx_walls), 3)
            if "corpus_to_shards" in timings
            else None
        ),
    }
    print(f"[bench] corpus_to_shards split: {c2s_split}",
          file=sys.stderr, flush=True)

    # r14 detail-only leg: the object-store WebDataset layout (write
    # shards -> save parquet-payload store -> manifest -> load ->
    # re-explode).  Not on the final line (1.9 KB budget); its wall and
    # cross-round history live here.
    detail_only_walls = {}
    # r15 gates ride here too: the video-inspection and text-interchange
    # gates are fixture-dominated (driver-side mux / csv+json export),
    # and the streaming gate carries the 4-file replay harness — all
    # real costs worth tracking, none representative headline legs.
    for leg in (
        "wds_store_roundtrip",
        "dsir_select",
        "video_stream_info",
        "textio_roundtrip",
        "streaming_lfilter",
    ):
        walls = []
        for rep in range(3):
            t0 = time.time()
            qs[leg](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            walls.append(round(time.time() - t0, 3))
            entry_mod.release_caches()
        detail_only_walls[leg] = {"wall": min(walls), "reps": walls}
        print(f"[bench] {leg}: min {min(walls)}s of {walls}",
              file=sys.stderr, flush=True)

    _calibrate("end")

    # The driver keeps only the LAST ~2 KB of stdout and parses the final
    # line (BENCH_r08 shipped parsed=null because the old ~4 KB single
    # line lost its head to that window).  So: verbose sections (medians,
    # the full scale leg, the IVF curve, calibration walls) go to an
    # EARLIER stdout line + a sidecar file, and the final line carries
    # only the contract fields plus the compact quality signals — with
    # compact separators it must fit the 2 KB window whole.
    detail = {
        "queries_median": medians,
        "ann_ivf_recall_curve": ivf_curve,
        # recall also rides here so the final line can shed its copy
        # under the 1.9 KB budget without losing the signal
        "ann_recall_at_3": recall,
        "bpe_encode": bpe_leg,
        "pq_store": pq_leg,
        "calibration": {
            "query": "rms",
            "walls_start_q1_middle_q3_post_end": calib_walls,
            "spread": round(max(calib_walls) / min(calib_walls), 3),
        },
        # r12 verdict #2: legs in units of the nearest interleaved rms
        # probe — the host factor cancels, so THESE (not the raw walls)
        # are the numbers to compare round-over-round on this host.
        "normalization": {
            "unit": "rms_probe_equivalents",
            "probe_legs_at": [p for p, _ in calib_points],
            "probe_walls": [w for _, w in calib_points],
            "queries_normalized": normalized,
            "norm_total": norm_total,
        },
    }
    if scale is not None:
        detail["scale"] = scale
    # r13 gate consolidation: these four legs now execute BOTH the
    # global and the chunked plan (a 'path'-marked union — see
    # PLANS.md capacity plan), so their walls are NOT comparable to
    # r12 and earlier (expect roughly the sum of the old base +
    # chunked legs).  Recorded so a verdict reads the step as a gate
    # change, not an engine regression.
    detail["composed_legs_since_r13"] = [
        "mov_rms", "integral", "derivative", "resample",
    ]
    # r14 consolidation: these two legs likewise now execute BOTH plan
    # paths per invocation (interp_daily += the range-chunked as-of
    # twin; detrend_linear += the groupBy+broadcast agg twin) — expect
    # roughly the sum of the old standalone legs, a gate change, not an
    # engine regression.
    detail["composed_legs_since_r14"] = ["interp_daily", "detrend_linear"]
    # r15 consolidation: filt_butter += the overlap-save chunked arm
    # (the old filt_chunked leg), rainflow += the segmented
    # residue-merge arm (the old rainflow_chunked leg) — expect roughly
    # the sum of the former standalone walls.
    detail["composed_legs_since_r15"] = ["filt_butter", "rainflow"]
    detail["corpus_to_shards_split"] = c2s_split
    # r14 detail-only legs: walls live here, not on the 1.9 KB final
    # line (wds_store_roundtrip = the object-store layout roundtrip;
    # dsir_select = the DSIR importance-resampling selection)
    detail["detail_only_legs"] = detail_only_walls
    # full-precision walls live here; the final line carries 2 dp
    detail["queries_3dp"] = timings
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    # r16 (r15 verdict #2): a contended run must self-identify LOUDLY —
    # the r15 32-core record (calib_spread 2.6) read as a phantom
    # regression until the 8-core control was cross-checked.  The
    # interleaved rms probe re-measures the same plan 5x across the
    # sweep; a spread beyond ~2.5 means ambient load moved the host by
    # that factor mid-run, so RAW walls are not comparable across runs
    # — use bench_detail.json["normalization"] (per-leg walls divided by
    # the nearest probe) instead.
    spread = detail["calibration"]["spread"]
    if spread > 2.5:
        msg = (
            f"[bench] WARNING: CONTENDED RUN — calib_spread {spread} > 2.5;"
            " raw walls carry that much ambient noise. Compare the"
            " probe-normalized legs in bench_detail.json normalization,"
            " not the raw queries map."
        )
        print(msg)  # stdout: rides ahead of the detail/final lines
        print(msg, file=sys.stderr, flush=True)
    print(json.dumps({"detail": detail}, separators=(",", ":")))

    # r12 final-line sizing (the r11 line hit 2126 B and the degrade
    # loop dropped ann_recall_at_3 AND scale_wall_ratio from the driver
    # record — the first round the recall floors went missing): the
    # per-query walls ride at 2 dp (the 3rd decimal is far below the
    # host's measured jitter, so it was 80+ bytes of noise), and the
    # scale section compacts to its two decision numbers (max and
    # geomean wall ratio — the per-query map stays in
    # bench_detail.json).  Full-precision walls remain in
    # bench_detail.json["queries_median"]'s sibling records.
    # r13 compaction (the two streaming legs + norm_total would push the
    # r12-format line to ~1950 B): the recall floors and the scale
    # summary ride as FIXED-ORDER arrays — "recall3" is
    # [lsh, ivf, int8, ivf_int8, ivf_pq] (ANN_RECALL_ORDER),
    # "scale_ratio" is [replication, max_wall_ratio, geomean_wall_ratio,
    # max_marginal_over_base] (4th element v5: worst-leg
    # (w8-w1)/7/w1 — the floor-free sublinearity signal; <= 1 means
    # every added corpus copy costs less than the first corpus did)
    # — full keyed maps stay in bench_detail.json.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "recall3": [round(recall[k], 2) for k in ANN_RECALL_ORDER],
        "calib_spread": detail["calibration"]["spread"],
        # host-factor-cancelled total (sum of per-leg walls each divided
        # by its nearest interleaved rms probe wall) — the cross-round
        # comparison number; per-leg map in bench_detail.json
        "norm_total": norm_total,
        "sf": float(sf),
    }
    if scale is not None:
        ratios = [r for r in scale["wall_ratio"].values() if r]
        # every ratio can be None/0 when the scale legs all fail or
        # measure zero — emit nothing rather than die after the full run
        if ratios:
            gm = 1.0
            for r in ratios:
                gm *= r
            out["scale_ratio"] = [
                scale["replication"],
                round(max(ratios), 2),
                round(gm ** (1.0 / len(ratios)), 2),
            ]
            # 4th element (v5): worst-leg marginal_over_base — rides
            # inside the array (a separate key pushed the line past
            # 1900 B and the degrade loop dropped calib_spread)
            marg = scale.get("marginal_over_base") or {}
            if marg:
                out["scale_ratio"].append(round(max(marg.values()), 2))
    line = json.dumps(out, separators=(",", ":"))
    # Degrade loudly rather than ship a line the driver will truncate:
    # drop optional quality fields ONE AT A TIME, re-measuring after
    # each pop, until the line fits — never the per-query walls.  (The
    # r8 failure mode: a single unconditional pop still left the line
    # >1900 B and the driver recorded parsed=null.)  norm_total drops
    # LAST: it is the round's one cross-round-adjudicable number.
    for field in ("calib_spread", "scale_ratio", "recall3", "norm_total"):
        if len(line) <= 1900:
            break
        print(f"[bench] WARNING final line {len(line)}B > 1900B; "
              f"dropping {field}", file=sys.stderr, flush=True)
        out.pop(field, None)
        line = json.dumps(out, separators=(",", ":"))
    print(f"[bench] final line bytes: {len(line)}", file=sys.stderr, flush=True)
    print(line)


if __name__ == "__main__":
    main()
