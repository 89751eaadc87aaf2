"""The composed LLM training-corpus pipeline — the ``plans/daily.py``
analogue for the beyond-reference operator families (SURVEY §2.11): one
DAG from a raw document table to a cleaned, deduplicated, quality-gated
corpus, with per-stage accounting.

    documents ─ profile (ONE scan: tokens, quality, lang, fingerprint)
                  ├─ language filter            (per-row predicate)
                  ├─ exact dedup                (fingerprint groupBy)
                  ├─ MinHash-LSH near-dup drop  (banded join, no O(n²))
                  ├─ quality gate               (per-row predicate)
                  └─ parquet, partitioned by detected language

Scale notes (the 100 TB story):
- every per-row feature (token counts, quality score, language guess,
  fingerprints) is computed in ONE pass over the corpus via the wide
  profile projection — adding a feature never adds a scan;
- the profile frame is persisted once and feeds every stage count plus
  the survivor joins (MEMORY_AND_DISK: at scale it spills, never
  recomputes the text scan);
- the survivor frame is cut (``CacheBag.cut``) after near-dup removal
  and after the LM gate: each later plan starts from one stored leaf,
  so neither the profile/dedup/LSH lineage nor the nested caches under
  it are re-planned or re-printed per stage;
- exact dedup is one uniform hash shuffle on the md5 fingerprint; the
  survivor set comes back as a ``left_semi`` join on (fingerprint,
  doc_id) — no full-row shuffle of the corpus;
- near-dup removal reuses the banded MinHash-LSH pipeline
  (``operators/dedup.py``): candidate generation shuffles slim band-key
  rows, verification is bounded by the candidate count, and the drop
  list is an anti-join — the corpus itself is never self-joined;
- pair→drop resolution is ``dedup.resolve_drops``: edge-greedy by
  default (one distinct, no iteration), or ``dedup_resolution=
  "components"`` / ``"keep_best"`` for the exact clustering; its
  docstring states the three conventions;
- inter-snapshot dedup (``snapshot_filter_dir``): docs whose 3-gram
  overlap with a previous crawl's persisted Bloom filter reaches the
  threshold are dropped BEFORE within-corpus dedup — the prior crawl is
  never re-read, only its (word, bits) bitmap relation is probed
  (``operators/bloom.py``; build filters with the ``bloom-build`` CLI).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_olho_vivo_spark.caching import CacheBag
from etl_olho_vivo_spark.operators import dedup, mix as mixops, textops
from etl_olho_vivo_spark.operators import split as splitops
from etl_olho_vivo_spark.sources.tables import read_table


def document_profile(d: DataFrame) -> DataFrame:
    """All per-row corpus features in one wide projection (single scan)."""
    return textops.quality_features(d).withColumns(
        {
            "lang_guess": textops.lang_guess(),
            "fp_md5": textops.fingerprint_md5(),
        }
    )


def gate_documents(
    d: DataFrame,
    *,
    keep_langs: tuple[str, ...] | None = None,
    min_tokens: int | None = None,
    min_quality: float | None = None,
    gopher: bool = False,
    c4: bool = False,
    text: str = "text",
) -> DataFrame:
    """The per-ROW quality gates of the batch pipeline as one
    composable map-side stage: C4 line cleanup + page gate, language,
    length, heuristic quality, and the Gopher repetition gate — pure
    Column predicates, no shuffle, original columns out.

    This is the stream-side mirror of ``run_corpus``'s per-row stages:
    ``admit_batch`` applies it BEFORE signatures are computed, so a
    gated-out document costs one projection and never reaches the
    dedup joins, the corpus, or the signature store (the store must
    mirror the admitted corpus exactly).  ``None``/``False`` disables
    a gate; with everything disabled the input passes through
    untouched.
    """
    cols = list(d.columns)
    if c4:
        d = d.withColumn(text, textops.c4_clean_lines(text))
        d = textops.c4_gate(d, text).filter(F.col("c4_pass"))
    if keep_langs is not None or min_tokens is not None or min_quality is not None:
        if text != "text":
            raise ValueError(
                "profile-based gates (keep_langs/min_tokens/min_quality) "
                "require the text column to be named 'text'"
            )
        d = document_profile(d)
        cond = F.lit(True)
        if keep_langs is not None:
            cond = cond & F.col("lang_guess").isin(*keep_langs)
        if min_tokens is not None:
            cond = cond & (F.col("n_tokens") >= min_tokens)
        if min_quality is not None:
            cond = cond & (F.col("quality_score") >= min_quality)
        d = d.filter(cond)
    if gopher:
        d = textops.gopher_gate(d, text).filter(F.col("gopher_pass"))
    return d.select(*cols)


def run_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    keep_langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    min_tokens: int = 5,
    min_quality: float = 0.0,
    jaccard_threshold: float = 0.6,
    redact_pii: bool = False,
    c4: bool = False,
    line_dedup: str | None = None,
    line_min_count: int = 2,
    span_dedup: str | None = None,
    span_k: int = 5,
    span_min_count: int = 2,
    dedup_resolution: str = "greedy",
    snapshot_filter_dir: str | None = None,
    snapshot_overlap: float = 0.5,
    pack: tuple[int, int, int] | None = None,
    splits: dict[str, float] | None = None,
    split_seed: int = 0,
    gopher: bool = False,
    max_per_source: int | None = None,
    mixture: dict[str, float] | None = None,
    mixture_budget: int | None = None,
    eval_grams_dir: str | None = None,
    eval_ngram: int = 5,
    bpe_tokenize: int | None = None,
    unigram_tokenize: int | None = None,
    lm_max_entropy: float | None = None,
    lm_ref_dir: str | None = None,
    lm_order: int = 2,
    lm_scheme: str = "addk",
    dsir_target_dir: str | None = None,
    dsir_min_logw: float | None = None,
    dsir_sampled: bool = False,
    dsir_seed: int = 0,
    dsir_buckets: int | None = None,
    dsir_hist_dir: str | None = None,
    quality_model_path: str | None = None,
    quality_min_score: float | None = None,
) -> dict[str, int]:
    """Documents table → cleaned corpus parquet.  Returns per-stage counts.

    Stage order puts the cheap per-row predicates before the shuffling
    dedup stages so the band join and fingerprint groupBy only ever see
    rows that could survive — at 100 TB the language gate alone typically
    drops a large fraction of a crawl before anything shuffles.
    ``redact_pii`` scrubs URLs/emails/phones BEFORE profiling, so
    fingerprints (and therefore dedup) act on the text that will actually
    ship.  ``pack=(max_tokens, overlap, budget)`` additionally emits
    packed training sequences at ``<out_dir>_packed``: survivors are
    chunked into token windows and sequentially packed per source shard
    (operators/textops.py: chunk_docs + pack_chunks) — the corpus's
    last mile from documents to fixed-budget model inputs.
    """
    if splits is not None:
        # validate weights BEFORE any work: a bad --splits value must
        # die here, not after hours of dedup at the assign_splits stage
        splitops._thresholds(splits)
    if mixture is not None:
        mixops._check_weights(mixture)
    if eval_grams_dir is not None and eval_ngram < 1:
        raise ValueError(f"eval_ngram must be >= 1, got {eval_ngram}")
    if bpe_tokenize is not None and bpe_tokenize < 1:
        # same validate-before-work rule: the tokenize stage runs LAST
        raise ValueError(
            f"bpe_tokenize must be >= 1, got {bpe_tokenize}"
        )
    if unigram_tokenize is not None and unigram_tokenize < 1:
        raise ValueError(
            f"unigram_tokenize must be >= 1, got {unigram_tokenize}"
        )
    if bpe_tokenize is not None and unigram_tokenize is not None:
        raise ValueError(
            "bpe_tokenize and unigram_tokenize are mutually exclusive: "
            "one corpus ships with ONE tokenizer family"
        )
    if lm_order < 2:
        # same rule — the LM gate runs mid-pipeline, after dedup
        raise ValueError(f"lm_order must be >= 2, got {lm_order}")
    if lm_scheme not in ("addk", "backoff", "kn"):
        raise ValueError(
            f"lm_scheme must be addk, backoff, or kn, got {lm_scheme!r}"
        )
    if dsir_target_dir is not None and dsir_hist_dir is not None:
        raise ValueError(
            "dsir_target_dir and dsir_hist_dir are mutually exclusive: "
            "the histogram IS the fitted model (fit-once) — refitting "
            "against a target at the same time would silently pick one"
        )
    dsir_on = dsir_target_dir is not None or dsir_hist_dir is not None
    if dsir_on and dsir_min_logw is None:
        # same validate-before-work rule: the DSIR stage runs after the
        # shuffling dedup stages, and the threshold is the selection —
        # silently defaulting it would keep (or drop) the whole corpus
        raise ValueError(
            "dsir_target_dir/dsir_hist_dir require dsir_min_logw "
            "(derive it offline with the dsir-cuts CLI, like lm-cuts "
            "for the LM gate)"
        )
    if not dsir_on and (
        dsir_min_logw is not None
        or dsir_sampled
        or dsir_seed != 0
        or dsir_buckets is not None
    ):
        # the reverse direction of the check above: DSIR tuning flags
        # without a target would be silently ignored and ship an
        # ungated corpus the user believed was filtered
        raise ValueError(
            "DSIR flags (dsir_min_logw / dsir_sampled / dsir_seed / "
            "dsir_buckets) require dsir_target_dir or dsir_hist_dir — "
            "without one the DSIR stage does not run and the corpus "
            "would ship unfiltered"
        )
    if quality_model_path is not None and quality_min_score is None:
        # same pairing rule as dsir_target_dir/dsir_min_logw: the
        # threshold IS the selection, never defaulted inline
        raise ValueError(
            "quality_model_path requires quality_min_score (an absolute "
            "probability floor in [0, 1])"
        )
    if quality_model_path is None and quality_min_score is not None:
        raise ValueError(
            "quality_min_score requires quality_model_path — without a "
            "model the classifier gate does not run and the corpus "
            "would ship unfiltered"
        )
    if quality_min_score is not None and not 0.0 <= quality_min_score <= 1.0:
        raise ValueError(
            f"quality_min_score must be in [0, 1], got {quality_min_score}"
        )
    if quality_model_path is not None:
        from etl_olho_vivo_spark.operators import quality as qops

        # validate-before-work: a missing/malformed model file must die
        # here, not after the shuffling dedup stages
        quality_model = qops.load_model(quality_model_path)
    if snapshot_filter_dir is not None and not (0.0 < snapshot_overlap <= 1.0):
        raise ValueError(
            f"snapshot_overlap must be in (0, 1], got {snapshot_overlap}"
        )
    if dedup_resolution not in dedup.RESOLUTIONS:
        # validated up front: the resolution stage runs after the band
        # join has already shuffled the corpus
        raise ValueError(
            f"dedup_resolution must be {'|'.join(dedup.RESOLUTIONS)}, "
            f"got {dedup_resolution!r}"
        )
    d = read_table(spark, sf_dir, "documents")
    if redact_pii:
        d = d.withColumn("text", textops.redact("text"))
    if c4:
        # C4 line cleanup BEFORE profiling, like redaction: fingerprints
        # (and therefore dedup) must act on the text that ships
        d = d.withColumn("text", textops.c4_clean_lines("text"))
    if line_dedup is not None:
        # corpus-wide line-level dedup (C4 keep-one / CCNet boilerplate
        # drop) — also pre-profile: it rewrites text, and its two slim
        # shuffles (line hash, doc reassembly) run once over the raw
        # corpus.  Docs whose every line is deleted drop out here
        # (mode validation happens inside dedup_lines, before any work)
        d = dedup.dedup_lines(
            d, mode=line_dedup, min_count=line_min_count
        )
    if span_dedup is not None:
        # repeated-span removal (Lee et al. 2022 approximation) AFTER
        # line dedup — whole-line boilerplate is cheaper to cut at line
        # granularity first, spans catch the remainder; also
        # pre-profile, for the same rewrites-text reason
        d = dedup.drop_repeated_spans(
            d, mode=span_dedup, k=span_k, min_count=span_min_count
        )
    prof = document_profile(d).persist(StorageLevel.MEMORY_AND_DISK)
    sig_caches = CacheBag()
    drop_caches = CacheBag()
    stage_caches = CacheBag()
    try:
        stats = {"input": prof.count()}

        kept = prof.filter(
            F.col("lang_guess").isin(*keep_langs)
            & (F.col("n_tokens") >= min_tokens)
        )
        stats["lang_and_length"] = kept.count()

        if snapshot_filter_dir is not None:
            # inter-snapshot dedup BEFORE within-corpus dedup (Dolma's
            # ordering): docs already covered by a previous crawl —
            # persisted as a Bloom filter by `bloom-build`, the crawl
            # itself never re-read — are dropped on pure-Bloom gram
            # overlap (operators/bloom.py: no FN, overlap reads high by
            # at most ~fpp).  Runs after the cheap per-row gates so the
            # probe join only sees plausible survivors.
            from etl_olho_vivo_spark.operators import bloom as bloomop

            filt, nb, nh = bloomop.read_bloom_filter(
                spark, snapshot_filter_dir
            )
            kept = bloomop.gram_overlap_vs_filter(
                kept, filt, nb, nh, caches=stage_caches
            )
            # persist the GATED frame: its lineage now carries the
            # probe join + per-doc aggregate, and five downstream
            # consumers (this count, exact dedup's two sides, the
            # signature pass, the final anti-join) would each re-run
            # that whole subtree otherwise
            kept = stage_caches.add(
                kept.filter(
                    F.col("snapshot_overlap") < snapshot_overlap
                ).drop("snapshot_overlap")
            )
            stats["snapshot_dedup"] = kept.count()

        # exact dedup: deterministic survivor (min doc_id) per fingerprint
        survivors = dedup.exact_dedup(kept, ["fp_md5"], "doc_id").select(
            "fp_md5", F.col("keep_doc_id").alias("doc_id")
        )
        kept = kept.join(survivors, ["fp_md5", "doc_id"], "left_semi")
        stats["exact_dedup"] = kept.count()

        # near-dup removal under the chosen pair→drop convention
        drops = dedup.resolve_drops(
            dedup.near_duplicates(
                kept.select("doc_id", "text"),
                threshold=jaccard_threshold, caches=sig_caches,
            ),
            dedup_resolution, caches=drop_caches,
            quality=kept.select("doc_id", "quality_score"),
        )
        # eagerly materialize the (small) drop list so the LSH band +
        # verify joins never re-execute, then release the signature
        # store near_duplicates cached for them.  drop_caches lives
        # until the finally: the survivor cut below materializes at its
        # first count, and its build plan still reads the list.
        drops = drop_caches.add(drops)
        drops.count()
        sig_caches.release()
        # cut, not persist: every later stage (the LM gate's training
        # and scoring plans, each gate, the write) starts from this one
        # leaf instead of re-printing the profile, exact-dedup and LSH
        # lineage under each nested cache in every plan event
        # (caching.py); stage_caches releases it in the finally
        kept = stage_caches.cut(kept.join(drops, "doc_id", "left_anti"))
        stats["near_dedup"] = kept.count()

        kept = kept.filter(F.col("quality_score") >= min_quality)
        stats["quality"] = kept.count()

        if lm_max_entropy is not None:
            # CCNet-style LM gate (operators/lm.py, Wenzek et al. 2019):
            # score each survivor's order-``lm_order`` cross-entropy
            # under a model trained on --lm-ref (a trusted corpus) or,
            # by default, the survivors themselves, and keep docs at or
            # under the ABSOLUTE threshold (a fixed threshold keeps the
            # selection deterministic where a quantile cut via
            # approx_percentile would be partition-order-sensitive;
            # compute the quantile offline and pass it here).  Docs
            # with fewer than ``lm_order`` tokens have no n-grams,
            # carry no entropy EVIDENCE, and pass through — a
            # no-evidence doc failing the gate would silently delete
            # every one-token survivor under --min-tokens 1 regardless
            # of threshold; length policy belongs to min_tokens.
            from etl_olho_vivo_spark.operators import lm as lmops

            ref = (
                spark.read.parquet(lm_ref_dir).select("text")
                if lm_ref_dir is not None
                else kept.select("text")
            )
            if lm_scheme == "kn":
                # interpolated Kneser-Ney (Chen & Goodman 1999): the
                # smoothing KenLM uses — continuation-count lower
                # levels, discount interpolation, uniform OOV leaf
                counts = lmops.kneser_ney_counts(
                    ref, order=lm_order, caches=stage_caches
                )
                failing = lmops.kneser_ney_scores(
                    kept.select("doc_id", "text"), counts,
                    caches=stage_caches,
                ).filter(F.col("kn_score") > lm_max_entropy).select(
                    "doc_id"
                )
            elif lm_scheme == "backoff":
                # stupid backoff (Brants et al. 2007): same gate
                # contract, count-ratio scores with a fixed penalty —
                # the scheme built for web-scale reference corpora,
                # where add-k's single smoothed distribution washes out
                uni, mods = lmops.backoff_counts(
                    ref, order=lm_order, caches=stage_caches
                )
                failing = lmops.stupid_backoff_scores(
                    kept.select("doc_id", "text"), uni, mods,
                    order=lm_order, caches=stage_caches,
                ).filter(F.col("sb_score") > lm_max_entropy).select(
                    "doc_id"
                )
            else:
                ctx, ng, uni = lmops.ngram_counts(
                    ref, order=lm_order, caches=stage_caches
                )
                failing = lmops.ngram_cross_entropy_scores(
                    kept.select("doc_id", "text"), ctx, ng, uni,
                    order=lm_order, caches=stage_caches,
                ).filter(F.col("cross_entropy") > lm_max_entropy).select(
                    "doc_id"
                )
            # cut: the scoring plan nests the LM's count caches, which
            # every later plan (and the write) would re-print otherwise
            kept = stage_caches.cut(
                kept.join(failing, "doc_id", "left_anti")
            )
            stats["lm_filter"] = kept.count()

        if quality_model_path is not None:
            # trained-classifier gate (operators/quality.py, the
            # FineWeb-Edu/DCLM filter): score survivors under the
            # offline-trained logistic model (weights broadcast, one
            # skew-free doc-id aggregation) and keep docs at or above
            # the ABSOLUTE probability floor.  Anti-join on the FAILING
            # side: a zero-feature doc has no score row — no evidence —
            # and passes through, the same contract as the LM and DSIR
            # gates above/below.
            failing_q = qops.score_quality(
                kept.select("doc_id", "text"), quality_model
            ).filter(F.col("q_score") < quality_min_score).select("doc_id")
            kept = stage_caches.add(
                kept.join(failing_q, "doc_id", "left_anti")
            )
            stats["quality_classifier"] = kept.count()

        if c4:
            # page-level C4 rejection on the cleaned text (per-row
            # predicate over the persisted survivors — no re-scan)
            kept = (
                textops.c4_gate(kept)
                .filter(F.col("c4_pass"))
                .drop("c4_pass")
            )
            stats["c4"] = kept.count()

        if eval_grams_dir is not None:
            # benchmark decontamination (operators/decontam.py) against
            # the same persisted gram store the streaming admit loop
            # probes: broadcast gram set, hit-sized anti-join — the
            # corpus is scanned once and never shuffled for the probe
            from etl_olho_vivo_spark.operators import decontam

            flagged = decontam.contamination_report_from_grams(
                kept.select("doc_id", "text"),
                decontam.read_eval_gram_store(
                    spark, eval_grams_dir, n=eval_ngram
                ),
                n=eval_ngram,
            ).select("doc_id")
            # persisted like the gopher stage: the count here plus every
            # downstream action would otherwise EACH re-run the
            # O(corpus tokens) gram-explode probe through the anti-join
            kept = stage_caches.add(
                kept.join(flagged, "doc_id", "left_anti")
            )
            stats["decontaminated"] = kept.count()

        if gopher:
            # repetition gate (textops.gopher_gate): pure per-row
            # projection over the already-persisted survivors — adds
            # metrics columns transiently, keeps only the verdict
            # persisted: the stage count here plus every downstream
            # action (cap count, split collect, parquet write, pack)
            # would otherwise EACH re-run the 5 array_sort passes of
            # repetition_features — the costliest per-row projection
            # in the pipeline
            kept = stage_caches.add(
                textops.gopher_gate(kept)
                .filter(F.col("gopher_pass"))
                .drop(
                    "gopher_pass",
                    *textops.GOPHER_THRESHOLDS,
                )
            )
            stats["gopher"] = kept.count()

        if dsir_on:
            # DSIR selection (operators/dsir.py, Xie et al. 2023) AFTER
            # the quality gates (they judge each doc alone; DSIR ranks
            # the survivors against the target distribution) and BEFORE
            # the budget stages (caps/mixture enforce volume on whatever
            # selection ships).  Threshold form, not top-k: a global
            # top-k at corpus scale funnels k rows through the driver,
            # while `key >= cut` is a pure filter — the cut comes from
            # the offline quantile helper (dsir-cuts CLI), the same
            # absolute-threshold contract as the LM gate above.
            # --dsir-sampled perturbs the weight with the seeded Gumbel
            # before thresholding, turning the hard floor into
            # importance RESAMPLING (sample ∝ w) with the same plan.
            # Fit-once (round 11): with dsir_hist_dir the survivors are
            # scored against the FROZEN histograms the dsir-cuts run
            # persisted, so the floor keeps exactly the calibrated
            # fraction of the calibrated distribution; the legacy
            # target-dir path refits p_raw on the survivors (its help
            # text documents the approximation).
            from etl_olho_vivo_spark.operators import dsir as dsirops

            w = dsirops.dsir_log_weights(
                kept.select("doc_id", "text"),
                (
                    spark.read.parquet(dsir_target_dir).select("text")
                    if dsir_target_dir is not None
                    else None
                ),
                n_buckets=(
                    dsir_buckets
                    if dsir_buckets is not None
                    else dsirops.N_BUCKETS
                ),
                hist=(
                    spark.read.parquet(dsir_hist_dir)
                    if dsir_hist_dir is not None
                    else None
                ),
                caches=stage_caches,
            )
            key = F.col("log_w")
            if dsir_sampled:
                key = F.round(
                    key + F.expr(dsirops.gumbel_expr("doc_id", dsir_seed)),
                    6,
                )
            # anti-join on the FAILING side (same contract as the LM
            # gate): a doc with no features has no row in `w` — no
            # evidence under either distribution — and passes through
            # rather than being silently deleted by a semi join
            failing = w.filter(key < dsir_min_logw).select("doc_id")
            kept = stage_caches.add(
                kept.join(failing, "doc_id", "left_anti")
            )
            stats["dsir"] = kept.count()

        if max_per_source is not None:
            # C4/Gopher domain cap: deterministic seeded top-n per
            # source (operators/split.py) — one shuffle on `source`;
            # persisted so the count, split collect, and write don't
            # re-run the window shuffle
            kept = stage_caches.add(
                splitops.cap_per_group(
                    kept, "source", max_per_source, seed=split_seed
                )
            )
            stats["source_cap"] = kept.count()

        if mixture is not None:
            # domain reweighting to the target token mix
            # (operators/mix.py): one tiny per-source token agg, then a
            # broadcast-rates map-side Bernoulli filter — no shuffle
            kept = stage_caches.add(
                mixops.sample_mixture(
                    kept, mixture, seed=split_seed, budget=mixture_budget
                )
            )
            stats["mixture"] = kept.count()

        out_cols = [
            "doc_id", "text", "lang", "source", "lang_guess",
            "n_tokens", "quality_score", "fp_md5",
        ]
        if splits is not None:
            # deterministic per-doc split (operators/split.py) — a pure
            # map-side md5 projection.  Near-dup leakage across splits
            # is already handled UPSTREAM by the dedup stages (each
            # cluster keeps one survivor); a pipeline that splits
            # WITHOUT dropping near-dups should key assign_splits on
            # the connected-component label of the pair graph instead.
            kept = splitops.assign_splits(kept, splits, seed=split_seed)
            out_cols.append("split")
            for r in kept.groupBy("split").count().collect():
                stats[f"split_{r['split']}"] = r["count"]

        # pack (below) reads only doc_id/source/text — hold the
        # pre-tokenizer frame so its plan never crosses the BPE
        # mapInPandas node (Catalyst cannot prune columns through a
        # row-count-changing Python node, so packing would otherwise
        # pay a SECOND full tokenization pass over the corpus)
        pre_bpe = kept
        if bpe_tokenize is not None:
            # the tokenization hand-off, end-to-end: train the merge
            # list on the SURVIVING corpus (one histogram scan + the
            # driver-side merge loop, operators/bpe.py), apply it with
            # the production mapInPandas tokenizer, and persist BOTH
            # artifacts beside the corpus — the merge list (how to
            # segment) and the id vocabulary (what the ids mean):
            # training data without its tokenizer is not reproducible,
            # and emitted ids without their vocabulary are opaque
            from etl_olho_vivo_spark.operators import bpe as bpeops

            hist = [
                (r["word"], int(r["n"]))
                for r in bpeops.word_histogram(
                    kept.select("text")
                ).collect()
            ]
            merges = bpeops.bpe_merges(hist, n_merges=bpe_tokenize)
            vocab = bpeops.bpe_vocabulary(hist, merges=merges)
            stats["bpe_merges"] = len(merges)
            stats["bpe_vocab"] = len(vocab)
            spark.createDataFrame(
                [(i, a, b) for i, (a, b) in enumerate(merges)],
                "rank INT, left STRING, right STRING",
            ).coalesce(1).write.mode("overwrite").parquet(
                out_dir + "_bpe_merges"
            )
            spark.createDataFrame(
                list(enumerate(vocab)), "id INT, token STRING"
            ).coalesce(1).write.mode("overwrite").parquet(
                out_dir + "_bpe_vocab"
            )
            # ONE tokenization pass emits the human-auditable token
            # stream AND the model-input ids under the persisted vocab
            kept = bpeops.bpe_apply(kept, merges, emit="both", vocab=vocab)
            out_cols.extend(["bpe_tokens", "bpe_ids"])

        if unigram_tokenize is not None:
            # the unigram (SentencePiece-style) alternative — same
            # hand-off contract as BPE: train on the SURVIVING corpus
            # (operators/unigram.py: one histogram scan, distributed
            # EM E-steps, driver-bounded M-step/prune), apply with the
            # production Viterbi mapInPandas tokenizer, persist the
            # model (piece → log-probability) and the id vocabulary
            from etl_olho_vivo_spark.operators import unigram as uniops

            model = uniops.train_unigram(
                kept.select("text"), vocab_size=unigram_tokenize
            )
            vocab = uniops.unigram_vocabulary(model)
            stats["unigram_pieces"] = len(model)
            spark.createDataFrame(
                sorted(model.items()), "piece STRING, logp DOUBLE"
            ).coalesce(1).write.mode("overwrite").parquet(
                out_dir + "_unigram_model"
            )
            spark.createDataFrame(
                list(enumerate(vocab)), "id INT, piece STRING"
            ).coalesce(1).write.mode("overwrite").parquet(
                out_dir + "_unigram_vocab"
            )
            kept = uniops.unigram_apply(
                kept, model, emit="both", vocab=vocab
            )
            out_cols.extend(["unigram_tokens", "unigram_ids"])

        # plain overwrite (NOT dynamic partition overwrite): this is a
        # full corpus rebuild, and dynamic mode would leave a stale
        # lang_guess partition behind whenever a language present in a
        # previous run has no survivors in this one
        (
            kept.select(*out_cols)
            .write.mode("overwrite")
            .partitionBy("lang_guess")
            .parquet(out_dir)
        )

        if pack is not None:
            max_tokens, overlap, budget = pack
            chunks = textops.chunk_docs(
                pre_bpe.select("doc_id", "source", "text"),
                max_tokens, overlap,
            )
            packed = textops.pack_chunks(
                chunks, budget=budget, shard_col="source"
            )
            packed.write.mode("overwrite").parquet(out_dir + "_packed")
            # count the WRITTEN parquet — recounting `packed` would
            # re-execute the whole chunk+pack pipeline
            stats["packed_sequences"] = spark.read.parquet(
                out_dir + "_packed"
            ).count()
        return stats
    finally:
        prof.unpersist()
        # idempotent: sig_caches is normally already empty here, but an
        # exception between near_duplicates and the explicit release
        # must not leak it
        sig_caches.release()
        drop_caches.release()
        stage_caches.release()
