"""Streaming corpus ingestion — the streaming face of the dedup family.

`plans/corpus.py` rebuilds a corpus from a full documents table;
production LLM-data pipelines instead receive crawl batches continuously
and must admit only documents that are near-duplicates of NOTHING seen
before — without ever rescanning the corpus.  This module wires the
incremental MinHash machinery (`operators/dedup.py`) into a Structured
Streaming `foreachBatch` loop:

    docs stream ──► per micro-batch:
        1. ONE signature pass over the batch (persisted, CacheBag-owned)
        2. in-batch near-dup  — banded self-join, keep min doc_id
        3. store near-dup     — banded join vs the signature STORE
                                (cost ∝ batch, not corpus)
        4. append survivors   → corpus parquet   (batch_id partition)
           append signatures  → signature store  (batch_id partition)

Scale + semantics notes:
- the signature store is the ONLY state that grows with the corpus, and
  it is ~1% of corpus bytes; each batch touches it through a banded
  equi-join on slim (band, 64-bit key) rows — the corpus text itself is
  never re-read;
- every store here is a batch-partitioned append store
  (``io/append_store.py`` carries the layout, the replay idempotence
  and the compaction swap): each batch overwrites its own partition,
  a replay excludes its own prior write, and
  ``append_store.compact`` folds the partitions into one base
  partition IN PLACE on schedule — one signature-sized job that never
  touches corpus text, after which the stream keeps consuming the same
  ``store_dir``; a replay of a batch it folded is skipped;
- documents with fewer than 3 tokens cannot be shingled and are dropped
  by the signature pass itself (same rule as the batch pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.caching import CacheBag
from etl_olho_vivo_spark.io import append_store
from etl_olho_vivo_spark.operators import dedup


def _check_stream_resolution(dedup_resolution: str) -> None:
    """Reject ``keep_best`` and unknown names.  The stream's cross-batch
    contract is admitted-first-wins (a store doc beats a batch doc,
    whatever its quality), so keep-best could only hold within one
    micro-batch — a silent divergence from the batch pipeline, where
    ``dedup_resolution="keep_best"`` re-dedups offline instead."""
    if dedup_resolution == "keep_best":
        detail = (
            "keep_best is batch-only: the stream's admitted-first "
            "contract overrides quality across batches"
        )
    elif dedup_resolution in dedup.RESOLUTIONS:
        return
    else:
        detail = f"got {dedup_resolution!r}"
    raise ValueError(f"dedup_resolution must be greedy|components ({detail})")


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    store_dir: str,
    threshold: float = 0.5,
    text: str = "text",
    eval_grams_dir: str | None = None,
    eval_ngram: int = 5,
    eval_grams: DataFrame | None = None,
    gates: dict | None = None,
    snapshot_filter: "tuple[DataFrame, int, int] | None" = None,
    snapshot_overlap: float = 0.5,
    quality_model: dict | None = None,
    quality_min_score: float | None = None,
    dedup_resolution: str = "greedy",
    stats_dir: str | None = None,
    stats_dims: tuple[str, ...] = (),
) -> None:
    """Admit one micro-batch: dedup in-batch + vs store, append survivors.

    ``stats_dir`` (round 13) maintains the corpus data card
    incrementally: each batch appends ONE bounded partition of
    (dim, key, docs, tokens, chars) rows over its SURVIVORS
    (``datacard.corpus_stats`` — the same grouping-sets pass the batch
    card uses, here over a batch-sized frame), so
    ``datacard.card_from_stats_store`` can emit the whole corpus' card
    at any time without rescanning corpus text — cost ∝ batches.
    ``stats_dims`` names the categorical columns to track (default
    none: totals + length histogram — landing schemas often carry only
    doc_id + text).  The stats store is one more batch-partitioned
    append store, so replays stay idempotent.

    ``snapshot_filter`` = ``(bitmap, num_bits, num_hashes)`` from
    ``bloom.read_bloom_filter`` — inter-SNAPSHOT dedup: batch docs
    whose 3-gram overlap with a previous crawl's persisted Bloom filter
    reaches ``snapshot_overlap`` are rejected before the signature pass
    even runs (the prior crawl is never re-read; cost ∝ batch).  The
    filter stays FROZEN for the stream's lifetime — within-THIS-corpus
    dedup is the signature store's job, and the filter is advanced
    offline between crawls (``bloom-build --merge``), so the two
    mechanisms never overlap in responsibility.

    ``gates`` (optional) are per-row quality gates applied FIRST —
    keyword arguments for ``plans.corpus.gate_documents`` (keep_langs,
    min_tokens, min_quality, gopher, c4).  Gating before signatures
    keeps a rejected document's cost at one projection and keeps it
    out of BOTH the corpus and the signature store, preserving the
    store-mirrors-corpus invariant the incremental dedup depends on.

    Deterministic: in-batch pairs keep the smaller doc_id; any batch doc
    near a store doc is dropped (the corpus row wins — it was admitted
    first).  Idempotent per ``batch_id``: each replay overwrites the
    batch's own partition directory, even when it admits zero docs.

    ``dedup_resolution`` picks the in-batch pair→drop convention, the
    batch pipeline's dial: ``"greedy"`` (the default, as there) or
    ``"components"`` (``dedup.resolve_drops`` states both).
    ``"keep_best"`` is rejected: across batches the admitted-first
    contract overrides quality (``_check_stream_resolution``).  One
    batch with no store and no gates admits exactly the batch
    pipeline's survivors under the same resolution.  Across batches
    the stream is order-dependent by design: first-seen wins, so a
    chain A~B~C (A≁C) split across batches keeps C where the batch
    clustering drops it.

    ``eval_grams_dir`` additionally decontaminates each batch against a
    persisted eval gram store (``decontam.write_eval_gram_store``):
    any survivor sharing a word-``eval_ngram``-gram with the benchmark
    is rejected, and its signature is kept OUT of the store too — the
    store mirrors the admitted corpus exactly, so a later near-dup of a
    contaminated doc is judged on its own contamination, not against a
    ghost entry.  Cost ∝ batch (the gram store broadcasts).
    ``eval_grams`` passes the gram relation directly instead — a
    long-running stream loads (and persists) it ONCE rather than paying
    the parquet listing/scan per micro-batch; ``run_corpus_stream``
    does exactly that.

    ``quality_model`` applies the trained classifier gate
    (operators/quality.py) right after the per-row gates, before
    signatures — the streaming analog of the batch pipeline's
    ``--quality-model``: the model stays FROZEN for the stream's
    lifetime (retrain offline, restart to pick up new weights, the same
    contract as the frozen snapshot filter), scoring is a broadcast
    weights join with cost ∝ batch, and zero-feature docs pass through
    on the no-evidence contract.
    """
    from etl_olho_vivo_spark.io.fsutil import assert_no_pending_swap

    # the replay succeeds after append_store.compact recovers the swap
    assert_no_pending_swap(spark, store_dir)
    _check_stream_resolution(dedup_resolution)
    if gates:
        from etl_olho_vivo_spark.plans.corpus import gate_documents

        batch = gate_documents(batch, text=text, **gates)
    if (quality_model is None) != (quality_min_score is None):
        # an unpaired combination must fail LOUDLY here too, not just in
        # run_corpus_stream: q_score < NULL filters to zero failing rows
        # and the corpus would ship unfiltered while the caller believes
        # the gate ran (the silent-degradation mode the batch pipeline's
        # paired-argument check exists to prevent)
        raise ValueError(
            "quality_model and quality_min_score must be passed together"
        )
    if quality_model is not None:
        from etl_olho_vivo_spark.operators.quality import score_quality

        failing_q = (
            score_quality(
                batch.select("doc_id", text), quality_model, text=text
            )
            .filter(F.col("q_score") < quality_min_score)
            .select("doc_id")
        )
        batch = batch.join(failing_q, "doc_id", "left_anti")
    with CacheBag() as bag:
        if snapshot_filter is not None:
            from etl_olho_vivo_spark.operators import bloom as bloomop

            filt, nb, nh = snapshot_filter
            batch = bloomop.gram_overlap_vs_filter(
                batch, filt, nb, nh, text=text, caches=bag
            )
            batch = batch.filter(
                F.col("snapshot_overlap") < snapshot_overlap
            ).drop("snapshot_overlap")
        sig = bag.add(
            dedup.minhash_signature(batch, text).select(
                "doc_id", "sh", "minhash"
            )
        )
        drops = dedup.resolve_drops(
            dedup.near_duplicates(sig=sig, threshold=threshold),
            dedup_resolution, caches=bag,
        )
        surv_sig = sig.join(drops, "doc_id", "left_anti")

        store = append_store.read_store(
            spark, store_dir, exclude_batch_id=batch_id
        )
        if store is not None:
            ipairs = dedup.incremental_near_duplicates(
                new_sig=surv_sig,
                store=store.select("doc_id", "sh", "minhash"),
                threshold=threshold,
            )
            sdrops = ipairs.select(
                F.col("doc_new").alias("doc_id")
            ).distinct()
            surv_sig = surv_sig.join(sdrops, "doc_id", "left_anti")

        if eval_grams is not None or eval_grams_dir is not None:
            from etl_olho_vivo_spark.operators import decontam

            if eval_grams is None:
                eval_grams = decontam.read_eval_gram_store(
                    spark, eval_grams_dir, n=eval_ngram
                )
            # the probe's semi-join AND the anti-join below both
            # consume surv_sig — cache it so the minhash/band-join
            # subtree runs once, not twice per batch
            surv_sig = bag.add(surv_sig)
            contaminated = decontam.contamination_report_from_grams(
                batch.join(
                    surv_sig.select("doc_id"), "doc_id", "left_semi"
                ),
                eval_grams,
                n=eval_ngram,
                text=text,
            ).select("doc_id")
            surv_sig = surv_sig.join(contaminated, "doc_id", "left_anti")

        # two consumers below (corpus semi-join + store append) — cache
        # the final survivor signatures so dedup work runs once
        surv_sig = bag.add(surv_sig)

        survivors = batch.join(
            surv_sig.select("doc_id"), "doc_id", "left_semi"
        )
        append_store.write_batch(survivors, corpus_dir, batch_id)
        append_store.write_batch(surv_sig, store_dir, batch_id)
        if stats_dir is not None:
            from etl_olho_vivo_spark.operators.datacard import corpus_stats

            append_store.write_batch(
                corpus_stats(survivors, text=text, dims=stats_dims),
                stats_dir, batch_id,
            )


def run_corpus_stream(
    docs_stream: DataFrame,
    corpus_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text: str = "text",
    eval_grams_dir: str | None = None,
    eval_ngram: int = 5,
    gates: dict | None = None,
    snapshot_filter_dir: str | None = None,
    snapshot_overlap: float = 0.5,
    quality_model_path: str | None = None,
    quality_min_score: float | None = None,
    dedup_resolution: str = "greedy",
    stats_dir: str | None = None,
    stats_dims: tuple[str, ...] = (),
):
    """Start the drain query over a streaming documents frame (any
    readStream source with doc_id + text columns): one
    ``Trigger.AvailableNow`` run that admits every file present at
    start-up in micro-batches, then stops.  ``dedup_resolution``
    (greedy|components — see ``admit_batch``) is validated HERE at
    start-up, not inside the first foreachBatch; so are the
    ``stats_dims`` (they must exist in the stream schema — a typo'd
    dimension must not fail inside batch 50).

    The eval gram store is loaded, n-verified, and persisted ONCE here
    (benchmark-sized — it fits; the cache lives as long as the stream),
    so each micro-batch probes cached blocks instead of re-listing and
    re-scanning the store's parquet.  The stream cannot unpersist after
    itself (foreachBatch has no termination hook), so the cache is
    registered in the module-level ``SESSION_BAG`` — long-lived hosts
    call ``caching.release_session_caches()`` after stopping the query;
    one-shot drains (the CLI) exit the JVM anyway.
    """
    spark = docs_stream.sparkSession

    _check_stream_resolution(dedup_resolution)  # before the stream starts

    if stats_dims and stats_dir is None:
        raise ValueError("stats_dims requires stats_dir")
    if stats_dir is not None:
        missing = [c for c in stats_dims if c not in docs_stream.columns]
        if missing:
            raise ValueError(
                f"stats_dims column(s) {missing} not in the stream "
                f"schema {docs_stream.columns}"
            )

    eval_grams = None
    if eval_grams_dir is not None:
        if eval_ngram < 1:
            # fail at start-up, not inside the first foreachBatch
            raise ValueError(f"eval_ngram must be >= 1, got {eval_ngram}")
        from etl_olho_vivo_spark.caching import SESSION_BAG
        from etl_olho_vivo_spark.operators import decontam

        eval_grams = SESSION_BAG.add(
            decontam.read_eval_gram_store(
                spark, eval_grams_dir, n=eval_ngram
            )
        )

    snapshot_filter = None
    if snapshot_filter_dir is not None:
        if not (0.0 < snapshot_overlap <= 1.0):
            # fail at start-up, not inside the first foreachBatch
            raise ValueError(
                f"snapshot_overlap must be in (0, 1], got {snapshot_overlap}"
            )
        from etl_olho_vivo_spark.caching import SESSION_BAG
        from etl_olho_vivo_spark.operators import bloom as bloomop

        # loaded + geometry-verified ONCE; the bitmap is persisted for
        # the stream's lifetime (like the eval gram store) so each
        # micro-batch probes cached blocks instead of re-reading parquet
        filt, nb, nh = bloomop.read_bloom_filter(spark, snapshot_filter_dir)
        snapshot_filter = (SESSION_BAG.add(filt), nb, nh)

    quality_model = None
    if quality_model_path is not None:
        if quality_min_score is None:
            raise ValueError(
                "quality_model_path requires quality_min_score (same "
                "pairing contract as the batch pipeline)"
            )
        if not 0.0 <= quality_min_score <= 1.0:
            raise ValueError(
                f"quality_min_score must be in [0, 1], got "
                f"{quality_min_score}"
            )
        from etl_olho_vivo_spark.operators.quality import load_model

        # loaded + validated ONCE at start-up; frozen for the stream
        quality_model = load_model(quality_model_path)
    elif quality_min_score is not None:
        raise ValueError(
            "quality_min_score requires quality_model_path"
        )

    if gates:
        # fail at start-up on a bad gate config, not inside the first
        # foreachBatch: probe the gate composition on an empty frame
        from etl_olho_vivo_spark.plans.corpus import gate_documents

        unknown = set(gates) - {
            "keep_langs", "min_tokens", "min_quality", "gopher", "c4",
        }
        if unknown:
            raise ValueError(f"unknown gate(s): {sorted(unknown)}")
        from pyspark.sql.types import LongType, StringType, StructType

        probe_schema = (
            StructType()
            .add("doc_id", LongType())
            .add(text, StringType())  # StructType: no DDL-escaping trap
        )
        gate_documents(
            spark.createDataFrame([], probe_schema), text=text, **gates
        )

    def _admit(batch: DataFrame, batch_id: int) -> None:
        admit_batch(
            spark, batch, batch_id, corpus_dir, store_dir,
            threshold=threshold, text=text,
            eval_grams=eval_grams, eval_ngram=eval_ngram,
            gates=gates,
            snapshot_filter=snapshot_filter,
            snapshot_overlap=snapshot_overlap,
            quality_model=quality_model,
            quality_min_score=quality_min_score,
            dedup_resolution=dedup_resolution,
            stats_dir=stats_dir,
            stats_dims=stats_dims,
        )

    return (
        docs_stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
