"""Streaming MEDIA ingestion with perceptual dedup — the media sibling
of ``corpus_stream``: fingerprint each micro-batch's binary media
(image dHash, audio spectral fingerprint, or per-clip video majority
fingerprint), drop in-batch near-dups,
drop near-dups of anything already admitted (banded Hamming join
against a persisted fingerprint store), append the survivors.

Per micro-batch (``admit_media_batch``):

    1. fingerprint       — ONE Arrow decode pass (the costly stage; the
                           frame is persisted so its consumers never
                           re-decode), emitting fp + kind metadata
    2. quality gates     — optional pre-store floors over the decode
                           metadata (min width/height, duration/sample
                           rate, frame count, reject-undecodable) —
                           round 12; gated rows never reach the
                           pairing, the corpus, or the store, exactly
                           like the text loop's pre-signature gates
    3. in-batch near-dup — pigeonhole Hamming self-join over the batch
                           fingerprints, resolved by
                           ``dedup.resolve_drops(..., "components")``
                           (keep the min id per component) — the SAME
                           survivor convention as the ``media-dedup``
                           CLI, so batch and stream admit identical
                           survivor sets for identical input.  The
                           pair graph is batch-sized, so the iterative
                           resolution costs a few batch-local rounds
    4. store near-dup    — ``hamming_near_dups_incremental`` vs the
                           fingerprint STORE (cost ∝ batch: AQE
                           broadcasts the batch band keys, the
                           corpus-sized store is only scanned)
    5. append survivors  → corpus (batch_id partition)
       append fingerprints → fingerprint store (batch_id partition)

Contracts carried over from the corpus stream, same rationale:

- the store is the ONLY state that grows with the corpus; it holds one
  slim (doc_id, fp) 64-bit row per fingerprintable admitted doc and
  MIRRORS the admitted corpus exactly — opaque/undecodable media (NULL
  fingerprint) are admitted but contribute no store row because they
  can never pair;
- every store here (corpus, fingerprint store, frame index, stats) is
  a batch-partitioned append store — ``io/append_store.py`` carries
  the per-batch overwrite, the replay exclusion, the ``doc_new !=
  doc_old`` identity-guard reasoning and the fold-and-swap
  ``append_store.compact``; ``admit_media_batch`` refuses to write
  while a swap is pending.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.io import append_store
from etl_olho_vivo_spark.operators.dedup import (
    _hamming_validate,
    hamming_near_dups,
    hamming_near_dups_incremental,
    resolve_drops,
)

FP_BITS = 64


MEDIA_KINDS = ("image", "audio", "video")

# which quality-gate dial applies to which kinds (a min_width on an
# audio stream is a config bug — rejected loudly at start-up);
# width/height gate VIDEO too (round 12: the per-clip fingerprint
# frame carries the first decodable frame's geometry)
_GATE_COLS = {
    "min_width": (("image", "video"), "width"),
    "min_height": (("image", "video"), "height"),
    "min_sample_rate": (("audio",), "sample_rate"),
    "min_duration_s": (("audio",), "duration_s"),
    "min_frames": (("video",), "n_frames"),
}


def media_fingerprints(batch: DataFrame, kind: str) -> DataFrame:
    """(doc_id, fp, <kind metadata>) for one batch — dHash + width/
    height for images, spectral fingerprint + sample_rate/duration_s
    for audio, per-clip majority fingerprint + n_frames for video.
    NULL fp = opaque/undecodable media.  The metadata rides the SAME
    Arrow decode pass that produced the fingerprint, so quality gates
    (``apply_media_gates``) cost nothing extra to evaluate."""
    from etl_olho_vivo_spark.operators import multimodal

    if kind == "image":
        fps = multimodal.image_dhash(batch).select(
            "doc_id", F.col("dhash").alias("fp"), "width", "height"
        )
    elif kind == "audio":
        fps = multimodal.audio_fingerprint(batch).select(
            "doc_id", F.col("afp").alias("fp"),
            "sample_rate", "duration_s",
        )
    elif kind == "video":
        fps = multimodal.video_fingerprint(batch).select(
            "doc_id", F.col("vfp").alias("fp"),
            "n_frames", "width", "height",
        )
    else:
        raise ValueError(
            f"kind must be one of {'|'.join(MEDIA_KINDS)}, got {kind!r}"
        )
    return fps


def validate_media_gates(kind: str, gates: dict | None) -> dict:
    """Driver-side gate-config validation — called at stream START-UP
    (and CLI argument parse) so a dial that cannot apply to the kind,
    or a non-positive floor, fails before the first micro-batch."""
    gates = dict(gates or {})
    for key, val in gates.items():
        if key == "reject_undecodable":
            if not isinstance(val, bool):
                raise ValueError(f"reject_undecodable must be bool, "
                                 f"got {val!r}")
            continue
        if key not in _GATE_COLS:
            raise ValueError(
                f"unknown media gate {key!r} "
                f"(dials: {sorted(_GATE_COLS)}, reject_undecodable)"
            )
        want_kinds, _ = _GATE_COLS[key]
        if kind not in want_kinds:
            raise ValueError(
                f"gate {key!r} applies to kind "
                f"{'|'.join(want_kinds)}, stream kind is {kind!r}"
            )
        if val is not None and val <= 0:
            raise ValueError(f"gate {key!r} must be positive, got {val}")
    return gates


def apply_media_gates(
    fps: DataFrame, kind: str, gates: dict | None
) -> DataFrame:
    """Pre-store quality gates over the fingerprint+metadata frame
    (round 12 — the media sibling of the text admit loop's
    pre-signature gates): rows failing a floor never reach the
    pairing, the corpus, or the fingerprint store.

    Semantics: a dimension floor (``min_width``, ``min_duration_s``,
    ``min_frames``, ...) also rejects UNDECODABLE rows — their NULL
    metadata cannot prove the floor (SQL NULL-comparison does this
    naturally), which is the right default for a crawled firehose.
    ``reject_undecodable=True`` alone drops NULL-fingerprint rows
    while admitting every decodable size.  No gates → the frame
    passes through untouched (the pre-gate admit-everything
    behavior, including opaque rows)."""
    gates = validate_media_gates(kind, gates)
    for key, val in gates.items():
        if val is None:
            continue
        if key == "reject_undecodable":
            if val:
                fps = fps.filter(F.col("fp").isNotNull())
        else:
            _, col = _GATE_COLS[key]
            fps = fps.filter(F.col(col) >= F.lit(val))
    return fps


def admit_media_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    store_dir: str,
    *,
    kind: str = "image",
    max_hamming: int = 6,
    n_bands: int = 8,
    gates: dict | None = None,
    stats_dir: str | None = None,
    frame_index_dir: str | None = None,
    frame_stride: int = 1,
) -> None:
    """Admit one micro-batch of (doc_id, media, ...) rows: quality
    gates (``apply_media_gates`` — BEFORE any pairing; gated rows
    never reach the corpus or the store), perceptual dedup in-batch +
    vs store, append survivors.  See the module docstring for the
    step/contract inventory.

    ``frame_index_dir`` (round 14, video kind only): also maintain the
    PER-FRAME fingerprint index (``multimodal.video_frame_fingerprints``
    — (doc_id, frame_idx, fp) for every admitted clip) that
    ``media_containment_pairs`` probes for sub-clip containment — the
    retrieval query the majority fingerprint deliberately cannot
    answer.  This is a SECOND decode pass, over the batch's SURVIVORS
    only (cost ∝ admitted batch, never the corpus): the majority
    fingerprint's decode discards per-frame hashes inside the Arrow
    worker, and keeping the index optional means non-video streams
    and containment-indifferent corpora never pay it.  Same
    per-partition-overwrite replay idempotence as every other store.

    ``stats_dir`` (round 14 — the media sibling of the text loop's
    incremental data card): also write one bounded (dim, key, docs)
    stats partition per micro-batch, computed from the SAME decode
    pass over exactly the admitted rows, so
    ``media_card_from_stats_store`` emits the corpus' card after any
    drain without ever re-decoding media.  Same contract as the text
    store: set it from the corpus' FIRST drain (mid-life enablement is
    detected by the card's coverage check); replay-idempotent via the
    per-partition overwrite."""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.io.fsutil import assert_no_pending_swap

    _hamming_validate(FP_BITS, max_hamming, n_bands)
    if frame_index_dir is not None and kind != "video":
        raise ValueError(
            f"frame_index_dir is the per-frame VIDEO containment "
            f"index; stream kind is {kind!r}"
        )
    assert_no_pending_swap(spark, store_dir)

    # one decode pass, four consumers (gates, self-join, store join,
    # store append) — persist the slim fingerprint frame, never the
    # media; the gates ride the same frame, so they cost no decode
    with CacheBag() as bag:
        fps = bag.add(
            media_fingerprints(batch.select("doc_id", "media"), kind)
        )
        admitted = apply_media_gates(fps, kind, gates)
        printable = admitted.filter(F.col("fp").isNotNull())

        # in-batch: components keep the min id per component — the
        # media-dedup CLI's convention, so a corpus admitted through
        # the stream and one deduped in batch agree on the survivors
        losers = resolve_drops(
            hamming_near_dups(
                printable, hash_col="fp", bits=FP_BITS,
                max_hamming=max_hamming, n_bands=n_bands,
            ),
            "components", caches=bag,
        )

        surv_fps = printable.select("doc_id", "fp").join(
            losers.dropDuplicates(["doc_id"]), "doc_id", "left_anti"
        )  # the store stays slim: metadata never leaves the batch
        store = append_store.read_store(
            spark, store_dir, exclude_batch_id=batch_id
        )
        if store is not None:
            cross = hamming_near_dups_incremental(
                surv_fps, store.select("doc_id", "fp"),
                hash_col="fp", bits=FP_BITS,
                max_hamming=max_hamming, n_bands=n_bands,
            )
            cross_losers = cross.select(F.col("doc_new").alias("doc_id"))
            losers = losers.unionByName(cross_losers)
            surv_fps = surv_fps.join(
                cross_losers.dropDuplicates(["doc_id"]),
                "doc_id", "left_anti",
            )

        # NULL-fp rows are never losers (they never entered a pairing),
        # so the anti-join admits them alongside the fingerprint
        # survivors — the store, not the corpus, excludes them.  With
        # gates active the corpus first narrows to the gated-in ids
        # (gated-OUT rows never reach corpus or store)
        survivors = batch
        if gates:
            survivors = survivors.join(
                admitted.select("doc_id"), "doc_id", "left_semi"
            )
        survivors = survivors.join(
            losers.dropDuplicates(["doc_id"]).hint("merge"),
            "doc_id", "left_anti",
        )

        append_store.write_batch(survivors, corpus_dir, batch_id)
        append_store.write_batch(surv_fps, store_dir, batch_id)
        if frame_index_dir is not None:
            from etl_olho_vivo_spark.operators.multimodal import (
                video_frame_fingerprints,
            )

            append_store.write_batch(
                video_frame_fingerprints(
                    survivors.select("doc_id", "media"), stride=frame_stride
                ),
                frame_index_dir, batch_id,
            )
        if stats_dir is not None:
            from etl_olho_vivo_spark.operators.datacard import media_stats

            # the admitted rows' metadata, from the persisted decode
            # pass: post-gate frame minus dedup losers — same id set
            # as the corpus partition just written (NULL-fp admitted
            # rows included: the card's 'decoded' dim counts them)
            admitted_fps = admitted.join(
                losers.dropDuplicates(["doc_id"]), "doc_id", "left_anti"
            )
            append_store.write_batch(
                media_stats(admitted_fps, kind), stats_dir, batch_id
            )


def media_store_stats(spark: SparkSession, store_dir: str) -> dict:
    """Fingerprint-store telemetry — the compaction dial, mirroring
    the ANN index's ``cell_stats``.  The store's cost driver is its
    PARTITION COUNT, not its row count: every micro-batch's banded
    join re-lists and re-opens one parquet directory per accumulated
    batch, so thousands of tiny partitions tax every admit with
    per-file open cost long before data volume matters.  One bounded
    aggregation (one result row per batch partition); the skew summary
    reuses ``io.ann_index.occupancy_stats`` so the formula can never
    drift between the two artifacts.  Run ``append_store.compact`` when
    ``n_partitions`` grows past a few dozen — the ``media-stream`` CLI
    emits this dict after every drain so the drift is visible in job
    artifacts."""
    from etl_olho_vivo_spark.io.ann_index import occupancy_stats

    raw = append_store.read_store(spark, store_dir)
    if raw is None:
        return {"n_partitions": 0, "fingerprints": 0,
                "max_partition": 0, "mean_partition": 0.0,
                "skew_ratio": None}
    batch_col = append_store.BATCH_COL
    key = batch_col if batch_col in raw.columns else F.lit(-1)
    counts = [
        int(r["n"])
        for r in raw.groupBy(key).agg(
            F.count(F.lit(1)).alias("n")
        ).collect()  # bounded: one row per batch partition
    ]
    s = occupancy_stats(counts)
    return {
        "n_partitions": s["n"],
        "fingerprints": sum(counts),
        "max_partition": s["max"],
        "mean_partition": s["mean"],
        "skew_ratio": s["skew_ratio"],
    }


def frame_index_coverage(
    spark: SparkSession, frame_index_dir: str, corpus_dir: str
) -> dict:
    """Coverage report for the per-frame containment index vs the
    corpus — the frame-index twin of the stats store's
    ``_stamp_if_partial`` (round-15, r14 advisor): a
    ``--frame-index-dir`` enabled AFTER the first drain silently lacks
    the earlier admitted clips, so ``video-contain`` would quietly
    miss containments in them.  Same mechanism: one partition-set
    listing per directory, ``partial=true`` + the missing batch ids
    when the index misses corpus ``ingest_batch_id=`` partitions, with
    the backfill pointer (``video-index`` over the corpus).  Costs two
    directory listings — safe to emit after every drain."""
    missing = append_store.missing_batches(spark, frame_index_dir, corpus_dir)
    cov = {"partial": bool(missing)}
    if missing:
        cov["missing_batch_ids"] = missing
        cov["note"] = (
            "frame index misses corpus batches (frame-index-dir "
            "enabled mid-life?); video-contain would miss containments "
            "in them — backfill with video-index over the corpus, "
            "then resume"
        )
    return cov


def run_media_stream(
    media_stream: DataFrame,
    corpus_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    *,
    kind: str = "image",
    max_hamming: int = 6,
    n_bands: int = 8,
    gates: dict | None = None,
    stats_dir: str | None = None,
    frame_index_dir: str | None = None,
    frame_stride: int = 1,
):
    """Start the media drain query over a streaming frame with
    (doc_id, media) columns: one ``Trigger.AvailableNow`` run that
    admits every file present at start-up in micro-batches, then
    stops.  Config errors (unknown kind, an unsatisfiable banding, a
    gate dial that cannot apply to the kind, a frame index on a
    non-video stream) fail HERE at start-up, not inside the first
    foreachBatch."""
    _hamming_validate(FP_BITS, max_hamming, n_bands)
    if kind not in MEDIA_KINDS:
        raise ValueError(
            f"kind must be one of {'|'.join(MEDIA_KINDS)}, got {kind!r}"
        )
    if frame_index_dir is not None and kind != "video":
        raise ValueError(
            f"frame_index_dir is the per-frame VIDEO containment "
            f"index; stream kind is {kind!r}"
        )
    if frame_stride <= 0:
        raise ValueError(f"frame_stride must be positive, got {frame_stride}")
    validate_media_gates(kind, gates)
    spark = media_stream.sparkSession

    def _admit(batch: DataFrame, batch_id: int) -> None:
        admit_media_batch(
            spark, batch, batch_id, corpus_dir, store_dir,
            kind=kind, max_hamming=max_hamming, n_bands=n_bands,
            gates=gates, stats_dir=stats_dir,
            frame_index_dir=frame_index_dir, frame_stride=frame_stride,
        )

    return (
        media_stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
