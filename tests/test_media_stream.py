"""Streaming media ingestion (streaming/media_stream.py): micro-batches
of binary media admitted through in-batch + against-store perceptual
near-dedup, idempotently — the media sibling of the corpus stream."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

SCHEMA = "doc_id long, media binary"


def media_datacard(df, kind: str) -> dict:
    """Reference card: one decode pass over the whole admitted corpus,
    the card the incremental stats store must aggregate to."""
    from etl_olho_vivo_spark.operators.datacard import (
        _media_card_from_rows,
        media_stats,
    )
    from etl_olho_vivo_spark.streaming.media_stream import (
        media_fingerprints,
    )

    fps = media_fingerprints(df.select("doc_id", "media"), kind)
    return _media_card_from_rows(media_stats(fps, kind).collect(), kind)


def _p5(rows):
    return (b"P5\n%d %d\n255\n" % (len(rows[0]), len(rows))
            + b"".join(bytes(r) for r in rows))


def _img(seed, tweak=0):
    """16x16 pseudo-random gray P5; same seed → identical bytes,
    ``tweak`` nudges a sparse pixel grid (a re-encode-grade
    perturbation: measured dHash distance ≤ 4, still a near-dup,
    while distinct seeds measure 26-41 bits apart).  Content must be
    non-gradient: dHash is brightness-invariant, so any linear-ramp
    family would fingerprint identically across seeds."""
    s = seed * 2654435761 % (1 << 31)
    rows = []
    for _ in range(16):
        row = []
        for _ in range(16):
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            row.append(s % 256)
        rows.append(row)
    if tweak:
        for r in range(0, 16, 3):
            for c in range(0, 16, 4):
                rows[r][c] = (rows[r][c] + tweak) % 256
    return bytearray(_p5(rows))


def _img_fp(bits64):
    """9x8 P5 whose dHash is exactly ``bits64``: the 8x9 pixel grid
    maps 1:1 onto the dHash cell grid, so dHash bit ``i*8+j`` is the
    sign of the step between adjacent pixels of row i (+10 → 1,
    -10 → 0).  Full 64-bit fingerprint control for convention tests."""
    rows = []
    for i in range(8):
        v = 128
        row = [v]
        for j in range(8):
            v += 10 if (bits64 >> (i * 8 + j)) & 1 else -10
            row.append(v)
        rows.append(row)
    return bytearray(_p5(rows))


def _write_batch(spark, stage, name, rows):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    tmp = f"{stage}__{name}"
    df.write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(f"{tmp}/part-*.parquet")
    shutil.move(part, os.path.join(stage, f"{name}.parquet"))
    shutil.rmtree(tmp)


@pytest.fixture()
def dirs(tmp_path):
    stage = str(tmp_path / "landing")
    os.makedirs(stage)
    return {
        "stage": stage,
        "corpus": str(tmp_path / "corpus"),
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _ids(spark, path, col="doc_id"):
    return sorted(r[col] for r in spark.read.parquet(path).collect())


def test_admit_media_batch_in_batch_dedup(spark, dirs):
    """The fast-tier representative: ONE admit call end to end —
    fingerprint decode, in-batch pigeonhole pairing resolved to the
    component's min id (the CLI-shared convention, round 12), opaque
    media admitted but kept OUT of the store."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, _img(40)), (3, _img(5)),
         (4, bytearray(b"not an image at all"))],
        SCHEMA,
    )
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"])
    assert _ids(spark, dirs["corpus"]) == [1, 2, 4]
    assert _ids(spark, dirs["store"]) == [1, 2]


@pytest.mark.sweep
def test_admit_media_batch_component_resolution(spark, dirs):
    """In-batch pairs resolve through connected components (min id per
    component) — the same survivor convention as the media-dedup CLI
    (round 12, per ADVICE).  Fingerprints are crafted so the pair
    graph is a chain 1—3—2 with NO direct (1,2) edge: the former
    edge-greedy drop (lose every doc_b) would keep {1, 2}; the
    component convention keeps only the min id 1, exactly what
    ``media-dedup --survivors-out`` resolves for the same input."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    fp_a = 0b1111        # 4 flips vs fp_c, all inside band 0
    fp_b = 0b1111 << 8   # 4 flips vs fp_c, all inside band 1
    fp_c = 0             # hamming(a,c)=4, (b,c)=4, (a,b)=8 > 6
    b0 = spark.createDataFrame(
        [(1, _img_fp(fp_a)), (2, _img_fp(fp_b)), (3, _img_fp(fp_c))],
        SCHEMA,
    )
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"])
    assert _ids(spark, dirs["corpus"]) == [1]
    assert _ids(spark, dirs["store"]) == [1]


@pytest.mark.sweep
def test_admit_media_batches_cross_batch_and_replay(spark, dirs):
    """Two direct admit calls + an at-least-once replay: cross-batch
    near-dup dropped vs the store, replay idempotent (own partition
    excluded from the comparison frame)."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, _img(40))], SCHEMA
    )
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"])

    # batch 1: near-dup of doc 1 (tweaked pixels) + a fresh image
    b1 = spark.createDataFrame(
        [(10, _img(5, tweak=9)), (11, _img(77))], SCHEMA
    )
    admit_media_batch(spark, b1, 1, dirs["corpus"], dirs["store"])
    assert _ids(spark, dirs["corpus"]) == [1, 2, 11]
    assert _ids(spark, dirs["store"]) == [1, 2, 11]

    # replay batch 1: own partition excluded from the store frame, so
    # the batch does not delete itself; results unchanged
    admit_media_batch(spark, b1, 1, dirs["corpus"], dirs["store"])
    assert _ids(spark, dirs["corpus"]) == [1, 2, 11]
    assert _ids(spark, dirs["store"]) == [1, 2, 11]


@pytest.mark.sweep
def test_media_store_compaction_then_dedup_vs_base(spark, dirs):
    """append_store.compact folds the per-batch partitions into the -1
    base; a later batch still dedups against the folded fingerprints
    (and a replayed batch relies on the identity guard, not partition
    exclusion, once its rows are in the base)."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    admit_media_batch(
        spark, spark.createDataFrame([(1, _img(5))], SCHEMA),
        0, dirs["corpus"], dirs["store"],
    )
    admit_media_batch(
        spark, spark.createDataFrame([(2, _img(40))], SCHEMA),
        1, dirs["corpus"], dirs["store"],
    )
    assert append_store.compact(spark, dirs["store"]) == 2
    store = spark.read.parquet(dirs["store"])
    assert [r["ingest_batch_id"] for r in
            store.select("ingest_batch_id").distinct().collect()] == [-1]

    # new batch vs the compacted base
    admit_media_batch(
        spark, spark.createDataFrame(
            [(5, _img(5, tweak=9)), (6, _img(90))], SCHEMA
        ),
        2, dirs["corpus"], dirs["store"],
    )
    assert _ids(spark, dirs["corpus"]) == [1, 2, 6]

    # replay batch 2 AFTER its rows were folded by a second compaction:
    # partition exclusion can no longer see them — the doc_new !=
    # doc_old identity guard must keep the batch from dropping itself
    assert append_store.compact(spark, dirs["store"]) == 3
    admit_media_batch(
        spark, spark.createDataFrame(
            [(5, _img(5, tweak=9)), (6, _img(90))], SCHEMA
        ),
        2, dirs["corpus"], dirs["store"],
    )
    assert _ids(spark, dirs["corpus"]) == [1, 2, 6]


@pytest.mark.sweep
def test_media_store_stats_telemetry(spark, dirs):
    """The compaction dial: zeros before the first batch, then one
    occupied partition per admitted batch with the fingerprint total
    (opaque rows contribute none), skew over partition sizes."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
        media_store_stats,
    )

    assert media_store_stats(spark, dirs["store"]) == {
        "n_partitions": 0, "fingerprints": 0, "max_partition": 0,
        "mean_partition": 0.0, "skew_ratio": None,
    }
    admit_media_batch(
        spark, spark.createDataFrame(
            [(1, _img(5)), (2, _img(40)),
             (3, bytearray(b"opaque media"))], SCHEMA
        ),
        0, dirs["corpus"], dirs["store"],
    )
    admit_media_batch(
        spark, spark.createDataFrame([(4, _img(77))], SCHEMA),
        1, dirs["corpus"], dirs["store"],
    )
    got = media_store_stats(spark, dirs["store"])
    assert got == {
        "n_partitions": 2, "fingerprints": 3, "max_partition": 2,
        "mean_partition": 1.5, "skew_ratio": 1.33,
    }


def test_run_media_stream_validates_at_startup(spark, dirs):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    from etl_olho_vivo_spark.streaming.media_stream import run_media_stream

    with pytest.raises(ValueError, match="kind"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], kind="text")
    with pytest.raises(ValueError, match="n_bands"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], max_hamming=8, n_bands=8)
    # gate dials validate at start-up too: wrong-kind dial, unknown
    # dial, non-positive floor
    with pytest.raises(ValueError, match="applies to kind"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], kind="image",
                         gates={"min_duration_s": 1.0})
    with pytest.raises(ValueError, match="unknown media gate"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], gates={"min_pixels": 1})
    with pytest.raises(ValueError, match="positive"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], gates={"min_width": 0})
    with pytest.raises(ValueError, match="bool"):
        run_media_stream(stream, dirs["corpus"], dirs["store"],
                         dirs["ckpt"], gates={"reject_undecodable": 1})


def test_admit_media_batch_quality_gates(spark, dirs):
    """Round-12 pre-store quality gates: a below-floor image and an
    undecodable bomb are rejected BEFORE the pairing and never reach
    the corpus or the fingerprint store; replay stays idempotent."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    small = bytearray(_p5([[10 * c for c in range(8)]] * 8))  # 8x8
    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, small), (3, bytearray(b"junk bytes")),
         (4, _img(40))],
        SCHEMA,
    )
    gates = {"min_width": 16, "reject_undecodable": True}
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"],
                      gates=gates)
    assert _ids(spark, dirs["corpus"]) == [1, 4]
    assert _ids(spark, dirs["store"]) == [1, 4]


@pytest.mark.sweep
def test_admit_media_batch_gates_replay_idempotent(spark, dirs):
    """Replaying a gated batch (per-partition overwrite + deterministic
    gates) reproduces the identical outcome."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    small = bytearray(_p5([[10 * c for c in range(8)]] * 8))
    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, small), (3, bytearray(b"junk bytes")),
         (4, _img(40))],
        SCHEMA,
    )
    gates = {"min_width": 16, "reject_undecodable": True}
    for _ in range(2):
        admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"],
                          gates=gates)
        assert _ids(spark, dirs["corpus"]) == [1, 4]
        assert _ids(spark, dirs["store"]) == [1, 4]


@pytest.mark.sweep
def test_media_gates_dimension_floor_drops_undecodable(spark, dirs):
    """A dimension floor alone (no reject_undecodable) also rejects
    undecodable rows — NULL metadata cannot prove the floor — while
    no gates at all keeps the admit-everything behavior."""
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, bytearray(b"junk bytes"))], SCHEMA
    )
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"],
                      gates={"min_height": 16})
    assert _ids(spark, dirs["corpus"]) == [1]

    corpus2 = dirs["corpus"] + "_nogate"
    store2 = dirs["store"] + "_nogate"
    admit_media_batch(spark, b0, 0, corpus2, store2)
    assert _ids(spark, corpus2) == [1, 2]  # opaque admitted, unstored
    assert _ids(spark, store2) == [1]


@pytest.mark.sweep
@pytest.mark.parametrize("family", ["hamming", "minhash"])
def test_incremental_pairing_broadcasts_batch_not_store(spark, tmp_path, family):
    """The 100 TB contract of the unhinted batch-vs-store join, for both
    pairing families: with a store 2000x the batch, AQE must pick
    broadcast joins (the slim batch side ships) — a SortMergeJoin in
    the final plan would mean the corpus-sized store gets
    shuffled+sorted EVERY micro-batch."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.operators.dedup import (
        hamming_near_dups_incremental,
        incremental_near_duplicates,
    )
    from tests.plan_walk import count_nodes, executed_plan

    # xxhash64 spreads seeds over the full 64-bit space — realistic
    # fingerprint / MinHash entropy so banding produces few collisions
    if family == "hamming":
        cols = {"fp": "xxhash64(seed)"}
    else:
        cols = {
            "sh": "transform(sequence(0, 3), k -> xxhash64(seed, k))",
            "minhash": "transform(sequence(0, 7), k -> xxhash64(seed, k, 1))",
        }

    def frame(ids, seed):
        return ids.select(
            F.col("doc_id"), seed.alias("seed")
        ).select("doc_id", *[F.expr(e).alias(c) for c, e in cols.items()])

    store_path = str(tmp_path / "store")
    store_ids = spark.range(20_000).select(
        (F.col("id") + 1_000_000).alias("doc_id"), "id"
    )
    frame(store_ids, F.col("id")).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    # one batch row copied verbatim from a store row: the pairing must
    # produce at least one surviving pair, or AQE's empty-relation
    # propagation replaces the whole join with EmptyRelation and the
    # strategy assertion below becomes vacuous
    batch_ids = spark.range(10).select(F.col("id").alias("doc_id"), "id")
    batch = frame(
        batch_ids,
        F.when(F.col("id") == 0, F.lit(7).cast("long"))
        .otherwise(F.col("id") + 100_000),
    )
    if family == "hamming":
        out = hamming_near_dups_incremental(
            batch, store, hash_col="fp", bits=64, max_hamming=6, n_bands=8
        )
    else:
        out = incremental_near_duplicates(store=store, new_sig=batch)
    rows = out.collect()  # finalize the adaptive plan
    assert rows, "expected the planted exact copy to survive"
    counts = count_nodes(executed_plan(out))
    assert counts["BroadcastHashJoinExec"] >= 1, counts
    assert counts["SortMergeJoinExec"] == 0, counts


@pytest.mark.sweep
def test_media_stream_end_to_end(spark, dirs):
    """Full readStream → foreachBatch drain across three single-file
    micro-batches, image kind: in-batch dup, cross-batch near-dup, and
    opaque rows all resolve exactly as the direct-call test pins."""
    from etl_olho_vivo_spark.streaming.media_stream import run_media_stream

    _write_batch(spark, dirs["stage"], "b0",
                 [(1, _img(5)), (2, _img(40)), (3, _img(5))])
    _write_batch(spark, dirs["stage"], "b1",
                 [(10, _img(5, tweak=9)), (11, _img(77))])
    _write_batch(spark, dirs["stage"], "b2",
                 [(20, _img(77, tweak=9)), (21, bytearray(b"opaque"))])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_media_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"]
    )
    q.awaitTermination(180)

    assert _ids(spark, dirs["corpus"]) == [1, 2, 11, 21]
    assert _ids(spark, dirs["store"]) == [1, 2, 11]


@pytest.mark.sweep
def test_incremental_media_stats_store_matches_one_shot_card(spark, dirs):
    """The media data card (round 14 — the media sibling of the text
    loop's stats_dir): per-batch (dim, key, docs) partitions computed
    on the admit loop's own decode pass aggregate to EXACTLY the card
    a one-shot decode of the admitted corpus produces, and a replayed
    batch replaces its stats partition (idempotent)."""
    from etl_olho_vivo_spark.operators.datacard import (
        media_card_from_stats_store,
    )
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    stats = dirs["corpus"] + "_stats"
    b0 = spark.createDataFrame(
        [(1, _img(5)), (2, _img(40)), (3, _img(5)),
         (4, bytearray(b"not an image at all"))],
        SCHEMA,
    )
    b1 = spark.createDataFrame(
        [(10, _img(5, tweak=9)), (11, _img(77))], SCHEMA
    )
    for bid, b in enumerate([b0, b1]):
        admit_media_batch(
            spark, b, bid, dirs["corpus"], dirs["store"],
            stats_dir=stats,
        )

    incremental = media_card_from_stats_store(
        spark, stats, "image", corpus_dir=dirs["corpus"]
    )
    one_shot = media_datacard(
        spark.read.parquet(dirs["corpus"]), "image"
    )
    assert incremental == one_shot
    # admitted: 1, 2, 4 (in-batch dup 3 dropped), 11 (10 near-dups 1)
    assert incremental["docs"] == 4
    assert incremental["by"]["decoded"]["true"]["docs"] == 3
    assert incremental["by"]["decoded"]["false"]["docs"] == 1
    # 16x16 images: width/height bucket 4; the opaque row lands on
    # the NULL sentinel, never bucket 0
    from etl_olho_vivo_spark.operators.datacard import NULL_KEY

    assert incremental["by"]["width_bucket"]["4"]["docs"] == 3
    assert incremental["by"]["width_bucket"][NULL_KEY]["docs"] == 1
    assert "partial" not in incremental
    # replay of batch 1: stats partition replaced, card unchanged
    admit_media_batch(
        spark, b1, 1, dirs["corpus"], dirs["store"], stats_dir=stats
    )
    assert media_card_from_stats_store(
        spark, stats, "image", corpus_dir=dirs["corpus"]
    ) == one_shot


@pytest.mark.sweep
def test_media_stats_store_midlife_is_loud(spark, dirs):
    """stats_dir enabled only from batch 1: the card stamps
    partial=true + the missing batch id + the media_stats backfill
    pointer (same coverage check as the text card)."""
    from etl_olho_vivo_spark.operators.datacard import (
        media_card_from_stats_store,
    )
    from etl_olho_vivo_spark.streaming.media_stream import (
        admit_media_batch,
    )

    stats = dirs["corpus"] + "_stats"
    b0 = spark.createDataFrame([(1, _img(5))], SCHEMA)
    b1 = spark.createDataFrame([(11, _img(77))], SCHEMA)
    admit_media_batch(spark, b0, 0, dirs["corpus"], dirs["store"])
    admit_media_batch(
        spark, b1, 1, dirs["corpus"], dirs["store"], stats_dir=stats
    )
    card = media_card_from_stats_store(
        spark, stats, "image", corpus_dir=dirs["corpus"]
    )
    assert card["partial"] is True
    assert card["missing_batch_ids"] == ["0"]
    assert "media_stats" in card["note"]
    assert card["docs"] == 1  # undercount, but loudly stamped


@pytest.mark.sweep
def test_media_stream_cli_emits_datacard(spark, dirs, tmp_path, capsys):
    """media-stream --stats-dir --datacard: the drain maintains the
    incremental stats store and the post-drain card matches the
    admitted corpus exactly."""
    import json as _json

    from etl_olho_vivo_spark.__main__ import main

    _write_batch(spark, dirs["stage"], "b0",
                 [(1, _img(5)), (2, _img(40)), (3, _img(5))])
    _write_batch(spark, dirs["stage"], "b1",
                 [(10, _img(5, tweak=9)), (11, _img(77))])
    card_path = str(tmp_path / "media_card.json")
    rc = main([
        "media-stream", "--in", dirs["stage"],
        "--corpus", dirs["corpus"], "--store", dirs["store"],
        "--checkpoint", dirs["ckpt"], "--kind", "image",
        "--max-files-per-trigger", "1",
        "--stats-dir", str(tmp_path / "stats"),
        "--datacard", card_path,
    ])
    assert rc in (0, None)
    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["datacard"] == card_path
    card = _json.load(open(card_path))
    assert card == media_datacard(
        spark.read.parquet(dirs["corpus"]), "image"
    )
    assert card["docs"] == line["datacard_docs"] == line["corpus_docs"]
    assert card["kind"] == "image"
    assert "partial" not in card
