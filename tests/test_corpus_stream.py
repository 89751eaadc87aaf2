"""Continuous corpus ingestion (streaming/corpus_stream.py): micro-batches
admitted through in-batch + against-store near-dedup, idempotently."""

from __future__ import annotations

import os

import pytest

from tests.store_kinds import KINDS

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "to find some interesting things in the forest near the river"
)
OTHER = (
    "completely different content about databases and distributed "
    "query engines processing large volumes of tabular information"
)
THIRD = (
    "a third unrelated document describing mountain weather patterns "
    "and the seasonal migration of birds across the high passes"
)
FOURTH = (
    "yet another standalone text on the history of cartography and "
    "the slow refinement of map projections over several centuries"
)

SCHEMA = "doc_id long, text string"


def _write_batch(spark, stage: str, name: str, rows):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    tmp = f"{stage}__{name}"
    df.write.mode("overwrite").parquet(tmp)
    import glob
    import shutil

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


@pytest.mark.sweep
def test_three_batch_ingestion_drops_cross_batch_dups(spark, dirs):
    from etl_olho_vivo_spark.streaming.corpus_stream import run_corpus_stream

    # batch 0: two distinct docs + one in-batch exact dup of doc 1
    _write_batch(spark, dirs["stage"], "b0",
                 [(1, BASE), (2, OTHER), (3, BASE)])
    # batch 1: exact dup of doc 1 (cross-batch) + fresh doc
    _write_batch(spark, dirs["stage"], "b1", [(10, BASE), (11, THIRD)])
    # batch 2: near-dup of doc 11 (one word changed) + fresh doc
    near = THIRD.replace("birds", "geese")
    _write_batch(spark, dirs["stage"], "b2", [(20, near), (21, FOURTH)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_corpus_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"], threshold=0.5
    )
    q.awaitTermination(180)

    corpus = spark.read.parquet(dirs["corpus"])
    admitted = sorted(r["doc_id"] for r in corpus.collect())
    # 3 dropped in-batch (dup of 1); 10 dropped vs store (dup of 1);
    # 20 dropped vs store (near-dup of 11)
    assert admitted == [1, 2, 11, 21]
    # the signature store holds exactly the admitted docs' signatures
    store = spark.read.parquet(dirs["store"])
    assert sorted(r["doc_id"] for r in store.select("doc_id").collect()) \
        == [1, 2, 11, 21]
    # per-batch partitions recorded (batches that admit nothing may
    # legally write an empty partition)
    assert corpus.select("ingest_batch_id").distinct().count() >= 2


@pytest.mark.sweep
def test_streaming_decontamination_vs_eval_store(spark, dirs, tmp_path):
    """With --eval-grams, the admit loop also rejects docs sharing an
    n-gram with the benchmark, and keeps their signatures out of the
    store (store mirrors corpus)."""
    from etl_olho_vivo_spark.operators.decontam import (
        write_eval_gram_store,
    )
    from etl_olho_vivo_spark.streaming.corpus_stream import (
        run_corpus_stream,
    )

    ev_dir = str(tmp_path / "eval_grams")
    write_eval_gram_store(
        spark.createDataFrame([(1000, BASE)], SCHEMA), ev_dir, n=5
    )
    # doc 1 leaks a BASE 5-gram mid-text; docs 2/3 are clean
    leak = "surprising report where " + " ".join(BASE.split()[:5]) + " today"
    _write_batch(spark, dirs["stage"], "b0", [(1, leak), (2, OTHER)])
    _write_batch(spark, dirs["stage"], "b1", [(3, THIRD)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_corpus_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
        threshold=0.5, eval_grams_dir=ev_dir,
    )
    q.awaitTermination(180)

    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["corpus"]).collect()
    )
    assert admitted == [2, 3]
    in_store = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["store"])
        .select("doc_id").collect()
    )
    assert in_store == [2, 3]


@pytest.mark.sweep
def test_replayed_batch_is_idempotent(spark, dirs):
    """foreachBatch is at-least-once after failures: re-admitting the
    SAME batch id must leave corpus and store byte-identical, not
    doubled (per-ingest_batch_id partition-directory overwrite)."""
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    batch = spark.createDataFrame([(1, BASE), (2, OTHER)], SCHEMA)
    admit_batch(spark, batch, 0, dirs["corpus"], dirs["store"])
    first = sorted(
        map(tuple, spark.read.parquet(dirs["corpus"]).collect())
    )
    # replay the same batch id — and also prove the replay dedups
    # against the store WITHOUT dropping the batch's own partition rows
    admit_batch(spark, batch, 0, dirs["corpus"], dirs["store"])
    again = sorted(
        map(tuple, spark.read.parquet(dirs["corpus"]).collect())
    )
    assert again == first

    # a LATER batch containing a dup of doc 1 is dropped against store
    batch2 = spark.createDataFrame([(5, BASE), (6, THIRD)], SCHEMA)
    admit_batch(spark, batch2, 1, dirs["corpus"], dirs["store"])
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    )
    assert ids == [1, 2, 6]


@pytest.mark.sweep
def test_zero_caches_after_each_batch(spark, dirs):
    """Every batch's signature caches are released on exit (CacheBag
    context) — a streaming query must not accumulate cache entries."""
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    for i, rows in enumerate([[(1, BASE)], [(2, OTHER)], [(3, THIRD)]]):
        admit_batch(
            spark, spark.createDataFrame(rows, SCHEMA), i,
            dirs["corpus"], dirs["store"],
        )
    assert jmap().size() == before


@pytest.mark.sweep
def test_store_compaction_roundtrip(spark, dirs):
    """append-per-batch store → append_store.compact → compacted store
    with identical signatures, usable as the incremental join's store
    side (and never re-reading corpus text)."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.operators import dedup
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    admit_batch(spark, spark.createDataFrame([(1, BASE)], SCHEMA), 0,
                dirs["corpus"], dirs["store"])
    admit_batch(spark, spark.createDataFrame([(2, OTHER)], SCHEMA), 1,
                dirs["corpus"], dirs["store"])

    def sigs():
        return append_store.read_store(spark, dirs["store"]).select(
            "doc_id", "sh", "minhash"
        )

    appended = sorted(map(tuple, sigs().collect()))
    n = append_store.compact(spark, dirs["store"])
    assert n == 2
    store = sigs()
    assert sorted(map(tuple, store.collect())) == appended
    # the compacted store drives the incremental join
    pairs = dedup.incremental_near_duplicates(
        new_docs=spark.createDataFrame([(9, BASE)], SCHEMA),
        store=store,
        threshold=0.5,
    )
    assert [
        (r["doc_new"], r["doc_old"]) for r in pairs.collect()
    ] == [(9, 1)]


@pytest.mark.sweep
def test_append_store_compaction_in_place(spark, dirs):
    """append_store.compact folds per-batch partitions into the -1 base
    partition IN PLACE; the stream keeps deduping against the same
    store_dir afterwards, and a replay of a post-compaction batch still
    excludes only its own partition (never the base)."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    admit_batch(spark, spark.createDataFrame([(1, BASE)], SCHEMA), 0,
                dirs["corpus"], dirs["store"])
    admit_batch(spark, spark.createDataFrame([(2, OTHER)], SCHEMA), 1,
                dirs["corpus"], dirs["store"])
    assert append_store.compact(spark, dirs["store"]) == 2
    store = spark.read.parquet(dirs["store"])
    assert [r["ingest_batch_id"] for r in
            store.select("ingest_batch_id").distinct().collect()] == [-1]

    # post-compaction batch: dup of doc 1 dropped against the base
    admit_batch(spark, spark.createDataFrame([(5, BASE), (6, THIRD)],
                                             SCHEMA), 2,
                dirs["corpus"], dirs["store"])
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["store"])
        .select("doc_id").collect()
    )
    assert ids == [1, 2, 6]
    # replaying that batch excludes ONLY its own partition — base still
    # drops the dup, and the batch's fresh doc survives
    admit_batch(spark, spark.createDataFrame([(5, BASE), (6, THIRD)],
                                             SCHEMA), 2,
                dirs["corpus"], dirs["store"])
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["store"])
        .select("doc_id").collect()
    )
    assert ids == [1, 2, 6]


@pytest.mark.sweep
def test_replay_that_admits_nothing_clears_prior_partition(spark, dirs):
    """A restart with a changed dedup config can replay a batch that now
    admits ZERO docs; the prior attempt's rows must be replaced, not
    survive (explicit per-partition overwrite, which dynamic partition
    overwrite could not guarantee for an empty output)."""
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    # batch 0 establishes the corpus; batch 1's doc is fresh at the
    # permissive threshold and admitted
    admit_batch(spark, spark.createDataFrame([(1, BASE)], SCHEMA), 0,
                dirs["corpus"], dirs["store"], threshold=0.9)
    near = BASE.replace("fox", "wolf")
    admit_batch(spark, spark.createDataFrame([(10, near)], SCHEMA), 1,
                dirs["corpus"], dirs["store"], threshold=0.9)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    ) == [1, 10]
    # replay batch 1 under a stricter threshold: doc 10 is now a store
    # near-dup → zero admits, and its earlier rows must disappear
    admit_batch(spark, spark.createDataFrame([(10, near)], SCHEMA), 1,
                dirs["corpus"], dirs["store"], threshold=0.2)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    ) == [1]
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["store"]).select("doc_id").collect()
    ) == [1]


@pytest.mark.sweep
@pytest.mark.parametrize("kind", KINDS)
def test_compaction_ignores_session_dynamic_overwrite_mode(spark, dirs, kind):
    """append_store.compact must fully replace the store even when the
    SESSION default partitionOverwriteMode is dynamic — otherwise only
    the -1 partition is rewritten and every per-batch partition
    survives, duplicating all signatures on each compaction.  Run over
    both admit loops' stores (signature and fingerprint)."""
    from etl_olho_vivo_spark.io import append_store
    from tests.store_kinds import admit, payloads

    base, other = payloads(kind)[:2]
    admit(spark, kind, [(1, base)], 0, dirs["corpus"], dirs["store"])
    admit(spark, kind, [(2, other)], 1, dirs["corpus"], dirs["store"])
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        assert append_store.compact(spark, dirs["store"]) == 2
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    store = spark.read.parquet(dirs["store"])
    assert store.count() == 2
    assert [r["ingest_batch_id"] for r in
            store.select("ingest_batch_id").distinct().collect()] == [-1]


@pytest.mark.sweep
def test_replay_of_compacted_batch_keeps_it_complete(spark, dirs):
    """The doc-loss scenario: a batch's signatures get folded into the
    compacted base, THEN the batch replays (at-least-once after a
    crash).  Partition exclusion can no longer hide its own prior write
    — the doc_new != doc_old identity guard must keep every doc, or the
    replay would self-match at jaccard 1.0 and rewrite the corpus
    partition as a subset (permanent loss)."""
    from etl_olho_vivo_spark.io import append_store
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    batch = spark.createDataFrame([(1, BASE), (2, OTHER)], SCHEMA)
    admit_batch(spark, batch, 0, dirs["corpus"], dirs["store"])
    assert append_store.compact(spark, dirs["store"]) == 2
    admit_batch(spark, batch, 0, dirs["corpus"], dirs["store"])
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    )
    assert ids == [1, 2]


@pytest.mark.sweep
def test_streaming_per_row_gates(spark, dirs):
    """The gates param applies the batch pipeline's per-row quality
    gates BEFORE signatures: a gated-out doc reaches neither the corpus
    nor the signature store (the store must mirror the admitted
    corpus), and gating happens before dedup so a near-dup of a
    gated-out doc is still admitted on its own merits."""
    from etl_olho_vivo_spark.streaming.corpus_stream import (
        run_corpus_stream,
    )

    short = "too short"
    # batch 0: one real doc + one too-short doc
    _write_batch(spark, dirs["stage"], "b0", [(1, BASE), (2, short)])
    # batch 1: near-dup of the SHORT doc (would be dropped as its
    # near-dup if 2 had entered the store) + fresh doc
    _write_batch(
        spark, dirs["stage"], "b1", [(10, short + " indeed"), (11, OTHER)]
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_corpus_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
        threshold=0.5, gates={"min_tokens": 5},
    )
    q.awaitTermination(180)
    corpus = spark.read.parquet(dirs["corpus"])
    admitted = sorted(r["doc_id"] for r in corpus.collect())
    # 2 gated out (2 tokens); 10 gated out too (3 tokens); 1, 11 admitted
    assert admitted == [1, 11]
    store = spark.read.parquet(dirs["store"])
    assert sorted(r["doc_id"] for r in store.select("doc_id").collect()) \
        == [1, 11]
    # unknown gate keys fail at start-up, not inside foreachBatch
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown gate"):
        run_corpus_stream(
            stream, dirs["corpus"], dirs["store"], dirs["ckpt"] + "2",
            gates={"min_tokns": 5},
        )


@pytest.mark.sweep
def test_snapshot_filter_rejects_previous_crawl_docs(spark, dirs, tmp_path):
    """Inter-snapshot dedup in the stream: a batch doc fully covered by
    the previous crawl's Bloom filter (overlap 1.0 — no false
    negatives) is rejected BEFORE the signature pass, so it reaches
    neither the corpus nor the signature store; unrelated docs admit
    normally and within-stream dedup still works on top."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import bloom, dedup
    from etl_olho_vivo_spark.streaming.corpus_stream import run_corpus_stream

    # previous crawl = BASE; persist its gram filter
    prev = spark.createDataFrame([(100, BASE)], SCHEMA)
    bag = CacheBag()
    sh = bag.add(dedup.with_shingles(prev).select("sh"))
    keys = sh.select(F.explode("sh").alias("gh")).distinct()
    m, k = bloom.bloom_parameters(keys.count(), 0.01)
    bloom.write_bloom_filter(
        bloom.build_bloom_filter(keys, "gh", m, k),
        str(tmp_path / "snap"), m, k,
    )
    bag.release()

    # batch 0: a doc the previous crawl already covers + a fresh doc;
    # batch 1: an exact dup of the fresh doc (within-stream dedup)
    _write_batch(spark, dirs["stage"], "b0", [(1, BASE), (2, OTHER)])
    _write_batch(spark, dirs["stage"], "b1", [(10, OTHER), (11, THIRD)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_corpus_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
        threshold=0.5,
        snapshot_filter_dir=str(tmp_path / "snap"),
        snapshot_overlap=0.9,
    )
    q.awaitTermination(180)

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    )
    assert admitted == [2, 11]  # 1 vs snapshot; 10 vs store
    in_store = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["store"]).select("doc_id").collect()
    )
    assert in_store == [2, 11]  # the rejected doc's signature never lands

    with pytest.raises(ValueError, match="snapshot_overlap"):
        run_corpus_stream(
            stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
            snapshot_filter_dir=str(tmp_path / "snap"),
            snapshot_overlap=1.5,
        )


# Bridge structure for the resolution-dial tests (round 13): doc 3 is
# near BOTH doc 1 and doc 2 (two words changed each), but 1 and 2 are
# not near each other (four words apart) — at threshold 0.4 the pair
# graph is exactly {(1,3), (2,3)} (probed empirically; minhash seeds
# are fixed, so detection is deterministic).  greedy drops only the
# bridge (doc_b = 3 in both pairs) => survivors {1, 2}; components
# folds all three into one cluster, keep min id => survivor {1}.  The
# two conventions genuinely DIFFER on this input, so agreement with the
# batch pipeline is a discriminating check, not a vacuous one.
def _bridge_rows():
    w = THIRD.split()
    v1 = list(w)
    v1[3], v1[8] = "ancient", "shifting"
    v2 = list(w)
    v2[13], v2[17] = "wandering", "frozen"
    return [(1, " ".join(v1)), (2, " ".join(v2)), (3, THIRD), (4, FOURTH)]


@pytest.mark.sweep
@pytest.mark.parametrize(
    "resolution,want",
    [("greedy", [1, 2, 4]), ("components", [1, 4])],
)
def test_in_batch_resolution_matches_batch_pipeline(
    spark, dirs, tmp_path, resolution, want
):
    """Round 13 (r12 verdict "Next round" #4): for identical input
    presented as ONE batch, the stream's in-batch survivor set must
    equal the batch pipeline's near-dup survivor set under the SAME
    ``dedup_resolution`` — the convention unification the media loop
    got in round 12, now for text."""
    import etl_olho_vivo_spark.plans.corpus as corpus_mod
    from pyspark.sql import functions as F
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    rows = _bridge_rows()

    # stream side: one micro-batch, no store, no gates
    batch = spark.createDataFrame(rows, SCHEMA)
    admit_batch(
        spark, batch, 0, dirs["corpus"], dirs["store"],
        threshold=0.4, dedup_resolution=resolution,
    )
    got_stream = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    )

    # batch side: the full pipeline over the same docs (permissive
    # gates so only the near-dup stage can drop anything)
    df = spark.createDataFrame(
        [(i, t, "en", "web") for i, t in rows],
        ["doc_id", "text", "lang", "source"],
    ).withColumn("n_chars", F.length("text"))
    orig = corpus_mod.read_table
    corpus_mod.read_table = lambda _s, _d, _n: df
    try:
        corpus_mod.run_corpus(
            spark,
            sf_dir="unused",
            out_dir=str(tmp_path / f"batch_{resolution}"),
            keep_langs=("en", "de", "es", "fr", "unknown"),
            min_tokens=3,
            min_quality=0.0,
            jaccard_threshold=0.4,
            dedup_resolution=resolution,
        )
    finally:
        corpus_mod.read_table = orig
    got_batch = sorted(
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / f"batch_{resolution}")
        ).select("doc_id").collect()
    )

    assert got_stream == got_batch == want


def test_stream_rejects_keep_best_resolution(spark, dirs):
    """keep_best is batch-only (the stream's admitted-first contract
    overrides quality across batches) — both entry points must fail
    loudly, at start-up, with the reason in the message."""
    from etl_olho_vivo_spark.streaming.corpus_stream import (
        admit_batch,
        run_corpus_stream,
    )

    batch = spark.createDataFrame([(1, BASE)], SCHEMA)
    with pytest.raises(ValueError, match="admitted-first"):
        admit_batch(
            spark, batch, 0, dirs["corpus"], dirs["store"],
            dedup_resolution="keep_best",
        )
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="admitted-first"):
        run_corpus_stream(
            stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
            dedup_resolution="keep_best",
        )
    with pytest.raises(ValueError, match="greedy|components"):
        admit_batch(
            spark, batch, 0, dirs["corpus"], dirs["store"],
            dedup_resolution="typo",
        )


@pytest.mark.sweep
def test_multi_batch_ingestion_with_components_resolution(spark, dirs):
    """The components dial through the FULL stream machinery across
    three micro-batches: batch 0 exercises the real resolution path
    (one in-batch pair -> connected-components min-id), batches 1-2
    exercise the empty-pair fast path (no in-batch pair; drops come
    from the store join), and the final corpus matches the greedy
    run's for this input (a single pairwise dup resolves identically
    under both conventions — the cross-batch drops are the store's
    job either way)."""
    from etl_olho_vivo_spark.streaming.corpus_stream import run_corpus_stream

    _write_batch(spark, dirs["stage"], "b0",
                 [(1, BASE), (2, OTHER), (3, BASE)])
    _write_batch(spark, dirs["stage"], "b1", [(10, BASE), (11, THIRD)])
    near = THIRD.replace("birds", "geese")
    _write_batch(spark, dirs["stage"], "b2", [(20, near), (21, FOURTH)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["stage"])
    )
    q = run_corpus_stream(
        stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
        threshold=0.5, dedup_resolution="components",
    )
    q.awaitTermination(180)

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["corpus"]).collect()
    )
    assert admitted == [1, 2, 11, 21]
    store = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["store"]).select("doc_id").collect()
    )
    assert store == [1, 2, 11, 21]


@pytest.mark.sweep
def test_incremental_stats_store_matches_one_shot_card(spark, dirs, tmp_path):
    """The per-batch stats store (admit_batch stats_dir=...) aggregates
    to EXACTLY the card a one-shot scan of the admitted corpus
    produces — counts are sums of disjoint batch sums, and the card
    emission never touches corpus text."""
    from etl_olho_vivo_spark.operators.datacard import (
        card_from_stats_store,
        datacard,
    )
    from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

    stats = str(tmp_path / "stats")
    schema = "doc_id long, text string, lang string"
    b0 = spark.createDataFrame(
        [(1, BASE, "en"), (2, OTHER, "en"), (3, BASE, "en")], schema
    )  # 3 drops in-batch
    b1 = spark.createDataFrame(
        [(10, BASE, "en"), (11, THIRD, "de")], schema
    )  # 10 drops vs store
    for bid, b in enumerate([b0, b1]):
        admit_batch(
            spark, b, bid, dirs["corpus"], dirs["store"],
            threshold=0.5, stats_dir=stats, stats_dims=("lang",),
        )

    incremental = card_from_stats_store(spark, stats)
    one_shot = datacard(
        spark.read.parquet(dirs["corpus"]), dims=("lang",)
    )
    assert incremental == one_shot
    assert incremental["docs"] == 3  # 1, 2, 11
    assert incremental["by"]["lang"]["de"]["docs"] == 1
    # a replay of batch 1 replaces its own stats partition, not appends
    admit_batch(
        spark, b1, 1, dirs["corpus"], dirs["store"],
        threshold=0.5, stats_dir=stats, stats_dims=("lang",),
    )
    assert card_from_stats_store(spark, stats) == one_shot


def test_stats_dims_validated_at_startup(spark, dirs, tmp_path):
    from etl_olho_vivo_spark.streaming.corpus_stream import run_corpus_stream

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="stats_dims requires"):
        run_corpus_stream(
            stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
            stats_dims=("lang",),
        )
    with pytest.raises(ValueError, match="not in the stream schema"):
        run_corpus_stream(
            stream, dirs["corpus"], dirs["store"], dirs["ckpt"],
            stats_dir=str(tmp_path / "stats"), stats_dims=("lang",),
        )


@pytest.mark.sweep
def test_corpus_stream_cli_emits_datacard(spark, dirs, tmp_path, capsys):
    """corpus-stream --stats-dir --datacard: the drain maintains the
    incremental stats store and the post-drain card matches the
    admitted corpus exactly."""
    import json as _json

    from etl_olho_vivo_spark.__main__ import main

    _write_batch(spark, dirs["stage"], "b0",
                 [(1, BASE), (2, OTHER), (3, BASE)])
    _write_batch(spark, dirs["stage"], "b1", [(10, BASE), (11, THIRD)])
    card_path = str(tmp_path / "card.json")
    rc = main([
        "corpus-stream", "--in", dirs["stage"],
        "--corpus", dirs["corpus"], "--store", dirs["store"],
        "--checkpoint", dirs["ckpt"],
        "--max-files-per-trigger", "1",
        "--stats-dir", str(tmp_path / "stats"),
        "--datacard", card_path,
    ])
    assert rc in (0, None)
    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["datacard"] == card_path
    card = _json.load(open(card_path))
    back = spark.read.parquet(dirs["corpus"])
    assert card["docs"] == back.count() == line["corpus_docs"]
    assert card["tokens"] == line["datacard_tokens"] > 0
    assert card["by"] == {}  # no dims configured
    assert sum(card["len_log2_histogram"].values()) == card["docs"]


@pytest.mark.sweep
def test_stream_datacard_fresh_stats_dir_no_op_drain(
    spark, dirs, tmp_path, capsys
):
    """--stats-dir newly configured + a drain that processes ZERO
    micro-batches (input already checkpointed): the stats store never
    materializes while the corpus is non-empty.  The CLI must finish
    cleanly with an empty card stamped partial=true — r13 shipped a
    PATH_NOT_FOUND crash here (round-14 advisor finding)."""
    import json as _json

    from etl_olho_vivo_spark.__main__ import main

    _write_batch(spark, dirs["stage"], "b0", [(1, BASE), (2, OTHER)])
    rc = main([
        "corpus-stream", "--in", dirs["stage"],
        "--corpus", dirs["corpus"], "--store", dirs["store"],
        "--checkpoint", dirs["ckpt"],
    ])
    assert rc in (0, None)
    capsys.readouterr()

    card_path = str(tmp_path / "late_card.json")
    rc = main([
        "corpus-stream", "--in", dirs["stage"],
        "--corpus", dirs["corpus"], "--store", dirs["store"],
        "--checkpoint", dirs["ckpt"],
        "--stats-dir", str(tmp_path / "late_stats"),
        "--datacard", card_path,
    ])
    assert rc in (0, None)
    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["corpus_docs"] > 0
    card = _json.load(open(card_path))
    assert card["docs"] == 0
    assert card.get("partial") is True
