"""The operational CLI (python -m etl_olho_vivo_spark) — the reference's
three scheduled scripts as subcommands over the composed plans."""

from __future__ import annotations

import json

import pytest

from etl_olho_vivo_spark.__main__ import main
from etl_olho_vivo_spark.caching import SESSION_BAG


@pytest.mark.sweep
def test_ingest_then_daily_roundtrip(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "etl")
    assert main(["--cpus", "8", "ingest", "--out", raw, "--polls", "3",
                 "--lines", "4", "--vehicles", "5"]) == 0
    ing = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ing == {"command": "ingest", "polls": 3}

    assert main(["--cpus", "8", "daily", "--raw", raw, "--out", out]) == 0
    day = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day["command"] == "daily"
    # the raw zone layout is the reference's hour-partitioned key scheme
    assert list((tmp_path / "raw").glob("year=*/month=*/day=*/hour=*"))
    # the fact parquet holds every flattened ping (3 polls x 4 x 5)
    fact = spark.read.parquet(f"{out}/posicoes")
    assert fact.count() == 60
    # offline fake vehicles teleport between polls, so the speed-capped
    # derived datasets are legitimately empty (documented in __main__);
    # the sinks must still exist with the reference's headers
    slow = spark.read.option("header", True).csv(f"{out}/lentidao")
    assert "velocidade_media" in slow.columns
    assert day["lentidao"] == slow.count()


@pytest.mark.sweep
def test_daily_date_partition_pruning(spark, tmp_path, capsys):
    """--date selects one hive day partition by PATH (the reference's
    'yesterday' batch) — present day processes, absent day fails loudly
    instead of silently scanning nothing."""
    raw = str(tmp_path / "raw")
    main(["--cpus", "8", "ingest", "--out", raw, "--polls", "2",
          "--lines", "3", "--vehicles", "4"])
    capsys.readouterr()
    out = str(tmp_path / "etl")
    # offline fetcher t0 is 2024-01-01T00:00:00Z
    assert main(["--cpus", "8", "daily", "--raw", raw, "--out", out,
                 "--date", "2024-01-01"]) == 0
    day = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day["date"] == "2024-01-01"
    assert spark.read.parquet(f"{out}/posicoes").count() == 24

    import pytest

    # absent (never-landed) day: clean one-line message, not a traceback
    with pytest.raises(SystemExit, match="no raw data for 1999-12-31"):
        main(["--cpus", "8", "daily", "--raw", raw,
              "--out", str(tmp_path / "etl2"), "--date", "1999-12-31"])
    # malformed dates die at the contract, before any Spark work
    for bad in ("2024-1-1x", "20240101", "not-a-date"):
        with pytest.raises(SystemExit, match="YYYY-MM-DD"):
            main(["--cpus", "8", "daily", "--raw", raw,
                  "--out", str(tmp_path / "etl3"), "--date", bad])


@pytest.mark.sweep
def test_corpus_subcommand(tmp_path, capsys):
    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "3", "--jaccard-threshold", "0.5",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["command"] == "corpus"
    assert stats["input"] >= stats["lang_and_length"] >= stats["quality"] > 0


@pytest.mark.sweep
def test_corpus_drop_spans_stage(spark, tmp_path, capsys):
    """--drop-spans rewrites text before profiling (repeated k-gram
    spans cut corpus-wide, keep-first) and the pipeline still composes;
    the stage's exact semantics are pinned by tests/test_span_dedup.py
    and the repeated_span_dedup oracle — here we prove the CLI wiring
    actually ran it (surviving text strictly shrank)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "1",
        "--drop-spans", "keep_first", "--span-k", "3",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["command"] == "corpus" and stats["quality"] > 0
    corpus = spark.read.parquet(out)
    kept_chars = corpus.agg(
        F.sum(F.length("text")).alias("c")
    ).first()["c"]
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw_chars = (
        raw.join(corpus.select("doc_id"), "doc_id")
        .agg(F.sum(F.length("text")).alias("c"))
        .first()["c"]
    )
    # same surviving docs, strictly less text — the span cut happened
    assert 0 < kept_chars < raw_chars


@pytest.mark.sweep
def test_corpus_lm_gate(spark, tmp_path, capsys):
    """--lm-max-entropy gates on bigram cross-entropy: a huge threshold
    keeps every quality survivor, a tiny one keeps none, and --lm-ref
    scores against an external reference corpus."""
    out = str(tmp_path / "corpus")
    base = ["--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", out, "--min-tokens", "3"]
    assert main(base + ["--lm-max-entropy", "1e9"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["lm_filter"] == stats["quality"] > 0
    assert main(base + ["--lm-max-entropy", "0.0"]) == 0
    stats0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats0["lm_filter"] == 0
    # docs with < 2 tokens carry no entropy evidence and PASS: the gate
    # must never silently delete them under --min-tokens 1
    short_in = str(tmp_path / "short")
    spark.createDataFrame(
        [(1, "the", "en", "web", 3)],  # 1 token ("the" lang-guesses en)
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(short_in + "/documents.parquet")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", short_in,
        "--out", str(tmp_path / "c2"), "--min-tokens", "1",
        "--lm-max-entropy", "0.0",
    ]) == 0
    stats1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats1["lm_filter"] == 1
    # external reference: gibberish reference makes real docs score high;
    # --lm-order 3 exercises the order-n path end-to-end through the CLI
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [("zzz qqq www rrr ttt yyy",)], "text string"
    ).write.parquet(ref)
    assert main(base + ["--lm-max-entropy", "1e9", "--lm-ref", ref,
                        "--lm-order", "3"]) == 0
    statsr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert statsr["lm_filter"] == statsr["quality"]
    # invalid order dies before any work (validate-before-work rule)
    with pytest.raises(ValueError, match="lm_order"):
        main(base + ["--lm-max-entropy", "1e9", "--lm-order", "1"])


@pytest.mark.sweep
def test_corpus_lm_gate_backoff_scheme(spark, tmp_path, capsys):
    """--lm-scheme backoff swaps the gate's scorer for stupid backoff
    (Brants et al. 2007): a huge threshold keeps every quality
    survivor; a threshold BELOW ZERO drops every scorable doc (sb_score
    = -(1/m) Σ ln S is >= 0, and 0 exactly for perfectly-predicted
    text — which self-training makes reachable, so -1 is the
    drop-everything probe where addk uses 0); an external gibberish
    reference sends every real doc to the OOV leaf and the order-3
    path still gates end-to-end."""
    out = str(tmp_path / "corpus")
    base = ["--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", out, "--min-tokens", "3",
            "--lm-scheme", "backoff", "--lm-order", "3"]
    assert main(base + ["--lm-max-entropy", "1e9"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["lm_filter"] == stats["quality"] > 0
    assert main(base + ["--lm-max-entropy", "-1.0"]) == 0
    stats0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats0["lm_filter"] == 0
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [("zzz qqq www rrr ttt yyy",)], "text string"
    ).write.parquet(ref)
    assert main(base + ["--lm-max-entropy", "1e9", "--lm-ref", ref]) == 0
    statsr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert statsr["lm_filter"] == statsr["quality"]
    with pytest.raises(ValueError, match="lm_scheme"):
        from etl_olho_vivo_spark.plans.corpus import run_corpus

        run_corpus(spark, "/root/testdata/sf0.001", out,
                   lm_max_entropy=1.0, lm_scheme="kneser-ney")


@pytest.mark.sweep
def test_corpus_bpe_tokenize_stage(spark, tmp_path, capsys):
    """--bpe-tokenize trains on the surviving corpus, tokenizes it with
    the mapInPandas path, and ships the merge list AND id vocabulary
    beside the data; the written tokens must equal the ≤512-merge
    expression path re-applied from the persisted sidecar
    (train→persist→apply closes consistently), and the written ids
    must decode through the persisted vocabulary back to the written
    tokens (ids without their vocabulary are opaque — the decode
    round-trip proves the two sidecars and the data agree)."""
    from pyspark.sql import functions as F

    from tests.references import bpe_segment_expr

    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "3", "--bpe-tokenize", "40",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["bpe_merges"] <= 40
    side = spark.read.parquet(out + "_bpe_merges").orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in side]
    assert len(merges) == stats["bpe_merges"]
    vocab_rows = spark.read.parquet(out + "_bpe_vocab").orderBy("id").collect()
    vocab = [r["token"] for r in vocab_rows]
    assert [r["id"] for r in vocab_rows] == list(range(len(vocab)))
    assert stats["bpe_vocab"] == len(vocab)
    # merged tokens appear in the vocabulary exactly once each
    assert vocab[-len(merges):] == [a + b for a, b in merges]
    corpus = spark.read.parquet(out)
    assert corpus.filter(F.col("bpe_tokens").isNull()).count() == 0
    mismatches = corpus.withColumn(
        "expected", bpe_segment_expr(merges)
    ).filter(F.col("bpe_tokens") != F.col("expected")).count()
    assert mismatches == 0
    # ids ↔ tokens round-trip under the persisted vocabulary: no id is
    # out-of-vocabulary, and decoding reproduces the token stream
    decoded = corpus.withColumn(
        "decoded",
        F.array_join(
            F.transform(
                "bpe_ids",
                lambda i: F.element_at(
                    F.lit(vocab), i + F.lit(1)  # element_at is 1-based
                ),
            ),
            " ",
        ),
    )
    assert decoded.filter(F.array_contains("bpe_ids", -1)).count() == 0
    assert decoded.filter(
        F.col("decoded") != F.col("bpe_tokens")
    ).count() == 0


@pytest.mark.sweep
def test_corpus_split_and_shuffled_export(spark, tmp_path, capsys):
    """--splits stamps a deterministic split column; --shuffle-shards
    turns the JSONL export into seeded decorrelated shards."""
    out = str(tmp_path / "corpus")
    jsonl = str(tmp_path / "shards")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "3",
        "--splits", "train=0.8,val=0.2", "--split-seed", "7",
        "--jsonl-out", jsonl, "--shuffle-shards", "4",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["split_train"] + stats["split_val"] == stats["quality"]
    corpus = spark.read.parquet(out)
    assert set(
        r["split"] for r in corpus.select("split").distinct().collect()
    ) <= {"train", "val"}
    # the export holds every surviving doc exactly once, partitioned by
    # (split, shard): a shard FILE can never mix train/val rows — the
    # split is a directory level above the shards
    shards = spark.read.json(jsonl)
    assert shards.count() == stats["quality"]
    assert "shard" in shards.columns and "split" in shards.columns
    assert 1 < shards.select("shard").distinct().count() <= 4
    import os

    top_dirs = {
        d for d in os.listdir(jsonl) if not d.startswith(("_", "."))
    }
    assert top_dirs <= {"split=train", "split=val"} and top_dirs


@pytest.mark.sweep
def test_corpus_mixture_flag(spark, tmp_path, capsys):
    """--mix reweights the written corpus to the target token mixture:
    unlisted source domains vanish, listed ones survive in proportion."""
    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "3",
        "--mix", "src0=0.5,src1=0.5",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["mixture"] <= stats["quality"]
    srcs = {
        r["source"]
        for r in spark.read.parquet(out).select("source").distinct().collect()
    }
    assert srcs <= {"src0", "src1"} and srcs
    import pytest

    with pytest.raises(SystemExit, match="--mix"):
        main([
            "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "c2"), "--mix", "src0:1",
        ])


@pytest.mark.sweep
def test_corpus_batch_decontamination(spark, tmp_path, capsys):
    """corpus --eval-grams runs the same benchmark probe as the
    streaming admit loop: a doc whose text IS the benchmark must vanish
    from the written corpus."""
    from pyspark.sql import functions as F

    out1 = str(tmp_path / "c1")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out1, "--min-tokens", "3",
    ]) == 0
    capsys.readouterr()
    victim = (
        spark.read.parquet(out1)
        .filter(F.col("n_tokens") >= 5)
        .select("doc_id", "text")
        .first()
    )
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(9999, victim["text"])], "doc_id long, text string"
    ).write.parquet(bench_dir)
    grams = str(tmp_path / "grams")
    assert main([
        "--cpus", "8", "eval-index", "--in", bench_dir, "--out", grams,
    ]) == 0
    capsys.readouterr()
    out2 = str(tmp_path / "c2")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out2, "--min-tokens", "3", "--eval-grams", grams,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["decontaminated"] < stats["quality"]
    survivors = {
        r["doc_id"]
        for r in spark.read.parquet(out2).select("doc_id").collect()
    }
    assert victim["doc_id"] not in survivors


@pytest.mark.sweep
def test_ann_build_append_query(spark, tmp_path, capsys):
    """ann-build → ann-build --append → ann-query end-to-end: the CLI
    serves nearest neighbors from the persisted partition-pruned index."""
    import pytest
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    half_a = str(tmp_path / "a")
    half_b = str(tmp_path / "b")
    emb.filter(F.col("vec_id") < 25).write.parquet(half_a)
    emb.filter(F.col("vec_id") >= 25).write.parquet(half_b)
    idx = str(tmp_path / "index")
    assert main([
        "--cpus", "8", "ann-build", "--in", half_a, "--index", idx,
        "--cells", "4", "--seeded",
    ]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (built["command"], built["vectors"], built["appended"]) == (
        "ann-build", 25, False,
    )
    # occupancy telemetry rides every ann-build artifact
    cs = built["cell_stats"]
    assert cs["n_cells_occupied"] >= 1 and cs["max_cell"] <= 25
    assert cs["skew_ratio"] >= 1.0
    assert main([
        "--cpus", "8", "ann-build", "--in", half_b, "--index", idx,
        "--append", "--compact",
    ]) == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["vectors"] == emb.count() and appended["appended"]
    assert appended["compacted"] == emb.count()

    qvec = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    vec_arg = ",".join(str(x) for x in qvec)
    assert main([
        "--cpus", "8", "ann-query", "--index", idx, "--vector", vec_arg,
        "--k", "5", "--probe", "2",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["hits"]) == 5
    # the query vector itself lives in the index — with its own cell
    # probed it must be its own nearest neighbor
    assert out["hits"][0]["vec_id"] == 7
    with pytest.raises(SystemExit, match="--vector"):
        main(["ann-query", "--index", idx, "--vector", "not,floats,x"])

    # post-compaction default append: the derived batch id must clear
    # the compaction watermark (max over cells reads -1 after the fold;
    # a naive max+1 default would be silently skipped as a "replay")
    assert main([
        "--cpus", "8", "ann-build", "--in", half_a, "--index", idx,
        "--append",
    ]) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["batch_id"] == 1  # watermark 0 + 1, not max(-1) + 1
    assert again["vectors"] == emb.count() + 25
    # an explicit folded id is a LOUD failure, not silent success
    assert main([
        "--cpus", "8", "ann-build", "--in", half_a, "--index", idx,
        "--append", "--batch-id", "0",
    ]) == 1
    skipped = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert skipped["written"] is False and "watermark" in skipped["error"]


def test_corpus_rejects_zero_shuffle_shards(tmp_path):
    import pytest

    # 0 must be rejected PRE-FLIGHT (before the pipeline runs), not
    # silently fall back to the per-language export layout and not die
    # in global_shuffle after hours of dedup
    with pytest.raises(SystemExit, match="shuffle-shards"):
        main([
            "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "c"), "--min-tokens", "3",
            "--jsonl-out", str(tmp_path / "j"), "--shuffle-shards", "0",
        ])


@pytest.mark.sweep
def test_corpus_gopher_gate_and_source_cap(spark, tmp_path, capsys):
    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
        "--out", out, "--min-tokens", "3", "--gopher",
        "--max-per-source", "2",
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < stats["gopher"] <= stats["quality"]
    assert 0 < stats["source_cap"] <= stats["gopher"]
    per_source = (
        spark.read.parquet(out).groupBy("source").count().collect()
    )
    assert per_source and all(r["count"] <= 2 for r in per_source)


@pytest.mark.sweep
def test_eval_index_then_decontaminated_stream(spark, tmp_path, capsys):
    """eval-index builds the gram store; corpus-stream --eval-grams
    rejects the leaking doc end-to-end from the CLI."""
    import os

    bench = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to find some interesting things in the forest near the river"
    )
    clean = (
        "completely different content about databases and distributed "
        "query engines processing large volumes of tabular information"
    )
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(1000, bench)], "doc_id long, text string"
    ).write.parquet(bench_dir)
    grams = str(tmp_path / "grams")
    assert main([
        "--cpus", "8", "eval-index", "--in", bench_dir, "--out", grams,
    ]) == 0
    idx = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert idx["command"] == "eval-index" and idx["grams"] > 0

    landing = tmp_path / "landing"
    os.makedirs(landing)
    leak = "breaking story " + " ".join(bench.split()[:5]) + " tonight"
    df = spark.createDataFrame(
        [(1, leak), (2, clean)], "doc_id long, text string"
    ).coalesce(1)
    df.write.parquet(str(landing / "b0"), mode="overwrite")
    corpus = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus-stream", "--in", str(landing / "b0"),
        "--corpus", corpus, "--store", str(tmp_path / "store"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--eval-grams", grams,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["corpus_docs"] == 1
    assert [
        r["doc_id"]
        for r in spark.read.parquet(corpus).select("doc_id").collect()
    ] == [2]


def test_corpus_rejects_malformed_splits(tmp_path):
    import pytest

    with pytest.raises(SystemExit, match="--splits"):
        main([
            "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "c"), "--splits", "train:0.9",
        ])


@pytest.mark.sweep
def test_corpus_stream_subcommand(spark, tmp_path, capsys):
    """Two-file landing zone drained as two micro-batches, then the
    --compact flag folds the store — the continuous-operation surface an
    operator schedules, end-to-end from the CLI."""
    import os

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to find some interesting things in the forest near the river"
    )
    other = (
        "completely different content about databases and distributed "
        "query engines processing large volumes of tabular information"
    )
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for name, rows in (
        ("b0", [(1, base), (2, other)]),
        # cross-batch near-dup of doc 1 (one word changed) + its exact dup
        ("b1", [(10, base.replace("fox", "wolf")), (11, base)]),
    ):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        (part,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.move(part, str(landing / f"{name}.parquet"))
        shutil.rmtree(tmp)

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    assert main([
        "--cpus", "8", "corpus-stream", "--in", str(landing),
        "--corpus", corpus, "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--max-files-per-trigger", "1", "--compact",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # docs 10 and 11 are near/exact dups of the batch-0 corpus → dropped
    assert out["command"] == "corpus-stream"
    assert out["corpus_docs"] == 2
    assert out["store_signatures_compacted"] == 2
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(corpus).select("doc_id").collect()
    ) == [1, 2]
    # compaction folded every per-batch partition into the -1 base
    sig = spark.read.parquet(store)
    assert [
        r["ingest_batch_id"]
        for r in sig.select("ingest_batch_id").distinct().collect()
    ] == [-1]
    # a start-up config error from run_corpus_stream exits 2, the same
    # rule media-stream follows, not a traceback
    with pytest.raises(SystemExit, match="stats_dims requires stats_dir"):
        main([
            "--cpus", "8", "corpus-stream", "--in", str(landing),
            "--corpus", corpus, "--store", store,
            "--checkpoint", str(tmp_path / "ckpt_dims"),
            "--stats-dims", "lang",
        ])


def test_gate_flags_translate_once():
    """corpus and corpus-stream parse the same gate flags into the same
    keyword arguments, each one a parameter of both entry points."""
    import inspect

    from etl_olho_vivo_spark.__main__ import _build_parser, _gate_kwargs
    from etl_olho_vivo_spark.plans.corpus import run_corpus
    from etl_olho_vivo_spark.streaming.corpus_stream import (
        run_corpus_stream,
    )

    gates = [
        "--c4", "--gopher", "--quality-model", "q.json",
        "--quality-min-score", "0.7", "--snapshot-filter", "bloom",
        "--snapshot-overlap", "0.3", "--eval-grams", "grams",
        "--eval-ngram", "7",
    ]
    parser = _build_parser()
    batch = parser.parse_args(
        ["corpus", "--sf-dir", "in", "--out", "out", *gates]
    )
    stream = parser.parse_args([
        "corpus-stream", "--in", "in", "--corpus", "c", "--store", "s",
        "--checkpoint", "k", *gates,
    ])
    kwargs = _gate_kwargs(batch)
    assert kwargs == _gate_kwargs(stream) == {
        "quality_model_path": "q.json",
        "quality_min_score": 0.7,
        "snapshot_filter_dir": "bloom",
        "snapshot_overlap": 0.3,
        "eval_grams_dir": "grams",
        "eval_ngram": 7,
    }
    assert (batch.c4, batch.gopher) == (stream.c4, stream.gopher) == (
        True, True,
    )
    for fn in (run_corpus, run_corpus_stream):
        assert set(kwargs) <= set(inspect.signature(fn).parameters)


def test_unknown_command_rejected():
    import pytest

    with pytest.raises(SystemExit):
        main(["frobnicate"])


def test_profile_subcommand(capsys):
    assert main(["--cpus", "8", "profile", "--path",
                 "/root/testdata/sf0.001/nation.parquet"]) == 0
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    byc = {r["column"]: r for r in lines}
    assert byc["n_nationkey"]["n_rows"] == 25
    assert byc["n_nationkey"]["n_nulls"] == 0
    assert byc["n_name"]["min_str"] is not None


def test_profile_rejects_out_of_range_rsd():
    import pytest

    with pytest.raises(SystemExit, match="rsd"):
        main(["--cpus", "8", "profile", "--path", "/nonexistent",
              "--rsd", "0.9"])


@pytest.mark.sweep
def test_optimize_subcommand(spark, tmp_path, capsys):
    """Z-order rewrite from the CLI: same rows out, and malformed --by
    dies at the contract."""
    src = str(tmp_path / "src")
    spark.range(500).selectExpr(
        "id", "id % 37 AS a", "(id * 7) % 113 AS b"
    ).write.parquet(src)
    out = str(tmp_path / "zout")
    assert main(["--cpus", "8", "optimize", "--path", src, "--out", out,
                 "--by", "a,b"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (res["command"], res["by"], res["rows"]) == ("optimize", ["a", "b"], 500)
    fs = res["file_stats"]
    assert fs["n_files"] >= 1 and fs["max_file_rows"] <= 500
    assert fs["skew_ratio"] >= 1.0

    import pytest

    with pytest.raises(SystemExit, match="DISTINCT"):
        main(["--cpus", "8", "optimize", "--path", src,
              "--out", out, "--by", "a"])
    # same column twice is a 1-D sort sold as 2-D clustering — rejected
    with pytest.raises(SystemExit, match="DISTINCT"):
        main(["--cpus", "8", "optimize", "--path", src,
              "--out", out, "--by", "a,a"])
    with pytest.raises(SystemExit, match="not in table"):
        main(["--cpus", "8", "optimize", "--path", src,
              "--out", out, "--by", "a,nope"])
    with pytest.raises(SystemExit, match="bits"):
        main(["--cpus", "8", "optimize", "--path", src,
              "--out", out, "--by", "a,b", "--bits", "40"])


@pytest.mark.sweep
def test_ann_build_rebuild_if_skewed_flag(spark, tmp_path, capsys):
    """--rebuild-if-skewed surfaces maybe_rebuild_ivf_index through the
    CLI: under threshold it reports rebuilt=False and leaves the index
    alone; with a forced tiny --max-skew it retrains and the emitted
    cell_stats reflect the rebuilt index."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    src = str(tmp_path / "src")
    emb.write.parquet(src)
    idx = str(tmp_path / "index")
    assert main([
        "--cpus", "8", "ann-build", "--in", src, "--index", idx,
        "--cells", "4", "--rebuild-if-skewed", "--max-skew", "1e9",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebuild"]["rebuilt"] is False
    assert out["rebuild"]["stats"] == out["cell_stats"]
    # skew_ratio >= 1 by construction, so max-skew 0.5 always triggers
    assert main([
        "--cpus", "8", "ann-build", "--in", src, "--index", idx,
        "--cells", "4", "--rebuild-if-skewed", "--max-skew", "0.5",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rebuild"]["rebuilt"] is True
    assert out["rebuild"]["stats_after"] == out["cell_stats"]
    assert out["vectors"] == emb.count()


@pytest.mark.sweep
def test_lm_cuts_subcommand_hands_off_to_gate(spark, tmp_path, capsys):
    """lm-cuts derives head/middle cut points offline, persists them as
    a JSON file beside the corpus, and the first cut fed back to the
    corpus gate as --lm-max-entropy keeps ~the head fraction — the
    deterministic CCNet bucket workflow end-to-end."""
    import pytest

    docs_dir = str(tmp_path / "docs")
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/documents.parquet").write.parquet(
        docs_dir + "/documents.parquet"
    )
    cuts_path = str(tmp_path / "corpus_meta" / "lm_cuts.json")
    assert main([
        "--cpus", "8", "lm-cuts", "--in", docs_dir + "/documents.parquet",
        "--out", cuts_path, "--fractions", "0.3333,0.6667",
    ]) == 0
    emitted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    persisted = json.load(open(cuts_path))
    assert persisted == emitted
    head, mid = emitted["cut_points"]
    assert head <= mid and emitted["n_scored_docs"] > 0
    assert emitted["order"] == 2

    # the hand-off: head cut as the absolute gate keeps ~1/3 of the
    # scorable survivors (exact fraction shifts with ties/short docs)
    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out,
        "--min-tokens", "2", "--lm-max-entropy", str(head),
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    frac = stats["lm_filter"] / emitted["n_scored_docs"]
    assert 0.2 <= frac <= 0.5, stats

    with pytest.raises(SystemExit, match="fractions"):
        main(["lm-cuts", "--in", docs_dir + "/documents.parquet",
              "--out", cuts_path, "--fractions", "nope"])
    with pytest.raises(SystemExit, match="order"):
        main(["lm-cuts", "--in", docs_dir + "/documents.parquet",
              "--out", cuts_path, "--order", "1"])

    # --scheme backoff derives cuts on the sb_score scale and the
    # hand-off to the matching gate scheme keeps ~the head fraction
    cuts_b = str(tmp_path / "corpus_meta" / "lm_cuts_backoff.json")
    assert main([
        "--cpus", "8", "lm-cuts", "--in", docs_dir + "/documents.parquet",
        "--out", cuts_b, "--order", "3", "--scheme", "backoff",
        "--fractions", "0.3333,0.6667",
    ]) == 0
    emitted_b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert emitted_b["scheme"] == "backoff"
    head_b, mid_b = emitted_b["cut_points"]
    assert head_b <= mid_b and emitted_b["n_scored_docs"] > 0
    out_b = str(tmp_path / "corpus_b")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out_b,
        "--min-tokens", "3", "--lm-max-entropy", str(head_b),
        "--lm-scheme", "backoff", "--lm-order", "3",
    ]) == 0
    stats_b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    frac_b = stats_b["lm_filter"] / emitted_b["n_scored_docs"]
    assert 0.2 <= frac_b <= 0.5, stats_b

    # --scheme kn derives cuts on the kn_score scale and the hand-off
    # to the matching gate scheme keeps ~the head fraction (round 10)
    cuts_k = str(tmp_path / "corpus_meta" / "lm_cuts_kn.json")
    assert main([
        "--cpus", "8", "lm-cuts", "--in", docs_dir + "/documents.parquet",
        "--out", cuts_k, "--order", "3", "--scheme", "kn",
        "--fractions", "0.3333,0.6667",
    ]) == 0
    emitted_k = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert emitted_k["scheme"] == "kn"
    head_k, mid_k = emitted_k["cut_points"]
    assert head_k <= mid_k and emitted_k["n_scored_docs"] > 0
    out_k = str(tmp_path / "corpus_k")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out_k,
        "--min-tokens", "3", "--lm-max-entropy", str(head_k),
        "--lm-scheme", "kn", "--lm-order", "3",
    ]) == 0
    stats_k = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    frac_k = stats_k["lm_filter"] / emitted_k["n_scored_docs"]
    assert 0.2 <= frac_k <= 0.5, stats_k


@pytest.mark.sweep
def test_bloom_build_then_snapshot_dedup_corpus(spark, tmp_path, capsys):
    """The inter-snapshot loop as operated: bloom-build persists the
    previous crawl's gram filter, corpus --snapshot-filter probes it
    and drops covered docs; a second bloom-build --merge folds a new
    batch into the filter without re-reading the first crawl."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.operators import bloom
    from etl_olho_vivo_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    prev_dir = str(tmp_path / "prev")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(prev_dir)
    fdir = str(tmp_path / "filter")

    assert main(["--cpus", "8", "bloom-build", "--in", prev_dir,
                 "--out", fdir]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["command"] == "bloom-build"
    assert built["n_keys"] > 0 and built["num_bits"] % 64 == 0

    out = str(tmp_path / "clean")
    assert main(["--cpus", "8", "corpus", "--sf-dir", sf, "--out", out,
                 "--min-tokens", "3", "--snapshot-filter", fdir,
                 "--snapshot-overlap", "0.9"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["snapshot_dedup"] < stats["lang_and_length"]
    back = spark.read.parquet(out)
    assert back.filter(F.col("doc_id") % 2 == 0).count() == 0

    # merge a new batch under the EXISTING geometry
    batch_dir = str(tmp_path / "batch")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(batch_dir)
    fdir2 = str(tmp_path / "filter2")
    assert main(["--cpus", "8", "bloom-build", "--in", batch_dir,
                 "--out", fdir2, "--merge", fdir]) == 0
    merged = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert merged["merged_into"] == fdir
    assert merged["num_bits"] == built["num_bits"]
    # the merged filter still has no false negatives for BOTH halves
    filt, nb, nh = bloom.read_bloom_filter(spark, fdir2)
    from etl_olho_vivo_spark.operators import dedup as dd

    all_keys = (
        dd.with_shingles(docs).select("sh")
        .select(F.explode("sh").alias("gh")).distinct()
    )
    probed = bloom.probe_bloom(all_keys, filt, "gh", nb, nh)
    assert probed.filter(~F.col("bloom_maybe")).count() == 0

    # --merge refuses to overwrite its own input
    with pytest.raises(SystemExit, match="must differ"):
        main(["--cpus", "8", "bloom-build", "--in", batch_dir,
              "--out", fdir, "--merge", fdir])


def test_bloom_build_merge_guard_sees_path_aliases(spark, tmp_path, capsys):
    """The --merge/--out same-directory guard must compare REAL paths:
    'f1/' vs 'f1' (or relative vs absolute) spell the same directory,
    and overwriting the bitmap the merged plan lazily reads would
    destroy the only copy of the reference filter."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.sources.tables import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    prev_dir = str(tmp_path / "prev2")
    docs.filter(F.col("doc_id") < 50).write.parquet(prev_dir)
    fdir = str(tmp_path / "filter_alias")
    assert main(["--cpus", "8", "bloom-build", "--in", prev_dir,
                 "--out", fdir]) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit, match="must differ"):
        main(["--cpus", "8", "bloom-build", "--in", prev_dir,
              "--out", fdir, "--merge", fdir + "/"])


@pytest.mark.sweep
def test_dsir_cuts_subcommand_hands_off_to_gate(spark, tmp_path, capsys):
    """dsir-cuts derives the log-weight floor offline (keep-fraction →
    (1−f) quantile), persists it, and the cut fed back to the corpus
    gate as --dsir-min-logw keeps ~that fraction — the absolute-
    threshold DSIR workflow end-to-end, threshold and sampled modes."""
    from pyspark.sql import functions as F

    docs_dir = str(tmp_path / "docs")
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs.write.parquet(docs_dir + "/documents.parquet")
    tgt_dir = str(tmp_path / "target")
    docs.filter(F.col("doc_id") % 7 == 0).select("text").write.parquet(
        tgt_dir
    )
    cuts_path = str(tmp_path / "corpus_meta" / "dsir_cuts.json")
    assert main([
        "--cpus", "8", "dsir-cuts", "--in",
        docs_dir + "/documents.parquet", "--target", tgt_dir,
        "--out", cuts_path, "--keep-fractions", "0.5,0.25",
    ]) == 0
    emitted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    persisted = json.load(open(cuts_path))
    assert persisted == emitted
    half_cut, quarter_cut = emitted["cut_points"]
    assert half_cut <= quarter_cut  # keeping less needs a higher floor
    assert emitted["n_scored_docs"] > 0
    assert emitted["buckets"] == 10_000 and emitted["sampled"] is False

    # hand-off: the keep-0.5 floor keeps ~half the survivors reaching
    # the stage (cuts were derived on the RAW corpus, the gate sees
    # post-dedup survivors — loose bounds absorb that drift)
    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out,
        "--min-tokens", "2", "--dsir-target", tgt_dir,
        "--dsir-min-logw", str(half_cut),
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    frac = stats["dsir"] / stats["quality"]
    assert 0.3 <= frac <= 0.7, stats

    # sampled mode: Gumbel-perturbed keys on both sides of the hand-off
    cuts_s = str(tmp_path / "corpus_meta" / "dsir_cuts_sampled.json")
    assert main([
        "--cpus", "8", "dsir-cuts", "--in",
        docs_dir + "/documents.parquet", "--target", tgt_dir,
        "--out", cuts_s, "--keep-fractions", "0.5", "--sampled",
        "--seed", "3",
    ]) == 0
    emitted_s = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )
    assert emitted_s["sampled"] is True and emitted_s["seed"] == 3
    out_s = str(tmp_path / "corpus_sampled")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out_s,
        "--min-tokens", "2", "--dsir-target", tgt_dir,
        "--dsir-min-logw", str(emitted_s["cut_points"][0]),
        "--dsir-sampled", "--dsir-seed", "3",
    ]) == 0
    stats_s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.3 <= stats_s["dsir"] / stats_s["quality"] <= 0.7, stats_s

    # validation: the gate refuses a target without its floor BEFORE
    # any work; dsir-cuts rejects malformed/ascending fractions
    with pytest.raises(ValueError, match="dsir_min_logw"):
        main(["--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out",
              out, "--dsir-target", tgt_dir])


@pytest.mark.sweep
def test_dsir_fit_once_hist_keeps_calibrated_fraction(
    spark, tmp_path, capsys
):
    """Round-11 fit-once hand-off: dsir-cuts --hist-out persists the
    fitted histograms beside the cut points, and the corpus gate's
    --dsir-hist scores survivors against those FROZEN distributions —
    every surviving doc keeps its calibration-run weight, so the
    keep-0.5 floor keeps ~half TIGHTLY (the refit path needs 0.3-0.7
    slack for exactly this reason; see the test above)."""
    from pyspark.sql import functions as F

    docs_dir = str(tmp_path / "docs")
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    docs.write.parquet(docs_dir + "/documents.parquet")
    tgt_dir = str(tmp_path / "target")
    docs.filter(F.col("doc_id") % 7 == 0).select("text").write.parquet(
        tgt_dir
    )
    cuts_path = str(tmp_path / "meta" / "dsir_cuts.json")
    hist_dir = str(tmp_path / "meta" / "dsir_hist")
    assert main([
        "--cpus", "8", "dsir-cuts", "--in",
        docs_dir + "/documents.parquet", "--target", tgt_dir,
        "--out", cuts_path, "--keep-fractions", "0.5",
        "--hist-out", hist_dir,
    ]) == 0
    emitted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert emitted["hist_out"] == hist_dir
    hist = spark.read.parquet(hist_dir)
    assert set(hist.columns) == {"bucket", "t_n", "r_n", "n_buckets"}
    (half_cut,) = emitted["cut_points"]

    out = str(tmp_path / "corpus")
    assert main([
        "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out", out,
        "--min-tokens", "2", "--dsir-hist", hist_dir,
        "--dsir-min-logw", str(half_cut),
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    frac = stats["dsir"] / stats["quality"]
    assert 0.44 <= frac <= 0.56, stats

    # the two fit sources are mutually exclusive — refitting against a
    # target while a frozen model is supplied would silently pick one
    with pytest.raises(ValueError, match="mutually exclusive"):
        main([
            "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out",
            out, "--dsir-target", tgt_dir, "--dsir-hist", hist_dir,
            "--dsir-min-logw", str(half_cut),
        ])
    # and a frozen model still demands its floor
    with pytest.raises(ValueError, match="dsir_min_logw"):
        main([
            "--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out",
            out, "--dsir-hist", hist_dir,
        ])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="keep-fractions"):
        main(["dsir-cuts", "--in", docs_dir + "/documents.parquet",
              "--target", tgt_dir, "--out", cuts_path,
              "--keep-fractions", "nope"])
    with pytest.raises(SystemExit, match="descending"):
        main(["dsir-cuts", "--in", docs_dir + "/documents.parquet",
              "--target", tgt_dir, "--out", cuts_path,
              "--keep-fractions", "0.25,0.5"])
    # STRICTLY descending: duplicates produce redundant identical cuts
    with pytest.raises(SystemExit, match="descending"):
        main(["dsir-cuts", "--in", docs_dir + "/documents.parquet",
              "--target", tgt_dir, "--out", cuts_path,
              "--keep-fractions", "0.5,0.5"])
    # the reverse of the target-without-floor check: DSIR tuning flags
    # without a target must be rejected, not silently ignored (an
    # ungated corpus the user believed was filtered)
    with pytest.raises(ValueError, match="require dsir_target_dir"):
        main(["--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out",
              out, "--dsir-min-logw", "0.0"])
    capsys.readouterr()
    with pytest.raises(ValueError, match="require dsir_target_dir"):
        main(["--cpus", "8", "corpus", "--sf-dir", docs_dir, "--out",
              out, "--dsir-sampled"])
    capsys.readouterr()


@pytest.mark.sweep
def test_corpus_lm_gate_kn_scheme(spark, tmp_path, capsys):
    """--lm-scheme kn swaps the gate's scorer for interpolated
    Kneser-Ney: a huge threshold keeps every quality survivor; kn_score
    = -(1/m) Σ ln P with P a true probability < 1, so 0 is already the
    drop-everything probe; an external gibberish reference sends every
    real doc to the uniform OOV leaf and the order-3 path still gates
    end-to-end."""
    out = str(tmp_path / "corpus")
    base = ["--cpus", "8", "corpus", "--sf-dir", "/root/testdata/sf0.001",
            "--out", out, "--min-tokens", "3",
            "--lm-scheme", "kn", "--lm-order", "3"]
    assert main(base + ["--lm-max-entropy", "1e9"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["lm_filter"] == stats["quality"] > 0
    assert main(base + ["--lm-max-entropy", "0.0"]) == 0
    stats0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats0["lm_filter"] == 0
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [("zzz qqq www rrr ttt yyy",)], "text string"
    ).write.parquet(ref)
    assert main(base + ["--lm-max-entropy", "1e9", "--lm-ref", ref]) == 0
    statsr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert statsr["lm_filter"] == statsr["quality"]


def _p5_img(rows):
    body = b"".join(bytes(r) for r in rows)
    return b"P5\n%d %d\n255\n" % (len(rows[0]), len(rows)) + body


@pytest.mark.sweep
def test_media_dedup_subcommand_image(spark, tmp_path, capsys):
    """End-to-end media-dedup CLI, image kind: exact-duplicate images
    pair at Hamming 0, connected components resolve to the min-id
    survivor, opaque/NULL rows never pair and always survive."""
    img_a = [[(7 * r + 13 * c) % 256 for c in range(16)] for r in range(16)]
    img_b = [[(3 * r * c + 5) % 256 for c in range(16)] for r in range(16)]
    rows = [
        (1, bytearray(_p5_img(img_a))),
        (2, bytearray(_p5_img(img_a))),   # exact dup of 1
        (3, bytearray(_p5_img(img_b))),
        (4, bytearray(b"plain text media")),
        (5, None),
    ]
    src = str(tmp_path / "media")
    spark.createDataFrame(rows, "doc_id long, media binary").write.parquet(
        src
    )
    pairs_out = str(tmp_path / "pairs")
    surv_out = str(tmp_path / "survivors")
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    held, bagged = jmap().size(), len(SESSION_BAG)
    assert main(["--cpus", "8", "media-dedup", "--in", src,
                 "--kind", "image", "--pairs-out", pairs_out,
                 "--survivors-out", surv_out,
                 "--max-hamming", "0", "--n-bands", "1"]) == 0
    # every cache the run made (fingerprints, pairs, component labels)
    # is released before it returns
    assert len(SESSION_BAG) == bagged
    assert jmap().size() == held
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"command": "media-dedup", "kind": "image",
                     "pairs": 1, "survivors": 4}
    got = [(r["doc_a"], r["doc_b"], r["hamming"])
           for r in spark.read.parquet(pairs_out).collect()]
    assert got == [(1, 2, 0)]
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(surv_out).collect()
    )
    assert kept == [1, 3, 4, 5]


def test_media_dedup_subcommand_audio_and_guards(spark, tmp_path, capsys):
    """Audio kind smoke (identical WAVs pair; pairs-only run) + the
    driver-side argument guards."""
    import struct

    pcm = b"".join(
        struct.pack("<h", (v * 37) % 2000 - 1000) for v in range(64)
    )
    wav = (b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
           + b"data" + len(pcm).to_bytes(4, "little") + pcm)
    src = str(tmp_path / "audio")
    spark.createDataFrame(
        [(10, bytearray(wav)), (11, bytearray(wav)),
         (12, bytearray(b"not audio"))],
        "doc_id long, media binary",
    ).write.parquet(src)
    pairs_out = str(tmp_path / "apairs")
    assert main(["--cpus", "8", "media-dedup", "--in", src,
                 "--kind", "audio", "--pairs-out", pairs_out,
                 "--max-hamming", "0", "--n-bands", "1"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"command": "media-dedup", "kind": "audio",
                     "pairs": 1}
    assert [(r["doc_a"], r["doc_b"]) for r in
            spark.read.parquet(pairs_out).collect()] == [(10, 11)]

    with pytest.raises(SystemExit, match="max-hamming"):
        main(["media-dedup", "--in", src, "--kind", "audio",
              "--pairs-out", pairs_out, "--max-hamming", "-1"])
    with pytest.raises(SystemExit, match="no column"):
        main(["media-dedup", "--in", src, "--kind", "audio",
              "--pairs-out", pairs_out, "--id-col", "nope"])
    # a gate dial for the wrong kind is a driver-side config error
    with pytest.raises(SystemExit, match="applies to kind"):
        main(["media-dedup", "--in", src, "--kind", "audio",
              "--pairs-out", pairs_out, "--min-width", "8"])


@pytest.mark.sweep
def test_media_dedup_gates_cli(spark, tmp_path, capsys):
    """Round-12 quality gates on the media-dedup CLI: --min-width +
    --reject-undecodable drop rows BEFORE pairing and survivors, and
    the gated_out count lands in the stats line.  An audio run gates
    on --min-duration the same way."""
    img = [[(7 * r + 13 * c) % 256 for c in range(16)] for r in range(16)]
    small = [[(5 * r * c) % 256 for c in range(8)] for r in range(8)]
    rows = [
        (1, bytearray(_p5_img(img))),
        (2, bytearray(_p5_img(img))),    # exact dup of 1
        (3, bytearray(_p5_img(small))),  # below the width floor
        (4, bytearray(b"undecodable")),
    ]
    src = str(tmp_path / "gated")
    spark.createDataFrame(rows, "doc_id long, media binary").write.parquet(
        src
    )
    pairs_out = str(tmp_path / "gpairs")
    surv_out = str(tmp_path / "gsurv")
    assert main(["--cpus", "8", "media-dedup", "--in", src,
                 "--kind", "image", "--pairs-out", pairs_out,
                 "--survivors-out", surv_out,
                 "--max-hamming", "0", "--n-bands", "1",
                 "--min-width", "16", "--reject-undecodable"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"command": "media-dedup", "kind": "image",
                     "gated_out": 2, "pairs": 1, "survivors": 1}
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(surv_out).collect()
    )
    assert kept == [1]

    # audio: 64 frames @ 8 kHz = 0.008 s < the 0.01 s duration floor
    import struct

    pcm = b"".join(
        struct.pack("<h", (v * 37) % 2000 - 1000) for v in range(64)
    )
    wav = (b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
           + b"data" + len(pcm).to_bytes(4, "little") + pcm)
    asrc = str(tmp_path / "gaudio")
    spark.createDataFrame(
        [(10, bytearray(wav)), (11, bytearray(wav))],
        "doc_id long, media binary",
    ).write.parquet(asrc)
    apairs = str(tmp_path / "gapairs")
    assert main(["--cpus", "8", "media-dedup", "--in", asrc,
                 "--kind", "audio", "--pairs-out", apairs,
                 "--max-hamming", "0", "--n-bands", "1",
                 "--min-duration", "0.01"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"command": "media-dedup", "kind": "audio",
                     "gated_out": 2, "pairs": 0}


@pytest.mark.sweep
def test_media_stream_subcommand(spark, tmp_path, capsys):
    """Full media-stream CLI drain: two single-file micro-batches of
    images, cross-batch exact dup dropped vs the store, --compact
    folds the fingerprint partitions into the -1 base."""
    import glob
    import os
    import shutil

    def img(seed):
        s = seed * 2654435761 % (1 << 31)
        body = bytearray()
        for _ in range(256):
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            body.append(s % 256)
        return bytearray(b"P5\n16 16\n255\n" + bytes(body))

    stage = str(tmp_path / "landing")
    os.makedirs(stage)

    def land(name, rows):
        df = spark.createDataFrame(
            rows, "doc_id long, media binary"
        ).coalesce(1)
        tmp = f"{stage}__{name}"
        df.write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.move(part, os.path.join(stage, f"{name}.parquet"))
        shutil.rmtree(tmp)

    land("b0", [(1, img(5)), (2, img(40))])
    land("b1", [(10, img(5)), (11, img(77))])  # 10 = cross-batch dup

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    assert main(["--cpus", "8", "media-stream", "--in", stage,
                 "--corpus", corpus, "--store", store,
                 "--checkpoint", str(tmp_path / "ckpt"),
                 "--kind", "image", "--max-files-per-trigger", "1",
                 "--compact"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    store_stats = stats.pop("store")
    assert stats == {"command": "media-stream", "kind": "image",
                     "corpus_docs": 3, "store_fingerprints_compacted": 3}
    # after --compact the telemetry shows ONE folded base partition
    assert store_stats["n_partitions"] == 1
    assert store_stats["fingerprints"] == 3
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2, 11]
    folded = spark.read.parquet(store)
    assert [r["ingest_batch_id"] for r in
            folded.select("ingest_batch_id").distinct().collect()] == [-1]

    with pytest.raises(SystemExit, match="no input files"):
        main(["media-stream", "--in", str(tmp_path / "nowhere"),
              "--corpus", corpus, "--store", store,
              "--checkpoint", str(tmp_path / "ckpt2"), "--kind", "image"])
