"""The composed corpus pipeline (plans/corpus.py): every stage must drop
exactly the rows it claims to, and the written corpus must round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus_out(spark, tmp_path_factory):
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    out = str(tmp_path_factory.mktemp("corpus") / "clean")
    stats = run_corpus(
        spark,
        "/root/testdata/sf0.001",
        out,
        min_tokens=3,
        jaccard_threshold=0.5,
    )
    return out, stats


def test_stage_counts_monotone(corpus_out):
    _, stats = corpus_out
    order = ["input", "lang_and_length", "exact_dedup", "near_dedup", "quality"]
    assert list(stats) == order
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert stats["input"] > 0 and stats["quality"] > 0


def test_written_corpus_matches_final_count(spark, corpus_out):
    out, stats = corpus_out
    back = spark.read.parquet(out)
    assert back.count() == stats["quality"]
    # partitioned by detected language, every kept doc has one
    assert "lang_guess" in back.columns
    assert back.filter(F.col("lang_guess").isNull()).count() == 0


def test_no_exact_duplicates_survive(spark, corpus_out):
    out, _ = corpus_out
    back = spark.read.parquet(out)
    n_fp = back.select("fp_md5").distinct().count()
    assert n_fp == back.count()


def test_synthetic_stages(spark, tmp_path):
    """Known-answer run: language gate, exact dup, near dup, quality gate
    each remove exactly the planted rows."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to find some interesting things in the forest near the river"
    )
    near = base.replace("river", "creek")
    rows = [
        (1, base, "en", "web"),
        (2, base, "en", "web"),          # exact dup of 1 → dropped
        (3, near, "en", "web"),          # near dup of 1 → dropped
        (4, "der hund und die katze sind mit einem vogel im haus", "de", "web"),
        (5, "xq zz", "en", "web"),       # too short → dropped
        (6, "el perro y el gato con un pájaro en la casa grande", "es", "web"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    df = df.withColumn("n_chars", F.length("text"))

    import etl_olho_vivo_spark.plans.corpus as corpus_mod

    orig = corpus_mod.read_table
    corpus_mod.read_table = lambda _s, _d, _n: df
    try:
        stats = run_corpus(
            spark,
            sf_dir="unused",
            out_dir=str(tmp_path / "out"),
            keep_langs=("en", "de", "es"),
            min_tokens=3,
            jaccard_threshold=0.5,
        )
    finally:
        corpus_mod.read_table = orig

    assert stats == {
        "input": 6,
        "lang_and_length": 5,   # 5 dropped (too short)
        "exact_dedup": 4,       # 2 dropped (dup of 1)
        "near_dedup": 3,        # 3 dropped (near-dup of 1)
        "quality": 3,
    }
    back = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 4, 6]


@pytest.mark.sweep
def test_pack_stage_emits_training_sequences(spark, tmp_path):
    """pack=(max_tokens, overlap, budget) writes packed sequences whose
    token totals conserve the surviving corpus (overlap=0) and respect
    the budget + max_chunk - 1 overflow bound."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    out = str(tmp_path / "clean")
    stats = run_corpus(
        spark, "/root/testdata/sf0.001", out,
        min_tokens=3, jaccard_threshold=0.5, pack=(16, 0, 64),
    )
    assert stats["packed_sequences"] > 0
    packed = spark.read.parquet(out + "_packed")
    survivors = spark.read.parquet(out)
    total_doc_tokens = survivors.agg(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    total_packed = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert total_packed == total_doc_tokens          # nothing lost/duped
    assert packed.agg(F.max("n_tokens")).collect()[0][0] <= 64 + 16 - 1


@pytest.mark.sweep
def test_components_resolution_drops_superset_of_greedy(spark, tmp_path):
    """Every greedy-dropped doc (a pair's doc_b, > doc_a >= cluster min)
    is non-minimal in its component, so the components drop set contains
    the greedy one."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    kw = dict(spark=spark, sf_dir="/root/testdata/sf0.001",
              min_tokens=3, jaccard_threshold=0.5)
    g = run_corpus(out_dir=str(tmp_path / "g"), **kw)
    c = run_corpus(
        out_dir=str(tmp_path / "c"), dedup_resolution="components", **kw
    )
    assert c["near_dedup"] <= g["near_dedup"]
    kept_g = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "g")).collect()}
    kept_c = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "c")).collect()}
    assert kept_c <= kept_g

    with pytest.raises(ValueError, match="dedup_resolution"):
        run_corpus(out_dir=str(tmp_path / "x"), dedup_resolution="nope", **kw)


def test_redaction_unifies_dedup(spark, tmp_path):
    """With redact_pii, docs differing only in scrubbed PII become exact
    duplicates — fingerprinting must run on the shipped text."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    body = "please contact {} for all the further interesting details today"
    rows = [
        (1, body.format("alice@a.com"), "en", "web"),
        (2, body.format("bob@b.org"), "en", "web"),  # dup after redaction
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    df = df.withColumn("n_chars", F.length("text"))

    import etl_olho_vivo_spark.plans.corpus as corpus_mod

    orig = corpus_mod.read_table
    corpus_mod.read_table = lambda _s, _d, _n: df
    try:
        stats = run_corpus(
            spark, "unused", str(tmp_path / "red"),
            keep_langs=("en",), min_tokens=3, redact_pii=True,
        )
    finally:
        corpus_mod.read_table = orig
    assert stats["exact_dedup"] == 1
    back = spark.read.parquet(str(tmp_path / "red"))
    texts = [r["text"] for r in back.collect()]
    assert texts == [body.format("<EMAIL>")]


def test_cachebag_owns_signature_lifecycle(spark):
    """near_duplicates(caches=bag) end-to-end: exactly one cache entry
    exists while the caller works, and releasing the bag restores the
    Spark cache registry to its prior state (zero leaked frames)."""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import dedup

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with CacheBag() as bag:
        pairs = dedup.near_duplicates(
            d.select("doc_id", "text"), threshold=0.5, caches=bag
        )
        pairs.count()  # materialize → signature store becomes resident
        assert len(bag) == 1
        assert jmap().size() == before + 1
    assert jmap().size() == before


def test_cachebag_cut_materializes_behind_one_leaf(spark):
    """CacheBag.cut: the cut frame holds the source's rows, its plan is
    one stored leaf even when the source is built over bag-cached frames
    (no cache scan and no file scan anywhere beneath it), and release()
    returns the Spark RDD registry to its prior size; a second release
    changes nothing."""
    from etl_olho_vivo_spark.caching import CacheBag

    from tests.plan_walk import count_nodes, executed_plan

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    bag = CacheBag()
    try:
        docs = bag.add(d.select("doc_id", "text"))
        even = bag.add(docs.filter(F.col("doc_id") % 2 == 0))
        src = even.join(
            docs.select("doc_id", F.length("text").alias("n")), "doc_id"
        )
        cut = bag.cut(src)
        rows = sorted(cut.collect())
        assert rows and rows == sorted(src.collect())
        assert len(bag) == 3
        assert jmap().size() == before + 3
        nodes = count_nodes(executed_plan(src), into_cache=True)
        assert nodes["InMemoryTableScanExec"] >= 2, nodes
        assert nodes["FileSourceScanExec"] >= 1, nodes
        nodes = count_nodes(executed_plan(cut), into_cache=True)
        assert nodes["InMemoryTableScanExec"] == 0, nodes
        assert nodes["FileSourceScanExec"] == 0, nodes
    finally:
        bag.release()
    assert jmap().size() == before
    assert len(bag) == 0
    bag.release()
    assert jmap().size() == before


#: the order-3 Kneser-Ney gate at a threshold that drops 65 of the 446
#: quality survivors of sf0.001 under the pipeline defaults (their
#: scores span 2.52..3.33 nats)
KN_GATE = {"lm_scheme": "kn", "lm_order": 3, "lm_max_entropy": 3.1}


@pytest.mark.sweep
@pytest.mark.parametrize("case", ["greedy", "components", "kn"])
def test_run_corpus_leaves_no_caches(spark, tmp_path, case):
    """The composed pipeline persists or cuts several intermediates
    (profile, signature store, drop list, component labels, the survivor
    cut, the KN gate's token frame, window aggregates and its own cut)
    and must deterministically release every one — a leaked cache per
    run is a leak per day at production cadence.  A cut's backing RDD
    is released by its bag too, not left to the async ContextCleaner."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    kwargs = KN_GATE if case == "kn" else {"dedup_resolution": case}
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    run_corpus(
        spark,
        "/root/testdata/sf0.001",
        str(tmp_path / f"clean_{case}"),
        min_tokens=3,
        jaccard_threshold=0.5,
        **kwargs,
    )
    assert jmap().size() == before


@pytest.mark.sweep
def test_run_corpus_releases_caches_when_a_gate_raises(spark, tmp_path):
    """A gate that raises after the survivor cut has materialized (a KN
    reference corpus with no bigrams) still leaves the RDD registry at
    its prior size."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    ref = str(tmp_path / "ref")
    spark.createDataFrame([("solo",)], "text string").write.parquet(ref)
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    with pytest.raises(ValueError, match="no bigrams"):
        run_corpus(
            spark, SF, str(tmp_path / "clean"), lm_ref_dir=ref, **KN_GATE
        )
    assert jmap().size() == before


@pytest.mark.sweep
def test_kn_gate_drops_exactly_the_high_entropy_survivors(spark, tmp_path):
    """The order-3 KN gate end to end: the survivors are the quality
    survivors minus the documents whose ``kneser_ney_scores`` score is
    above the threshold, under a model trained on those same survivors
    (documents too short to score pass).  The stage counts are pinned:
    cutting the survivor frame must not change any of them."""
    from etl_olho_vivo_spark.operators import lm
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    base = run_corpus(spark, SF, str(tmp_path / "quality"))
    stats = run_corpus(spark, SF, str(tmp_path / "kn"), **KN_GATE)
    assert base == {
        "input": 500, "lang_and_length": 466, "exact_dedup": 466,
        "near_dedup": 446, "quality": 446,
    }
    assert stats == {**base, "lm_filter": 381}

    quality = spark.read.parquet(str(tmp_path / "quality"))
    counts = lm.kneser_ney_counts(quality.select("text"), order=3)
    failing = {
        r["doc_id"]
        for r in lm.kneser_ney_scores(
            quality.select("doc_id", "text"), counts
        )
        .filter(F.col("kn_score") > KN_GATE["lm_max_entropy"])
        .collect()
    }
    expected = {r["doc_id"] for r in quality.collect()} - failing
    kept = [
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "kn")).collect()
    ]
    assert len(kept) == len(set(kept)) == stats["lm_filter"]
    assert set(kept) == expected


@pytest.mark.sweep
def test_keep_best_resolution_same_drop_count_as_components(spark, tmp_path):
    """keep_best clusters identically to components (same pair graph,
    same connected components) — only the survivor CHOICE differs, so
    the near_dedup counts must be equal and the keep_best survivors'
    total quality_score cannot be lower than components' (per cluster,
    the argmax-quality doc >= whatever the min-id rule kept; docs
    outside any cluster are identical in both runs).  The per-cluster
    argmax itself is value-checked by the dedup_cluster_keep_best
    oracle row."""
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    kw = dict(spark=spark, sf_dir="/root/testdata/sf0.001",
              min_tokens=3, jaccard_threshold=0.5)
    c = run_corpus(
        out_dir=str(tmp_path / "c"), dedup_resolution="components", **kw
    )
    kb = run_corpus(
        out_dir=str(tmp_path / "kb"), dedup_resolution="keep_best", **kw
    )
    assert kb["near_dedup"] == c["near_dedup"]
    back_c = {
        r["doc_id"]: r["quality_score"]
        for r in spark.read.parquet(str(tmp_path / "c")).collect()
    }
    back_kb = {
        r["doc_id"]: r["quality_score"]
        for r in spark.read.parquet(str(tmp_path / "kb")).collect()
    }
    assert len(back_kb) == len(back_c)
    assert sum(back_kb.values()) >= sum(back_c.values())


@pytest.mark.sweep
def test_snapshot_filter_drops_previous_crawl(spark, tmp_path):
    """Inter-snapshot dedup: docs fully covered by the previous crawl's
    Bloom filter (their own grams — overlap exactly 1.0, no false
    negatives) are dropped; the stat lands between the lang gate and
    exact dedup."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import bloom, dedup
    from etl_olho_vivo_spark.plans.corpus import run_corpus
    from etl_olho_vivo_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    prev = read_table(spark, sf, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    bag = CacheBag()
    sh = bag.add(dedup.with_shingles(prev).select("sh"))
    keys = sh.select(F.explode("sh").alias("gh")).distinct()
    m, k = bloom.bloom_parameters(keys.count(), 0.01)
    filt = bloom.build_bloom_filter(keys, "gh", m, k)
    fdir = str(tmp_path / "filter")
    bloom.write_bloom_filter(filt, fdir, m, k)
    bag.release()

    stats = run_corpus(
        spark, sf, str(tmp_path / "clean"),
        min_tokens=3, jaccard_threshold=0.5,
        snapshot_filter_dir=fdir, snapshot_overlap=0.9,
    )
    assert list(stats)[:4] == [
        "input", "lang_and_length", "snapshot_dedup", "exact_dedup"
    ]
    assert 0 < stats["snapshot_dedup"] < stats["lang_and_length"]
    back = spark.read.parquet(str(tmp_path / "clean"))
    # no false negatives: every even (previous-crawl) doc is gone
    assert back.filter(F.col("doc_id") % 2 == 0).count() == 0
    assert back.count() > 0

    with pytest.raises(ValueError, match="snapshot_overlap"):
        run_corpus(
            spark, sf, str(tmp_path / "bad"),
            snapshot_filter_dir=fdir, snapshot_overlap=0.0,
        )


@pytest.mark.sweep
def test_run_corpus_keep_best_leaves_no_caches(spark, tmp_path):
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = jmap().size()
    run_corpus(
        spark,
        "/root/testdata/sf0.001",
        str(tmp_path / "clean_kb"),
        min_tokens=3,
        jaccard_threshold=0.5,
        dedup_resolution="keep_best",
    )
    assert jmap().size() == before
