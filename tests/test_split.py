"""Deterministic splits (operators/split.py) and the seeded global
shuffle (io/export.global_shuffle) — the training hand-off contracts:
exact determinism, weight fidelity, near-dup leakage safety, and
ingest-order decorrelation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.io.export import global_shuffle
from etl_olho_vivo_spark.operators import split

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )


def test_split_fractions_and_partition(spark, docs):
    counts = dict(
        (r["split"], r["n"])
        for r in split.assign_splits(docs, WEIGHTS)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert set(counts) == set(WEIGHTS)
    assert sum(counts.values()) == 5000  # total partition, no row lost
    for name, w in WEIGHTS.items():
        assert counts[name] == pytest.approx(5000 * w, rel=0.15), (name, counts)


def test_split_determinism_and_seed_independence(spark, docs):
    a = {r["doc_id"]: r["split"] for r in split.assign_splits(docs, WEIGHTS).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split.assign_splits(docs.repartition(17), WEIGHTS).collect()
    }
    assert a == b  # partitioning-independent
    c = {
        r["doc_id"]: r["split"]
        for r in split.assign_splits(docs, WEIGHTS, seed=1).collect()
    }
    moved = sum(1 for k in a if a[k] != c[k])
    assert moved > 1000  # a new seed is a genuinely different permutation


def test_split_weight_validation():
    with pytest.raises(ValueError, match="sum to 1"):
        split._thresholds({"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError, match="positive"):
        split._thresholds({"train": 1.5, "val": -0.5})
    with pytest.raises(ValueError, match="at least one"):
        split._thresholds({})
    # a weight under the bucket resolution would silently produce an
    # EMPTY split (its band rounds to zero width) — must be refused
    with pytest.raises(ValueError, match="empty bucket band"):
        split._thresholds({"train": 0.99996, "val": 0.00004})


def test_cap_per_group_deterministic_unbiased(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    capped = split.cap_per_group(df, "source", 100)
    by_src = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src == {"0": 100, "1": 100, "2": 100}
    # deterministic across input layouts
    ids_a = sorted(r["doc_id"] for r in capped.collect())
    ids_b = sorted(
        r["doc_id"]
        for r in split.cap_per_group(df.repartition(11), "source", 100).collect()
    )
    assert ids_a == ids_b
    # unbiased vs ingest order: the kept set is not just the first 100
    # per group (ids 0..299 would all survive under first-n)
    assert sum(1 for i in ids_a if i < 300) < 60
    # a new seed draws a substantially different sample
    ids_c = sorted(
        r["doc_id"]
        for r in split.cap_per_group(df, "source", 100, seed=1).collect()
    )
    assert len(set(ids_a) & set(ids_c)) < 50
    # under-cap groups pass through whole
    assert split.cap_per_group(df, "source", 2000).count() == 3000
    with pytest.raises(ValueError, match="n must be"):
        split.cap_per_group(df, "source", 0)


def test_global_shuffle_partition_and_determinism(spark, docs):
    sh = global_shuffle(docs, seed=7, n_shards=8)
    out = sh.collect()
    assert sorted(r["doc_id"] for r in out) == list(range(5000))
    # deterministic under a hostile input layout, including row ORDER
    sh2 = global_shuffle(docs.repartition(13), seed=7, n_shards=8)
    per_shard = {}
    for r in sh.toLocalIterator():
        per_shard.setdefault(r["shard"], []).append(r["doc_id"])
    per_shard2 = {}
    for r in sh2.toLocalIterator():
        per_shard2.setdefault(r["shard"], []).append(r["doc_id"])
    assert per_shard == per_shard2
    # shards are balanced (md5 uniformity): within 25% of ideal
    sizes = [len(v) for v in per_shard.values()]
    assert len(sizes) == 8
    assert max(sizes) < 5000 / 8 * 1.25 and min(sizes) > 5000 / 8 * 0.75


def test_global_shuffle_decorrelates_ingest_order(spark, docs):
    sh = global_shuffle(docs, seed=0, n_shards=16)
    rows = sh.select("doc_id", "shard").collect()
    shard_of = {r["doc_id"]: r["shard"] for r in rows}
    # consecutive ingest ids should share a shard ~1/16 of the time
    same = sum(1 for i in range(4999) if shard_of[i] == shard_of[i + 1])
    assert same / 4999 < 0.12, same
    with pytest.raises(ValueError, match="n_shards"):
        global_shuffle(docs, n_shards=0)


def test_global_shuffle_split_col_leads_order(spark, docs):
    """With split_col set, rows inside every task partition are grouped
    by split first — the export's partitionBy([split, shard]) then
    writes one ordered file per (split, shard) without a writer-side
    re-sort, and no shard file ever mixes train/val rows."""
    labeled = split.assign_splits(docs, WEIGHTS)
    sh = global_shuffle(labeled, seed=3, n_shards=4, split_col="split")
    # shard assignment ignores the split (it is the same permutation)
    plain = global_shuffle(labeled, seed=3, n_shards=4)
    assert {
        (r["doc_id"], r["shard"]) for r in sh.collect()
    } == {(r["doc_id"], r["shard"]) for r in plain.collect()}
    # within every task partition the split label is non-interleaved
    def runs(it):
        per_part = []
        for part in it:
            labels = [r["split"] for r in part]
            if not labels:  # hash collisions can leave a task empty
                continue
            n_runs = 1 + sum(
                1 for a, b in zip(labels, labels[1:]) if a != b
            )
            per_part.append((n_runs, len(set(labels))))
        return per_part

    for n_runs, n_distinct in runs(
        sh.rdd.mapPartitions(lambda p: [list(p)]).collect()
    ):
        assert n_runs == n_distinct  # each split is one contiguous run
