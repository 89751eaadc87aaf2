"""Batch-partitioned append stores (io/append_store.py): the per-batch
overwrite, the existence probe and batch exclusion, coverage, crash
recovery of the fold-and-swap compaction over both admit loops' stores,
and the guard that keeps the layout and swap protocol in that one
module."""

from __future__ import annotations

import os
import pathlib
import shutil

import pytest

from etl_olho_vivo_spark.io import append_store
from tests.store_kinds import KINDS, admit, payloads

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "etl_olho_vivo_spark"


def test_write_read_exclude_and_coverage(spark, tmp_path):
    """read_store is None only before data lands and raises on any
    other reader error; it prunes the excluded batch; a replayed batch
    replaces its partition even with an empty frame; next_batch_id
    follows the listing; an unparsable watermark stops writes;
    missing_batches lists the corpus batches a store lacks, in numeric
    order."""
    store, corpus = str(tmp_path / "store"), str(tmp_path / "corpus")
    assert append_store.read_store(spark, store) is None
    os.makedirs(store)  # a died-before-commit first attempt
    assert append_store.read_store(spark, store) is None

    def frame(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    append_store.write_batch(frame([1, 2]), store, 0)
    append_store.write_batch(frame([3]), store, 1)
    rest = append_store.read_store(spark, store, exclude_batch_id=0)
    assert ids(rest) == [3]
    append_store.write_batch(frame([]), store, 1)  # replay admits nothing
    assert ids(append_store.read_store(spark, store)) == [1, 2]
    assert append_store.next_batch_id(spark, store) == 2
    with open(f"{store}/_compacted_through", "w") as f:
        f.write("garbage")
    with pytest.raises(IOError, match="unreadable compaction watermark"):
        append_store.write_batch(frame([4]), store, 2)
    os.remove(f"{store}/_compacted_through")

    shutil.copytree(f"{store}/ingest_batch_id=0", f"{store}/other=1")
    with pytest.raises(Exception, match="CONFLICTING_PARTITION_COLUMN"):
        append_store.read_store(spark, store)
    shutil.rmtree(f"{store}/other=1")

    for bid in (0, 2, 10, 9):
        os.makedirs(f"{corpus}/ingest_batch_id={bid}")
    none = str(tmp_path / "none")
    assert append_store.missing_batches(spark, store, corpus) == [
        "2", "9", "10"
    ]
    assert append_store.missing_batches(spark, none, corpus) == [
        "0", "2", "9", "10"
    ]
    assert append_store.missing_batches(spark, store, none) == []


def test_compaction_watermark_counts_only_folded_batches(spark, tmp_path):
    """A batch directory holding no committed files (its write died
    before commit, replay pending) is not folded, so compaction must
    not advance the watermark past it: the replay still lands."""
    store = str(tmp_path / "store")

    def frame(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    append_store.write_batch(frame([1, 2]), store, 0)
    append_store.write_batch(frame([3]), store, 1)
    os.makedirs(f"{store}/ingest_batch_id=2")
    assert append_store.compact(spark, store) == 3
    assert append_store.watermark(spark, store) == 1
    assert not append_store.write_batch(frame([1, 2]), store, 0)
    assert append_store.write_batch(frame([4]), store, 2)
    got = append_store.read_store(spark, store).collect()
    assert sorted(r["doc_id"] for r in got) == [1, 2, 3, 4]


@pytest.mark.sweep
@pytest.mark.parametrize("kind", KINDS)
def test_mid_swap_crash_recovery_and_replay(spark, tmp_path, kind):
    """Simulated crash between the compaction swap's delete and rename:
    the side copy is the only complete store.  The next admit must
    refuse (recreating the store directory would trick recovery into
    discarding the copy), compaction must restore the exact rows, and a
    replay of a batch already folded into the base is skipped: the
    store keeps one copy of each row."""
    corpus, store = str(tmp_path / "corpus"), str(tmp_path / "store")
    docs = list(enumerate(payloads(kind), start=1))
    batches = [docs[:2], docs[2:]]
    for bid, rows in enumerate(batches):
        admit(spark, kind, rows, bid, corpus, store)

    def rows(path):
        return sorted(spark.read.parquet(path).collect())

    before = rows(store)
    assert len(before) == 4
    shutil.move(store, store + "_compacting")
    open(store + "_swap_pending", "w").close()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        admit(spark, kind, docs[:1], 2, corpus, store)
    assert append_store.compact(spark, store) == 4
    assert not os.path.exists(store + "_swap_pending")
    assert rows(store) == before

    n = append_store.compact(spark, store)
    assert n == 4
    admit(spark, kind, batches[0], 0, corpus, store)
    ids = [1, 2, 3, 4]
    assert sorted(r["doc_id"] for r in rows(corpus)) == ids
    # the base already holds the replayed batch: its rows land once
    assert sorted(r["doc_id"] for r in rows(store)) == ids
    assert spark.read.parquet(store).count() == n


def test_batch_layout_lives_in_append_store():
    """The batch-partition layout, the "no data yet" rule, the swap
    protocol and the replay watermark have one home,
    io/append_store.py; io/fsutil.py only defines the swap
    primitives."""
    layout = (
        "ingest_batch_id={", '"ingest_batch_id"', "compacted_through",
        '"UNABLE_TO_INFER_SCHEMA"',
    )
    swap_calls = ("recover_pending_swap(", "swap_dir(")
    home = PACKAGE / "io" / "append_store.py"
    offenders = [
        f"{path.relative_to(PACKAGE)}:{lineno}: {needle}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != home
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for needle in layout + (() if path.name == "fsutil.py" else swap_calls)
        if needle in line
    ]
    assert not offenders, offenders
    assert home.read_text().count('"UNABLE_TO_INFER_SCHEMA"') == 1
