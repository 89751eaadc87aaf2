"""Batch-partitioned append stores: write a batch or the base, read the
store (excluding a batch), fold-and-swap compaction with its replay
watermark, coverage.

The reference keeps reruns idempotent by rewriting a whole day file;
every incremental store the engine keeps generalizes that into an
append-per-batch, compact-on-schedule lifecycle — the admit loops'
corpus, signature / fingerprint, stats and frame-index stores
(``streaming/corpus_stream.py``, ``streaming/media_stream.py``) and
the IVF index's cell tree (``io/ann_index.py``).  This is the only
module that knows their layout, the swap protocol and the watermark:

    <dir>/ingest_batch_id=<id>/...   one Hive partition per batch
    <dir>/ingest_batch_id=-1/...     the compacted (or built) base
    <dir>/_compacted_through         highest batch id folded into it

Durability and replay, once for every store:

- ``write_batch`` overwrites the batch's OWN partition directory
  explicitly instead of relying on dynamic partition overwrite, which
  only rewrites partitions PRESENT in the new output: a replay that now
  admits zero rows (config changed across a restart, or dedup now drops
  everything) would write nothing and leave the prior attempt's rows in
  place.  The explicit overwrite replaces the directory even when the
  frame is empty, so at-least-once replays (foreachBatch after a
  failure, a retried job) are idempotent unconditionally.
- ``read_store`` probes existence through Spark's reader, NOT a
  driver-local listing: stores typically live on shared/object storage
  (s3a://, hdfs://) that the driver's local glob cannot see, and a
  local-only check would report "no store" forever and silently admit
  every cross-batch duplicate.  ONLY the two "not there yet" conditions
  (a missing path, or a directory with no data files yet — Spark
  creates it before committing files) mean no store; anything else
  (ACL list-denial that lets writes through, schema conflict,
  corruption) fails loudly.  ``exclude_batch_id`` prunes the batch's
  own partition (one directory skipped — free): on a replay the store
  already holds the batch's previous write, and comparing the batch
  against it would drop every row, leaving a partially-written batch
  permanently unrepaired.  Rows already folded into the base cannot be
  pruned by partition; the callers' ``doc_new != doc_old`` identity
  guard covers them (ids are globally unique), and the base id -1
  never collides with a real batch id.
- ``compact`` exists because thousands of micro-batches leave
  thousands of tiny partitions, and every admit's store join pays
  per-file open cost on each.  It folds every partition into the base
  (one store-sized job — corpus text is never read) through a SIDE
  directory (``<dir>_compacting``) swapped in under a persistent marker
  (io/fsutil.py: marker → delete → rename → clear), so a complete
  durable copy of the store exists on storage at every instant — an
  in-place overwrite backed only by executor-local checkpoint blocks
  would lose the store with one executor.  A crash in the destructive
  window is repaired by the next call, and writers refuse while the
  marker exists (``fsutil.assert_no_pending_swap``): a batch landing in
  that window would recreate the directory and trick recovery into
  discarding the only complete copy.  A CRASHED batch awaiting replay
  is safe to compact over: batch writes are job-transactional, so
  either all its rows are folded (and the watermark below skips the
  replay) or none are (and the replay lands).
- The replay rule: a batch already folded into the base must not land
  again.  ``compact`` writes the highest folded batch id (the
  WATERMARK, taken from the batch ids of the data files the fold
  reads, so a crashed batch's directory holding no committed files
  stays replayable) as ``<dir>_compacting/_compacted_through`` before
  the swap, so the rows and their watermark are published by the same
  rename — a crash cannot leave one without the other.  ``write_batch``
  skips (returns False) any ``batch_id <= watermark``: the folded rows
  were complete when compaction read them, so rewriting the partition
  would only duplicate them beside the base.  ``write_base`` replaces
  the whole tree, watermark included, so a rebuild starts a fresh
  generation.  Batch ids must therefore INCREASE per store (a
  streaming checkpoint's batch counter does; ad-hoc writers derive
  theirs with ``next_batch_id``), and a replay must carry the same
  content as its original attempt.  The parquet reader ignores the
  ``_``-prefixed file.
- ``missing_batches`` is the coverage check between two stores fed by
  the same loop (a stats store or frame index vs its corpus): a store
  enabled after the first drain silently lacks the earlier batches.
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.io.fsutil import (
    hadoop_fs,
    recover_pending_swap,
    swap_dir,
)

BATCH_COL = "ingest_batch_id"
BASE_BATCH_ID = -1
_WATERMARK = "_compacted_through"
_BATCH_DIR = re.compile(rf"/{BATCH_COL}=(-?\d+)/")


def watermark(spark: SparkSession, dir: str) -> int:
    """Highest batch id folded into the base (-1 = none).  An
    unparsable value is a LOUD error: guessing low would duplicate
    folded batches, guessing high would drop new ones."""
    fs, p = hadoop_fs(spark, f"{dir}/{_WATERMARK}")
    if not fs.exists(p):
        return BASE_BATCH_ID
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    try:
        return int(data.strip())
    except ValueError:
        raise IOError(
            f"unreadable compaction watermark at {dir}/{_WATERMARK} "
            f"({data!r}); restore it to the highest folded batch id "
            f"before appending"
        )


def write_batch(
    df: DataFrame, dir: str, batch_id: int, partition_by: tuple = ()
) -> bool:
    """Overwrite ``dir/ingest_batch_id=<batch_id>`` with ``df`` (split
    further by ``partition_by``), even when ``df`` is empty.  Returns
    False without writing when the batch is already folded into the
    base (``batch_id <= watermark``)."""
    if batch_id <= watermark(df.sparkSession, dir):
        return False
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(
        f"{dir}/{BATCH_COL}={batch_id}"
    )
    return True


def write_base(df: DataFrame, dir: str, partition_by: tuple = ()) -> None:
    """Replace the whole tree — every batch partition and the watermark
    — with ``df`` as the base partition.  Static overwrite whatever the
    session default: under dynamic overwrite partitions ``df`` does not
    write would survive."""
    (
        df.withColumn(BATCH_COL, F.lit(BASE_BATCH_ID))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(BATCH_COL, *partition_by)
        .parquet(dir)
    )


def read_store(
    spark: SparkSession, dir: str, exclude_batch_id: int | None = None
) -> DataFrame | None:
    """The whole store (batch column included), or None before its
    first batch; ``exclude_batch_id`` prunes that batch's partition."""
    try:
        df = spark.read.parquet(dir)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
    if exclude_batch_id is not None and BATCH_COL in df.columns:
        df = df.filter(F.col(BATCH_COL) != exclude_batch_id)
    return df


def compact(
    spark: SparkSession, dir: str, partition_by: tuple = ()
) -> int:
    """Fold every batch partition into the base partition, in place,
    keeping every data column, and advance the watermark; returns the
    compacted row count.  After a crashed swap this first restores the
    crashed call's result."""
    tmp_dir = dir.rstrip("/") + "_compacting"
    if recover_pending_swap(spark, tmp_dir, dir):
        # the crashed compaction's result is now live — done
        return spark.read.parquet(dir).count()
    src = spark.read.parquet(dir)
    # the watermark comes from the files the fold reads (one listing,
    # no job), not from directory names: a crashed batch's directory
    # with no committed files was not folded and must stay replayable
    ids = (_BATCH_DIR.search(f) for f in src.inputFiles())
    folded = max([watermark(spark, dir)] + [int(m[1]) for m in ids if m])
    write_base(src.drop(BATCH_COL), tmp_dir, partition_by)
    fs, p = hadoop_fs(spark, f"{tmp_dir}/{_WATERMARK}")
    out = fs.create(p, True)
    try:
        out.write(str(folded).encode("ascii"))
    finally:
        out.close()
    swap_dir(spark, tmp_dir, dir)
    return spark.read.parquet(dir).count()


def _batch_ids(spark: SparkSession, dir: str) -> set[int]:
    fs, p = hadoop_fs(spark, dir)
    if not fs.exists(p):
        return set()
    prefix = f"{BATCH_COL}="
    return {
        int(name[len(prefix):])
        for name in (st.getPath().getName() for st in fs.listStatus(p))
        if name.startswith(prefix)
    }


def next_batch_id(spark: SparkSession, dir: str) -> int:
    """The smallest batch id a fresh write can land under — past every
    listed batch AND the watermark (after a compaction the listing
    shows only the base), from one directory listing."""
    return max(_batch_ids(spark, dir) | {watermark(spark, dir)}) + 1


def missing_batches(
    spark: SparkSession, dir: str, corpus_dir: str
) -> list[str]:
    """Batch ids ``corpus_dir`` has and ``dir`` lacks, in numeric
    order — one directory listing each (Hadoop FS, any scheme)."""
    missing = _batch_ids(spark, corpus_dir) - _batch_ids(spark, dir)
    return [str(i) for i in sorted(missing)]
