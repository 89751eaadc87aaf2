"""Key-perturbed table replication — the scale-tier data generator.

One definition of "replicate a table N× with perturbed keys" shared by
the 10× plan probe (tests/test_scale_probe.py), the starved-JVM memory
probe (tests/test_memory_probe.py, whose fact-trio replica lives in
tests/datagen.py on these helpers), and the bench's scaling tier
(bench.py --scale) — the three must scale the same shape or their
evidence diverges silently.

Each replica gets fresh ids (id + replica·OFF) so key cardinality grows
with the data; duplicating rows under the SAME keys would shrink
relative group counts instead of simulating growth.  Replicated
documents/embeddings are verbatim copies under new ids, so near-dup
queries additionally get a denser (harder) candidate structure — at 10
replicas the banded/blocked pair stages face ~100× the pair work, which
is exactly the super-linear stress the scale tier exists to measure.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: key offset larger than any base id at these scale factors
OFF = 10_000_000


def _rep_col(replicas: int):
    return F.explode(
        F.array(*[F.lit(i) for i in range(replicas)])
    ).alias("rep")


def _check_ids_below_off(df, *id_cols: str) -> None:
    """Replica ids are base + rep·OFF; a base id ≥ OFF would collide with
    the next replica's range and SILENTLY deflate key cardinality —
    corrupting every scaling ratio derived from the copy.  One tiny agg
    up front beats a wrong BASELINE table."""
    (row,) = df.agg(
        *[F.max(F.col(c)).alias(c) for c in id_cols]
    ).collect()
    for c in id_cols:
        if row[c] is not None and row[c] >= OFF:
            raise ValueError(
                f"replicate: max({c})={row[c]} >= OFF={OFF}; replica id "
                "ranges would overlap — raise OFF for this input"
            )


def replicate_events(
    spark: SparkSession, src: str, out: str, replicas: int
) -> None:
    """Write ``replicas``× copies of the events parquet at ``src`` to
    ``out``, each replica under fresh event/user ids.

    Derived-parquet gotchas (see .claude/skills/verify/SKILL.md): pin
    instant semantics before writing and cast ``ts`` explicitly, or the
    copy silently becomes TIMESTAMP_NTZ and breaks ``unix_millis``.
    """
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    ev = spark.read.parquet(src)
    _check_ids_below_off(ev, "event_id", "user_id")
    ev.select("*", _rep_col(replicas)).select(
        (F.col("event_id") + F.col("rep") * F.lit(OFF)).alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("user_id") + F.col("rep") * F.lit(OFF)).alias("user_id"),
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(out)


def replicate_documents(
    spark: SparkSession, src: str, out: str, replicas: int
) -> None:
    """``replicas``× copies of a documents parquet under fresh doc_ids
    (text verbatim — every replica is a near-dup candidate of its base)."""
    doc = spark.read.parquet(src)
    _check_ids_below_off(doc, "doc_id")
    doc.select("*", _rep_col(replicas)).select(
        (F.col("doc_id") + F.col("rep") * F.lit(OFF)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).write.mode("overwrite").parquet(out)


def replicate_embeddings(
    spark: SparkSession, src: str, out: str, replicas: int
) -> None:
    """``replicas``× copies of an embeddings parquet under fresh vec_ids
    (vectors verbatim — every replica lands in its base's IVF cell)."""
    emb = spark.read.parquet(src)
    _check_ids_below_off(emb, "vec_id")
    emb.select("*", _rep_col(replicas)).select(
        (F.col("vec_id") + F.col("rep") * F.lit(OFF)).alias("vec_id"),
        "embedding", "label",
    ).write.mode("overwrite").parquet(out)
