"""The admit loops' batch-partitioned stores as test parameters: the
corpus stream's MinHash signature store and the media stream's
perceptual fingerprint store, each fed through its own admit loop."""

from __future__ import annotations

KINDS = ("signature", "fingerprint")


def payloads(kind: str) -> list:
    """Four mutually distinct documents of ``kind`` (no near-dup pair)."""
    if kind == "signature":
        from tests.test_corpus_stream import BASE, FOURTH, OTHER, THIRD

        return [BASE, OTHER, THIRD, FOURTH]
    from tests.test_media_stream import _img

    return [_img(5), _img(40), _img(77), _img(90)]


def admit(spark, kind: str, rows, batch_id: int, corpus_dir, store_dir):
    """Admit (doc_id, payload) ``rows`` as micro-batch ``batch_id``."""
    if kind == "signature":
        from etl_olho_vivo_spark.streaming.corpus_stream import admit_batch

        batch = spark.createDataFrame(rows, "doc_id long, text string")
        admit_batch(spark, batch, batch_id, corpus_dir, store_dir)
    else:
        from etl_olho_vivo_spark.streaming.media_stream import (
            admit_media_batch,
        )

        batch = spark.createDataFrame(rows, "doc_id long, media binary")
        admit_media_batch(spark, batch, batch_id, corpus_dir, store_dir)
