"""The media near-dup path that both the ``media-dedup`` CLI and the
media stream run: ``media_stream.media_fingerprints`` followed by
``dedup.hamming_near_dups`` over the non-NULL fingerprints."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.caching import SESSION_BAG
from etl_olho_vivo_spark.operators.dedup import hamming_near_dups
from etl_olho_vivo_spark.streaming.media_stream import media_fingerprints


def media_near_dups(
    df: DataFrame, kind: str, *, max_hamming: int = 6, n_bands: int = 8
) -> DataFrame:
    """(doc_a, doc_b, hamming) over a (doc_id, media) frame of one kind.
    The fingerprint frame is cached, as the CLI caches it: the pairing
    reads it four times, and each read would otherwise re-decode."""
    fps = SESSION_BAG.add(
        media_fingerprints(df, kind).filter(F.col("fp").isNotNull())
    )
    return hamming_near_dups(
        fps, hash_col="fp", bits=64,
        max_hamming=max_hamming, n_bands=n_bands,
    )
