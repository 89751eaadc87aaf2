"""Eval-set decontamination: flag training documents that share a word
n-gram with a held-out benchmark/eval corpus.

This is the standard training-data hygiene step (published form: GPT-3
appendix C 13-gram dedup, Llama/Dolma n-gram decontamination): before a
corpus is used for training, any document containing an exact n-gram that
also appears in an evaluation benchmark is flagged (and usually dropped),
so downstream eval numbers measure generalization rather than
memorization of leaked test items.

Scale shape (100 TB corpus vs benchmark-suite eval set):

- The **eval side is benchmark-sized** (MBs-GBs of text → at most a few
  hundred million distinct n-gram hashes), so its distinct-gram set is
  broadcast and the corpus-side probe is a map-side hash lookup — the
  100 TB corpus is scanned once and never shuffled for the join.
- The only shuffle carries **contaminated hits** (post-join rows), a tiny
  fraction of the corpus, hash-partitioned by doc id for the per-doc
  rollup with map-side partial aggregation.
- Per-doc grams are ``array_distinct``-ed before the explode, bounding
  the probe volume at (tokens − n + 1) rows per document.
- If an eval set ever outgrows the broadcast budget, pass
  ``broadcast_eval=False`` — the join degrades to a shuffle on the gram
  hash (uniform key, no skew) instead of failing.

All gram hashes are md5-derived (functions/hashing.py) so the operator is
oracle-checkable bit-for-bit against DuckDB; see
registry_data.q_eval_decontamination.

Relation to the reference (JonasMarma/etl-olho-vivo): the reference has no
corpus operators at all — this is part of the beyond-reference
training-data surface mandated by SURVEY §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import ngram_hash_expr
from etl_olho_vivo_spark.operators.dedup import with_token_hashes

DEFAULT_N = 5


def with_ngram_hashes(
    df: DataFrame, n: int = DEFAULT_N, text: str = "text", out: str = "gs"
) -> DataFrame:
    """Distinct rolling word-n-gram hashes per document (array column).

    Documents shorter than ``n`` tokens get an empty array (no gram can
    be shared, so they can never be flagged — matching the published
    semantics, where sub-n fragments are not decontamination evidence).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    gram = ngram_hash_expr([f"wh[i + {j}]" for j in range(n)])
    expr = (
        f"CASE WHEN size(wh) >= {n} THEN array_distinct("
        f"transform(sequence(0, size(wh) - {n}), i -> {gram})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        with_token_hashes(df, text)
        .withColumn(out, F.expr(expr))
        .drop("wh")
    )


def eval_gram_set(
    eval_df: DataFrame, n: int = DEFAULT_N, text: str = "text"
) -> DataFrame:
    """The distinct n-gram hash set of the eval corpus: one column ``g``.

    This is the relation a production pipeline builds ONCE per benchmark
    release and persists; every corpus ingest then joins against it.

    ``explode_outer`` (not ``explode``) on purpose: plain explode lets
    ``InferFiltersFromGenerate`` add a ``size(gs) > 0`` filter that
    predicate pushdown then rewrites BELOW the projections with every
    alias substituted — the whole token-hash transform inlined once per
    ``wh`` reference, re-hashing each document O(tokens²) times
    (measured 122 s vs <2 s at sf0.1).  The rule skips outer
    generators; empty docs yield one NULL gram, filtered on the
    generated attribute (which cannot be pushed below the Generate).
    """
    return (
        with_ngram_hashes(eval_df.select(text), n, text)
        .select(F.explode_outer("gs").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )


def write_eval_gram_store(
    eval_df: DataFrame, path: str, n: int = DEFAULT_N, text: str = "text"
) -> None:
    """Persist the eval gram set as parquet — the build-once-per-
    benchmark-release artifact every ingest (batch or streaming) then
    probes against.

    The gram size ``n`` is stamped into the store (a constant column —
    hashes of different-n grams are disjoint spaces, so a store probed
    with the wrong ``n`` matches essentially NOTHING and silently
    admits every contaminated doc; ``read_eval_gram_store`` turns that
    misconfiguration into a loud error instead).
    """
    (
        eval_gram_set(eval_df, n, text)
        .withColumn("n", F.lit(n))
        .write.mode("overwrite")
        .parquet(path)
    )


def read_eval_gram_store(spark, path: str, n: int = DEFAULT_N) -> DataFrame:
    """Load a persisted gram store, verifying it was built with the same
    ``n`` the probe will use.  Stores written before the ``n`` stamp
    existed load unverified (nothing to check against)."""
    df = spark.read.parquet(path)
    if "n" in df.columns:
        stored = df.select("n").first()  # constant column — one row
        if stored is not None and stored["n"] != n:
            raise ValueError(
                f"eval gram store at {path} was built with n="
                f"{stored['n']} but the probe uses n={n}; rebuild the "
                f"store or pass the matching n-gram size"
            )
    return df.select("g")


def contamination_report_from_grams(
    train: DataFrame,
    eval_grams: DataFrame,
    *,
    n: int = DEFAULT_N,
    text: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """``contamination_report`` against a pre-built gram relation (one
    column ``g`` — e.g. a persisted ``write_eval_gram_store`` parquet),
    so continuous pipelines don't re-shingle the benchmark per batch."""
    grams = with_ngram_hashes(train.select(id_col, text), n, text)
    # explode_outer: see eval_gram_set — plain explode's inferred
    # size(gs) > 0 filter pushes down with the gram expression fully
    # inlined, re-hashing every doc O(tokens²).  The NULL gram an empty
    # doc produces can never equal a real gram, so the inner join
    # drops it — no explicit filter needed.
    probe = grams.select(
        id_col,
        F.size("gs").cast("bigint").alias("n_grams"),
        F.explode_outer("gs").alias("g"),
    )
    ev = eval_grams.select("g")
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        probe.join(ev, "g")
        .groupBy(id_col)
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_contaminated"),
        )
        .withColumn(
            "overlap_frac", F.col("n_contaminated") / F.col("n_grams")
        )
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = DEFAULT_N,
    text: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-document contamination rollup for every flagged training doc.

    Returns ``(id_col, n_grams, n_contaminated, overlap_frac)`` — one row
    per training document sharing ≥ 1 distinct n-gram with the eval set;
    clean documents are absent (the report is hit-sized, not
    corpus-sized).  ``overlap_frac`` = contaminated / total distinct
    grams, an exact int/int division in both engines.
    """
    return contamination_report_from_grams(
        train,
        eval_gram_set(eval_df, n, text),
        n=n,
        text=text,
        id_col=id_col,
        broadcast_eval=broadcast_eval,
    )
