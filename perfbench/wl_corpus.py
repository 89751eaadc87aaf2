"""``corpus_batch``: ``plans.corpus.run_corpus`` with the CLI defaults
(greedy near-dup resolution) plus the order-3 Kneser-Ney LM gate, over a
seeded ``documents.parquet``, closed loop, one call at a time.

The first call of a process pays plan compilation and class loading
(about 10 s more than a warm call at ``N_DOCS``), so the measured calls
are preceded by one warm-up call on a tiny table of ``WARMUP_DOCS``
documents: it compiles the same plans for much less than a call on the
full table would cost.  The traced run warms up the same way, so that its
whole call and its layer-by-layer replay both run with compiled plans.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb

import gen_docs
from common import Outcome, closed_loop, fresh_dir

N_DOCS = 1000
#: the warm-up table; a call costs about the same at any size this small
WARMUP_DOCS = 40
#: KN cross-entropy cut (nats); drops roughly the top 5% of survivors
LM_MAX_ENTROPY = 2.3
CORPUS_ARGS = {"lm_scheme": "kn", "lm_order": 3, "lm_max_entropy": LM_MAX_ENTROPY}
REFERENCE_STAGES = ("input", "lang_and_length", "exact_dedup", "near_dedup", "quality")


def prepare(cache_dir: str, seed: int, seconds: float) -> dict:
    """Generate (or reuse) the documents table and its Python reference."""
    root = os.path.join(cache_dir, f"corpus-{seed}-{N_DOCS}")
    truth_path = os.path.join(root, "truth.json")
    if not os.path.exists(truth_path):
        fresh_dir(os.path.join(root, "main"))
        fresh_dir(os.path.join(root, "warmup"))
        doc_path = os.path.join(root, "main", "documents.parquet")
        planted = gen_docs.generate(doc_path, seed, N_DOCS)
        gen_docs.generate(
            os.path.join(root, "warmup", "documents.parquet"),
            seed + 1_000_003, WARMUP_DOCS,
        )
        truth = {"planted": planted, "reference": gen_docs.reference_stats(doc_path)}
        with open(truth_path + ".tmp", "w") as f:
            json.dump(truth, f)
        os.replace(truth_path + ".tmp", truth_path)
    with open(truth_path) as f:
        truth = json.load(f)
    return {
        "sf_dir": os.path.join(root, "main"),
        "warmup_dir": os.path.join(root, "warmup"),
        "truth": truth,
    }


def check(out_dir: str, stats: dict, truth: dict, lm_kept: list[int]) -> list[str]:
    """Problems with one call's outputs (empty when correct).

    Stages through the quality gate must equal the Python reference.  The
    LM gate has no independent reference: it must drop some documents,
    and give the same count on every call of the run (``lm_kept`` holds
    the first call's count).
    """
    ref = truth["reference"]
    problems = [
        f"{k}: {stats.get(k)} != reference {ref[k]}"
        for k in REFERENCE_STAGES
        if stats.get(k) != ref[k]
    ]
    lm = stats.get("lm_filter")
    if lm is None or not 0 < lm < stats.get("quality", 0):
        problems.append(f"lm_filter {lm} drops nothing or everything")
    if lm_kept and lm != lm_kept[0]:
        problems.append(f"lm_filter {lm} != first call's {lm_kept[0]}")
    lm_kept.append(lm)
    con = duckdb.connect()
    try:
        rows, distinct = con.execute(
            "SELECT count(*), count(DISTINCT fp_md5) FROM "
            f"read_parquet('{out_dir}/**/*.parquet')"
        ).fetchone()
    finally:
        con.close()
    if rows != lm or distinct != rows:
        problems.append(f"survivors {rows} rows, {distinct} distinct fp_md5, stats {lm}")
    return problems


def warm_up(spark, inputs: dict, work: str) -> None:
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    out = os.path.join(fresh_dir(os.path.join(work, "warmup")), "corpus")
    run_corpus(spark, inputs["warmup_dir"], out, **CORPUS_ARGS)


def run(spark, inputs: dict, seconds: float, work: str) -> Outcome:
    from etl_olho_vivo_spark.plans.corpus import run_corpus

    lm_kept: list[int] = []
    warm_up(spark, inputs, work)

    def call(i: int):
        out = os.path.join(work, f"call-{i}", "corpus")
        return out, run_corpus(spark, inputs["sf_dir"], out, **CORPUS_ARGS)

    def check_call(i: int, result) -> list[str]:
        out, stats = result
        problems = check(out, stats, inputs["truth"], lm_kept)
        shutil.rmtree(os.path.dirname(out))
        return problems

    res = closed_loop(call, check_call, seconds, warmup=0)
    res.record.update(ground_truth=inputs["truth"], lm_filter=lm_kept)
    return res


def trace(spark, inputs: dict, work: str, tracer, seconds: float) -> dict:
    """The whole call once, then ``run_corpus``'s greedy + KN path layer
    by layer, same functions, order and arguments, each span's output
    materialized at its boundary."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import dedup
    from etl_olho_vivo_spark.operators import lm as lmops
    from etl_olho_vivo_spark.plans.corpus import document_profile, run_corpus
    from etl_olho_vivo_spark.sources.tables import read_table

    sf_dir, truth = inputs["sf_dir"], inputs["truth"]
    warm_up(spark, inputs, work)
    with tracer.span("plans.corpus.run_corpus") as whole:
        stats = run_corpus(
            spark, sf_dir, os.path.join(fresh_dir(os.path.join(work, "whole")), "c"),
            **CORPUS_ARGS,
        )
    out = os.path.join(fresh_dir(os.path.join(work, "decomposed")), "c")
    parts: dict[str, int] = {}
    sig_caches, drop_caches, stage_caches = CacheBag(), CacheBag(), CacheBag()
    with tracer.span("trace.corpus") as decomposed:
        d = read_table(spark, sf_dir, "documents")
        with tracer.span("plans.corpus.document_profile"):
            prof = document_profile(d).persist(StorageLevel.MEMORY_AND_DISK)
            parts["input"] = prof.count()
        kept = prof.filter(
            F.col("lang_guess").isin("en", "de", "es", "fr") & (F.col("n_tokens") >= 5)
        )
        parts["lang_and_length"] = kept.count()
        with tracer.span("operators.dedup.exact_dedup"):
            survivors = dedup.exact_dedup(kept, ["fp_md5"], "doc_id").select(
                "fp_md5", F.col("keep_doc_id").alias("doc_id")
            )
            kept = kept.join(survivors, ["fp_md5", "doc_id"], "left_semi")
            parts["exact_dedup"] = kept.count()
        with tracer.span("operators.dedup.near_duplicates"):
            pairs = dedup.near_duplicates(
                kept.select("doc_id", "text"), threshold=0.6, caches=sig_caches
            )
            drops = drop_caches.add(
                pairs.select(F.col("doc_b").alias("doc_id")).distinct()
            )
            drops.count()
        verified = pairs.count()
        sig = dedup.minhash_signature(kept.select("doc_id", "text")).select(
            "doc_id", "sh", "minhash"
        )
        candidates = dedup.candidate_pairs(dedup.lsh_bands(sig)).count()
        sig_caches.release()
        kept = kept.join(drops, "doc_id", "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        survived = kept
        parts["near_dedup"] = kept.count()
        kept = kept.filter(F.col("quality_score") >= 0.0)
        parts["quality"] = kept.count()
        with tracer.span("operators.lm.kneser_ney_counts"):
            counts = lmops.kneser_ney_counts(
                kept.select("text"), order=3, caches=stage_caches
            )
            for rel in [
                counts["top"], counts["top_ctx"], counts["cc1"],
                *counts["cont"].values(), *counts["cont_ctx"].values(),
            ]:
                stage_caches.add(rel).count()
        with tracer.span("operators.lm.kneser_ney_scores"):
            failing = lmops.kneser_ney_scores(
                kept.select("doc_id", "text"), counts, caches=stage_caches
            ).filter(F.col("kn_score") > LM_MAX_ENTROPY).select("doc_id")
            kept = stage_caches.add(kept.join(failing, "doc_id", "left_anti"))
            parts["lm_filter"] = kept.count()
        kept.select(
            "doc_id", "text", "lang", "source", "lang_guess",
            "n_tokens", "quality_score", "fp_md5",
        ).write.mode("overwrite").partitionBy("lang_guess").parquet(out)
        prof.unpersist()
        survived.unpersist()
        drop_caches.release()
        stage_caches.release()
    problems = check(out, parts, truth, [])
    if parts != stats:
        problems.append(f"decomposed stats {parts} != run_corpus {stats}")
    ref = truth["reference"]
    if (candidates, verified) != (ref["candidate_pairs"], ref["verified_pairs"]):
        problems.append(
            f"pairs {candidates}/{verified} != reference "
            f"{ref['candidate_pairs']}/{ref['verified_pairs']}"
        )
    return {
        "counts": {
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_ratio": verified / candidates,
            "trace_overhead_s": decomposed.wall_s - whole.wall_s,
        },
        "derived": {},
        "record": {"ground_truth": truth, "run_corpus": stats, "problems": problems},
    }
