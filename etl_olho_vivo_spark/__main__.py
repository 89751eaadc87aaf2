"""CLI — the reference's three scheduled Lambda scripts as one entry point.

The reference wires its pipeline together with EventBridge schedules
around three standalone scripts (`get-bus-data.py` polling → S3;
`etl-olho-vivo-ingestao-posicoes.py` daily flatten;
`etl-olho-vivo-velocidades-medias.py` daily analytics — README.md:13,22).
The engine exposes the same operational surface as subcommands over the
composed plans, so any scheduler (cron, Airflow, EventBridge) can run
them without writing Python:

    python -m etl_olho_vivo_spark ingest --out /data/raw --polls 4
    python -m etl_olho_vivo_spark daily  --raw /data/raw --out /data/etl
    python -m etl_olho_vivo_spark corpus --sf-dir /data/tables \\
        --out /data/corpus --resolution components

`ingest` uses the custom `olhovivo` DataSource in its deterministic
offline mode by default; pass ``--live --api-token ...`` for the real
authenticated poll (requires network + the `requests` package, same
gating as the source).  `daily` and `corpus` print one JSON line of
per-stage row counts — the machine-readable completion signal the
reference's clock-offset coupling lacks.

Note on offline demo data: the fake poller's vehicles hold id-derived
pseudo-positions that jump between polls (>>33 m/s), so a
`ingest → daily` smoke run correctly produces an intact posicoes fact
but EMPTY derived datasets — every ping pair is dropped by the
reference's speed-cap filter.  That is the cleaning pipeline working,
not a wiring failure; real (or events-adapter) data exercises both
branches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m etl_olho_vivo_spark",
        description="PySpark-native etl-olho-vivo engine",
    )
    p.add_argument(
        "--cpus", default=None,
        help="local[] parallelism (default: $SPARK_GRAFT_CPUS or 32)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    ing = sub.add_parser(
        "ingest", help="stage 1: poll /Posicao into the raw JSON zone"
    )
    ing.add_argument("--out", required=True, help="raw zone directory")
    ing.add_argument("--polls", type=int, default=4)
    ing.add_argument("--lines", type=int, default=10)
    ing.add_argument("--vehicles", type=int, default=10)
    ing.add_argument(
        "--live", action="store_true",
        help="real authenticated poll (needs network + requests)",
    )
    ing.add_argument("--api-token", default=None)

    day = sub.add_parser(
        "daily", help="stages 2+3: raw JSON -> fact parquet + derived CSVs"
    )
    day.add_argument("--raw", required=True, help="raw JSON zone directory")
    day.add_argument("--out", required=True, help="output directory")
    day.add_argument(
        "--no-fact", action="store_true",
        help="skip the posicoes parquet fact write",
    )
    day.add_argument(
        "--write-pairs", action="store_true",
        help="also emit the cleaned per-pair speeds as a fourth CSV "
        "(the reference's commented-out granular output, S10; off by "
        "default for the same 'too granular' reason)",
    )
    day.add_argument(
        "--date", default=None, metavar="YYYY-MM-DD",
        help="process only this raw-zone day partition (the reference's "
        "'yesterday' daily-batch semantics; path-pruned, no full scan)",
    )

    cor = sub.add_parser(
        "corpus", help="LLM corpus pipeline: documents -> cleaned corpus"
    )
    cor.add_argument("--sf-dir", required=True, help="input tables directory")
    cor.add_argument("--out", required=True, help="corpus output directory")
    cor.add_argument(
        "--resolution",
        choices=["greedy", "components", "keep_best"],
        default="greedy",
        help="near-dup pair-graph resolution: greedy (drop larger id "
        "per pair), components (exact clustering, keep min id), "
        "keep_best (exact clustering, keep highest quality_score)",
    )
    cor.add_argument(
        "--datacard", action="store_true",
        help="after the corpus write, emit its data card (per-lang/"
        "per-source/length-histogram doc+token+char counts, plus "
        "quality deciles when quality_score shipped) at <out>_card.json",
    )
    cor.add_argument(
        "--snapshot-filter", default=None, metavar="FILTER_DIR",
        help="drop docs whose 3-gram overlap with a previous crawl's "
        "persisted Bloom filter (see bloom-build) reaches "
        "--snapshot-overlap — inter-snapshot dedup without re-reading "
        "the prior crawl",
    )
    cor.add_argument("--snapshot-overlap", type=float, default=0.5)
    cor.add_argument("--min-tokens", type=int, default=5)
    cor.add_argument("--jaccard-threshold", type=float, default=0.6)
    cor.add_argument("--redact-pii", action="store_true")
    cor.add_argument(
        "--dedup-lines", choices=["keep_first", "drop_boilerplate"],
        default=None,
        help="corpus-wide line-level dedup before profiling (C4 "
        "keep-one / CCNet boilerplate-drop)",
    )
    cor.add_argument("--line-min-count", type=int, default=2)
    cor.add_argument(
        "--drop-spans", choices=["keep_first", "drop_all"],
        default=None,
        help="corpus-wide repeated-span removal after line dedup "
        "(shingle approximation of exact-substring dedup, Lee et al. "
        "2022)",
    )
    cor.add_argument("--span-k", type=int, default=5)
    cor.add_argument("--span-min-count", type=int, default=2)
    cor.add_argument(
        "--lm-max-entropy", type=float, default=None, metavar="NATS",
        help="CCNet-style LM quality gate: keep documents whose bigram "
        "cross-entropy (vs --lm-ref, or the surviving corpus itself) "
        "is at or under this absolute threshold",
    )
    cor.add_argument(
        "--lm-ref", default=None, metavar="PARQUET_DIR",
        help="trusted reference corpus (parquet with a text column) "
        "for --lm-max-entropy; defaults to self-training",
    )
    cor.add_argument(
        "--lm-order", type=int, default=2, metavar="N",
        help="n-gram order for the --lm-max-entropy gate (default 2; "
        "CCNet uses 5) — higher orders sharpen the gibberish/boilerplate "
        "separation at the cost of larger count relations",
    )
    cor.add_argument(
        "--lm-scheme", choices=("addk", "backoff", "kn"), default="addk",
        help="smoothing for the --lm-max-entropy gate: addk (CCNet-style "
        "cross-entropy, default), backoff (stupid backoff, Brants et "
        "al. 2007 — count ratios with a fixed 0.4 penalty; the threshold "
        "then bounds -(1/m) SUM ln S, which is 0 for perfectly predicted "
        "text rather than strictly positive), or kn (interpolated "
        "Kneser-Ney, Chen & Goodman 1999 — the smoothing KenLM uses, "
        "i.e. CCNet proper: continuation-count lower orders, discount "
        "interpolation, uniform OOV leaf)",
    )
    cor.add_argument(
        "--dsir-target", default=None, metavar="PARQUET_DIR",
        help="target corpus (parquet with a text column) for DSIR "
        "importance selection (Xie et al. 2023): survivors are scored "
        "by hashed-n-gram log importance weight against this "
        "distribution and kept when the weight clears --dsir-min-logw",
    )
    cor.add_argument(
        "--dsir-min-logw", type=float, default=None, metavar="X",
        help="absolute log-weight floor for --dsir-target (required "
        "with it; derive offline via the dsir-cuts subcommand — the "
        "gate never computes quantiles inline, same determinism "
        "contract as --lm-max-entropy).  NOTE: unlike the LM gate "
        "(scores stable per doc), DSIR weights depend on the POOL the "
        "p_raw histogram is fit on — pass --dsir-hist (persisted by "
        "dsir-cuts --hist-out) to apply the floor to the calibrated "
        "weight definition exactly; without it the gate refits on the "
        "post-dedup/quality survivors and the keep-fraction "
        "calibration is approximate",
    )
    cor.add_argument(
        "--dsir-hist", default=None, metavar="PARQUET_DIR",
        help="fit-once DSIR: the target/raw bucket histograms persisted "
        "by dsir-cuts --hist-out; the gate scores survivors against "
        "these FROZEN distributions (no refit), so --dsir-min-logw "
        "keeps exactly the calibrated fraction of the calibrated "
        "pool's distribution.  Replaces --dsir-target (the target "
        "corpus itself is not re-read)",
    )
    cor.add_argument(
        "--dsir-sampled", action="store_true",
        help="perturb each weight with the seeded Gumbel key before "
        "thresholding — importance RESAMPLING (keep ∝ weight) instead "
        "of a hard floor, still a pure deterministic filter",
    )
    cor.add_argument("--dsir-seed", type=int, default=0)
    cor.add_argument(
        "--dsir-buckets", type=int, default=None, metavar="B",
        help="hashed feature buckets (default 10000, the paper's "
        "operating point; must match the dsir-cuts run that produced "
        "--dsir-min-logw)",
    )
    cor.add_argument(
        "--quality-model", default=None, metavar="MODEL_JSON",
        help="trained quality-classifier gate (FineWeb-Edu/DCLM shape): "
        "score survivors with the logistic model persisted by the "
        "quality-train subcommand and keep docs whose score clears "
        "--quality-min-score (broadcast-weights scoring; docs with no "
        "features pass through, same no-evidence contract as the LM "
        "and DSIR gates)",
    )
    cor.add_argument(
        "--quality-min-score", type=float, default=None, metavar="P",
        help="absolute probability floor in [0, 1] for --quality-model "
        "(required with it; the gate never computes quantiles inline — "
        "same determinism contract as --lm-max-entropy)",
    )
    cor.add_argument(
        "--bpe-tokenize", type=int, default=None, metavar="N_MERGES",
        help="train an N-merge BPE vocabulary on the surviving corpus, "
        "apply it (bpe_tokens + integer bpe_ids columns), and persist "
        "the merge list at <out>_bpe_merges and the id vocabulary at "
        "<out>_bpe_vocab",
    )
    cor.add_argument(
        "--unigram-tokenize", type=int, default=None, metavar="N_VOCAB",
        help="the --tokenizer=unigram family: train an N-piece "
        "unigram-LM (SentencePiece-style) vocabulary on the surviving "
        "corpus, apply it (unigram_tokens + integer unigram_ids "
        "columns), and persist the model at <out>_unigram_model and "
        "the id vocabulary at <out>_unigram_vocab; mutually exclusive "
        "with --bpe-tokenize",
    )
    cor.add_argument(
        "--c4", action="store_true",
        help="apply C4's heuristic cleanup (Raffel et al. 2020): drop "
        "lines not ending in terminal punctuation or under 5 words, "
        "then reject pages with <3 sentences, lorem ipsum, or braces",
    )
    cor.add_argument(
        "--jsonl-out", default=None, metavar="DIR",
        help="additionally export the cleaned corpus as gzip'd JSONL "
        "shards partitioned by detected language (training hand-off)",
    )
    cor.add_argument(
        "--splits", default=None, metavar="NAME=W,NAME=W",
        help="deterministic split column, e.g. train=0.9,val=0.05,"
        "test=0.05 (weights must sum to 1)",
    )
    cor.add_argument("--split-seed", type=int, default=0)
    cor.add_argument(
        "--max-per-source", type=int, default=None, metavar="N",
        help="cap documents per source (seeded deterministic choice, "
        "the C4/Gopher domain-balance rule)",
    )
    cor.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher repetition-quality gate (duplicate "
        "lines/n-grams, symbol ratio) after the score filter",
    )
    cor.add_argument(
        "--eval-grams", default=None, metavar="DIR",
        help="decontaminate against a persisted eval gram store (see "
        "eval-index) — same probe the streaming admit loop runs",
    )
    cor.add_argument("--eval-ngram", type=int, default=5)
    cor.add_argument(
        "--mix", default=None, metavar="SOURCE=W,SOURCE=W",
        help="sample the corpus to this target token mixture across "
        "source domains (deterministic seeded Bernoulli; unlisted "
        "domains are dropped; the scarcest listed domain caps the mix)",
    )
    cor.add_argument(
        "--mix-budget", type=int, default=None, metavar="TOKENS",
        help="cap the mixture's total token budget (default: the "
        "largest supply-feasible mix)",
    )
    cor.add_argument(
        "--shuffle-shards", type=int, default=None, metavar="N",
        help="globally shuffle the JSONL export into N deterministic "
        "seeded shards (decorrelates training batches from ingest "
        "order); shards replace the per-language partitioning",
    )
    cor.add_argument("--shuffle-seed", type=int, default=0)

    cst = sub.add_parser(
        "corpus-stream",
        help="continuous corpus ingestion: landing-zone documents -> "
        "near-dedup'd corpus + signature store (availableNow drain)",
    )
    cst.add_argument(
        "--in", dest="in_dir", required=True,
        help="landing directory of parquet document files (doc_id, text)",
    )
    cst.add_argument("--corpus", required=True, help="corpus output dir")
    cst.add_argument("--store", required=True, help="signature store dir")
    cst.add_argument("--checkpoint", required=True, help="stream checkpoint")
    cst.add_argument("--threshold", type=float, default=0.5)
    cst.add_argument(
        "--resolution", dest="stream_resolution",
        choices=["greedy", "components"],
        default="greedy",
        help="in-batch near-dup pair-graph resolution, the batch "
        "pipeline's dial (round 13): greedy (drop larger id per pair; "
        "default, matching the batch default) or components (exact "
        "clustering, keep min id — the media stream's convention).  "
        "keep_best is batch-only: the stream's admitted-first contract "
        "overrides quality across batches",
    )
    cst.add_argument(
        "--max-files-per-trigger", type=int, default=None, metavar="N",
        help="micro-batch size in files (default: all available in one)",
    )
    cst.add_argument(
        "--compact", action="store_true",
        help="after the drain, fold the store's per-batch partitions "
        "into the single compacted base partition",
    )
    cst.add_argument(
        "--eval-grams", default=None, metavar="DIR",
        help="persisted eval gram store (see the eval-index "
        "subcommand): reject any admitted doc sharing an n-gram with "
        "the benchmark",
    )
    cst.add_argument("--eval-ngram", type=int, default=5)
    cst.add_argument(
        "--keep-langs", default=None, metavar="L1,L2",
        help="per-row gate: keep only these lang_guess values "
        "(applied before signatures — rejected docs never enter the "
        "corpus or the store)",
    )
    cst.add_argument("--min-tokens", dest="stream_min_tokens",
                     type=int, default=None)
    cst.add_argument("--min-quality", dest="stream_min_quality",
                     type=float, default=None)
    cst.add_argument("--gopher", dest="stream_gopher",
                     action="store_true")
    cst.add_argument("--c4", dest="stream_c4", action="store_true")
    cst.add_argument(
        "--quality-model", dest="stream_quality_model", default=None,
        metavar="MODEL_JSON",
        help="trained classifier gate for the admit loop (see "
        "quality-train): loaded once at start-up and FROZEN for the "
        "stream's lifetime, like --snapshot-filter; applied after the "
        "per-row gates, before signatures",
    )
    cst.add_argument(
        "--quality-min-score", dest="stream_quality_min_score",
        type=float, default=None, metavar="P",
        help="absolute probability floor for --quality-model (required "
        "with it)",
    )
    cst.add_argument(
        "--stats-dir", dest="stream_stats_dir", default=None,
        metavar="DIR",
        help="maintain the corpus data card incrementally: one bounded "
        "(dim,key,docs,tokens,chars) partition per micro-batch over "
        "the admitted survivors — card emission then never rescans "
        "corpus text (see --datacard)",
    )
    cst.add_argument(
        "--stats-dims", dest="stream_stats_dims", default=None,
        metavar="C1,C2",
        help="categorical columns to track in the stats store "
        "(default: none — totals + length histogram only)",
    )
    cst.add_argument(
        "--datacard", dest="stream_datacard", default=None,
        metavar="OUT_JSON",
        help="after the drain, aggregate the --stats-dir store into "
        "the corpus data card at this path (cost is proportional to "
        "the number of batches, never the corpus)",
    )
    cst.add_argument(
        "--snapshot-filter", dest="stream_snapshot_filter",
        default=None, metavar="FILTER_DIR",
        help="reject batch docs whose 3-gram overlap with a previous "
        "crawl's Bloom filter (bloom-build) reaches "
        "--snapshot-overlap — the filter stays frozen for the drain; "
        "advance it between crawls with bloom-build --merge",
    )
    cst.add_argument(
        "--snapshot-overlap", dest="stream_snapshot_overlap",
        type=float, default=0.5,
    )

    evi = sub.add_parser(
        "eval-index",
        help="build the persisted eval/benchmark n-gram store that "
        "corpus-stream --eval-grams (and batch decontamination) probes",
    )
    evi.add_argument(
        "--in", dest="in_dir", required=True,
        help="parquet of benchmark documents (needs a text column)",
    )
    evi.add_argument("--out", required=True, help="gram store output dir")
    evi.add_argument("--n", type=int, default=5)
    evi.add_argument("--text-col", default="text")

    opt = sub.add_parser(
        "optimize",
        help="rewrite a parquet table Z-order-clustered on two columns "
        "(row-group pruning on either dimension)",
    )
    opt.add_argument("--path", required=True, help="input parquet table")
    opt.add_argument("--out", required=True, help="clustered output dir")
    opt.add_argument(
        "--by", required=True, metavar="COL1,COL2",
        help="the two numeric/orderable columns to interleave",
    )
    opt.add_argument("--bits", type=int, default=16)
    opt.add_argument(
        "--files", type=int, default=None,
        help="output file count (default: shuffle partitions)",
    )

    anb = sub.add_parser(
        "ann-build",
        help="build (or extend) the persisted IVF ANN index over an "
        "embeddings parquet (vec_id, embedding, label)",
    )
    anb.add_argument("--in", dest="in_dir", required=True)
    anb.add_argument("--index", required=True, help="index directory")
    anb.add_argument("--cells", type=int, default=8)
    anb.add_argument(
        "--append", action="store_true",
        help="assign against the EXISTING index's frozen centroids and "
        "append as a new batch partition (default: full rebuild)",
    )
    anb.add_argument(
        "--batch-id", type=int, default=None,
        help="with --append: the idempotency key — re-running the same "
        "id REPLACES that batch (default: max existing id + 1)",
    )
    anb.add_argument(
        "--compact", action="store_true",
        help="after the build/append, fold per-batch partitions into "
        "the single base partition",
    )
    anb.add_argument(
        "--seeded", action="store_true",
        help="first-vectors quantizer instead of k-means|| (demo/oracle "
        "parity mode)",
    )
    anb.add_argument(
        "--rebuild-if-skewed", action="store_true",
        help="after the append/compact, rebuild the whole index with "
        "re-trained centroids when cell occupancy skew (max/mean) "
        "exceeds --max-skew — the drift repair appends themselves "
        "never perform",
    )
    anb.add_argument(
        "--max-skew", type=float, default=4.0,
        help="skew_ratio threshold for --rebuild-if-skewed (default 4.0)",
    )

    anq = sub.add_parser(
        "ann-query",
        help="top-k nearest vectors from a persisted IVF index for a "
        "query vector (JSON array or comma-separated floats)",
    )
    anq.add_argument("--index", required=True)
    anq.add_argument("--vector", required=True, metavar="V1,V2,...")
    anq.add_argument("--k", type=int, default=10)
    anq.add_argument("--probe", type=int, default=1)

    lmc = sub.add_parser(
        "lm-cuts",
        help="derive CCNet head/middle/tail cross-entropy cut points "
        "from a corpus (offline approxQuantile) and persist them — the "
        "hand-off that turns a target keep-fraction into the absolute "
        "--lm-max-entropy threshold the deterministic gate consumes",
    )
    lmc.add_argument("--in", dest="in_dir", required=True,
                     help="documents parquet (doc_id, text)")
    lmc.add_argument(
        "--ref", default=None, metavar="PARQUET_DIR",
        help="trusted reference corpus for the model counts "
        "(default: self-train on --in)",
    )
    lmc.add_argument("--order", type=int, default=2)
    lmc.add_argument(
        "--scheme", choices=("addk", "backoff", "kn"), default="addk",
        help="scorer to derive cuts for — must match the --lm-scheme "
        "the gate will run with (the two score scales differ)",
    )
    lmc.add_argument(
        "--fractions", default="0.3333,0.6667", metavar="F1,F2,...",
        help="ascending cumulative fractions in (0,1); the first cut "
        "bounds the CCNet 'head', the second head+middle "
        "(default 0.3333,0.6667)",
    )
    lmc.add_argument(
        "--out", required=True, metavar="JSON_PATH",
        help="where to persist the cut points (one small JSON file, "
        "beside the corpus)",
    )

    dsc = sub.add_parser(
        "dsir-cuts",
        help="derive the DSIR log-weight threshold from a raw corpus "
        "and a target corpus (offline approxQuantile) and persist it — "
        "the hand-off that turns a keep-fraction into the absolute "
        "--dsir-min-logw the deterministic gate consumes.  Derive on a "
        "pool matching what reaches the corpus gate (weights refit "
        "p_raw on the pool, so a raw-input cut applied to post-dedup "
        "survivors makes the keep-fraction approximate)",
    )
    dsc.add_argument("--in", dest="in_dir", required=True,
                     help="raw documents parquet (doc_id, text)")
    dsc.add_argument(
        "--target", required=True, metavar="PARQUET_DIR",
        help="target corpus parquet (text column)",
    )
    dsc.add_argument("--buckets", type=int, default=None, metavar="B")
    dsc.add_argument(
        "--sampled", action="store_true",
        help="quantile the Gumbel-perturbed keys (seed via --seed) "
        "instead of the raw weights — match the gate's --dsir-sampled",
    )
    dsc.add_argument("--seed", type=int, default=0)
    dsc.add_argument(
        "--keep-fractions", default="0.25", metavar="F1,F2,...",
        help="descending keep fractions in (0,1): each emitted cut is "
        "the log-weight floor that keeps that fraction of the corpus "
        "(default 0.25 — keep the most target-like quarter)",
    )
    dsc.add_argument(
        "--out", required=True, metavar="JSON_PATH",
        help="where to persist the cut points (one small JSON file)",
    )
    dsc.add_argument(
        "--hist-out", default=None, metavar="PARQUET_DIR",
        help="also persist the fitted target/raw bucket histograms "
        "(the DSIR model itself, <= --buckets rows) — hand them to "
        "corpus --dsir-hist so the gate applies the floor to EXACTLY "
        "the weight definition it was calibrated on (fit-once), "
        "instead of refitting p_raw on whatever pool reaches the gate",
    )

    qtr = sub.add_parser(
        "quality-train",
        help="train the fastText-style logistic quality classifier "
        "(hashed unigram+bigram buckets, full-batch GD over a BOUNDED "
        "labeled set) and persist it as one JSON model — the offline "
        "hand-off corpus --quality-model consumes (FineWeb-Edu/DCLM: "
        "positives = trusted corpus, negatives = raw crawl sample)",
    )
    qtr.add_argument(
        "--pos", required=True, metavar="PARQUET_DIR",
        help="positive-class documents parquet (doc_id, text)",
    )
    qtr.add_argument(
        "--neg", required=True, metavar="PARQUET_DIR",
        help="negative-class documents parquet (doc_id, text)",
    )
    qtr.add_argument("--out", required=True, metavar="MODEL_JSON")
    qtr.add_argument("--buckets", type=int, default=None, metavar="B")
    qtr.add_argument("--iters", type=int, default=40)
    qtr.add_argument("--lr", type=float, default=1.0)
    qtr.add_argument("--l2", type=float, default=1e-4)
    qtr.add_argument(
        "--sample-frac", type=float, default=None, metavar="F",
        help="minibatch training: each iteration's gradient runs over "
        "a deterministic md5-Bernoulli sample of the labeled docs "
        "(fraction F in (0,1]; the scale path once labels come from "
        "an LLM judge at millions of rows — per-step cost is F x the "
        "labeled set, not all of it)",
    )
    qtr.add_argument(
        "--balance-classes", action="store_true",
        help="with --sample-frac: sample each class at its own rate "
        "(expected batch ~50/50) and weight gradient contributions by "
        "the inverse rate — the variance fix when one class is rare",
    )
    qtr.add_argument(
        "--sample-seed", type=int, default=0, metavar="N",
        help="seed for the per-iteration minibatch keys (same seed = "
        "same batches under any partitioning)",
    )

    qcu = sub.add_parser(
        "quality-cuts",
        help="derive the classifier-score floor from a corpus and a "
        "trained model (offline approxQuantile) and persist it — the "
        "hand-off that turns a keep-fraction into the absolute "
        "--quality-min-score the deterministic gate consumes (same "
        "contract as lm-cuts / dsir-cuts).  Unlike DSIR, classifier "
        "scores are per-doc stable (fixed weights), so the cut "
        "transfers exactly between pools with the same score "
        "distribution",
    )
    qcu.add_argument("--in", dest="in_dir", required=True,
                     help="documents parquet (doc_id, text)")
    qcu.add_argument("--model", required=True, metavar="MODEL_JSON",
                     help="trained model from quality-train")
    qcu.add_argument(
        "--keep-fractions", default="0.5", metavar="F1,F2,...",
        help="descending keep fractions in (0,1): each emitted cut is "
        "the score floor that keeps that fraction of the corpus "
        "(default 0.5)",
    )
    qcu.add_argument("--out", required=True, metavar="JSON_PATH")

    blo = sub.add_parser(
        "bloom-build",
        help="build (or extend) a persisted Bloom filter over a "
        "corpus's distinct 3-gram shingles — the membership artifact "
        "corpus --snapshot-filter probes for inter-snapshot dedup",
    )
    blo.add_argument(
        "--in", dest="in_dir", required=True,
        help="documents parquet (needs a text column)",
    )
    blo.add_argument("--out", required=True, help="filter output dir")
    blo.add_argument("--text-col", default="text")
    blo.add_argument(
        "--fpp", type=float, default=0.01,
        help="target false-positive rate (sizes the bitmap)",
    )
    blo.add_argument(
        "--merge", default=None, metavar="FILTER_DIR",
        help="fold this corpus INTO an existing filter: geometry comes "
        "from FILTER_DIR's manifest (--fpp ignored) and the merged "
        "filter lands at --out, which must differ from FILTER_DIR",
    )

    prof = sub.add_parser(
        "profile", help="one-scan per-column profile of a parquet table"
    )
    prof.add_argument("--path", required=True, help="parquet file or dir")
    prof.add_argument(
        "--rsd", type=float, default=0.05,
        help="HLL relative standard deviation for approx_distinct",
    )

    dcd = sub.add_parser(
        "datacard",
        help="corpus data card: per-lang/per-source/length-histogram "
        "doc+token+char counts as one JSON artifact (one scan, one "
        "grouping-sets aggregation)",
    )
    dcd.add_argument("--in", dest="in_dir", required=True,
                     help="corpus parquet dir")
    dcd.add_argument("--out", required=True, help="JSON output path")
    dcd.add_argument("--text-col", default="text")
    dcd.add_argument(
        "--dims", default="lang,source", metavar="C1,C2",
        help="categorical dimension columns (default: lang,source)",
    )
    dcd.add_argument(
        "--quality-col", default=None,
        help="add approximate score deciles for this column",
    )

    dcdiff = sub.add_parser(
        "datacard-diff",
        help="drift report between two corpus data cards (old vs new "
        "crawl): total deltas, per-dimension share shifts, the top-k "
        "token-share movers — pure JSON math, no Spark job",
    )
    dcdiff.add_argument("--old", required=True, help="previous card JSON")
    dcdiff.add_argument("--new", required=True, help="current card JSON")
    dcdiff.add_argument("--out", default=None, help="write the full "
                        "diff JSON here (summary prints regardless)")
    dcdiff.add_argument("--top-k", type=int, default=10)

    med = sub.add_parser(
        "media-dedup",
        help="perceptual near-duplicate pass over a binary media "
        "column: image dHash, audio spectral, or per-clip video "
        "majority fingerprints + the "
        "pigeonhole Hamming pairing; writes the pair list and, with "
        "--survivors-out, the corpus keeping one representative "
        "(min id) per duplicate component",
    )
    med.add_argument(
        "--in", dest="in_dir", required=True,
        help="parquet with (id, media) columns",
    )
    med.add_argument(
        "--kind", choices=["image", "audio", "video"], required=True,
        help="which fingerprint family decodes the media bytes",
    )
    med.add_argument("--pairs-out", required=True,
                     help="near-dup pairs parquet (doc_a, doc_b, hamming)")
    med.add_argument(
        "--survivors-out", default=None,
        help="also resolve pairs via connected components and write "
        "the rows whose id IS their component's min (the survivor "
        "convention image/audio share with the text dedup passes)",
    )
    med.add_argument("--max-hamming", type=int, default=6)
    med.add_argument("--n-bands", type=int, default=8)
    med.add_argument("--id-col", default="doc_id")
    med.add_argument("--media-col", default="media")

    mst = sub.add_parser(
        "media-stream",
        help="continuous media ingestion: drain a landing directory of "
        "(doc_id, media) parquet through the perceptual-dedup admit "
        "loop (in-batch + vs the persisted fingerprint store)",
    )
    mst.add_argument("--in", dest="in_dir", required=True,
                     help="landing directory of parquet micro-batches")
    mst.add_argument("--corpus", required=True,
                     help="admitted-media output directory")
    mst.add_argument("--store", required=True,
                     help="fingerprint store directory")
    mst.add_argument("--checkpoint", required=True)
    mst.add_argument(
        "--kind", choices=["image", "audio", "video"], required=True
    )
    mst.add_argument("--max-hamming", type=int, default=6)
    mst.add_argument("--n-bands", type=int, default=8)
    mst.add_argument(
        "--max-files-per-trigger", type=int, default=0,
        help="bound each micro-batch to N landing files (0 = no bound)",
    )
    mst.add_argument(
        "--compact", action="store_true",
        help="fold the store's per-batch partitions into the -1 base "
        "after the drain",
    )
    mst.add_argument(
        "--stats-dir", dest="media_stats_dir", default=None,
        help="maintain an incremental media data-card stats store: one "
        "bounded (dim, key, docs) partition per micro-batch, computed "
        "on the decode pass the admit loop already runs — the card "
        "then never re-decodes media (see --datacard)",
    )
    mst.add_argument(
        "--datacard", dest="media_datacard", default=None,
        help="after the drain, aggregate the --stats-dir store into "
        "the admitted media corpus' data card and write it as JSON "
        "at this path",
    )
    mst.add_argument(
        "--frame-index-dir", default=None,
        help="video kind only: also maintain the per-frame fingerprint "
        "index (doc_id, frame_idx, fp) over admitted clips — the "
        "relation video-contain probes for sub-clip containment",
    )
    mst.add_argument(
        "--frame-stride", type=int, default=1,
        help="sample every k-th frame into the frame index (decode "
        "cost dial)",
    )

    vix = sub.add_parser(
        "video-index",
        help="build the per-frame fingerprint index of a video corpus: "
        "one (doc_id, frame_idx, fp) row per decodable sampled frame — "
        "the relation video-contain probes for sub-clip containment",
    )
    vix.add_argument("--in", dest="in_dir", required=True,
                     help="parquet with (id, media) columns")
    vix.add_argument("--out", required=True,
                     help="frame-fingerprint parquet output")
    vix.add_argument("--stride", type=int, default=1,
                     help="sample every k-th frame (decode cost dial)")
    vix.add_argument("--id-col", default="doc_id")
    vix.add_argument("--media-col", default="media")

    vct = sub.add_parser(
        "video-contain",
        help="sub-clip containment: probe clips against a per-frame "
        "fingerprint index (video-index output) — reports every probe "
        "whose frames are >= --min-frac covered by near frames of one "
        "indexed clip (the excerpt-in-compilation case the majority "
        "fingerprint deliberately does not pair)",
    )
    vct.add_argument("--index", required=True,
                     help="frame-fingerprint parquet (video-index "
                     "output or the stream's --frame-index-dir)")
    vct.add_argument("--probe", required=True,
                     help="parquet of probe clips with (id, media) "
                     "columns (decoded here), OR a frame-fingerprint "
                     "parquet when --probe-is-index is set")
    vct.add_argument("--out", required=True,
                     help="containment pairs parquet (doc_probe, "
                     "doc_index, matched_frames, probe_frames, frac)")
    vct.add_argument(
        "--probe-is-index", action="store_true",
        help="treat --probe as an already-built frame-fingerprint "
        "parquet instead of decoding media",
    )
    vct.add_argument("--min-frac", type=float, default=0.5)
    vct.add_argument("--max-hamming", type=int, default=6)
    vct.add_argument("--n-bands", type=int, default=8)
    vct.add_argument(
        "--max-index-df", type=int, default=None,
        help="stop-frame dial: drop fingerprint values carried by more "
        "than this many distinct index clips (logo cards, silence, "
        "black frames) — they assert containment in everything and "
        "carry no discriminative signal",
    )
    vct.add_argument("--stride", type=int, default=1)
    vct.add_argument("--id-col", default="doc_id")
    vct.add_argument("--media-col", default="media")

    clc = sub.add_parser(
        "colocate",
        help="geo co-location pairs (bus bunching): vehicle pairs "
        "within --radius-m of each other inside one tumbling time "
        "bucket, via the 2D grid radius self-join — one row per "
        "(bucket, pair) with close-ping count and min distance",
    )
    clc.add_argument("--in", dest="in_dir", required=True,
                     help="posicoes-shaped parquet (key/lat/lon/ts "
                     "columns, names via the dials below)")
    clc.add_argument("--out", required=True,
                     help="pairs parquet (bucket, vehicle_a, "
                     "vehicle_b, n_close, min_dist_m)")
    clc.add_argument("--radius-m", type=float, default=500.0)
    clc.add_argument("--bucket-s", type=int, default=1800)
    clc.add_argument("--key-col", default="prefixo_veiculo")
    clc.add_argument("--lat-col", default="py")
    clc.add_argument("--lon-col", default="px")
    clc.add_argument("--ts-col", default="timestamp")
    for sub_p in (med, mst):
        # pre-store quality gates (round 12): floors over the decode
        # metadata, evaluated on the SAME pass that fingerprints —
        # gated rows never reach the pairing, survivors, corpus, or
        # fingerprint store
        sub_p.add_argument("--min-width", type=int, default=None,
                           help="image/video gate: minimum decoded width")
        sub_p.add_argument("--min-height", type=int, default=None,
                           help="image/video gate: minimum decoded height")
        sub_p.add_argument(
            "--min-sample-rate", type=int, default=None,
            help="audio gate: minimum sample rate (Hz)",
        )
        sub_p.add_argument(
            "--min-duration", type=float, default=None,
            help="audio gate: minimum duration (seconds)",
        )
        sub_p.add_argument(
            "--min-frames", type=int, default=None,
            help="video gate: minimum demuxed frame count",
        )
        sub_p.add_argument(
            "--reject-undecodable", action="store_true",
            help="drop opaque/undecodable media instead of admitting "
            "them unfingerprinted",
        )
    return p


def _media_gates_from_args(args) -> dict | None:
    """Collect the media quality-gate dials into the gates dict the
    admit loop takes; None when every dial is at its default."""
    g = {}
    if args.min_width is not None:
        g["min_width"] = args.min_width
    if args.min_height is not None:
        g["min_height"] = args.min_height
    if args.min_sample_rate is not None:
        g["min_sample_rate"] = args.min_sample_rate
    if args.min_duration is not None:
        g["min_duration_s"] = args.min_duration
    if args.min_frames is not None:
        g["min_frames"] = args.min_frames
    if args.reject_undecodable:
        g["reject_undecodable"] = True
    return g or None


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "datacard-diff":
        # pure dict math over two KB-sized JSON files — dispatched
        # BEFORE the SparkSession factory so drift checks never pay a
        # JVM start-up (the one subcommand with no Spark job at all)
        from etl_olho_vivo_spark.operators.datacard import diff_datacards

        with open(args.old) as f:
            old_card = json.load(f)
        with open(args.new) as f:
            new_card = json.load(f)
        diff = diff_datacards(old_card, new_card, top_k=args.top_k)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(diff, f, indent=1, sort_keys=True)
        print(json.dumps({
            "command": "datacard-diff",
            "totals": diff["totals"],
            "top_shifts": diff["top_shifts"][:3],
            **({"out": args.out} if args.out else {}),
        }))
        return 0

    from etl_olho_vivo_spark.session import get_spark

    spark = get_spark(app_name=f"olho-vivo-{args.command}", cpus=args.cpus)

    if args.command == "ingest":
        from etl_olho_vivo_spark.io.sinks import write_raw_json
        from etl_olho_vivo_spark.sources.olhovivo_api import register

        register(spark)
        reader = (
            spark.read.format("olhovivo")
            .option("polls", args.polls)
            .option("lines", args.lines)
            .option("vehicles", args.vehicles)
        )
        if args.live:
            reader = reader.option("mode", "live")
            if args.api_token:
                reader = reader.option("api_token", args.api_token)
        raw = reader.load()
        write_raw_json(raw, args.out)
        print(json.dumps({"command": "ingest", "polls": raw.count()}))
        return 0

    if args.command == "daily":
        from etl_olho_vivo_spark.plans.daily import run_daily

        raw = args.raw
        if args.date:
            from datetime import datetime

            try:
                day = datetime.strptime(args.date, "%Y-%m-%d")
            except ValueError:
                raise SystemExit(
                    f"--date must be YYYY-MM-DD, got {args.date!r}"
                )
            # hive-layout day selection: the partition directories narrow
            # the file listing itself — the 100 TB raw zone is never
            # globbed, let alone read, outside the requested day
            raw = (
                f"{raw}/year={day.year:04d}"
                f"/month={day.month:02d}/day={day.day:02d}"
            )
            # pre-check through Hadoop's FS (works for any scheme the
            # session can read — local, s3a, hdfs): a never-landed day
            # should report "no raw data", not a PATH_NOT_FOUND traceback
            from etl_olho_vivo_spark.io.fsutil import hadoop_fs

            fs, jpath = hadoop_fs(spark, raw)
            if not fs.exists(jpath):
                raise SystemExit(f"no raw data for {args.date} ({raw})")
        counts = run_daily(
            spark, raw, args.out,
            write_fact=not args.no_fact,
            write_pairs=args.write_pairs,
        )
        print(json.dumps({"command": "daily", "date": args.date, **counts}))
        return 0

    if args.command == "corpus":
        from etl_olho_vivo_spark.plans.corpus import run_corpus

        def _parse_weights(text: str | None, flag: str) -> dict | None:
            if not text:
                return None
            try:
                return {
                    name: float(w)
                    for name, w in (
                        part.split("=", 1) for part in text.split(",")
                    )
                }
            except ValueError:
                raise SystemExit(
                    f"{flag} must look like a=0.9,b=0.1 (got {text!r})"
                )

        splits = _parse_weights(args.splits, "--splits")
        mixture = _parse_weights(args.mix, "--mix")
        if (
            args.jsonl_out
            and args.shuffle_shards is not None
            and args.shuffle_shards < 1
        ):
            # pre-flight like the weight validation: a bad shard count
            # must die HERE, not from global_shuffle after the whole
            # pipeline has run
            raise SystemExit(
                f"--shuffle-shards must be >= 1, got {args.shuffle_shards}"
            )
        stats = run_corpus(
            spark,
            args.sf_dir,
            args.out,
            min_tokens=args.min_tokens,
            jaccard_threshold=args.jaccard_threshold,
            redact_pii=args.redact_pii,
            c4=args.c4,
            line_dedup=args.dedup_lines,
            line_min_count=args.line_min_count,
            span_dedup=args.drop_spans,
            span_k=args.span_k,
            span_min_count=args.span_min_count,
            bpe_tokenize=args.bpe_tokenize,
            unigram_tokenize=args.unigram_tokenize,
            lm_max_entropy=args.lm_max_entropy,
            lm_ref_dir=args.lm_ref,
            lm_order=args.lm_order,
            lm_scheme=args.lm_scheme,
            dsir_target_dir=args.dsir_target,
            dsir_min_logw=args.dsir_min_logw,
            dsir_sampled=args.dsir_sampled,
            dsir_seed=args.dsir_seed,
            dsir_buckets=args.dsir_buckets,
            dsir_hist_dir=args.dsir_hist,
            quality_model_path=args.quality_model,
            quality_min_score=args.quality_min_score,
            dedup_resolution=args.resolution,
            snapshot_filter_dir=args.snapshot_filter,
            snapshot_overlap=args.snapshot_overlap,
            splits=splits,
            split_seed=args.split_seed,
            gopher=args.gopher,
            max_per_source=args.max_per_source,
            mixture=mixture,
            mixture_budget=args.mix_budget,
            eval_grams_dir=args.eval_grams,
            eval_ngram=args.eval_ngram,
        )
        if args.jsonl_out:
            from etl_olho_vivo_spark.io.export import (
                export_jsonl,
                global_shuffle,
            )

            corpus_df = spark.read.parquet(args.out)
            # a split column must LEAD the export partitioning: shards
            # that interleave train/val/test rows would hand a training
            # loader validation data unless it re-filters per record
            has_split = "split" in corpus_df.columns
            # `is not None`, not truthiness: --shuffle-shards 0 must hit
            # global_shuffle's n_shards >= 1 rejection, not silently
            # fall back to the per-language layout
            if args.shuffle_shards is not None:
                export_jsonl(
                    global_shuffle(
                        corpus_df,
                        seed=args.shuffle_seed,
                        n_shards=args.shuffle_shards,
                        split_col="split" if has_split else None,
                    ),
                    args.jsonl_out,
                    by=["split", "shard"] if has_split else "shard",
                )
            else:
                export_jsonl(
                    corpus_df,
                    args.jsonl_out,
                    by=["split", "lang_guess"] if has_split else "lang_guess",
                )
        if args.datacard:
            # the card of the SHIPPED corpus (post-gates, post-dedup) —
            # dims are the corpus schema's (detected language + source);
            # quality deciles ride along when the score column survived
            from etl_olho_vivo_spark.operators.datacard import (
                write_datacard,
            )

            card_path = args.out.rstrip("/") + "_card.json"
            cols = spark.read.parquet(args.out).columns
            card = write_datacard(
                spark, args.out, card_path,
                dims=("lang_guess", "source"),
                quality_col=(
                    "quality_score" if "quality_score" in cols else None
                ),
            )
            stats["datacard"] = card_path
            stats["datacard_tokens"] = card["tokens"]
        print(json.dumps({"command": "corpus", **stats}))
        return 0

    if args.command == "corpus-stream":
        from etl_olho_vivo_spark.io import append_store
        from etl_olho_vivo_spark.streaming.corpus_stream import (
            run_corpus_stream,
        )

        if args.eval_ngram < 1:
            raise SystemExit(
                f"--eval-ngram must be >= 1, got {args.eval_ngram}"
            )
        # a file stream needs an explicit schema; lift it from a static
        # read of the same landing dir (footer-only — no data scan)
        landing = append_store.read_store(spark, args.in_dir)
        if landing is None:
            # nothing has landed (yet) — a cron'd drain should say so
            # cleanly, not die in a schema-inference traceback
            raise SystemExit(f"no input files in {args.in_dir}")
        reader = spark.readStream.schema(landing.schema)
        if args.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(args.max_files_per_trigger)
            )
        gates = {}
        if args.keep_langs:
            gates["keep_langs"] = tuple(
                s.strip() for s in args.keep_langs.split(",") if s.strip()
            )
        if args.stream_min_tokens is not None:
            gates["min_tokens"] = args.stream_min_tokens
        if args.stream_min_quality is not None:
            gates["min_quality"] = args.stream_min_quality
        if args.stream_gopher:
            gates["gopher"] = True
        if args.stream_c4:
            gates["c4"] = True
        if args.stream_datacard and not args.stream_stats_dir:
            raise SystemExit(
                "--datacard requires --stats-dir (the card aggregates "
                "the incremental stats store, never the corpus text)"
            )
        stats_dims = tuple(
            s.strip()
            for s in (args.stream_stats_dims or "").split(",")
            if s.strip()
        )
        q = run_corpus_stream(
            reader.parquet(args.in_dir),
            args.corpus,
            args.store,
            args.checkpoint,
            threshold=args.threshold,
            eval_grams_dir=args.eval_grams,
            eval_ngram=args.eval_ngram,
            gates=gates or None,
            snapshot_filter_dir=args.stream_snapshot_filter,
            snapshot_overlap=args.stream_snapshot_overlap,
            quality_model_path=args.stream_quality_model,
            quality_min_score=args.stream_quality_min_score,
            dedup_resolution=args.stream_resolution,
            stats_dir=args.stream_stats_dir,
            stats_dims=stats_dims,
        )
        q.awaitTermination()
        # a drain that admitted NOTHING leaves only empty partition dirs
        # (or no dir at all) — that is a valid outcome, not a crash
        corpus = append_store.read_store(spark, args.corpus)
        n_docs = 0 if corpus is None else corpus.count()
        out = {"command": "corpus-stream", "corpus_docs": n_docs}
        if args.compact:
            if n_docs:
                out["store_signatures_compacted"] = append_store.compact(
                    spark, args.store
                )
            else:
                # nothing admitted → no signatures to fold; calling the
                # compactor would die reading an empty/missing store
                out["store_signatures_compacted"] = 0
        if args.stream_datacard:
            from etl_olho_vivo_spark.operators.datacard import (
                card_from_stats_store,
            )

            # a drain that processed ZERO micro-batches (zero-admit
            # stream, or a no-op replay over an already-drained input)
            # leaves the stats store empty or absent — a valid outcome
            # even when the corpus itself is non-empty (n_docs counts
            # the WHOLE corpus, not this drain); emit the empty card,
            # don't die.  The mid-life-enablement case (store exists but
            # misses batches) is caught inside card_from_stats_store via
            # the corpus_dir coverage check instead.
            if append_store.read_store(spark, args.stream_stats_dir) is None:
                card = {"docs": 0, "tokens": 0, "chars": 0,
                        "by": {}, "len_log2_histogram": {}}
                if n_docs:
                    card["partial"] = True
            else:
                card = card_from_stats_store(
                    spark, args.stream_stats_dir, corpus_dir=args.corpus
                )
            with open(args.stream_datacard, "w") as f:
                json.dump(card, f, indent=1, sort_keys=True)
            out["datacard"] = args.stream_datacard
            out["datacard_tokens"] = card["tokens"]
        print(json.dumps(out))
        return 0

    if args.command == "eval-index":
        from etl_olho_vivo_spark.operators.decontam import (
            write_eval_gram_store,
        )

        if args.n < 1:
            raise SystemExit(f"--n must be >= 1, got {args.n}")
        docs = spark.read.parquet(args.in_dir)
        if args.text_col not in docs.columns:
            raise SystemExit(
                f"column {args.text_col!r} not in {args.in_dir} "
                f"(has: {docs.columns})"
            )
        write_eval_gram_store(docs, args.out, n=args.n, text=args.text_col)
        print(json.dumps({
            "command": "eval-index", "n": args.n,
            "grams": spark.read.parquet(args.out).count(),
        }))
        return 0

    if args.command == "optimize":
        from etl_olho_vivo_spark.io.layout import write_zordered
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        cols = [c.strip() for c in args.by.split(",") if c.strip()]
        if len(cols) != 2 or cols[0] == cols[1]:
            raise SystemExit(
                f"--by needs exactly two DISTINCT comma-separated "
                f"columns, got {args.by!r}"
            )
        if not 1 <= args.bits <= 31:
            raise SystemExit(f"--bits must be in [1, 31], got {args.bits}")
        pin_parquet_instant_confs(spark)
        df = spark.read.parquet(args.path)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise SystemExit(f"column(s) not in table: {missing}")
        write_zordered(
            df, args.out, cols[0], cols[1],
            bits=args.bits, n_files=args.files,
        )
        # per-file occupancy telemetry (same posture as ann-build's
        # cell_stats): range-partitioned Z-order files skew when the
        # Z-value distribution does, and a fat file is both a straggler
        # scan and a pruning-efficiency loss — surface it in the artifact
        from pyspark.sql import functions as F

        from etl_olho_vivo_spark.io.ann_index import occupancy_stats

        sizes = [
            int(r["n"])
            for r in (
                spark.read.parquet(args.out)
                .groupBy(F.input_file_name())
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()  # bounded: one row per written file
            )
        ]
        s = occupancy_stats(sizes)
        print(json.dumps({
            "command": "optimize", "by": cols,
            "rows": sum(sizes),
            "file_stats": {
                "n_files": s["n"],
                "max_file_rows": s["max"],
                "mean_file_rows": s["mean"],
                "skew_ratio": s["skew_ratio"],
            },
        }))
        return 0

    if args.command == "ann-build":
        from etl_olho_vivo_spark.io.ann_index import (
            append_to_ivf_index,
            build_ivf_index,
            compact_ivf_index,
        )
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        pin_parquet_instant_confs(spark)
        emb = spark.read.parquet(args.in_dir)
        if args.append:
            bid = args.batch_id
            if bid is None:
                # next id past whatever has landed AND been folded:
                # ids <= the compaction watermark are replay-skipped
                from etl_olho_vivo_spark.io import append_store

                bid = append_store.next_batch_id(
                    spark, f"{args.index}/cells"
                )
            written = append_to_ivf_index(emb, args.index, bid)
            if not written:
                # an explicit --batch-id at/below the watermark: correct
                # for a replay of a folded batch, data-loss for new data
                # — surface it as a failure, the caller knows which
                print(json.dumps({
                    "command": "ann-build", "appended": True,
                    "batch_id": bid, "written": False,
                    "error": (
                        f"batch_id {bid} is at or below the compaction "
                        f"watermark — already folded into the base; for "
                        f"NEW data omit --batch-id to auto-derive the "
                        f"next unfolded id"
                    ),
                }))
                return 1
            n = spark.read.parquet(f"{args.index}/cells").count()
        else:
            bid = None
            n = build_ivf_index(
                emb, args.index, n_cells=args.cells,
                use_kmeans=not args.seeded,
            )
        out = {
            "command": "ann-build", "vectors": n,
            "appended": bool(args.append),
        }
        if bid is not None:
            out["batch_id"] = bid
        if args.compact:
            # the fold carries the default occupancy posture (round
            # 15): a density/skew breach re-quantizes right here, and
            # the cell_stats emitted below show the post-repair state
            out["compacted"] = compact_ivf_index(
                spark, args.index, use_kmeans=not args.seeded
            )
        if args.rebuild_if_skewed:
            from etl_olho_vivo_spark.io.ann_index import (
                maybe_rebuild_ivf_index,
            )

            out["rebuild"] = maybe_rebuild_ivf_index(
                spark, args.index, max_skew=args.max_skew,
                use_kmeans=not args.seeded,
            )
        # occupancy telemetry: serving cost per probe is the PROBED
        # cell's size, so a hot cell is a straggler scan — surface the
        # skew in the job artifact (rebuild when max/mean exceeds ~4,
        # or pass --rebuild-if-skewed to have the repair run itself)
        from etl_olho_vivo_spark.io.ann_index import cell_stats

        out["cell_stats"] = cell_stats(spark, args.index)
        print(json.dumps(out))
        return 0

    if args.command == "ann-query":
        from etl_olho_vivo_spark.io.ann_index import (
            load_ivf_index,
            query_ivf_index,
        )
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        raw = args.vector.strip()
        try:
            vec = (
                [float(x) for x in json.loads(raw)]
                if raw.startswith("[")
                else [float(x) for x in raw.split(",")]
            )
        except (ValueError, TypeError, json.JSONDecodeError):
            raise SystemExit(
                f"--vector must be a JSON array or comma-separated "
                f"floats (got {raw[:80]!r})"
            )
        pin_parquet_instant_confs(spark)
        idx = load_ivf_index(spark, args.index)
        hits = query_ivf_index(
            idx, vec, k=args.k, n_probe=args.probe
        ).collect()  # k rows — bounded by construction
        print(json.dumps({
            "command": "ann-query", "k": args.k, "probe": args.probe,
            "hits": [
                {"vec_id": r["vec_id"], "label": r["label"],
                 "dot_q": r["dot_q"]}
                for r in hits
            ],
        }))
        return 0

    if args.command == "lm-cuts":
        from etl_olho_vivo_spark.caching import CacheBag
        from etl_olho_vivo_spark.operators import lm as lmops
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        try:
            fractions = tuple(
                float(x) for x in args.fractions.split(",") if x.strip()
            )
        except ValueError:
            raise SystemExit(
                f"--fractions must be comma-separated floats, got "
                f"{args.fractions!r}"
            )
        if args.order < 2:
            raise SystemExit(f"--order must be >= 2, got {args.order}")
        pin_parquet_instant_confs(spark)
        docs = spark.read.parquet(args.in_dir)
        ref = (
            spark.read.parquet(args.ref).select("text")
            if args.ref is not None
            else docs.select("text")
        )
        bag = CacheBag()
        try:
            # persisted either way: approxQuantile and the count below
            # would each re-execute the full scoring pipeline (windows
            # explode + count-relation joins) from scratch otherwise
            if args.scheme == "kn":
                counts = lmops.kneser_ney_counts(
                    ref, order=args.order, caches=bag
                )
                scores = bag.add(
                    lmops.kneser_ney_scores(
                        docs.select("doc_id", "text"), counts,
                        caches=bag,
                    )
                )
                score_col = "kn_score"
            elif args.scheme == "backoff":
                uni, mods = lmops.backoff_counts(
                    ref, order=args.order, caches=bag
                )
                scores = bag.add(
                    lmops.stupid_backoff_scores(
                        docs.select("doc_id", "text"), uni, mods,
                        order=args.order, caches=bag,
                    )
                )
                score_col = "sb_score"
            else:
                ctx, ng, uni = lmops.ngram_counts(
                    ref, order=args.order, caches=bag
                )
                scores = bag.add(
                    lmops.ngram_cross_entropy_scores(
                        docs.select("doc_id", "text"), ctx, ng, uni,
                        order=args.order, caches=bag,
                    )
                )
                score_col = "cross_entropy"
            try:
                cuts = lmops.entropy_cut_points(
                    scores, fractions, col=score_col
                )
            except ValueError as e:
                raise SystemExit(str(e))
            n_docs = scores.count()
        finally:
            bag.release()
        payload = {
            "command": "lm-cuts",
            "order": args.order,
            "scheme": args.scheme,
            "fractions": list(fractions),
            "cut_points": cuts,
            "n_scored_docs": n_docs,
            "ref": args.ref,
        }
        # one tiny driver-side file beside the corpus — the persisted
        # constants the deterministic gate consumes (--lm-max-entropy)
        import os as _os

        _os.makedirs(
            _os.path.dirname(_os.path.abspath(args.out)), exist_ok=True
        )
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)
        print(json.dumps(payload))
        return 0

    if args.command == "dsir-cuts":
        from pyspark.sql import functions as F

        from etl_olho_vivo_spark.caching import CacheBag
        from etl_olho_vivo_spark.operators import dsir as dsirops
        from etl_olho_vivo_spark.operators import lm as lmops
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        try:
            keep = [
                float(x)
                for x in args.keep_fractions.split(",")
                if x.strip()
            ]
        except ValueError:
            raise SystemExit(
                f"--keep-fractions must be comma-separated floats, got "
                f"{args.keep_fractions!r}"
            )
        if not keep or any(not 0.0 < f < 1.0 for f in keep):
            raise SystemExit(
                f"--keep-fractions must be inside (0, 1), got {keep}"
            )
        if keep != sorted(keep, reverse=True) or len(set(keep)) != len(keep):
            # STRICTLY descending: duplicate fractions produce redundant
            # identical cut points, inconsistent with entropy_cut_points'
            # strictly-ascending contract
            raise SystemExit(
                f"--keep-fractions must be strictly descending, got {keep}"
            )
        pin_parquet_instant_confs(spark)
        docs = spark.read.parquet(args.in_dir)
        buckets = (
            args.buckets if args.buckets is not None else dsirops.N_BUCKETS
        )
        bag = CacheBag()
        try:
            hist = None
            if args.hist_out:
                # fit once, persist, and score THROUGH the persisted
                # relation — cut points and histograms cannot drift
                dsirops.dsir_histograms(
                    docs.select("text"),
                    spark.read.parquet(args.target).select("text"),
                    n_buckets=buckets,
                ).write.mode("overwrite").parquet(args.hist_out)
                hist = spark.read.parquet(args.hist_out)
            # persisted: approxQuantile and the count would each re-run
            # the two feature scans + scoring joins from scratch
            scores = bag.add(
                dsirops.dsir_log_weights(
                    docs.select("doc_id", "text"),
                    spark.read.parquet(args.target).select("text"),
                    n_buckets=buckets,
                    hist=hist,
                    caches=bag,
                )
            )
            col = "log_w"
            if args.sampled:
                scores = bag.add(
                    scores.withColumn(
                        "sel_key",
                        F.round(
                            F.col("log_w")
                            + F.expr(
                                dsirops.gumbel_expr("doc_id", args.seed)
                            ),
                            6,
                        ),
                    )
                )
                col = "sel_key"
            # keep-fraction f ⇒ the (1−f) quantile is the floor; the
            # shared quantile helper wants ascending fractions, which a
            # descending keep list produces naturally
            cuts = lmops.entropy_cut_points(
                scores, tuple(1.0 - f for f in keep), col=col
            )
            n_docs = scores.count()
        finally:
            bag.release()
        payload = {
            "command": "dsir-cuts",
            "buckets": buckets,
            "sampled": bool(args.sampled),
            "seed": args.seed,
            "keep_fractions": keep,
            "cut_points": cuts,
            "n_scored_docs": n_docs,
            "target": args.target,
            "hist_out": args.hist_out,
        }
        import os as _os

        _os.makedirs(
            _os.path.dirname(_os.path.abspath(args.out)), exist_ok=True
        )
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)
        print(json.dumps(payload))
        return 0

    if args.command == "quality-train":
        from etl_olho_vivo_spark.caching import CacheBag
        from etl_olho_vivo_spark.operators import quality as qops
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        pin_parquet_instant_confs(spark)
        buckets = (
            args.buckets if args.buckets is not None else qops.N_BUCKETS
        )
        bag = CacheBag()
        try:
            model = qops.train_quality_classifier(
                spark.read.parquet(args.pos).select("doc_id", "text"),
                spark.read.parquet(args.neg).select("doc_id", "text"),
                n_buckets=buckets,
                iters=args.iters,
                lr=args.lr,
                l2=args.l2,
                sample_frac=args.sample_frac,
                balance_classes=args.balance_classes,
                seed=args.sample_seed,
                caches=bag,
            )
        finally:
            bag.release()
        import os as _os

        _os.makedirs(
            _os.path.dirname(_os.path.abspath(args.out)), exist_ok=True
        )
        qops.save_model(model, args.out)
        summary = {
            "command": "quality-train",
            "out": args.out,
            "n_buckets": model["n_buckets"],
            "iters": model["iters"],
            "n_pos": model["n_pos"],
            "n_neg": model["n_neg"],
            "bias": model["bias"],
            "nonzero_weights": sum(1 for w in model["weights"] if w),
        }
        print(json.dumps(summary))
        return 0

    if args.command == "quality-cuts":
        from etl_olho_vivo_spark.caching import CacheBag
        from etl_olho_vivo_spark.operators import lm as lmops
        from etl_olho_vivo_spark.operators import quality as qops
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        try:
            keep = [
                float(x)
                for x in args.keep_fractions.split(",")
                if x.strip()
            ]
        except ValueError:
            raise SystemExit(
                f"--keep-fractions must be comma-separated floats, got "
                f"{args.keep_fractions!r}"
            )
        if not keep or any(not 0.0 < f < 1.0 for f in keep):
            raise SystemExit(
                f"--keep-fractions must be inside (0, 1), got {keep}"
            )
        if keep != sorted(keep, reverse=True) or len(set(keep)) != len(keep):
            raise SystemExit(
                f"--keep-fractions must be strictly descending, got {keep}"
            )
        pin_parquet_instant_confs(spark)
        model = qops.load_model(args.model)
        docs = spark.read.parquet(args.in_dir)
        bag = CacheBag()
        try:
            # persisted: approxQuantile and the count would each re-run
            # the feature scan + scoring join from scratch
            scores = bag.add(
                qops.score_quality(
                    docs.select("doc_id", "text"), model
                )
            )
            # keep-fraction f => the (1-f) quantile is the floor (keep
            # docs with q_score >= cut); descending keep list gives the
            # ascending fractions the shared quantile helper wants
            cuts = lmops.entropy_cut_points(
                scores, tuple(1.0 - f for f in keep), col="q_score"
            )
            n_docs = scores.count()
        finally:
            bag.release()
        payload = {
            "command": "quality-cuts",
            "model": args.model,
            "n_buckets": model["n_buckets"],
            "keep_fractions": keep,
            "cut_points": cuts,
            "n_scored_docs": n_docs,
        }
        import os as _os

        _os.makedirs(
            _os.path.dirname(_os.path.abspath(args.out)), exist_ok=True
        )
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)
        print(json.dumps(payload))
        return 0

    if args.command == "bloom-build":
        from etl_olho_vivo_spark.caching import CacheBag
        from etl_olho_vivo_spark.operators import bloom as bloomop
        from etl_olho_vivo_spark.operators import dedup
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )
        from pyspark.sql import functions as F

        pin_parquet_instant_confs(spark)
        d = spark.read.parquet(args.in_dir)
        if args.text_col not in d.columns:
            raise SystemExit(
                f"--text-col {args.text_col!r} not in {d.columns}"
            )
        bag = CacheBag()
        try:
            # persist the ARRAYS before exploding — the persist
            # boundary is what stops Catalyst collapsing the token-hash
            # projection into the Generate lambda (O(words²) md5, see
            # operators/bloom.py); the distinct keys are persisted too
            # for their two consumers (sizing count + filter build)
            sh = bag.add(
                dedup.with_shingles(d, text=args.text_col).select("sh")
            )
            keys = bag.add(
                sh.select(F.explode("sh").alias("gh")).distinct()
            )
            if args.merge:
                # realpath, not string equality: 'f1/' vs 'f1' or a
                # relative vs absolute spelling of the same directory
                # would slip a raw comparison, and overwriting the
                # bitmap the merged plan is lazily reading destroys the
                # only copy of the reference filter
                if os.path.realpath(args.merge) == os.path.realpath(
                    args.out
                ):
                    raise SystemExit(
                        "--out must differ from --merge (the merged "
                        "filter reads the existing one while writing)"
                    )
                existing, nb, nh = bloomop.read_bloom_filter(
                    spark, args.merge
                )
                filt = bloomop.merge_bloom_filters(
                    existing, bloomop.build_bloom_filter(keys, "gh", nb, nh)
                )
                n_keys = keys.count()
            else:
                n_keys = keys.count()
                nb, nh = bloomop.bloom_parameters(
                    max(1, n_keys), args.fpp
                )
                filt = bloomop.build_bloom_filter(keys, "gh", nb, nh)
            bloomop.write_bloom_filter(filt, args.out, nb, nh)
        finally:
            bag.release()
        print(
            json.dumps(
                {
                    "command": "bloom-build",
                    "n_keys": n_keys,
                    "num_bits": nb,
                    "num_hashes": nh,
                    "merged_into": args.merge,
                }
            )
        )
        return 0

    if args.command == "datacard":
        from etl_olho_vivo_spark.operators.datacard import write_datacard

        dims = tuple(
            s.strip() for s in args.dims.split(",") if s.strip()
        )
        card = write_datacard(
            spark, args.in_dir, args.out,
            text=args.text_col, dims=dims,
            quality_col=args.quality_col,
        )
        print(json.dumps({
            "command": "datacard", "out": args.out,
            "docs": card["docs"], "tokens": card["tokens"],
            "dims": {d: len(v) for d, v in card["by"].items()},
        }))
        return 0

    if args.command == "profile":
        from etl_olho_vivo_spark.functions.profile import profile_table
        from etl_olho_vivo_spark.sources.tables import (
            pin_parquet_instant_confs,
        )

        if not 0.0 < args.rsd <= 0.37:
            # HLL++ needs precision p >= 4 ⇒ rsd ≤ ~0.39; failing here
            # beats a mid-job AnalysisException after the scan started
            raise SystemExit(
                f"--rsd must be in (0, 0.37], got {args.rsd}"
            )
        pin_parquet_instant_confs(spark)
        prof = profile_table(
            spark.read.parquet(args.path), rsd=args.rsd
        )
        for r in prof.collect():  # one row per COLUMN — tiny by design
            print(json.dumps(r.asDict()))
        return 0

    if args.command == "media-stream":
        from etl_olho_vivo_spark.io import append_store
        from etl_olho_vivo_spark.streaming.media_stream import (
            run_media_stream,
        )

        # a file stream needs an explicit schema; lift it from a static
        # read of the same landing dir (footer-only — no data scan)
        landing = append_store.read_store(spark, args.in_dir)
        if landing is None:
            raise SystemExit(f"no input files in {args.in_dir}")
        reader = spark.readStream.schema(landing.schema)
        if args.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(args.max_files_per_trigger)
            )
        if args.media_datacard and not args.media_stats_dir:
            raise SystemExit(
                "--datacard requires --stats-dir (the card aggregates "
                "the incremental stats store, never re-decodes media)"
            )
        try:
            q = run_media_stream(
                reader.parquet(args.in_dir),
                args.corpus,
                args.store,
                args.checkpoint,
                kind=args.kind,
                max_hamming=args.max_hamming,
                n_bands=args.n_bands,
                gates=_media_gates_from_args(args),
                stats_dir=args.media_stats_dir,
                frame_index_dir=args.frame_index_dir,
                frame_stride=args.frame_stride,
            )
        except ValueError as e:  # gate/banding config error: exit 2
            raise SystemExit(str(e))
        q.awaitTermination()
        # a drain that admitted NOTHING is a valid outcome
        corpus = append_store.read_store(spark, args.corpus)
        n_docs = 0 if corpus is None else corpus.count()
        out = {"command": "media-stream", "kind": args.kind,
               "corpus_docs": n_docs}
        if args.compact:
            if n_docs:
                out["store_fingerprints_compacted"] = append_store.compact(
                    spark, args.store
                )
            else:
                out["store_fingerprints_compacted"] = 0
        from etl_olho_vivo_spark.streaming.media_stream import (
            media_store_stats,
        )

        # compaction dial in the job artifact: partition growth taxes
        # every future admit with per-file open cost
        out["store"] = media_store_stats(spark, args.store)
        if args.frame_index_dir:
            from etl_olho_vivo_spark.streaming.media_stream import (
                frame_index_coverage,
            )

            # mid-life enablement is LOUD, like the stats store's
            # partial stamp: an index that misses corpus batches
            # makes video-contain silently incomplete
            out["frame_index"] = frame_index_coverage(
                spark, args.frame_index_dir, args.corpus
            )
        if args.media_datacard:
            from etl_olho_vivo_spark.operators.datacard import (
                media_card_from_stats_store,
            )

            # zero-batch drain: empty/missing stats store is a valid
            # outcome — emit the empty card (partial when the corpus
            # itself is non-empty), don't die
            if append_store.read_store(spark, args.media_stats_dir) is None:
                card = {"kind": args.kind, "docs": 0, "by": {}}
                if n_docs:
                    card["partial"] = True
            else:
                card = media_card_from_stats_store(
                    spark, args.media_stats_dir, args.kind,
                    corpus_dir=args.corpus,
                )
            with open(args.media_datacard, "w") as f:
                json.dump(card, f, indent=1, sort_keys=True)
            out["datacard"] = args.media_datacard
            out["datacard_docs"] = card["docs"]
        print(json.dumps(out))
        return 0

    if args.command == "media-dedup":
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from etl_olho_vivo_spark.operators.dedup import (
            hamming_near_dups,
        )
        from etl_olho_vivo_spark.streaming.media_stream import (
            apply_media_gates,
            media_fingerprints,
            validate_media_gates,
        )

        if args.max_hamming < 0:
            raise SystemExit(
                f"--max-hamming must be >= 0, got {args.max_hamming}"
            )
        gates = _media_gates_from_args(args)
        try:
            validate_media_gates(args.kind, gates)
        except ValueError as e:
            raise SystemExit(str(e))
        df = spark.read.parquet(args.in_dir)
        for col in (args.id_col, args.media_col):
            if col not in df.columns:
                raise SystemExit(
                    f"--in table has no column {col!r} "
                    f"(columns: {df.columns})"
                )
        media = df.select(
            F.col(args.id_col).alias("doc_id"),
            F.col(args.media_col).alias("media"),
        )
        # one Arrow decode pass shared by gates, banding, and both
        # verify sides (round 12: the CLI now runs the SAME
        # fingerprint+gate path as the streaming admit loop)
        fps = media_fingerprints(media, args.kind).persist()
        admitted = apply_media_gates(fps, args.kind, gates)
        counts = {}
        if gates:
            # slim persisted frame: two bounded counts of telemetry
            counts["gated_out"] = fps.count() - admitted.count()
        pairs = hamming_near_dups(
            admitted.filter(F.col("fp").isNotNull()),
            hash_col="fp", bits=64,
            max_hamming=args.max_hamming, n_bands=args.n_bands,
        )
        # the pair relation is reused (written + clustered): persist so
        # the banding fan-in runs once; count rides the write via
        # Observation — one action per sink, never a recompute
        pairs = pairs.persist()
        obs = Observation("media_pairs")
        pairs.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(args.pairs_out)
        counts["pairs"] = obs.get["rows"]
        if args.survivors_out:
            from etl_olho_vivo_spark.operators.dedup import (
                connected_components,
            )

            labels = connected_components(pairs)
            losers = labels.filter(
                F.col("doc_id") != F.col("component")
            ).select(F.col("doc_id").alias(args.id_col))
            sobs = Observation("media_survivors")
            # gated-out rows are not survivors either (they never
            # entered the corpus candidate set)
            survivors = df
            if gates:
                survivors = survivors.join(
                    admitted.select(
                        F.col("doc_id").alias(args.id_col)
                    ),
                    args.id_col, "left_semi",
                )
            # losers scales with the corpus' duplicate fraction —
            # merge-pinned like every symmetric corpus-scaled join
            # (the round-7 starved-driver lesson)
            survivors = survivors.join(losers.hint("merge"), args.id_col,
                                       "left_anti")
            survivors.observe(
                sobs, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite").parquet(args.survivors_out)
            counts["survivors"] = sobs.get["rows"]
        pairs.unpersist()
        fps.unpersist()
        print(json.dumps({"command": "media-dedup", "kind": args.kind,
                          **counts}))
        return 0

    if args.command == "video-index":
        from pyspark.sql import functions as F

        from etl_olho_vivo_spark.operators.multimodal import (
            video_frame_fingerprints,
        )

        if args.stride <= 0:
            raise SystemExit(f"--stride must be positive, got {args.stride}")
        src = spark.read.parquet(args.in_dir)
        for col in (args.id_col, args.media_col):
            if col not in src.columns:
                raise SystemExit(
                    f"input at {args.in_dir} lacks column {col!r}"
                )
        frames = video_frame_fingerprints(
            src.select(
                F.col(args.id_col).alias("doc_id"),
                F.col(args.media_col).alias("media"),
            ),
            stride=args.stride,
        )
        frames.write.mode("overwrite").parquet(args.out)
        back = spark.read.parquet(args.out)
        print(json.dumps({
            "command": "video-index",
            "frames": back.count(),
            "clips": back.select("doc_id").distinct().count(),
            "out": args.out,
        }))
        return 0

    if args.command == "video-contain":
        from pyspark.sql import functions as F

        from etl_olho_vivo_spark.operators.multimodal import (
            media_containment_pairs,
            video_frame_fingerprints,
        )

        # same guard as video-index: a config error exits 2 with the
        # message, never an uncaught traceback from the probe build
        if args.stride <= 0:
            raise SystemExit(f"--stride must be positive, got {args.stride}")
        index = spark.read.parquet(args.index)
        self_probe = False
        if args.probe_is_index:
            # probing a store against ITSELF (same resolved path) must
            # get the collapsed exact leg the registry self-probe rows
            # get — two reads of one parquet are different DataFrame
            # objects, so the operator's identity fallback alone would
            # silently miss it (round 16, advisor item)
            self_probe = os.path.realpath(args.probe) == os.path.realpath(
                args.index
            )
            probe = index if self_probe else spark.read.parquet(args.probe)
        else:
            src = spark.read.parquet(args.probe)
            for col in (args.id_col, args.media_col):
                if col not in src.columns:
                    raise SystemExit(
                        f"probe at {args.probe} lacks column {col!r}"
                    )
            probe = video_frame_fingerprints(
                src.select(
                    F.col(args.id_col).alias("doc_id"),
                    F.col(args.media_col).alias("media"),
                ),
                stride=args.stride,
            )
        try:
            pairs = media_containment_pairs(
                probe, index,
                max_hamming=args.max_hamming, n_bands=args.n_bands,
                min_frac=args.min_frac, max_index_df=args.max_index_df,
                self_probe=self_probe,
            )
        except ValueError as e:  # banding/min_frac config error
            raise SystemExit(str(e))
        pairs.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "command": "video-contain",
            "containments": spark.read.parquet(args.out).count(),
            "out": args.out,
        }))
        return 0

    if args.command == "colocate":
        from etl_olho_vivo_spark.operators.colocate import (
            colocation_pairs,
        )

        src = spark.read.parquet(args.in_dir)
        missing = [
            c for c in (args.key_col, args.lat_col, args.lon_col,
                        args.ts_col)
            if c not in src.columns
        ]
        if missing:
            raise SystemExit(
                f"input at {args.in_dir} lacks column(s) "
                f"{', '.join(repr(c) for c in missing)} — point the "
                f"--key-col/--lat-col/--lon-col/--ts-col dials at the "
                f"right names"
            )
        try:
            pairs = colocation_pairs(
                src, args.radius_m,
                key=args.key_col, lat=args.lat_col, lon=args.lon_col,
                ts=args.ts_col, bucket_s=args.bucket_s,
            )
        except ValueError as e:  # radius/bucket config error: exit 2
            raise SystemExit(str(e))
        pairs.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "command": "colocate",
            "pairs": spark.read.parquet(args.out).count(),
            "radius_m": args.radius_m,
            "out": args.out,
        }))
        return 0

    raise AssertionError(f"unhandled command {args.command!r}")


if __name__ == "__main__":
    sys.exit(main())
