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
gating as the source).

Every subcommand is one handler, ``_<name>(spark, args)``, that returns
its record; ``main`` prints it as one JSON line — the machine-readable
completion signal the reference's clock-offset coupling lacks.
``profile`` is the one exception: it returns a list and prints one line
per column.  A record with an ``"error"`` key exits 1.

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


# ---- flag groups shared by several subcommands ----------------------------


def _corpus_gate_args(p: argparse.ArgumentParser) -> None:
    """The document gates ``corpus`` and ``corpus-stream`` both take,
    with the same types and defaults (see ``_gate_kwargs``)."""
    p.add_argument(
        "--c4", action="store_true",
        help="apply C4's heuristic cleanup (Raffel et al. 2020): drop "
        "lines not ending in terminal punctuation or under 5 words, "
        "then reject pages with <3 sentences, lorem ipsum, or braces",
    )
    p.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher repetition-quality gate (duplicate "
        "lines/n-grams, symbol ratio)",
    )
    p.add_argument(
        "--quality-model", default=None, metavar="MODEL_JSON",
        help="trained quality-classifier gate (FineWeb-Edu/DCLM shape): "
        "score documents with the logistic model persisted by the "
        "quality-train subcommand and keep docs whose score clears "
        "--quality-min-score (broadcast-weights scoring; docs with no "
        "features pass through, same no-evidence contract as the LM "
        "and DSIR gates).  A stream loads it once at start-up and keeps "
        "it frozen for its lifetime",
    )
    p.add_argument(
        "--quality-min-score", type=float, default=None, metavar="P",
        help="absolute probability floor in [0, 1] for --quality-model "
        "(required with it; the gate never computes quantiles inline — "
        "same determinism contract as --lm-max-entropy)",
    )
    p.add_argument(
        "--snapshot-filter", default=None, metavar="FILTER_DIR",
        help="drop docs whose 3-gram overlap with a previous crawl's "
        "persisted Bloom filter (see bloom-build) reaches "
        "--snapshot-overlap — inter-snapshot dedup without re-reading "
        "the prior crawl.  A stream keeps the filter frozen for the "
        "drain; advance it between crawls with bloom-build --merge",
    )
    p.add_argument("--snapshot-overlap", type=float, default=0.5)
    p.add_argument(
        "--eval-grams", default=None, metavar="DIR",
        help="decontaminate against a persisted eval gram store (see "
        "eval-index): drop any doc sharing an n-gram with the "
        "benchmark — the same probe in the batch pipeline and the "
        "admit loop",
    )
    p.add_argument("--eval-ngram", type=int, default=5)


def _gate_kwargs(args) -> dict:
    """The gate flags as the keyword arguments ``run_corpus`` and
    ``run_corpus_stream`` both take under these names."""
    return {
        "quality_model_path": args.quality_model,
        "quality_min_score": args.quality_min_score,
        "snapshot_filter_dir": args.snapshot_filter,
        "snapshot_overlap": args.snapshot_overlap,
        "eval_grams_dir": args.eval_grams,
        "eval_ngram": args.eval_ngram,
    }


def _stream_args(p: argparse.ArgumentParser) -> None:
    """The drain flags ``corpus-stream`` and ``media-stream`` share."""
    p.add_argument(
        "--in", dest="in_dir", required=True,
        help="landing directory of parquet files (doc_id plus text or "
        "media)",
    )
    p.add_argument("--corpus", required=True,
                   help="admitted-corpus output directory")
    p.add_argument("--store", required=True,
                   help="dedup store directory (signatures or "
                   "fingerprints)")
    p.add_argument("--checkpoint", required=True,
                   help="stream checkpoint directory")
    p.add_argument(
        "--max-files-per-trigger", type=int, default=None, metavar="N",
        help="micro-batch size in files (default: all available in one)",
    )
    p.add_argument(
        "--compact", action="store_true",
        help="after the drain, fold the store's per-batch partitions "
        "into the single compacted base partition",
    )
    p.add_argument(
        "--stats-dir", default=None, metavar="DIR",
        help="maintain the data card incrementally: one bounded stats "
        "partition per micro-batch over the admitted survivors, "
        "computed on the pass the admit loop already runs — card "
        "emission then never rescans the corpus (see --datacard)",
    )
    p.add_argument(
        "--datacard", default=None, metavar="OUT_JSON",
        help="after the drain, aggregate the --stats-dir store into "
        "the corpus data card at this path (cost is proportional to "
        "the number of batches, never the corpus)",
    )


def _drain(spark, args, run, record: dict, compact_key: str,
           **kwargs) -> dict:
    """Run one admit loop to the end of its landing zone: lift the
    landing schema, start ``run`` over it, wait for the drain, then add
    the corpus doc count and, under --compact, the folded store rows
    (under ``compact_key``) to ``record``.  A start-up config error
    (a ``ValueError`` from ``run``'s pre-flight checks) exits 2."""
    from etl_olho_vivo_spark.io import append_store

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
    if args.datacard and not args.stats_dir:
        raise SystemExit(
            "--datacard requires --stats-dir (the card aggregates the "
            "incremental stats store, never the corpus itself)"
        )
    try:
        q = run(reader.parquet(args.in_dir), args.corpus, args.store,
                args.checkpoint, **kwargs)
    except ValueError as e:
        raise SystemExit(str(e))
    q.awaitTermination()
    # a drain that admitted NOTHING leaves only empty partition dirs
    # (or no dir at all) — that is a valid outcome, not a crash
    corpus = append_store.read_store(spark, args.corpus)
    record["corpus_docs"] = 0 if corpus is None else corpus.count()
    if args.compact:
        # nothing admitted → nothing to fold; calling the compactor
        # would die reading an empty/missing store
        record[compact_key] = (
            append_store.compact(spark, args.store)
            if record["corpus_docs"] else 0
        )
    return record


def _stream_card(spark, args, record: dict, empty: dict, build) -> dict:
    """Write the drain's data card to --datacard and name it in
    ``record``: ``build()`` over the stats store, or ``empty`` when the
    store is absent."""
    from etl_olho_vivo_spark.io import append_store

    # a drain that processed ZERO micro-batches (zero-admit stream, or a
    # no-op replay over an already-drained input) leaves the stats store
    # empty or absent — a valid outcome even when the corpus itself is
    # non-empty (corpus_docs counts the WHOLE corpus, not this drain);
    # emit the empty card, stamped partial then, don't die.  The
    # mid-life-enablement case (store exists but misses batches) is
    # caught inside the card builders via their corpus_dir coverage
    # check instead.
    if append_store.read_store(spark, args.stats_dir) is None:
        card = empty
        if record["corpus_docs"]:
            card["partial"] = True
    else:
        card = build()
    with open(args.datacard, "w") as f:
        json.dump(card, f, indent=1, sort_keys=True)
    record["datacard"] = args.datacard
    return card


def _hamming_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--max-hamming", type=int, default=6)
    p.add_argument("--n-bands", type=int, default=8)


def _media_col_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--media-col", default="media")


def _media_frame(df, args, where: str):
    """``df``'s --id-col/--media-col as the (doc_id, media) frame the
    fingerprint operators take; exit 2 naming ``where`` when either
    column is missing."""
    from pyspark.sql import functions as F

    for col in (args.id_col, args.media_col):
        if col not in df.columns:
            raise SystemExit(
                f"{where} has no column {col!r} (columns: {df.columns})"
            )
    return df.select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.media_col).alias("media"),
    )


def _media_gate_args(p: argparse.ArgumentParser) -> None:
    # pre-store quality gates (round 12): floors over the decode
    # metadata, evaluated on the SAME pass that fingerprints — gated
    # rows never reach the pairing, survivors, corpus, or fingerprint
    # store
    p.add_argument("--min-width", type=int, default=None,
                   help="image/video gate: minimum decoded width")
    p.add_argument("--min-height", type=int, default=None,
                   help="image/video gate: minimum decoded height")
    p.add_argument(
        "--min-sample-rate", type=int, default=None,
        help="audio gate: minimum sample rate (Hz)",
    )
    p.add_argument(
        "--min-duration", type=float, default=None,
        help="audio gate: minimum duration (seconds)",
    )
    p.add_argument(
        "--min-frames", type=int, default=None,
        help="video gate: minimum demuxed frame count",
    )
    p.add_argument(
        "--reject-undecodable", action="store_true",
        help="drop opaque/undecodable media instead of admitting "
        "them unfingerprinted",
    )


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


def _keep_fractions(args) -> list[float]:
    """Parse --keep-fractions: strictly descending, each inside (0, 1)."""
    try:
        keep = [
            float(x) for x in args.keep_fractions.split(",") if x.strip()
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
    return keep


def _make_parent(path: str) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)


def _write_json(path: str, payload: dict) -> None:
    # one tiny driver-side file beside the corpus — the persisted
    # constants a deterministic gate consumes
    _make_parent(path)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)


# ---- one parser setup and one handler per subcommand ----------------------


def _ingest_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--out", required=True, help="raw zone directory")
    p.add_argument("--polls", type=int, default=4)
    p.add_argument("--lines", type=int, default=10)
    p.add_argument("--vehicles", type=int, default=10)
    p.add_argument(
        "--live", action="store_true",
        help="real authenticated poll (needs network + requests)",
    )
    p.add_argument("--api-token", default=None)


def _ingest(spark, args) -> dict:
    """stage 1: poll /Posicao into the raw JSON zone"""
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
    return {"command": "ingest", "polls": raw.count()}


def _daily_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--raw", required=True, help="raw JSON zone directory")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument(
        "--no-fact", action="store_true",
        help="skip the posicoes parquet fact write",
    )
    p.add_argument(
        "--write-pairs", action="store_true",
        help="also emit the cleaned per-pair speeds as a fourth CSV "
        "(the reference's commented-out granular output, S10; off by "
        "default for the same 'too granular' reason)",
    )
    p.add_argument(
        "--date", default=None, metavar="YYYY-MM-DD",
        help="process only this raw-zone day partition (the reference's "
        "'yesterday' daily-batch semantics; path-pruned, no full scan)",
    )


def _daily(spark, args) -> dict:
    """stages 2+3: raw JSON -> fact parquet + derived CSVs"""
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
    return {"command": "daily", "date": args.date, **counts}


def _corpus_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--sf-dir", required=True, help="input tables directory")
    p.add_argument("--out", required=True, help="corpus output directory")
    p.add_argument(
        "--resolution",
        choices=["greedy", "components", "keep_best"],
        default="greedy",
        help="near-dup pair-graph resolution: greedy (drop larger id "
        "per pair), components (exact clustering, keep min id), "
        "keep_best (exact clustering, keep highest quality_score)",
    )
    p.add_argument(
        "--datacard", action="store_true",
        help="after the corpus write, emit its data card (per-lang/"
        "per-source/length-histogram doc+token+char counts, plus "
        "quality deciles when quality_score shipped) at <out>_card.json",
    )
    _corpus_gate_args(p)
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--jaccard-threshold", type=float, default=0.6)
    p.add_argument("--redact-pii", action="store_true")
    p.add_argument(
        "--dedup-lines", choices=["keep_first", "drop_boilerplate"],
        default=None,
        help="corpus-wide line-level dedup before profiling (C4 "
        "keep-one / CCNet boilerplate-drop)",
    )
    p.add_argument("--line-min-count", type=int, default=2)
    p.add_argument(
        "--drop-spans", choices=["keep_first", "drop_all"],
        default=None,
        help="corpus-wide repeated-span removal after line dedup "
        "(shingle approximation of exact-substring dedup, Lee et al. "
        "2022)",
    )
    p.add_argument("--span-k", type=int, default=5)
    p.add_argument("--span-min-count", type=int, default=2)
    p.add_argument(
        "--lm-max-entropy", type=float, default=None, metavar="NATS",
        help="CCNet-style LM quality gate: keep documents whose bigram "
        "cross-entropy (vs --lm-ref, or the surviving corpus itself) "
        "is at or under this absolute threshold",
    )
    p.add_argument(
        "--lm-ref", default=None, metavar="PARQUET_DIR",
        help="trusted reference corpus (parquet with a text column) "
        "for --lm-max-entropy; defaults to self-training",
    )
    p.add_argument(
        "--lm-order", type=int, default=2, metavar="N",
        help="n-gram order for the --lm-max-entropy gate (default 2; "
        "CCNet uses 5) — higher orders sharpen the gibberish/boilerplate "
        "separation at the cost of larger count relations",
    )
    p.add_argument(
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
    p.add_argument(
        "--dsir-target", default=None, metavar="PARQUET_DIR",
        help="target corpus (parquet with a text column) for DSIR "
        "importance selection (Xie et al. 2023): survivors are scored "
        "by hashed-n-gram log importance weight against this "
        "distribution and kept when the weight clears --dsir-min-logw",
    )
    p.add_argument(
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
    p.add_argument(
        "--dsir-hist", default=None, metavar="PARQUET_DIR",
        help="fit-once DSIR: the target/raw bucket histograms persisted "
        "by dsir-cuts --hist-out; the gate scores survivors against "
        "these FROZEN distributions (no refit), so --dsir-min-logw "
        "keeps exactly the calibrated fraction of the calibrated "
        "pool's distribution.  Replaces --dsir-target (the target "
        "corpus itself is not re-read)",
    )
    p.add_argument(
        "--dsir-sampled", action="store_true",
        help="perturb each weight with the seeded Gumbel key before "
        "thresholding — importance RESAMPLING (keep ∝ weight) instead "
        "of a hard floor, still a pure deterministic filter",
    )
    p.add_argument("--dsir-seed", type=int, default=0)
    p.add_argument(
        "--dsir-buckets", type=int, default=None, metavar="B",
        help="hashed feature buckets (default 10000, the paper's "
        "operating point; must match the dsir-cuts run that produced "
        "--dsir-min-logw)",
    )
    p.add_argument(
        "--bpe-tokenize", type=int, default=None, metavar="N_MERGES",
        help="train an N-merge BPE vocabulary on the surviving corpus, "
        "apply it (bpe_tokens + integer bpe_ids columns), and persist "
        "the merge list at <out>_bpe_merges and the id vocabulary at "
        "<out>_bpe_vocab",
    )
    p.add_argument(
        "--unigram-tokenize", type=int, default=None, metavar="N_VOCAB",
        help="the --tokenizer=unigram family: train an N-piece "
        "unigram-LM (SentencePiece-style) vocabulary on the surviving "
        "corpus, apply it (unigram_tokens + integer unigram_ids "
        "columns), and persist the model at <out>_unigram_model and "
        "the id vocabulary at <out>_unigram_vocab; mutually exclusive "
        "with --bpe-tokenize",
    )
    p.add_argument(
        "--jsonl-out", default=None, metavar="DIR",
        help="additionally export the cleaned corpus as gzip'd JSONL "
        "shards partitioned by detected language (training hand-off)",
    )
    p.add_argument(
        "--splits", default=None, metavar="NAME=W,NAME=W",
        help="deterministic split column, e.g. train=0.9,val=0.05,"
        "test=0.05 (weights must sum to 1)",
    )
    p.add_argument("--split-seed", type=int, default=0)
    p.add_argument(
        "--max-per-source", type=int, default=None, metavar="N",
        help="cap documents per source (seeded deterministic choice, "
        "the C4/Gopher domain-balance rule)",
    )
    p.add_argument(
        "--mix", default=None, metavar="SOURCE=W,SOURCE=W",
        help="sample the corpus to this target token mixture across "
        "source domains (deterministic seeded Bernoulli; unlisted "
        "domains are dropped; the scarcest listed domain caps the mix)",
    )
    p.add_argument(
        "--mix-budget", type=int, default=None, metavar="TOKENS",
        help="cap the mixture's total token budget (default: the "
        "largest supply-feasible mix)",
    )
    p.add_argument(
        "--shuffle-shards", type=int, default=None, metavar="N",
        help="globally shuffle the JSONL export into N deterministic "
        "seeded shards (decorrelates training batches from ingest "
        "order); shards replace the per-language partitioning",
    )
    p.add_argument("--shuffle-seed", type=int, default=0)


def _corpus(spark, args) -> dict:
    """LLM corpus pipeline: documents -> cleaned corpus"""
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
        dedup_resolution=args.resolution,
        splits=splits,
        split_seed=args.split_seed,
        gopher=args.gopher,
        max_per_source=args.max_per_source,
        mixture=mixture,
        mixture_budget=args.mix_budget,
        **_gate_kwargs(args),
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
        from etl_olho_vivo_spark.operators.datacard import write_datacard

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
    return {"command": "corpus", **stats}


def _corpus_stream_args(p: argparse.ArgumentParser) -> None:
    _stream_args(p)
    _corpus_gate_args(p)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument(
        "--resolution", choices=["greedy", "components"], default="greedy",
        help="in-batch near-dup pair-graph resolution, the batch "
        "pipeline's dial (round 13): greedy (drop larger id per pair; "
        "default, matching the batch default) or components (exact "
        "clustering, keep min id — the media stream's convention).  "
        "keep_best is batch-only: the stream's admitted-first contract "
        "overrides quality across batches",
    )
    p.add_argument(
        "--keep-langs", default=None, metavar="L1,L2",
        help="per-row gate: keep only these lang_guess values "
        "(applied before signatures — rejected docs never enter the "
        "corpus or the store)",
    )
    p.add_argument("--min-tokens", type=int, default=None)
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument(
        "--stats-dims", default=None, metavar="C1,C2",
        help="categorical columns to track in the stats store "
        "(default: none — totals + length histogram only)",
    )


def _corpus_stream(spark, args) -> dict:
    """continuous corpus ingestion: landing-zone documents -> near-dedup'd
    corpus + signature store (availableNow drain)"""
    from etl_olho_vivo_spark.streaming.corpus_stream import (
        run_corpus_stream,
    )

    gates = {}
    if args.keep_langs:
        gates["keep_langs"] = tuple(
            s.strip() for s in args.keep_langs.split(",") if s.strip()
        )
    if args.min_tokens is not None:
        gates["min_tokens"] = args.min_tokens
    if args.min_quality is not None:
        gates["min_quality"] = args.min_quality
    if args.gopher:
        gates["gopher"] = True
    if args.c4:
        gates["c4"] = True
    out = _drain(
        spark, args, run_corpus_stream,
        {"command": "corpus-stream"}, "store_signatures_compacted",
        threshold=args.threshold,
        gates=gates or None,
        dedup_resolution=args.resolution,
        stats_dir=args.stats_dir,
        stats_dims=tuple(
            s.strip() for s in (args.stats_dims or "").split(",")
            if s.strip()
        ),
        **_gate_kwargs(args),
    )
    if args.datacard:
        from etl_olho_vivo_spark.operators.datacard import (
            card_from_stats_store,
        )

        card = _stream_card(
            spark, args, out,
            {"docs": 0, "tokens": 0, "chars": 0, "by": {},
             "len_log2_histogram": {}},
            lambda: card_from_stats_store(
                spark, args.stats_dir, corpus_dir=args.corpus
            ),
        )
        out["datacard_tokens"] = card["tokens"]
    return out


def _eval_index_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--in", dest="in_dir", required=True,
        help="parquet of benchmark documents (needs a text column)",
    )
    p.add_argument("--out", required=True, help="gram store output dir")
    p.add_argument("--n", type=int, default=5)
    p.add_argument("--text-col", default="text")


def _eval_index(spark, args) -> dict:
    """build the persisted eval/benchmark n-gram store that corpus-stream
    --eval-grams (and batch decontamination) probes"""
    from etl_olho_vivo_spark.operators.decontam import write_eval_gram_store

    if args.n < 1:
        raise SystemExit(f"--n must be >= 1, got {args.n}")
    docs = spark.read.parquet(args.in_dir)
    if args.text_col not in docs.columns:
        raise SystemExit(
            f"column {args.text_col!r} not in {args.in_dir} "
            f"(has: {docs.columns})"
        )
    write_eval_gram_store(docs, args.out, n=args.n, text=args.text_col)
    return {
        "command": "eval-index", "n": args.n,
        "grams": spark.read.parquet(args.out).count(),
    }


def _optimize_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--path", required=True, help="input parquet table")
    p.add_argument("--out", required=True, help="clustered output dir")
    p.add_argument(
        "--by", required=True, metavar="COL1,COL2",
        help="the two numeric/orderable columns to interleave",
    )
    p.add_argument("--bits", type=int, default=16)
    p.add_argument(
        "--files", type=int, default=None,
        help="output file count (default: shuffle partitions)",
    )


def _optimize(spark, args) -> dict:
    """rewrite a parquet table Z-order-clustered on two columns (row-group
    pruning on either dimension)"""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.io.ann_index import occupancy_stats
    from etl_olho_vivo_spark.io.layout import write_zordered
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

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
    return {
        "command": "optimize", "by": cols,
        "rows": sum(sizes),
        "file_stats": {
            "n_files": s["n"],
            "max_file_rows": s["max"],
            "mean_file_rows": s["mean"],
            "skew_ratio": s["skew_ratio"],
        },
    }


def _ann_build_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True)
    p.add_argument("--index", required=True, help="index directory")
    p.add_argument("--cells", type=int, default=8)
    p.add_argument(
        "--append", action="store_true",
        help="assign against the EXISTING index's frozen centroids and "
        "append as a new batch partition (default: full rebuild)",
    )
    p.add_argument(
        "--batch-id", type=int, default=None,
        help="with --append: the idempotency key — re-running the same "
        "id REPLACES that batch (default: max existing id + 1)",
    )
    p.add_argument(
        "--compact", action="store_true",
        help="after the build/append, fold per-batch partitions into "
        "the single base partition",
    )
    p.add_argument(
        "--seeded", action="store_true",
        help="first-vectors quantizer instead of k-means|| (demo/oracle "
        "parity mode)",
    )
    p.add_argument(
        "--rebuild-if-skewed", action="store_true",
        help="after the append/compact, rebuild the whole index with "
        "re-trained centroids when cell occupancy skew (max/mean) "
        "exceeds --max-skew — the drift repair appends themselves "
        "never perform",
    )
    p.add_argument(
        "--max-skew", type=float, default=4.0,
        help="skew_ratio threshold for --rebuild-if-skewed (default 4.0)",
    )


def _ann_build(spark, args) -> dict:
    """build (or extend) the persisted IVF ANN index over an embeddings
    parquet (vec_id, embedding, label)"""
    from etl_olho_vivo_spark.io.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        cell_stats,
        compact_ivf_index,
        maybe_rebuild_ivf_index,
    )
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    emb = spark.read.parquet(args.in_dir)
    if args.append:
        bid = args.batch_id
        if bid is None:
            # next id past whatever has landed AND been folded:
            # ids <= the compaction watermark are replay-skipped
            from etl_olho_vivo_spark.io import append_store

            bid = append_store.next_batch_id(spark, f"{args.index}/cells")
        if not append_to_ivf_index(emb, args.index, bid):
            # an explicit --batch-id at/below the watermark: correct
            # for a replay of a folded batch, data-loss for new data
            # — surface it as a failure, the caller knows which
            return {
                "command": "ann-build", "appended": True,
                "batch_id": bid, "written": False,
                "error": (
                    f"batch_id {bid} is at or below the compaction "
                    f"watermark — already folded into the base; for "
                    f"NEW data omit --batch-id to auto-derive the "
                    f"next unfolded id"
                ),
            }
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
        out["rebuild"] = maybe_rebuild_ivf_index(
            spark, args.index, max_skew=args.max_skew,
            use_kmeans=not args.seeded,
        )
    # occupancy telemetry: serving cost per probe is the PROBED
    # cell's size, so a hot cell is a straggler scan — surface the
    # skew in the job artifact (rebuild when max/mean exceeds ~4,
    # or pass --rebuild-if-skewed to have the repair run itself)
    out["cell_stats"] = cell_stats(spark, args.index)
    return out


def _ann_query_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--index", required=True)
    p.add_argument("--vector", required=True, metavar="V1,V2,...")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--probe", type=int, default=1)


def _ann_query(spark, args) -> dict:
    """top-k nearest vectors from a persisted IVF index for a query vector
    (JSON array or comma-separated floats)"""
    from etl_olho_vivo_spark.io.ann_index import (
        load_ivf_index,
        query_ivf_index,
    )
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

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
    return {
        "command": "ann-query", "k": args.k, "probe": args.probe,
        "hits": [
            {"vec_id": r["vec_id"], "label": r["label"],
             "dot_q": r["dot_q"]}
            for r in hits
        ],
    }


def _lm_cuts_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="documents parquet (doc_id, text)")
    p.add_argument(
        "--ref", default=None, metavar="PARQUET_DIR",
        help="trusted reference corpus for the model counts "
        "(default: self-train on --in)",
    )
    p.add_argument("--order", type=int, default=2)
    p.add_argument(
        "--scheme", choices=("addk", "backoff", "kn"), default="addk",
        help="scorer to derive cuts for — must match the --lm-scheme "
        "the gate will run with (the two score scales differ)",
    )
    p.add_argument(
        "--fractions", default="0.3333,0.6667", metavar="F1,F2,...",
        help="ascending cumulative fractions in (0,1); the first cut "
        "bounds the CCNet 'head', the second head+middle "
        "(default 0.3333,0.6667)",
    )
    p.add_argument(
        "--out", required=True, metavar="JSON_PATH",
        help="where to persist the cut points (one small JSON file, "
        "beside the corpus)",
    )


def _lm_cuts(spark, args) -> dict:
    """derive CCNet head/middle/tail cross-entropy cut points from a
    corpus (offline approxQuantile) and persist them — the hand-off that
    turns a target keep-fraction into the absolute --lm-max-entropy
    threshold the deterministic gate consumes"""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import lm as lmops
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

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
    _write_json(args.out, payload)
    return payload


def _dsir_cuts_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="raw documents parquet (doc_id, text)")
    p.add_argument(
        "--target", required=True, metavar="PARQUET_DIR",
        help="target corpus parquet (text column)",
    )
    p.add_argument("--buckets", type=int, default=None, metavar="B")
    p.add_argument(
        "--sampled", action="store_true",
        help="quantile the Gumbel-perturbed keys (seed via --seed) "
        "instead of the raw weights — match the gate's --dsir-sampled",
    )
    p.add_argument("--seed", type=int, default=0)
    p.add_argument(
        "--keep-fractions", default="0.25", metavar="F1,F2,...",
        help="descending keep fractions in (0,1): each emitted cut is "
        "the log-weight floor that keeps that fraction of the corpus "
        "(default 0.25 — keep the most target-like quarter)",
    )
    p.add_argument(
        "--out", required=True, metavar="JSON_PATH",
        help="where to persist the cut points (one small JSON file)",
    )
    p.add_argument(
        "--hist-out", default=None, metavar="PARQUET_DIR",
        help="also persist the fitted target/raw bucket histograms "
        "(the DSIR model itself, <= --buckets rows) — hand them to "
        "corpus --dsir-hist so the gate applies the floor to EXACTLY "
        "the weight definition it was calibrated on (fit-once), "
        "instead of refitting p_raw on whatever pool reaches the gate",
    )


def _dsir_cuts(spark, args) -> dict:
    """derive the DSIR log-weight threshold from a raw corpus and a
    target corpus (offline approxQuantile) and persist it — the hand-off
    that turns a keep-fraction into the absolute --dsir-min-logw the
    deterministic gate consumes.  Derive on a pool matching what reaches
    the corpus gate (weights refit p_raw on the pool, so a raw-input cut
    applied to post-dedup survivors makes the keep-fraction
    approximate)"""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import dsir as dsirops
    from etl_olho_vivo_spark.operators import lm as lmops
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    keep = _keep_fractions(args)
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
                        + F.expr(dsirops.gumbel_expr("doc_id", args.seed)),
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
    _write_json(args.out, payload)
    return payload


def _quality_train_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--pos", required=True, metavar="PARQUET_DIR",
        help="positive-class documents parquet (doc_id, text)",
    )
    p.add_argument(
        "--neg", required=True, metavar="PARQUET_DIR",
        help="negative-class documents parquet (doc_id, text)",
    )
    p.add_argument("--out", required=True, metavar="MODEL_JSON")
    p.add_argument("--buckets", type=int, default=None, metavar="B")
    p.add_argument("--iters", type=int, default=40)
    p.add_argument("--lr", type=float, default=1.0)
    p.add_argument("--l2", type=float, default=1e-4)
    p.add_argument(
        "--sample-frac", type=float, default=None, metavar="F",
        help="minibatch training: each iteration's gradient runs over "
        "a deterministic md5-Bernoulli sample of the labeled docs "
        "(fraction F in (0,1]; the scale path once labels come from "
        "an LLM judge at millions of rows — per-step cost is F x the "
        "labeled set, not all of it)",
    )
    p.add_argument(
        "--balance-classes", action="store_true",
        help="with --sample-frac: sample each class at its own rate "
        "(expected batch ~50/50) and weight gradient contributions by "
        "the inverse rate — the variance fix when one class is rare",
    )
    p.add_argument(
        "--sample-seed", type=int, default=0, metavar="N",
        help="seed for the per-iteration minibatch keys (same seed = "
        "same batches under any partitioning)",
    )


def _quality_train(spark, args) -> dict:
    """train the fastText-style logistic quality classifier (hashed
    unigram+bigram buckets, full-batch GD over a BOUNDED labeled set)
    and persist it as one JSON model — the offline hand-off corpus
    --quality-model consumes (FineWeb-Edu/DCLM: positives = trusted
    corpus, negatives = raw crawl sample)"""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import quality as qops
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    pin_parquet_instant_confs(spark)
    buckets = args.buckets if args.buckets is not None else qops.N_BUCKETS
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
    _make_parent(args.out)
    qops.save_model(model, args.out)
    return {
        "command": "quality-train",
        "out": args.out,
        "n_buckets": model["n_buckets"],
        "iters": model["iters"],
        "n_pos": model["n_pos"],
        "n_neg": model["n_neg"],
        "bias": model["bias"],
        "nonzero_weights": sum(1 for w in model["weights"] if w),
    }


def _quality_cuts_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="documents parquet (doc_id, text)")
    p.add_argument("--model", required=True, metavar="MODEL_JSON",
                   help="trained model from quality-train")
    p.add_argument(
        "--keep-fractions", default="0.5", metavar="F1,F2,...",
        help="descending keep fractions in (0,1): each emitted cut is "
        "the score floor that keeps that fraction of the corpus "
        "(default 0.5)",
    )
    p.add_argument("--out", required=True, metavar="JSON_PATH")


def _quality_cuts(spark, args) -> dict:
    """derive the classifier-score floor from a corpus and a trained model
    (offline approxQuantile) and persist it — the hand-off that turns a
    keep-fraction into the absolute --quality-min-score the
    deterministic gate consumes (same contract as lm-cuts / dsir-cuts).
    Unlike DSIR, classifier scores are per-doc stable (fixed weights), so
    the cut transfers exactly between pools with the same score
    distribution"""
    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import lm as lmops
    from etl_olho_vivo_spark.operators import quality as qops
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    keep = _keep_fractions(args)
    pin_parquet_instant_confs(spark)
    model = qops.load_model(args.model)
    docs = spark.read.parquet(args.in_dir)
    bag = CacheBag()
    try:
        # persisted: approxQuantile and the count would each re-run
        # the feature scan + scoring join from scratch
        scores = bag.add(
            qops.score_quality(docs.select("doc_id", "text"), model)
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
    _write_json(args.out, payload)
    return payload


def _bloom_build_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--in", dest="in_dir", required=True,
        help="documents parquet (needs a text column)",
    )
    p.add_argument("--out", required=True, help="filter output dir")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--fpp", type=float, default=0.01,
        help="target false-positive rate (sizes the bitmap)",
    )
    p.add_argument(
        "--merge", default=None, metavar="FILTER_DIR",
        help="fold this corpus INTO an existing filter: geometry comes "
        "from FILTER_DIR's manifest (--fpp ignored) and the merged "
        "filter lands at --out, which must differ from FILTER_DIR",
    )


def _bloom_build(spark, args) -> dict:
    """build (or extend) a persisted Bloom filter over a corpus's distinct
    3-gram shingles — the membership artifact corpus --snapshot-filter
    probes for inter-snapshot dedup"""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators import bloom as bloomop
    from etl_olho_vivo_spark.operators import dedup
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

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
        keys = bag.add(sh.select(F.explode("sh").alias("gh")).distinct())
        if args.merge:
            # realpath, not string equality: 'f1/' vs 'f1' or a
            # relative vs absolute spelling of the same directory
            # would slip a raw comparison, and overwriting the
            # bitmap the merged plan is lazily reading destroys the
            # only copy of the reference filter
            if os.path.realpath(args.merge) == os.path.realpath(args.out):
                raise SystemExit(
                    "--out must differ from --merge (the merged "
                    "filter reads the existing one while writing)"
                )
            existing, nb, nh = bloomop.read_bloom_filter(spark, args.merge)
            filt = bloomop.merge_bloom_filters(
                existing, bloomop.build_bloom_filter(keys, "gh", nb, nh)
            )
            n_keys = keys.count()
        else:
            n_keys = keys.count()
            nb, nh = bloomop.bloom_parameters(max(1, n_keys), args.fpp)
            filt = bloomop.build_bloom_filter(keys, "gh", nb, nh)
        bloomop.write_bloom_filter(filt, args.out, nb, nh)
    finally:
        bag.release()
    return {
        "command": "bloom-build",
        "n_keys": n_keys,
        "num_bits": nb,
        "num_hashes": nh,
        "merged_into": args.merge,
    }


def _profile_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--path", required=True, help="parquet file or dir")
    p.add_argument(
        "--rsd", type=float, default=0.05,
        help="HLL relative standard deviation for approx_distinct",
    )


def _profile(spark, args) -> list[dict]:
    """one-scan per-column profile of a parquet table"""
    from etl_olho_vivo_spark.functions.profile import profile_table
    from etl_olho_vivo_spark.sources.tables import pin_parquet_instant_confs

    if not 0.0 < args.rsd <= 0.37:
        # HLL++ needs precision p >= 4 ⇒ rsd ≤ ~0.39; failing here
        # beats a mid-job AnalysisException after the scan started
        raise SystemExit(f"--rsd must be in (0, 0.37], got {args.rsd}")
    pin_parquet_instant_confs(spark)
    prof = profile_table(spark.read.parquet(args.path), rsd=args.rsd)
    # one row per COLUMN — tiny by design
    return [r.asDict() for r in prof.collect()]


def _datacard_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="corpus parquet dir")
    p.add_argument("--out", required=True, help="JSON output path")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--dims", default="lang,source", metavar="C1,C2",
        help="categorical dimension columns (default: lang,source)",
    )
    p.add_argument(
        "--quality-col", default=None,
        help="add approximate score deciles for this column",
    )


def _datacard(spark, args) -> dict:
    """corpus data card: per-lang/per-source/length-histogram
    doc+token+char counts as one JSON artifact (one scan, one
    grouping-sets aggregation)"""
    from etl_olho_vivo_spark.operators.datacard import write_datacard

    dims = tuple(s.strip() for s in args.dims.split(",") if s.strip())
    card = write_datacard(
        spark, args.in_dir, args.out,
        text=args.text_col, dims=dims,
        quality_col=args.quality_col,
    )
    return {
        "command": "datacard", "out": args.out,
        "docs": card["docs"], "tokens": card["tokens"],
        "dims": {d: len(v) for d, v in card["by"].items()},
    }


def _datacard_diff_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--old", required=True, help="previous card JSON")
    p.add_argument("--new", required=True, help="current card JSON")
    p.add_argument("--out", default=None, help="write the full "
                   "diff JSON here (summary prints regardless)")
    p.add_argument("--top-k", type=int, default=10)


def _datacard_diff(spark, args) -> dict:
    """drift report between two corpus data cards (old vs new crawl):
    total deltas, per-dimension share shifts, the top-k token-share
    movers — pure JSON math, no Spark job"""
    # pure dict math over two KB-sized JSON files — its table entry
    # starts no SparkSession, so drift checks never pay a JVM start-up
    from etl_olho_vivo_spark.operators.datacard import diff_datacards

    with open(args.old) as f:
        old_card = json.load(f)
    with open(args.new) as f:
        new_card = json.load(f)
    diff = diff_datacards(old_card, new_card, top_k=args.top_k)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(diff, f, indent=1, sort_keys=True)
    return {
        "command": "datacard-diff",
        "totals": diff["totals"],
        "top_shifts": diff["top_shifts"][:3],
        **({"out": args.out} if args.out else {}),
    }


def _media_dedup_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--in", dest="in_dir", required=True,
        help="parquet with (id, media) columns",
    )
    p.add_argument(
        "--kind", choices=["image", "audio", "video"], required=True,
        help="which fingerprint family decodes the media bytes",
    )
    p.add_argument("--pairs-out", required=True,
                   help="near-dup pairs parquet (doc_a, doc_b, hamming)")
    p.add_argument(
        "--survivors-out", default=None,
        help="also resolve pairs via connected components and write "
        "the rows whose id IS their component's min (the survivor "
        "convention image/audio share with the text dedup passes)",
    )
    _hamming_args(p)
    _media_col_args(p)
    _media_gate_args(p)


def _media_dedup(spark, args) -> dict:
    """perceptual near-duplicate pass over a binary media column: image
    dHash, audio spectral, or per-clip video majority fingerprints + the
    pigeonhole Hamming pairing; writes the pair list and, with
    --survivors-out, the corpus keeping one representative (min id) per
    duplicate component"""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.caching import CacheBag
    from etl_olho_vivo_spark.operators.dedup import (
        hamming_near_dups,
        resolve_drops,
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
    media = _media_frame(df, args, "--in table")
    counts = {}
    with CacheBag() as bag:
        # one Arrow decode pass shared by gates, banding, and both
        # verify sides: the same fingerprint+gate path as the
        # streaming admit loop
        fps = bag.add(media_fingerprints(media, args.kind))
        admitted = apply_media_gates(fps, args.kind, gates)
        if gates:
            # slim persisted frame: two bounded counts of telemetry
            counts["gated_out"] = fps.count() - admitted.count()
        # the pair relation is reused (written + clustered): persist so
        # the banding fan-in runs once; count rides the write via
        # Observation — one action per sink, never a recompute
        pairs = bag.add(hamming_near_dups(
            admitted.filter(F.col("fp").isNotNull()),
            hash_col="fp", bits=64,
            max_hamming=args.max_hamming, n_bands=args.n_bands,
        ))
        obs = Observation("media_pairs")
        pairs.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(args.pairs_out)
        counts["pairs"] = obs.get["rows"]
        if args.survivors_out:
            losers = resolve_drops(pairs, "components", caches=bag).select(
                F.col("doc_id").alias(args.id_col)
            )
            sobs = Observation("media_survivors")
            # gated-out rows are not survivors either (they never
            # entered the corpus candidate set)
            survivors = df
            if gates:
                survivors = survivors.join(
                    admitted.select(F.col("doc_id").alias(args.id_col)),
                    args.id_col, "left_semi",
                )
            # losers scales with the corpus' duplicate fraction —
            # merge-pinned like every symmetric corpus-scaled join (a
            # broadcast of it runs a small JVM heap out of memory)
            survivors = survivors.join(losers.hint("merge"), args.id_col,
                                       "left_anti")
            survivors.observe(
                sobs, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite").parquet(args.survivors_out)
            counts["survivors"] = sobs.get["rows"]
    return {"command": "media-dedup", "kind": args.kind, **counts}


def _media_stream_args(p: argparse.ArgumentParser) -> None:
    _stream_args(p)
    p.add_argument(
        "--kind", choices=["image", "audio", "video"], required=True
    )
    _hamming_args(p)
    p.add_argument(
        "--frame-index-dir", default=None,
        help="video kind only: also maintain the per-frame fingerprint "
        "index (doc_id, frame_idx, fp) over admitted clips — the "
        "relation video-contain probes for sub-clip containment",
    )
    p.add_argument(
        "--frame-stride", type=int, default=1,
        help="sample every k-th frame into the frame index (decode "
        "cost dial)",
    )
    _media_gate_args(p)


def _media_stream(spark, args) -> dict:
    """continuous media ingestion: drain a landing directory of (doc_id,
    media) parquet through the perceptual-dedup admit loop (in-batch +
    vs the persisted fingerprint store)"""
    from etl_olho_vivo_spark.streaming.media_stream import (
        frame_index_coverage,
        media_store_stats,
        run_media_stream,
    )

    out = _drain(
        spark, args, run_media_stream,
        {"command": "media-stream", "kind": args.kind},
        "store_fingerprints_compacted",
        kind=args.kind,
        max_hamming=args.max_hamming,
        n_bands=args.n_bands,
        gates=_media_gates_from_args(args),
        stats_dir=args.stats_dir,
        frame_index_dir=args.frame_index_dir,
        frame_stride=args.frame_stride,
    )
    # compaction dial in the job artifact: partition growth taxes
    # every future admit with per-file open cost
    out["store"] = media_store_stats(spark, args.store)
    if args.frame_index_dir:
        # mid-life enablement is LOUD, like the stats store's
        # partial stamp: an index that misses corpus batches
        # makes video-contain silently incomplete
        out["frame_index"] = frame_index_coverage(
            spark, args.frame_index_dir, args.corpus
        )
    if args.datacard:
        from etl_olho_vivo_spark.operators.datacard import (
            media_card_from_stats_store,
        )

        card = _stream_card(
            spark, args, out, {"kind": args.kind, "docs": 0, "by": {}},
            lambda: media_card_from_stats_store(
                spark, args.stats_dir, args.kind, corpus_dir=args.corpus
            ),
        )
        out["datacard_docs"] = card["docs"]
    return out


def _video_index_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="parquet with (id, media) columns")
    p.add_argument("--out", required=True,
                   help="frame-fingerprint parquet output")
    p.add_argument("--stride", type=int, default=1,
                   help="sample every k-th frame (decode cost dial)")
    _media_col_args(p)


def _video_index(spark, args) -> dict:
    """build the per-frame fingerprint index of a video corpus: one
    (doc_id, frame_idx, fp) row per decodable sampled frame — the
    relation video-contain probes for sub-clip containment"""
    from etl_olho_vivo_spark.operators.multimodal import (
        video_frame_fingerprints,
    )

    if args.stride <= 0:
        raise SystemExit(f"--stride must be positive, got {args.stride}")
    frames = video_frame_fingerprints(
        _media_frame(
            spark.read.parquet(args.in_dir), args, f"input at {args.in_dir}"
        ),
        stride=args.stride,
    )
    frames.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    return {
        "command": "video-index",
        "frames": back.count(),
        "clips": back.select("doc_id").distinct().count(),
        "out": args.out,
    }


def _video_contain_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--index", required=True,
                   help="frame-fingerprint parquet (video-index "
                   "output or the stream's --frame-index-dir)")
    p.add_argument("--probe", required=True,
                   help="parquet of probe clips with (id, media) "
                   "columns (decoded here), OR a frame-fingerprint "
                   "parquet when --probe-is-index is set")
    p.add_argument("--out", required=True,
                   help="containment pairs parquet (doc_probe, "
                   "doc_index, matched_frames, probe_frames, frac)")
    p.add_argument(
        "--probe-is-index", action="store_true",
        help="treat --probe as an already-built frame-fingerprint "
        "parquet instead of decoding media",
    )
    p.add_argument("--min-frac", type=float, default=0.5)
    _hamming_args(p)
    p.add_argument(
        "--max-index-df", type=int, default=None,
        help="stop-frame dial: drop fingerprint values carried by more "
        "than this many distinct index clips (logo cards, silence, "
        "black frames) — they assert containment in everything and "
        "carry no discriminative signal",
    )
    p.add_argument("--stride", type=int, default=1)
    _media_col_args(p)


def _video_contain(spark, args) -> dict:
    """sub-clip containment: probe clips against a per-frame fingerprint
    index (video-index output) — reports every probe whose frames are
    >= --min-frac covered by near frames of one indexed clip (the
    excerpt-in-compilation case the majority fingerprint deliberately
    does not pair)"""
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
        probe = video_frame_fingerprints(
            _media_frame(
                spark.read.parquet(args.probe), args,
                f"probe at {args.probe}",
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
    return {
        "command": "video-contain",
        "containments": spark.read.parquet(args.out).count(),
        "out": args.out,
    }


def _colocate_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--in", dest="in_dir", required=True,
                   help="posicoes-shaped parquet (key/lat/lon/ts "
                   "columns, names via the dials below)")
    p.add_argument("--out", required=True,
                   help="pairs parquet (bucket, vehicle_a, "
                   "vehicle_b, n_close, min_dist_m)")
    p.add_argument("--radius-m", type=float, default=500.0)
    p.add_argument("--bucket-s", type=int, default=1800)
    p.add_argument("--key-col", default="prefixo_veiculo")
    p.add_argument("--lat-col", default="py")
    p.add_argument("--lon-col", default="px")
    p.add_argument("--ts-col", default="timestamp")


def _colocate(spark, args) -> dict:
    """geo co-location pairs (bus bunching): vehicle pairs within
    --radius-m of each other inside one tumbling time bucket, via the 2D
    grid radius self-join — one row per (bucket, pair) with close-ping
    count and min distance"""
    from etl_olho_vivo_spark.operators.colocate import colocation_pairs

    src = spark.read.parquet(args.in_dir)
    missing = [
        c for c in (args.key_col, args.lat_col, args.lon_col, args.ts_col)
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
    return {
        "command": "colocate",
        "pairs": spark.read.parquet(args.out).count(),
        "radius_m": args.radius_m,
        "out": args.out,
    }


# command -> (parser setup, handler, needs Spark); the handler's docstring
# is its --help line
COMMANDS = {
    "ingest": (_ingest_args, _ingest, True),
    "daily": (_daily_args, _daily, True),
    "corpus": (_corpus_args, _corpus, True),
    "corpus-stream": (_corpus_stream_args, _corpus_stream, True),
    "eval-index": (_eval_index_args, _eval_index, True),
    "optimize": (_optimize_args, _optimize, True),
    "ann-build": (_ann_build_args, _ann_build, True),
    "ann-query": (_ann_query_args, _ann_query, True),
    "lm-cuts": (_lm_cuts_args, _lm_cuts, True),
    "dsir-cuts": (_dsir_cuts_args, _dsir_cuts, True),
    "quality-train": (_quality_train_args, _quality_train, True),
    "quality-cuts": (_quality_cuts_args, _quality_cuts, True),
    "bloom-build": (_bloom_build_args, _bloom_build, True),
    "profile": (_profile_args, _profile, True),
    "datacard": (_datacard_args, _datacard, True),
    "datacard-diff": (_datacard_diff_args, _datacard_diff, False),
    "media-dedup": (_media_dedup_args, _media_dedup, True),
    "media-stream": (_media_stream_args, _media_stream, True),
    "video-index": (_video_index_args, _video_index, True),
    "video-contain": (_video_contain_args, _video_contain, True),
    "colocate": (_colocate_args, _colocate, True),
}


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
    for name, (setup, handler, _) in COMMANDS.items():
        setup(sub.add_parser(name, help=handler.__doc__))
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    _, handler, needs_spark = COMMANDS[args.command]
    spark = None
    if needs_spark:
        from etl_olho_vivo_spark.session import get_spark

        spark = get_spark(app_name=f"olho-vivo-{args.command}", cpus=args.cpus)
    record = handler(spark, args)
    records = record if isinstance(record, list) else [record]
    for r in records:
        print(json.dumps(r))
    return 1 if any("error" in r for r in records) else 0


if __name__ == "__main__":
    sys.exit(main())
