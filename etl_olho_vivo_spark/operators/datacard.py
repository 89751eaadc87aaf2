"""Corpus data card — the statistics sheet a training run ships with.

Production corpora publish a "datasheet" (Gebru et al. 2021; the Dolma
and FineWeb releases each ship one): how many documents and tokens,
from which sources, in which languages, with what length distribution.
This module computes that artifact the Spark-first way:

- ``corpus_stats``: ONE scan over a slim projection (the text column
  is reduced to two integers per row before anything shuffles), one
  grouping-sets aggregation (single Expand + one partial-aggregated
  exchange — NOT one job per dimension), bounded output: one row per
  (dimension, key) — |langs| + |sources| + ~21 length buckets + 1
  total.  At 100 TB the scan dominates and parallelizes perfectly;
  the Expand multiplies only slim (string, int, int) rows by the
  number of grouping sets.
- ``datacard``: collects the (bounded) stats frame into the JSON-able
  dict the ``datacard`` CLI subcommand writes, optionally adding
  quality-score deciles via ``approxQuantile`` (documented
  approximate — deciles are for humans; the exact per-dim counts are
  the machine-readable contract).

The length histogram buckets by floor(log2(n_tokens)) computed as an
integer CASE ladder (``len_bucket_sql``) — NOT ``floor(log2(x))``:
log2 is transcendental and a libm that returns 2.9999999997 for
log2(8) on one engine but 3.0 on the other would silently shift a
bucket boundary; integer comparisons are exact in every engine, so
the same generated SQL string is the Spark expression AND the DuckDB
oracle's (the registry row ``corpus_datacard`` pins cross-engine
parity).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# log2(10^6-token docs) = 20 — wide enough for any real document; the
# ladder's top bucket absorbs anything longer
MAX_LEN_BUCKET = 20

# Card key for a NULL dimension value.  NULL must become SOME string:
# the card is a JSON dict (None keys crash ``json.dump(sort_keys=True)``)
# and the stats store groups by key.  The NUL prefix keeps the sentinel
# out of the printable-string space real corpus values live in; DuckDB
# oracles spell it ``chr(0) || 'null'`` (a literal NUL inside a SQL
# string is a parser error there — tested).
NULL_KEY = "\x00null"


def _bt(name: str) -> str:
    """Backtick-quote a column name for Spark's column resolver —
    parquet allows spaces, hyphens, and dots in names, and ``--dims``
    flows user input straight here; embedded backticks double."""
    return "`" + name.replace("`", "``") + "`"


def len_bucket_sql(n: str, max_bucket: int = MAX_LEN_BUCKET) -> str:
    """floor(log2(n)) for n >= 1 as an exact integer CASE ladder —
    one SQL string valid in both Spark and DuckDB (module docstring:
    transcendental log2 is a parity hazard at power-of-two
    boundaries)."""
    clauses = " ".join(
        f"WHEN ({n}) >= {2 ** b} THEN {b}"
        for b in range(max_bucket, 0, -1)
    )
    return f"(CASE {clauses} ELSE 0 END)"


def corpus_stats(
    df: DataFrame,
    text: str = "text",
    dims: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """(dim, key, docs, tokens, chars) — one row per value of each
    categorical dimension, per log2 token-length bucket, plus the
    'total' row.  ONE grouping-sets aggregation: the plan is a single
    Expand over the slim profile projection feeding one
    partially-aggregated exchange (tests pin exactly one Expand — the
    naive per-dimension union re-scans the corpus once per dim).

    Token counting is the engine's corpus convention (``split(text,
    ' ')`` with empties kept — the same tokenization every dedup and
    LM operator uses), so the card's token totals are consistent with
    what the pipeline actually deduped and gated.

    ``dims=()`` is legal (totals + length histogram only) — streaming
    landing schemas often carry nothing but (doc_id, text)."""
    prof = df.select(
        *[F.col(_bt(d)) for d in dims],
        F.size(F.split(F.col(_bt(text)), " ")).alias("n_tokens"),
        F.length(F.col(_bt(text))).alias("n_chars"),
    ).withColumn("len_bucket", F.expr(len_bucket_sql("n_tokens")))

    return _grouping_stats(
        prof,
        list(dims) + ["len_bucket"],
        {
            "docs": F.count(F.lit(1)),
            "tokens": F.sum("n_tokens"),
            "chars": F.sum("n_chars"),
        },
    )


def _grouping_stats(
    prof: DataFrame, cols: list[str], aggs: dict
) -> DataFrame:
    """The shared grouping-sets core of every data card (text AND
    media): one Expand over the already-slim profile frame, one
    partial-aggregated exchange, one output row per (dim, key) plus
    the 'total' row.  Everything is built as Column objects (F.when /
    F.col with backtick quoting), NOT interpolated SQL — a dims name
    with a space or hyphen (legal in parquet, and --dims is user
    input) must never reach a SQL parser; NULL dim values map to the
    NULL_KEY sentinel so the card dict never carries a None key."""
    # Column objects, not name strings, inside the grouping sets too —
    # bare strings there go through the attribute-name parser
    reserved = {"dim", "key", "__gid__", *aggs}
    clash = sorted(reserved & set(cols))
    if clash:
        raise ValueError(
            f"dims column name(s) {clash} collide with the stats "
            f"frame's own output columns; rename or alias them first"
        )
    sets = [[F.col(_bt(c))] for c in cols] + [[]]
    grouped = prof.groupingSets(sets, *[F.col(_bt(c)) for c in cols]).agg(
        *[expr.alias(name) for name, expr in aggs.items()],
        F.grouping_id().alias("__gid__"),
    )
    # grouping_id: bit i (MSB-first over ``cols``) is SET when the
    # column is aggregated away, so the set keeping col i alone is
    # all-ones minus its bit; the grand total is all-ones
    n = len(cols)
    gid_all = 2 ** n - 1
    dim_col = key_col = None
    for i, c in enumerate(cols):
        gid = gid_all - 2 ** (n - 1 - i)
        cond = F.col("__gid__") == gid
        key = F.coalesce(F.col(_bt(c)).cast("string"), F.lit(NULL_KEY))
        dim_col = (F.when(cond, F.lit(c)) if dim_col is None
                   else dim_col.when(cond, F.lit(c)))
        key_col = (F.when(cond, key) if key_col is None
                   else key_col.when(cond, key))
    return grouped.select(
        dim_col.otherwise(F.lit("total")).alias("dim"),
        key_col.otherwise(F.lit("all")).alias("key"),
        *[F.col(name).cast("long").alias(name) for name in aggs],
    )


def _card_from_rows(rows) -> dict:
    """Assemble the card dict from (dim, key, docs, tokens, chars)
    rows — shared by the one-shot path (``datacard``) and the
    streaming stats-store path (``card_from_stats_store``).  A None
    key (a stats store written before keys were NULL-coalesced) maps
    to NULL_KEY defensively — json.dump(sort_keys=True) cannot order
    None against str."""
    rows = [
        {"dim": r["dim"],
         "key": r["key"] if r["key"] is not None else NULL_KEY,
         "docs": r["docs"], "tokens": r["tokens"], "chars": r["chars"]}
        for r in rows
    ]
    total = next(
        (r for r in rows if r["dim"] == "total"),
        {"docs": 0, "tokens": 0, "chars": 0},
    )
    card: dict = {
        "docs": total["docs"],
        "tokens": total["tokens"],
        "chars": total["chars"],
        "by": {},
        "len_log2_histogram": {},
    }
    for r in sorted(rows, key=lambda r: (r["dim"], str(r["key"]))):
        if r["dim"] == "total":
            continue
        if r["dim"] == "len_bucket":
            card["len_log2_histogram"][r["key"]] = r["docs"]
            continue
        card["by"].setdefault(r["dim"], {})[r["key"]] = {
            "docs": r["docs"],
            "tokens": r["tokens"],
            "chars": r["chars"],
            "doc_frac": round(r["docs"] / total["docs"], 6)
            if total["docs"] else None,
            "token_frac": round(r["tokens"] / total["tokens"], 6)
            if total["tokens"] else None,
        }
    return card


def datacard(
    df: DataFrame,
    text: str = "text",
    dims: tuple[str, ...] = ("lang", "source"),
    quality_col: str | None = None,
) -> dict:
    """The JSON-able data card: totals, per-dimension breakdowns with
    fractions, the log2 length histogram, and (optionally) approximate
    quality deciles.  Driver state is the BOUNDED stats frame — never
    the corpus."""
    card = _card_from_rows(corpus_stats(df, text=text, dims=dims).collect())
    if quality_col is not None:
        probs = [i / 10 for i in range(11)]
        # approxQuantile: documented approximate (1e-3 relative error);
        # the deciles are the card's human-facing summary, not a
        # machine contract — exact per-dim counts above are that
        qs = df.approxQuantile(quality_col, probs, 0.001)
        card["quality_deciles"] = {
            f"p{int(p * 100)}": round(q, 6) for p, q in zip(probs, qs)
        }
    return card


def card_from_stats_store(
    spark: SparkSession, stats_dir: str, corpus_dir: str | None = None
) -> dict:
    """The card of a STREAM-ingested corpus, from its per-batch stats
    store (``corpus_stream.admit_batch(stats_dir=...)`` writes one
    bounded (dim, key, docs, tokens, chars) partition per micro-batch)
    — re-aggregation touches only those slim rows, NEVER the corpus
    text, so emitting the card after every drain costs ∝ batches, not
    corpus size.  Counts are exact: sums of disjoint batch sums.

    Contract: the stats store covers exactly the batches admitted
    WITH ``stats_dir`` configured — it must be set from the corpus'
    FIRST drain.  Pass ``corpus_dir`` to make a violation LOUD instead
    of silently undercounted: both directories carry the same
    ``ingest_batch_id=`` partition layout, so coverage is one cheap
    listing — any corpus batch absent from the stats store stamps the
    card ``"partial": true`` plus the missing ids (a wrong token total
    on a data card is exactly the artifact error a downstream consumer
    cannot see).  Backfill a partial store once with ``write_datacard``
    over the corpus (one text scan), or restart the corpus."""
    rows = (
        spark.read.parquet(stats_dir)
        .groupBy("dim", "key")
        .agg(
            F.sum("docs").cast("long").alias("docs"),
            F.sum("tokens").cast("long").alias("tokens"),
            F.sum("chars").cast("long").alias("chars"),
        )
        .collect()  # bounded: one row per (dimension, key)
    )
    card = _card_from_rows(rows)
    if corpus_dir is not None:
        _stamp_if_partial(card, spark, stats_dir, corpus_dir)
    return card


def _stamp_if_partial(
    card: dict, spark: SparkSession, stats_dir: str, corpus_dir: str,
    backfill: str = "write_datacard",
) -> None:
    """Stamp ``card`` partial=true + the missing batch ids when the
    stats store misses ``ingest_batch_id=`` partitions the corpus has
    (stats_dir enabled mid-life) — shared by the text and media card
    store paths."""
    from etl_olho_vivo_spark.io.append_store import missing_batches

    missing = missing_batches(spark, stats_dir, corpus_dir)
    if missing:
        card["partial"] = True
        card["missing_batch_ids"] = missing
        card["note"] = (
            "stats store misses corpus batches (stats_dir enabled "
            f"mid-life?); totals undercount — backfill with {backfill} "
            "over the corpus, then resume"
        )


def diff_datacards(old: dict, new: dict, top_k: int = 10) -> dict:
    """Drift report between two data cards (pure driver-side dict
    math — cards are KBs; no Spark involved): total deltas, per-
    dimension key arrivals/departures and count deltas, length-
    histogram deltas, and the ``top_shifts`` headline — the
    ``top_k`` largest absolute token-share shifts across every
    dimension, which is the number a corpus owner actually watches
    between crawls (a source suddenly contributing 3x its share, a
    language draining away).  Shares are compared as fractions of
    each card's own total, so the report is meaningful even when the
    corpus grew — absolute deltas are reported alongside.

    MEDIA cards diff too (round 14): they carry no token counts, so
    when NEITHER side of an entry pair has a ``token_frac`` the share
    shift falls back to ``doc_frac`` — without the fallback a
    media-card diff reported every shift as 0.0.  The fallback is
    decided per entry PAIR (token_frac if either side has one), so a
    doc share is never compared against a token share."""
    def rel(a: int, b: int) -> float | None:
        return round((b - a) / a, 6) if a else None

    def shares(old_e: dict | None, new_e: dict | None) -> tuple:
        o, n = old_e or {}, new_e or {}
        if o.get("token_frac") is None and n.get("token_frac") is None:
            key = "doc_frac"
        else:
            key = "token_frac"
        return (o.get(key) or 0.0), (n.get(key) or 0.0)

    out: dict = {
        "totals": {
            k: {"old": old.get(k, 0), "new": new.get(k, 0),
                "delta": new.get(k, 0) - old.get(k, 0),
                "rel": rel(old.get(k, 0), new.get(k, 0))}
            for k in ("docs", "tokens", "chars")
        },
        "by": {},
        "len_log2_histogram": {},
        "top_shifts": [],
    }
    shifts: list[tuple[float, str, str]] = []
    dims = sorted(set(old.get("by", {})) | set(new.get("by", {})))
    for dim in dims:
        o, n = old.get("by", {}).get(dim, {}), new.get("by", {}).get(dim, {})
        keys = sorted(set(o) | set(n))
        entry: dict = {"added": sorted(set(n) - set(o)),
                       "removed": sorted(set(o) - set(n)), "keys": {}}
        for k in keys:
            ok, nk = o.get(k), n.get(k)
            of, nf = shares(ok, nk)
            entry["keys"][k] = {
                "docs_delta": (nk or {}).get("docs", 0)
                - (ok or {}).get("docs", 0),
                "tokens_delta": (nk or {}).get("tokens", 0)
                - (ok or {}).get("tokens", 0),
                "token_frac_shift": round(nf - of, 6),
            }
            shifts.append((abs(nf - of), dim, k))
        out["by"][dim] = entry
    oh = old.get("len_log2_histogram", {})
    nh = new.get("len_log2_histogram", {})
    for b in sorted(set(oh) | set(nh), key=int):
        out["len_log2_histogram"][b] = nh.get(b, 0) - oh.get(b, 0)
    shifts.sort(key=lambda s: (-s[0], s[1], s[2]))
    out["top_shifts"] = [
        {"dim": d, "key": k,
         "token_frac_shift": out["by"][d]["keys"][k]["token_frac_shift"]}
        for _, d, k in shifts[:top_k]
    ]
    return out


def write_datacard(
    spark: SparkSession,
    corpus_dir: str,
    out_path: str,
    text: str = "text",
    dims: tuple[str, ...] = ("lang", "source"),
    quality_col: str | None = None,
) -> dict:
    """Read a corpus parquet, compute its card, write it as JSON
    (driver-side — the card is KBs), return the dict."""
    df = spark.read.parquet(corpus_dir)
    missing = [c for c in (*dims, text) if c not in df.columns]
    if missing:
        raise ValueError(
            f"corpus at {corpus_dir} lacks column(s) {missing}; "
            f"pass --dims/--text-col matching its schema"
        )
    if quality_col is not None and quality_col not in df.columns:
        raise ValueError(f"corpus has no quality column {quality_col!r}")
    card = datacard(df, text=text, dims=dims, quality_col=quality_col)
    with open(out_path, "w") as f:
        json.dump(card, f, indent=1, sort_keys=True)
    return card


# ---------------------------------------------------------------------------
# Media data card (round 14) — the media sibling of the corpus card
# ---------------------------------------------------------------------------

# per-kind bucketed dimensions over the decode metadata
# (media_stream.media_fingerprints column names); every card also
# carries the ``decoded`` dimension (fingerprintable vs opaque)
_MEDIA_DIMS = {
    "image": ("width_bucket", "height_bucket"),
    "audio": ("sample_rate", "duration_s_bucket"),
    "video": ("n_frames_bucket", "width_bucket", "height_bucket"),
}


def _null_safe_bucket(src_sql: str):
    """log2 bucket of an integer metadata column that PRESERVES NULL —
    an undecodable doc must land on the NULL_KEY, not be conflated
    with bucket 0 (the ladder's ELSE would otherwise swallow it)."""
    return F.expr(
        f"CASE WHEN {src_sql} IS NULL THEN NULL "
        f"ELSE {len_bucket_sql(src_sql)} END"
    )


def media_profile(fps: DataFrame, kind: str) -> DataFrame:
    """Slim per-doc media profile from the fingerprint+metadata frame
    (``media_stream.media_fingerprints`` output — the metadata rides
    the SAME Arrow decode pass that fingerprints, so the card costs no
    extra decode): the ``decoded`` flag plus the kind's bucketed
    dimensions (log2 ladders over width/height/frame-count/duration;
    sample_rate stays categorical — real corpora hold a handful of
    rates and the exact value matters)."""
    if kind not in _MEDIA_DIMS:
        raise ValueError(
            f"kind must be one of {'|'.join(sorted(_MEDIA_DIMS))}, "
            f"got {kind!r}"
        )
    cols = [F.col("fp").isNotNull().alias("decoded")]
    if kind == "image":
        cols += [
            _null_safe_bucket("width").alias("width_bucket"),
            _null_safe_bucket("height").alias("height_bucket"),
        ]
    elif kind == "audio":
        cols += [
            F.col("sample_rate").alias("sample_rate"),
            # TRY_CAST: ANSI mode aborts on a NaN/overflow double
            _null_safe_bucket(
                "TRY_CAST(duration_s AS BIGINT)"
            ).alias("duration_s_bucket"),
        ]
    else:  # video
        cols += [
            _null_safe_bucket("n_frames").alias("n_frames_bucket"),
            _null_safe_bucket("width").alias("width_bucket"),
            _null_safe_bucket("height").alias("height_bucket"),
        ]
    return fps.select(*cols)


def media_stats(fps: DataFrame, kind: str) -> DataFrame:
    """(dim, key, docs) — the media card's bounded stats frame through
    the SAME single-Expand grouping-sets core the corpus card uses."""
    prof = media_profile(fps, kind)
    return _grouping_stats(
        prof, prof.columns, {"docs": F.count(F.lit(1))}
    )


def _media_card_from_rows(rows, kind: str) -> dict:
    rows = [
        {"dim": r["dim"],
         "key": r["key"] if r["key"] is not None else NULL_KEY,
         "docs": r["docs"]}
        for r in rows
    ]
    total = next((r for r in rows if r["dim"] == "total"), {"docs": 0})
    card: dict = {"kind": kind, "docs": total["docs"], "by": {}}
    for r in sorted(rows, key=lambda r: (r["dim"], r["key"])):
        if r["dim"] == "total":
            continue
        card["by"].setdefault(r["dim"], {})[r["key"]] = {
            "docs": r["docs"],
            "doc_frac": round(r["docs"] / total["docs"], 6)
            if total["docs"] else None,
        }
    return card


def media_card_from_stats_store(
    spark: SparkSession,
    stats_dir: str,
    kind: str,
    corpus_dir: str | None = None,
) -> dict:
    """The card of a STREAM-ingested media corpus from its per-batch
    stats store (``admit_media_batch(stats_dir=...)`` writes one
    bounded (dim, key, docs) partition per micro-batch, computed on
    the decode pass the admit loop already ran) — card emission costs
    ∝ batches and NEVER re-decodes media.  Pass ``corpus_dir`` to make
    mid-life enablement loud (same partition-set coverage check as the
    text card; the backfill is ``media_stats`` over the missing
    batches' fingerprints — one decode scan)."""
    rows = (
        spark.read.parquet(stats_dir)
        .groupBy("dim", "key")
        .agg(F.sum("docs").cast("long").alias("docs"))
        .collect()  # bounded: one row per (dimension, key)
    )
    card = _media_card_from_rows(rows, kind)
    if corpus_dir is not None:
        _stamp_if_partial(
            card, spark, stats_dir, corpus_dir, backfill="media_stats"
        )
    return card
