"""Text-analysis operators for training-data pipelines (SURVEY §2.11).

Everything here is JVM-side Column expressions over token arrays —
``split`` once, then higher-order functions (``transform``/``filter``/
``aggregate``) that run inside whole-stage codegen.  No Python UDFs, no
shuffles: these are per-row map operators that scale linearly with the
scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import MIX, P, spark_token_hash

# Marker lexicons for the language-ID heuristic (tiny built-in profiles; a
# production build would load real n-gram profiles as a broadcast dim).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in", "to")


def tokens(text: str = "text") -> Column:
    """Whitespace tokenization (single-space corpus → plain split)."""
    return F.split(F.col(text), " ")


def token_count(text: str = "text") -> Column:
    return F.size(tokens(text))


def regex_token_count(text: str = "text", pattern: str = "[a-z]+") -> Column:
    """BPE-ish token proxy: count of maximal ``[a-z]+`` runs (identical
    regex semantics in Spark/RE2 dialects for this simple class).

    Built with the Column API, not f-string SQL: interpolating the
    pattern into a single-quoted SQL literal silently folds backslash
    classes (``\\d+`` → ``d+`` — wrong counts, no error) and breaks on
    quotes in the pattern.
    """
    return F.size(
        F.regexp_extract_all(F.col(text), F.lit(pattern), F.lit(0))
    )


def _in_list(var: str, words: tuple[str, ...]) -> str:
    return " OR ".join(f"{var} = '{w}'" for w in words)


def stopword_count(text: str = "text") -> Column:
    return F.expr(
        f"size(filter(split({text}, ' '), w -> {_in_list('w', STOPWORDS)}))"
    )


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Length / word-length / stopword-ratio quality features + a combined
    score.  All ratios are int/int divisions (exact-rounded, engine-stable).
    """
    n_tok = token_count(text)
    n_char = F.length(F.col(text))
    # single-space corpus: total word chars = n_char - (n_tok - 1)
    avg_word_len = (n_char - (n_tok - F.lit(1))) / n_tok
    stop_ratio = stopword_count(text) / n_tok
    # try_divide: an empty/whitespace-only doc has avg_word_len = 0, and
    # under default ANSI mode a plain division ABORTS the whole corpus
    # job; NULL score instead (fails every >= quality gate → dropped)
    score = F.lit(0.4) * stop_ratio + F.lit(0.6) * (
        F.lit(1.0) - F.try_divide(F.lit(1.0), avg_word_len)
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_m": n_char,
            "avg_word_len": avg_word_len,
            "stopword_ratio": stop_ratio,
            "quality_score": score,
        }
    )


def lang_guess(text: str = "text") -> Column:
    """Marker-word language ID: argmax of per-language marker hits with a
    fixed evaluation order (en > de > es > fr > und on ties)."""
    counts = {
        lang: F.expr(
            f"size(filter(split({text}, ' '), w -> {_in_list('w', ws)}))"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    best = F.greatest(*counts.values())
    out = F.lit("und")
    # reversed so earlier languages win ties via later when() precedence
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((counts[lang] == best) & (best > 0), lang).otherwise(out)
    return out


def fingerprint_rolling(text: str = "text") -> Column:
    """Order-sensitive document fingerprint: left-fold polynomial rolling
    hash over md5-derived token hashes, mod P (64-bit-safe:
    acc < P ≈ 2^32, acc·MIX + h < 4.3e15 < 2^63)."""
    return F.expr(
        f"aggregate(transform(split({text}, ' '), "
        f"w -> {spark_token_hash('w')}), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * {MIX} + x) % {P})"
    )


def fingerprint_md5(text: str = "text") -> Column:
    """Whole-document content fingerprint (md5-derived 32-bit int)."""
    return F.expr(spark_token_hash(text))


# Redaction patterns: anchored to token shapes, longest-match first so a
# URL containing an email-like path is not double-redacted.
_REDACTIONS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def _ngram_strings(tok_col: str, n: int) -> str:
    """SQL fragment: word n-grams over a MATERIALIZED token-array column
    as space-joined strings.

    Takes a column name, not a ``split(...)`` expression, for the same
    reason as dedup.with_token_hashes: an array expression inlined into
    the per-index lambda is re-evaluated per element — O(tokens²) splits
    per document.  Callers project the token array once per row first.
    """
    return (
        f"CASE WHEN size({tok_col}) >= {n} THEN "
        f"transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> concat_ws(' ', slice({tok_col}, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def top_ngram_char_mass(tok_col: str, n: int = 2) -> Column:
    """Character mass of the dominant word n-gram: max over grams of
    count·length(gram), as a BIGINT.

    Linear JVM path: sort the gram array, then one ``aggregate`` pass
    tracks the current run length and the best count·chars seen — no
    per-row hashmap, no O(k²) nested filter, stays in whole-stage
    codegen.  Divide by n_chars for Gopher's top-n-gram char fraction
    (Rae et al. 2021, appendix A1 — public paper).
    """
    return F.expr(
        f"aggregate(array_sort({_ngram_strings(tok_col, n)}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'cnt', 0L, "
        f"'best', 0L), "
        f"(acc, x) -> named_struct("
        f"'prev', x, "
        f"'cnt', IF(x <=> acc.prev, acc.cnt + 1, 1L), "
        f"'best', GREATEST(acc.best, "
        f"IF(x <=> acc.prev, acc.cnt + 1, 1L) * length(x))), "
        f"acc -> acc.best)"
    )


def dup_ngram_char_mass(tok_col: str, n: int = 5) -> Column:
    """Character mass of every word n-gram occurring ≥ 2 times:
    Σ count·length over repeated grams, BIGINT.

    Same sorted-run ``aggregate`` trick as ``top_ngram_char_mass``; the
    mass is added incrementally (2·len when a run reaches 2, +len per
    further occurrence), so no run-end bookkeeping is needed.  This is
    the Σ-over-occurrences approximation of Gopher's duplicated-n-gram
    char fraction used by the public reimplementations — the paper's
    exact definition unions overlapping character intervals, which is
    inherently imperative; the approximation only over-counts, so a
    gate on it is strictly more conservative.
    """
    return F.expr(
        f"aggregate(array_sort({_ngram_strings(tok_col, n)}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'cnt', 0L, "
        f"'mass', 0L), "
        f"(acc, x) -> named_struct("
        f"'prev', x, "
        f"'cnt', IF(x <=> acc.prev, acc.cnt + 1, 1L), "
        f"'mass', acc.mass + CASE "
        f"WHEN x <=> acc.prev AND acc.cnt = 1 THEN 2L * length(x) "
        f"WHEN x <=> acc.prev THEN CAST(length(x) AS BIGINT) "
        f"ELSE 0L END), "
        f"acc -> acc.mass)"
    )


def repetition_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style repetition/symbol quality signals (Rae et al. 2021,
    appendix A1), all per-row Column expressions — one scan, no shuffle,
    no Python:

    - ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of
      non-empty lines (and of their characters) that are repeats of an
      earlier identical line;
    - ``top{2,3,4}gram_char_frac`` — char fraction of the dominant
      word n-gram;
    - ``dup{5,10}gram_char_frac`` — char fraction of all repeated word
      n-grams (Σ-occurrence approximation, see dup_ngram_char_mass);
    - ``symbol_word_ratio`` — the worse of hash-signs-per-word and
      ellipses-per-word.  Gopher's A1 rule rejects on "symbol-to-word
      ratio greater than 0.1 for either the hash symbol or the
      ellipsis" — ONLY those two glyphs count.  Counting every
      non-alphanumeric char would mass-reject ordinary punctuated
      prose (a comma per ~8 words already exceeds 0.1) and all
      accented de/es/fr text.  The two per-glyph ratios collapse into
      one column as ``greatest``: the gate's single ``<= 0.1`` then
      means exactly "neither ratio exceeds 0.1".

    All ratios are exact-int/int ``try_divide`` (NULL on empty input —
    fails any ≥/≤ gate, so degenerate docs drop out instead of
    aborting the job under ANSI mode).
    """
    lines = f"filter(split({text}, '\\n'), l -> l != '')"
    line_chars = f"aggregate({lines}, 0L, (a, l) -> a + length(l))"
    dist_chars = (
        f"aggregate(array_distinct({lines}), 0L, (a, l) -> a + length(l))"
    )
    n_chars = F.length(F.col(text))
    hashes = n_chars - F.length(
        F.regexp_replace(F.col(text), F.lit("#"), F.lit(""))
    )
    # "…" or a 3+-dot run each count once (regexp_count is
    # non-overlapping, so "....." is one ellipsis, not three)
    ellipses = F.regexp_count(F.col(text), F.lit(r"(\.{3,}|…)"))
    words = token_count(text)
    cols = {
        "dup_line_frac": F.try_divide(
            F.expr(f"size({lines}) - size(array_distinct({lines}))"),
            F.expr(f"size({lines})"),
        ),
        "dup_line_char_frac": F.try_divide(
            F.expr(f"{line_chars} - {dist_chars}"), F.expr(line_chars)
        ),
        "symbol_word_ratio": F.greatest(
            F.try_divide(hashes, words), F.try_divide(ellipses, words)
        ),
    }
    for n in (2, 3, 4):
        cols[f"top{n}gram_char_frac"] = F.try_divide(
            top_ngram_char_mass("__toks__", n), n_chars
        )
    for n in (5, 10):
        cols[f"dup{n}gram_char_frac"] = F.try_divide(
            dup_ngram_char_mass("__toks__", n), n_chars
        )
    return (
        df.withColumn("__toks__", tokens(text))
        .withColumns(cols)
        .drop("__toks__")
    )


# Published Gopher rejection thresholds (Rae et al. 2021, table A1).
GOPHER_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15,
    "dup10gram_char_frac": 0.10,
    "symbol_word_ratio": 0.10,
}


def gopher_gate(
    df: DataFrame,
    text: str = "text",
    thresholds: dict[str, float] | None = None,
    out: str = "gopher_pass",
) -> DataFrame:
    """Append a boolean: True iff every repetition metric is at or under
    its (Gopher-published, overridable) rejection threshold.

    NULL metrics (empty doc) gate to False — a doc the metrics cannot
    be computed on is not evidence of quality.
    """
    th = dict(GOPHER_THRESHOLDS)
    th.update(thresholds or {})
    unknown = set(th) - set(GOPHER_THRESHOLDS)
    if unknown:
        raise ValueError(f"unknown gopher metric(s): {sorted(unknown)}")
    feat = repetition_features(df, text)
    ok = F.lit(True)
    for metric, bound in th.items():
        ok = ok & (F.col(metric) <= F.lit(bound))
    return feat.withColumn(out, F.coalesce(ok, F.lit(False)))


def c4_clean_lines(text: str = "text", min_words: int = 5) -> Column:
    """C4's line-level cleanup (Raffel et al. 2020, §2.2): keep only
    lines that end in a terminal punctuation mark (period, exclamation,
    question mark, or end quotation) AND contain at least ``min_words``
    words; the document is rebuilt from the survivors.

    Pure higher-order Column expression — one split, per-line
    predicates, concat_ws — zero shuffle, zero Python, linear per row.
    """
    def ok(line: Column) -> Column:
        ends = line.rlike('[.!?"”]\\s*$')
        words = F.size(
            F.filter(
                F.split(F.trim(line), " "), lambda w: w != F.lit("")
            )
        )
        return ends & (words >= F.lit(min_words))

    return F.concat_ws(
        "\n", F.filter(F.split(F.col(text), "\n"), ok)
    )


def c4_gate(
    df: DataFrame,
    text: str = "text",
    min_sentences: int = 3,
    badwords: tuple[str, ...] = (),
    out: str = "c4_pass",
) -> DataFrame:
    """C4's page-level filters (Raffel et al. 2020, §2.2) as a boolean:
    at least ``min_sentences`` sentences (terminal-punctuation count),
    no "lorem ipsum" placeholder text, no curly brace (code/templating
    leakage into prose), and none of the caller-supplied ``badwords``
    (the paper uses the public "List of Dirty, Naughty …" list — pass
    it in; it is not vendored here).  Badwords match on WORD
    BOUNDARIES, as C4's published implementation does — substring
    matching would reject "class"/"analysis"/"Essex" for list entries
    like "ass", gutting ordinary prose.

    Run after ``c4_clean_lines`` for the paper's order: line cleanup
    first, then page rejection on what remains.
    """
    import re

    low = F.lower(F.col(text))
    ok = (
        (F.regexp_count(F.col(text), F.lit("[.!?]")) >= min_sentences)
        & ~low.contains("lorem ipsum")
        & ~F.col(text).contains("{")
    )
    for w in badwords:
        # Column-API rlike (no SQL-literal backslash folding); lookarounds
        # implement the boundary without consuming neighboring chars
        ok = ok & ~low.rlike(f"(?<!\\w){re.escape(w.lower())}(?!\\w)")
    return df.withColumn(out, F.coalesce(ok, F.lit(False)))


def redact(text: str = "text") -> Column:
    """PII scrubbing: URLs, emails, phone-shaped digit runs → typed
    placeholders.  A chain of ``regexp_replace`` Column expressions —
    whole-stage codegen, no UDF; order matters (URL before email so
    ``http://a.b/c@d.e`` collapses to one ``<URL>``)."""
    out = F.col(text)
    for pattern, token in _REDACTIONS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pack_chunks(
    chunks: DataFrame,
    budget: int,
    shard_col: str,
    order_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    tokens_col: str = "n_tokens",
    text_col: str = "chunk_text",
) -> DataFrame:
    """Pack chunks into fixed-token-budget training sequences.

    Sequential-fill packing: within each shard (the parallelism unit —
    e.g. a source or a hash bucket), chunks are laid out in a
    deterministic total order and a pack boundary is drawn every
    ``budget`` tokens of the running sum; a chunk belongs to the pack its
    *first* token falls in.  A pack can therefore overflow by at most
    (max chunk − 1) tokens — the standard approximation that keeps
    packing a single window + groupBy instead of an inherently sequential
    first-fit recurrence (which cannot be expressed as a parallel scan).
    Callers that need a hard cap set ``budget' = budget − max_chunk + 1``.

    Output: one row per (shard, pack_id) with the concatenated text, the
    chunk count, and the exact token total.
    """
    if budget <= 0:  # eager, like chunk_docs: a 0 would DIVIDE_BY_ZERO
        # mid-job and a negative silently inverts pack ids
        raise ValueError(f"budget must be positive, got {budget}")
    w = Window.partitionBy(shard_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).cast("long")
    packed = chunks.withColumn("pack_id", F.floor(start / budget))
    return (
        packed.groupBy(shard_col, "pack_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                *[F.col(c) for c in order_cols],
                                F.col(text_col).alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("seq_text"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
        )
    )


def chunk_docs(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text: str = "text",
) -> DataFrame:
    """Split documents into token-window chunks with optional overlap —
    the sequence-packing precursor every training pipeline needs.

    Pure Column plan: tokenize once, explode a computed chunk-index
    sequence, slice the token array per chunk, rejoin.  Chunk starts step
    by ``max_tokens − overlap``; the last chunk may be short; documents
    shorter than ``max_tokens`` yield themselves as chunk 0.  Output is
    (original columns minus ``text``) + (chunk_id, chunk_text, n_tokens),
    deterministic for any partitioning.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}")
    step = max_tokens - overlap
    toks = df.withColumn("__toks", F.split(F.col(text), " "))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(step)),
    )
    out_cols = [c for c in df.columns if c != text]
    return (
        toks.withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        .withColumn(
            "__chunk",
            F.slice(
                "__toks",
                F.col("chunk_id") * step + 1,
                F.lit(max_tokens),
            ),
        )
        .select(
            *out_cols,
            "chunk_id",
            F.array_join("__chunk", " ").alias("chunk_text"),
            F.size("__chunk").alias("n_tokens"),
        )
    )
