"""BPE tokenizer training support — the corpus-side statistics pass.

Training a byte-pair-encoding vocabulary (Sennrich et al. 2016) over a
100 TB corpus does NOT iterate over the corpus: every practical
implementation (sentencepiece, HF tokenizers) reduces the corpus to a
**word histogram** first and runs the merge loop on that — the corpus
is scanned exactly once, and each of the ~30k merge iterations touches
only the distinct-word table, which is vocabulary-sized, not
corpus-sized.  This module follows that two-phase shape:

1. ``word_histogram`` — ONE distributed pass: whitespace words →
   groupBy(word).count(), with a ``top_k`` frequency cutoff (standard
   practice; the histogram must be driver-bounded, and words below the
   cutoff cannot influence early merges materially).
2. ``bpe_merges`` — the classic greedy merge loop, driver-side over the
   collected histogram.  Deterministic: pair ties break lexicographically
   (published implementations vary here; fixing the tiebreak makes
   vocabularies reproducible across runs).
3. ``bpe_apply`` — the application path: an Arrow-batched
   ``mapInPandas`` tokenizer driven by a merge-rank dict (the GPT-2
   greedy-lowest-rank algorithm, equivalent to applying the merge list
   in training order), handling arbitrary vocabulary sizes with a
   per-partition word cache (Zipf makes the hit rate very high).

Relation to the reference (JonasMarma/etl-olho-vivo): none — part of the
beyond-reference training-data surface (SURVEY §2.11 text analysis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (Sennrich et al.); chosen outside the corpus
#: alphabet for the driver tables, and escaped nowhere — callers with
#: '</w>' in their text should pre-clean.
EOW = "</w>"

#: per-partition word-cache bound for ``bpe_apply`` — ~256k entries of
#: short token strings/id lists is tens of MB, well inside a Python
#: worker; see the eviction note in ``_encode_batches``.
_CACHE_CAP = 262_144


def word_histogram(
    docs: DataFrame,
    text: str = "text",
    top_k: int = 100_000,
    min_count: int = 1,
) -> DataFrame:
    """Distinct-word counts, descending, cut to the ``top_k`` most
    frequent (deterministic tail tiebreak on the word itself).

    The ONE corpus-sized job of BPE training: map-side split + partial
    counts, one shuffle on the word.  ``top_k`` bounds what the driver
    later collects — at 100 TB the raw distinct-word count (typos,
    numbers, hashes) is unbounded, and frequency-ranked truncation is
    the standard fix, not a limitation.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    # Strip the \x1f/\x1e marker chars EXACTLY like ``bpe_apply`` does
    # — training and application must see identical word shapes, or a
    # corpus containing these control chars trains on words ('a\x1fb')
    # the tokenizer never produces ('ab').
    clean = F.regexp_replace(F.col(text), F.lit("[\\x1f\\x1e]"), F.lit(""))
    words = docs.select(
        F.explode(
            F.filter(F.split(clean, r"\s+"), lambda w: w != F.lit(""))
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), "word")
        .limit(top_k)
    )


def _merge_word(syms: list, a: str, b: str) -> list:
    """One left-to-right non-overlapping pass of merge (a, b)."""
    merged, res, i = a + b, [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            res.append(merged)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def bpe_merges(
    histogram: list[tuple[str, int]] | DataFrame,
    n_merges: int = 1000,
) -> list[tuple[str, str]]:
    """Greedy BPE merge list from a word histogram.

    ``histogram`` is either the ``word_histogram`` frame (collected
    here — bounded by its ``top_k`` construction) or an already-local
    ``[(word, count), ...]``.  Returns ``[(left, right), ...]`` in
    merge order; applying them in order to a character-split word
    reproduces the trained segmentation.

    Classic algorithm: every word starts as its character sequence +
    EOW; each round merges the globally most frequent adjacent symbol
    pair (count-weighted by word frequency), ties broken
    lexicographically; stops early when no pair repeats.

    Implementation: the incremental form every production trainer uses
    (Sennrich's learn_bpe): pair counts are maintained under a
    pair→words index and a lazy max-heap, so each round touches only
    the words that CONTAIN the merged pair instead of rescanning the
    whole histogram — the naive rescan is O(n_merges × total_symbols)
    (≈ 2×10¹⁰ symbol visits for 30k merges over a 100k-word histogram:
    hours), while the incremental loop is output-sensitive (Zipf makes
    most merges touch few words).  Deterministic tiebreak is preserved
    exactly: the heap orders by (-count, pair), the same key the spec
    minimizes, and lazy (stale-count) entries are skipped on pop — the
    first entry whose count is CURRENT is the true maximum.  Output is
    fuzz-pinned identical to the textbook loop in tests/references.py.
    """
    import heapq
    from collections import Counter

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if isinstance(histogram, DataFrame):
        histogram = [
            (r["word"], int(r["n"])) for r in histogram.collect()
        ]
    agg: dict[tuple[str, ...], int] = {}
    for word, count in histogram:
        key = tuple(word) + (EOW,)
        agg[key] = agg.get(key, 0) + count
    words: list[list] = [[list(k), c] for k, c in agg.items()]
    stats: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            stats[p] = stats.get(p, 0) + c
            index.setdefault(p, set()).add(idx)
    heap = [(-n, p) for p, n in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negn, p = heapq.heappop(heap)
        if -negn != stats.get(p, 0):
            continue  # stale — a fresher entry for p exists (or p died)
        if -negn < 2:
            break  # true maximum no longer repeats
        a, b = p
        for idx in list(index.get(p, ())):
            syms, c = words[idx]
            old_pairs = list(zip(syms, syms[1:]))
            if p not in old_pairs:
                index[p].discard(idx)  # stale index entry
                continue
            res = _merge_word(syms, a, b)
            delta = Counter(zip(res, res[1:]))
            delta.subtract(Counter(old_pairs))
            for q, d in delta.items():
                if d == 0:
                    continue
                nc = stats.get(q, 0) + d * c
                if nc > 0:
                    stats[q] = nc
                    heapq.heappush(heap, (-nc, q))
                    if d > 0:
                        index.setdefault(q, set()).add(idx)
                else:
                    stats.pop(q, None)
            words[idx][0] = res
        # every containing word was just rewritten — p is gone
        stats.pop(p, None)
        index.pop(p, None)
        merges.append(p)
    return merges


def bpe_vocabulary(
    histogram: list[tuple[str, int]] | DataFrame,
    n_merges: int = 1000,
    merges: list[tuple[str, str]] | None = None,
) -> list[str]:
    """The token vocabulary implied by a merge list: base characters +
    EOW + one token per merge, in deterministic order.

    Pass ``merges`` when the list is already trained (the corpus
    pipeline trains once and derives both artifacts from it) —
    otherwise it is re-trained here from the histogram, which for a
    30k-merge production list repeats seconds of driver work."""
    if isinstance(histogram, DataFrame):
        histogram = [
            (r["word"], int(r["n"])) for r in histogram.collect()
        ]
    if merges is None:
        merges = bpe_merges(histogram, n_merges)
    chars = sorted({c for w, _ in histogram for c in w})
    return chars + [EOW] + [a + b for a, b in merges]


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text: str = "text",
    out: str = "bpe_tokens",
    sep: str = " ",
    emit: str = "tokens",
    vocab: list[str] | None = None,
    ids_out: str = "bpe_ids",
    cache_cap: int = _CACHE_CAP,
) -> DataFrame:
    """Tokenize a corpus with a trained merge list of ARBITRARY size —
    the production hand-off from ``bpe_merges`` (30k+ merges).  Appends
    column ``out``: with ``emit="tokens"`` (default) the ``sep``-joined
    token stream of the whitespace-split words (parity-tested in
    tests/test_bpe.py against a Column-expression reference); with ``emit="ids"`` an ``array<int>`` of token
    ids under the supplied ``vocab`` (pass ``bpe_vocabulary(...)`` —
    the id space is the model's input contract and must be pinned
    explicitly, never re-derived per run); with ``emit="both"`` BOTH
    columns (``out`` and ``ids_out``) from ONE tokenization pass —
    the corpus pipeline's mode, since a second ``mapInPandas`` pass
    would re-tokenize the whole corpus to derive what is already in
    hand.  A token outside the vocabulary (a character the training
    histogram never saw) maps to ``-1`` — filter or extend the
    vocabulary upstream; silently skipping would desynchronize ids
    from text.

    Algorithm (GPT-2 style): a word starts as its characters + EOW;
    repeatedly merge the present pair with the LOWEST training rank,
    one left-to-right non-overlapping pass per round, until no pair is
    ranked.  This is equivalent to replaying the merge list in
    training order because a merge can only CREATE pairs containing
    its own output symbol, and every such pair was trained later (has
    a higher rank) — so rank order and training order pick the same
    merges.

    Scale shape: pure map — no shuffle, no driver involvement.  The
    rank dict ships ONCE per executor via a Spark broadcast (a 30k
    merge list is ~1 MB; task-closure capture would re-serialize it
    per task).  Batches cross the JVM↔Python boundary as Arrow
    columns, and a per-partition word→tokens cache exploits the Zipf
    distribution (the top few thousand words cover most tokens, so the
    greedy loop runs roughly once per DISTINCT word per partition, not
    once per occurrence).
    """
    import re

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    if out in docs.columns:
        raise ValueError(f"output column {out!r} already exists")
    if emit not in ("tokens", "ids", "both"):
        raise ValueError(f"emit must be tokens|ids|both, got {emit!r}")
    if emit in ("ids", "both") and not vocab:
        # `not vocab` (not `is None`): an EMPTY vocab list must also fail
        # fast on the driver — it would otherwise crash with an opaque
        # AttributeError inside the executor (round-8 advice)
        raise ValueError(
            f"emit={emit!r} needs a non-empty vocab (bpe_vocabulary(...))"
            " — the id space is the model's input contract"
        )
    if emit == "both" and ids_out in docs.columns:
        raise ValueError(f"output column {ids_out!r} already exists")
    ranks: dict[tuple[str, str], int] = {
        (a, b): i for i, (a, b) in enumerate(merges)
    }
    tok2id = {t: i for i, t in enumerate(vocab)} if vocab is not None else None
    if emit == "tokens":
        tok2id = None  # tokens mode never consults a vocab
    bc = docs.sparkSession.sparkContext.broadcast((ranks, tok2id, emit))
    extra = (
        [StructField(out, StringType()), StructField(ids_out, ArrayType(IntegerType()))]
        if emit == "both"
        else [
            StructField(
                out,
                ArrayType(IntegerType()) if emit == "ids" else StringType(),
            )
        ]
    )
    schema = StructType(list(docs.schema.fields) + extra)
    # Java regex \s (used by word_histogram) is the
    # ASCII class [ \t\n\x0B\f\r]; Python's \s is Unicode-aware and
    # would ALSO split on U+00A0/U+2028/\x1c-\x1f, silently tokenizing
    # different word shapes than the histogram ever counted and breaking
    # parity with the expression reference on real web text (&nbsp; is
    # everywhere).  Spell out the Java class exactly.
    ws = re.compile("[ \t\n\x0b\f\r]+")
    strip = re.compile("[\x1f\x1e]")

    def _encode_batches(batches):
        rk, t2i, mode = bc.value
        # the cache holds the MODE-FINAL value (joined string / id
        # list), so a Zipf-hot word pays the join or id mapping once,
        # not once per occurrence — the hot path the pinned throughput
        # number depends on.  BOUNDED: a partition dominated by
        # high-cardinality words (hashes, numbers, typo soup) would
        # otherwise grow the dict without limit and OOM the Python
        # worker; on overflow the whole cache is dropped — Zipf refills
        # the hot head within a few thousand words, so the hit rate is
        # preserved while memory stays capped (epoch eviction beats
        # stop-inserting, which would freeze a cold first-seen set, and
        # costs no per-hit bookkeeping like an LRU).
        cache: dict[str, object] = {}

        def enc_word(word: str):
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word) + [EOW]
            while len(syms) > 1:
                best_rank = None
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank = r
                        a, b = syms[i], syms[i + 1]
                if best_rank is None:
                    break
                # the ONE merge-pass definition — training and
                # application must never diverge on overlap handling
                syms = _merge_word(syms, a, b)
            if mode == "tokens":
                final = sep.join(syms)
            elif mode == "ids":
                final = [t2i.get(s, -1) for s in syms]
            else:  # both — one cache entry carries the pair
                final = (sep.join(syms), [t2i.get(s, -1) for s in syms])
            if len(cache) >= cache_cap:
                cache.clear()
            cache[word] = final
            return final

        def enc_text(t):
            if t is None:
                return None
            words = [w for w in ws.split(strip.sub("", t)) if w]
            if mode == "tokens":
                return sep.join(enc_word(w) for w in words)
            if mode == "ids":
                return [i for w in words for i in enc_word(w)]
            enc = [enc_word(w) for w in words]
            return (
                sep.join(e[0] for e in enc),
                [i for e in enc for i in e[1]],
            )

        for pdf in batches:
            if mode != "both":
                yield pdf.assign(**{out: pdf[text].map(enc_text)})
                continue
            pairs = pdf[text].map(enc_text)
            yield pdf.assign(
                **{
                    out: pairs.map(lambda p: None if p is None else p[0]),
                    ids_out: pairs.map(lambda p: None if p is None else p[1]),
                }
            )

    return docs.mapInPandas(_encode_batches, schema)
