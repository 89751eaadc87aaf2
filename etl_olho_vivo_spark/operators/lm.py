"""Statistical LM scoring for corpus quality filtering — the CCNet
perplexity gate, Spark-native.

CCNet (Wenzek et al. 2019) ranks crawl documents by the perplexity of a
KenLM 5-gram model trained on a trusted corpus and keeps the head/middle
buckets; the same shape filters gibberish, boilerplate soup, and
non-linguistic text that per-row heuristics (quality_score) miss.  This
module implements the distributed statistics core with add-k smoothing
at ANY order: the original BIGRAM pair (``bigram_counts`` /
``cross_entropy_scores``, kept verbatim — their column contract is
load-bearing for the registry oracle) and the order-n generalization
(``ngram_counts`` / ``ngram_cross_entropy_scores``) whose context keys
are the shared rolling hash, so a 5-gram CCNet-shaped gate runs under
the same DuckDB oracle.  A production deployment could still plug a
trained KenLM binary into a mapInPandas scorer, the same posture as
the multimodal codec.

Round 9 adds the scheme actually built FOR this scale: stupid backoff
(Brants et al. 2007 — ``backoff_counts`` / ``stupid_backoff_scores``),
whose count-ratio-plus-fixed-penalty chain needs no discounting or
normalization passes and scores a document with one corpus-sized
window relation plus 2(order-1)+1 broadcast joins (each level's n-gram
and context, plus the unigram leaf) against top_k-bounded relations.

Two phases, both bounded:

1. ``bigram_counts`` — ONE scan over the REFERENCE corpus: unigram and
   bigram counts (map-side partial aggregation; a hot bigram — "of the"
   corpus-wide — flattens into one row per key, never a window).
   ``top_k`` truncation bounds both relations the way word_histogram
   bounds BPE training: at 100 TB raw bigram cardinality is unbounded,
   and tail bigrams contribute k-smoothed estimates anyway.
2. ``cross_entropy_scores`` — score TARGET docs against those counts:
   explode each doc's bigrams (slim md5-hash rows), join the two count
   relations (broadcast when they fit, shuffle otherwise — both joins
   are aggregate-first so skew is already flattened), and aggregate the
   mean negative log-likelihood per document:

       H(doc) = -(1/n) Σ log  (B(w1,w2) + k) / (U(w1) + k·V)

   in nats; ``exp(H)`` is the familiar perplexity.  Determinism: counts
   are exact BIGINTs; log/÷/mean are the only doubles, so the emitted
   score is ROUNDED (6 dp) per the engine-wide rule for
   transcendental/order-sensitive output (registry.py preamble).

Token identity is the md5-derived 32-bit word hash shared with every
other text operator (functions/hashing.py) — the DuckDB oracle
reproduces the whole computation bit-for-bit up to the documented
rounding.

Relation to the reference (JonasMarma/etl-olho-vivo): none — part of
the beyond-reference text-analysis surface (SURVEY §2.11).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.dedup import with_token_hashes

if TYPE_CHECKING:
    from etl_olho_vivo_spark.caching import CacheBag


def _ref_token_frame(
    ref_docs: DataFrame,
    id_col: str,
    text: str,
    caches: "CacheBag | None",
) -> DataFrame:
    """ONE (id, wh) token-hash frame for a reference corpus (round 16).

    Model training traverses the reference corpus several times (one
    window pass per n-gram order, the unigram/vocabulary pass, the
    leaf-scalar pass) and the md5 tokenize is the dominant per-row cost
    of every one of those scans — so the training paths share a single
    cached materialization of the token arrays instead of re-hashing
    the corpus per pass (guide §5: cache what is reused AND expensive
    to recompute; §1.2: remove redundant passes first).  The frame is
    corpus-sized, but MEMORY_AND_DISK spills rather than recomputes,
    and a reference corpus is the small, curated side of a quality
    gate.  Two builders called with the same inputs produce the same
    canonical plan, so the CacheManager reuses one entry across them.
    With no bag the frame is returned lazily (correct, re-derived per
    consumer) — this helper never raw-persists.
    """
    toks = with_token_hashes(ref_docs.select(id_col, text), text).select(
        id_col, "wh"
    )
    return caches.add(toks) if caches is not None else toks


def _doc_bigrams(
    docs: DataFrame, id_col: str, text: str, *, pretokenized: bool = False
) -> DataFrame:
    """(id, w1h, w2h) — one slim row per in-doc bigram.

    ``posexplode_outer`` for the InferFiltersFromGenerate reason
    documented in decontam.py: a plain explode of the pair array would
    re-inline the token-hash transform O(tokens²) per row.

    ``pretokenized``: ``docs`` already carries the ``wh`` array (a
    ``_ref_token_frame``) — skip the hashing pass.
    """
    pairs = (
        "CASE WHEN size(wh) >= 2 THEN "
        "transform(sequence(0, size(wh) - 2), "
        "i -> struct(wh[i] AS w1h, wh[i + 1] AS w2h)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<w1h: BIGINT, w2h: BIGINT>>) END"
    )
    base = (
        docs if pretokenized
        else with_token_hashes(docs.select(id_col, text), text)
    )
    return (
        base
        .withColumn("__bg__", F.expr(pairs))
        .select(id_col, F.posexplode_outer("__bg__").alias("__i__", "bg"))
        .filter(F.col("bg").isNotNull())
        .select(id_col, "bg.w1h", "bg.w2h")
    )


def bigram_counts(
    ref_docs: DataFrame,
    *,
    text: str = "text",
    top_k: int = 1_000_000,
    caches: "CacheBag | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """(unigram, bigram) count relations from the reference corpus.

    unigram: (w1h, u_n);  bigram: (w1h, w2h, b_n) — exact integer
    counts, each truncated to its ``top_k`` most frequent entries
    (deterministic hash tiebreak) so the model relations are bounded
    regardless of corpus size.  Pass ``caches`` so the unigram and
    bigram passes share ONE tokenize of the reference corpus
    (``_ref_token_frame``) instead of hashing it twice.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    # counts never group by document — a constant id keeps the helper shared
    toks = _ref_token_frame(
        ref_docs.select(text).withColumn("__rid__", F.lit(0)),
        "__rid__", text, caches,
    )
    bg = _doc_bigrams(toks, "__rid__", text, pretokenized=True)
    uni = (
        toks.select(F.explode_outer("wh").alias("w1h"))
        .filter(F.col("w1h").isNotNull())
        .groupBy("w1h")
        .agg(F.count(F.lit(1)).alias("u_n"))
        .orderBy(F.desc("u_n"), "w1h")
        .limit(top_k)
    )
    big = (
        bg.groupBy("w1h", "w2h")
        .agg(F.count(F.lit(1)).alias("b_n"))
        .orderBy(F.desc("b_n"), "w1h", "w2h")
        .limit(top_k)
    )
    return uni, big


def cross_entropy_scores(
    docs: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    k_smooth: float = 0.5,
    round_dp: int = 6,
    caches: "CacheBag | None" = None,
    v: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood (nats) under the add-k
    bigram model — ``(id, n_bigrams, cross_entropy)``.  Lower is more
    reference-like; bucket the distribution (CCNet keeps head/middle)
    or threshold directly.  Documents with fewer than 2 tokens have no
    bigrams and are omitted (no evidence either way — filter upstream
    by length, as the corpus pipeline already does).

    Out-of-vocabulary smoothing: an unseen bigram contributes
    ``log(k / (U(w1) + k·V))`` and an unseen w1 ``log(k / (k·V))`` —
    the standard add-k backstop, so scores are finite everywhere.

    ``caches``: V (the vocabulary size) needs one action on the
    unigram relation before the scoring joins consume it again — pass
    a CacheBag so the count materializes the (top_k-bounded) relation
    once instead of re-running the reference-corpus scan per consumer
    (the registry query and the pipeline gate both do).  Without it
    the computation is still correct, just re-derived.

    ``v``: the smoothing vocabulary size — pass it to skip the eager
    ``unigram.count()`` job this call otherwise launches (see
    ``ngram_cross_entropy_scores``).
    """
    if k_smooth <= 0:
        raise ValueError(f"k_smooth must be > 0, got {k_smooth}")
    if caches is not None:
        unigram = caches.add(unigram)
        bigram = caches.add(bigram)
    if v is None:
        v = unigram.count()  # vocabulary size — one scalar, top_k-bounded
    bg = _doc_bigrams(docs, id_col, text)
    joined = (
        bg.join(bigram, ["w1h", "w2h"], "left")
        .join(unigram, "w1h", "left")
        .select(
            id_col,
            (
                F.log(
                    (F.coalesce(F.col("b_n"), F.lit(0)) + F.lit(k_smooth))
                    / (
                        F.coalesce(F.col("u_n"), F.lit(0))
                        + F.lit(k_smooth) * F.lit(v)
                    )
                )
            ).alias("ll"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg("ll"), round_dp).alias("cross_entropy"),
    )


# ---------------------------------------------------------------------------
# Order-n generalization — the "order is a dial" claim above, executable.
#
# The context of an n-gram is its first n-1 tokens, identified by the
# rolling hash `ngram_hash_expr` (functions/hashing.py) folded over the
# n-1 token hashes — one slim BIGINT key per context, bit-identical in
# DuckDB, so arbitrary-order models stay under the oracle.  At order 2
# the fold of a single hash is the hash itself, and the whole path
# reduces EXACTLY to the bigram relations above (parity-pinned in
# tests/test_lm.py) — kept as separate named functions because the
# (w1h, w2h) column contract of the bigram path is load-bearing for the
# existing registry oracle.
# ---------------------------------------------------------------------------


def _doc_windows(
    docs: DataFrame,
    id_col: str,
    text: str,
    width: int,
    with_next: bool,
    terminal_nulls: bool = False,
    pretokenized: bool = False,
) -> DataFrame:
    """Slim per-document sliding windows over the token-hash array.

    ``with_next=False``: one row per ``width``-token window — (id, ctx_h).
    ``with_next=True``: one row per (window, following token) —
    (id, ctx_h, w_h); the n-gram rows of an order ``width+1`` model.
    ``with_next=True, terminal_nulls=True``: one row per ``width``-token
    window with ``w_h`` NULL on the document-final window that has no
    following token — ONE relation from which both the context counts
    (all rows) and the n-gram counts (non-null rows) derive, so an
    order-n model costs one corpus scan instead of two (round-8 verdict
    "What's wrong" #3).

    ``posexplode_outer`` for the InferFiltersFromGenerate reason
    documented in decontam.py.
    """
    if terminal_nulls and not with_next:
        raise ValueError("terminal_nulls requires with_next=True")
    need = width + (1 if with_next and not terminal_nulls else 0)
    from etl_olho_vivo_spark.functions.hashing import ngram_hash_expr

    ctx = ngram_hash_expr([f"wh[i + {j}]" for j in range(width)])
    if with_next and terminal_nulls:
        # i runs 0..size-width; the last window's next-token index is out
        # of range — explicit CASE, not bare indexing (ANSI-safe)
        nxt = (
            f"CASE WHEN i < size(wh) - {width} THEN wh[i + {width}] "
            f"ELSE CAST(NULL AS BIGINT) END"
        )
        struct = f"struct({ctx} AS ctx_h, {nxt} AS w_h)"
        empty = "CAST(array() AS ARRAY<STRUCT<ctx_h: BIGINT, w_h: BIGINT>>)"
    elif with_next:
        struct = f"struct({ctx} AS ctx_h, wh[i + {width}] AS w_h)"
        empty = "CAST(array() AS ARRAY<STRUCT<ctx_h: BIGINT, w_h: BIGINT>>)"
    else:
        struct = f"struct({ctx} AS ctx_h)"
        empty = "CAST(array() AS ARRAY<STRUCT<ctx_h: BIGINT>>)"
    grams = (
        f"CASE WHEN size(wh) >= {need} THEN "
        f"transform(sequence(0, size(wh) - {need}), i -> {struct}) "
        f"ELSE {empty} END"
    )
    cols = [id_col, "g.ctx_h"] + (["g.w_h"] if with_next else [])
    base = (
        docs if pretokenized
        else with_token_hashes(docs.select(id_col, text), text)
    )
    return (
        base
        .withColumn("__g__", F.expr(grams))
        .select(id_col, F.posexplode_outer("__g__").alias("__i__", "g"))
        .filter(F.col("g").isNotNull())
        .select(*cols)
    )


def ngram_counts(
    ref_docs: DataFrame,
    *,
    order: int = 2,
    text: str = "text",
    top_k: int = 1_000_000,
    caches: "CacheBag | None" = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(context, ngram, unigram) count relations for an order-n model.

    context: (ctx_h, c_n) — every (n-1)-token window, INCLUDING those at
    document end with no following token (mirrors the bigram path, whose
    denominators count all unigram occurrences); ngram: (ctx_h, w_h,
    g_n); unigram: (w1h, u_n) — the vocabulary relation whose row count
    is the smoothing V.  Each truncated to its ``top_k`` most frequent
    entries (deterministic hash tiebreak) so the model is bounded
    regardless of corpus size; at order 2 the context relation IS the
    unigram relation (one scan, aliased — not recomputed).

    At order >= 3 BOTH window relations derive from ONE terminal-nulls
    windows pass (``_doc_windows`` docstring) aggregated once to
    (ctx_h, w_h, n): ctx counts are the per-context sums (the null-w_h
    terminal rows included, preserving the all-windows denominator) and
    the n-gram counts are the non-null rows — the reference corpus
    contributes two scans total (unigram + windows) instead of three.
    Pass ``caches`` to persist that aggregated relation so the two
    derivations (and every downstream scoring consumer) reuse one
    materialization instead of re-inlining the corpus scan — the
    aggregate is distinct-n-gram-sized, far smaller than the window
    occurrences, so it is the right layer to pin.  With ``caches`` the
    unigram and windows passes also share ONE tokenize of the corpus
    (``_ref_token_frame``; round 16) — the md5 pass, the dominant
    per-row cost, runs once per training corpus, not once per pass,
    and repeated ``ngram_counts`` calls over the same corpus (the
    backoff chain trains one model per order) share the same entry via
    the CacheManager's canonical-plan dedup.
    """
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    ref = ref_docs.select(text).withColumn("__rid__", F.lit(0))
    toks = _ref_token_frame(ref, "__rid__", text, caches)
    uni = (
        toks.select(F.explode_outer("wh").alias("w1h"))
        .filter(F.col("w1h").isNotNull())
        .groupBy("w1h")
        .agg(F.count(F.lit(1)).alias("u_n"))
        .orderBy(F.desc("u_n"), "w1h")
        .limit(top_k)
    )
    if order == 2:
        ctx = uni.select(
            F.col("w1h").alias("ctx_h"), F.col("u_n").alias("c_n")
        )
        ng = (
            _doc_windows(toks, "__rid__", text, order - 1, True,
                         pretokenized=True)
            .groupBy("ctx_h", "w_h")
            .agg(F.count(F.lit(1)).alias("g_n"))
            .orderBy(F.desc("g_n"), "ctx_h", "w_h")
            .limit(top_k)
        )
        return ctx, ng, uni
    base = (
        _doc_windows(toks, "__rid__", text, order - 1, True,
                     terminal_nulls=True, pretokenized=True)
        .groupBy("ctx_h", "w_h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if caches is not None:
        base = caches.add(base)
    # ctx sums the UNTRUNCATED aggregate (truncating ng first would
    # undercount contexts whose mass is spread over tail continuations)
    ctx = (
        base.groupBy("ctx_h")
        .agg(F.sum("n").cast("long").alias("c_n"))
        .orderBy(F.desc("c_n"), "ctx_h")
        .limit(top_k)
    )
    ng = (
        base.filter(F.col("w_h").isNotNull())
        .select("ctx_h", "w_h", F.col("n").alias("g_n"))
        .orderBy(F.desc("g_n"), "ctx_h", "w_h")
        .limit(top_k)
    )
    return ctx, ng, uni


def ngram_cross_entropy_scores(
    docs: DataFrame,
    context: DataFrame,
    ngram: DataFrame,
    unigram: DataFrame,
    *,
    order: int = 2,
    id_col: str = "doc_id",
    text: str = "text",
    k_smooth: float = 0.5,
    round_dp: int = 6,
    caches: "CacheBag | None" = None,
    v: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-likelihood (nats) under the add-k
    order-n model — ``(id, n_ngrams, cross_entropy)``:

        H(doc) = -(1/m) Σ log (G(ctx, w) + k) / (C(ctx) + k·V)

    with V the unigram-relation row count.  Documents with fewer than
    ``order`` tokens have no n-grams and are omitted (no evidence
    either way — same contract as the bigram scorer).  Scale shape
    identical to the bigram path: slim hash-keyed rows, aggregate-first
    joins (broadcastable when the count relations fit, shuffle
    otherwise), one partial-aggregated rollup per document.

    ``v``: the smoothing vocabulary size.  When None it is computed
    here as ``unigram.count()`` — an EAGER driver-side job at
    call-construction time that re-scans the reference corpus unless
    the unigram relation is cached (pass ``caches``, or precompute V
    once per model and hand it in).
    """
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if k_smooth <= 0:
        raise ValueError(f"k_smooth must be > 0, got {k_smooth}")
    if caches is not None:
        context = caches.add(context)
        ngram = caches.add(ngram)
        unigram = caches.add(unigram)
    if v is None:
        v = unigram.count()  # smoothing V — one scalar, bounded by top_k
    bg = _doc_windows(docs.select(id_col, text), id_col, text, order - 1, True)
    joined = (
        bg.join(ngram, ["ctx_h", "w_h"], "left")
        .join(context, "ctx_h", "left")
        .select(
            id_col,
            (
                F.log(
                    (F.coalesce(F.col("g_n"), F.lit(0)) + F.lit(k_smooth))
                    / (
                        F.coalesce(F.col("c_n"), F.lit(0))
                        + F.lit(k_smooth) * F.lit(v)
                    )
                )
            ).alias("ll"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.round(-F.avg("ll"), round_dp).alias("cross_entropy"),
    )


def _doc_backoff_windows(
    docs: DataFrame, id_col: str, text: str, width: int
) -> DataFrame:
    """Per-document order-(width+1) windows carrying the suffix-context
    hashes of EVERY backoff level — ``(id, w_h, ctx_h_1 .. ctx_h_width)``
    where ``ctx_h_k`` is the rolling hash of the ``k`` tokens
    immediately preceding ``w_h`` (``ctx_h_1`` is the bare token hash:
    ``ngram_hash_expr`` of one element is the identity, so it joins
    directly against the unigram/bigram relations).

    Same scale shape as ``_doc_windows``: one projection + one explode,
    slim integer rows, zero shuffle — the ONLY corpus-sized relation in
    the backoff scorer, traversed once regardless of model order."""
    from etl_olho_vivo_spark.functions.hashing import ngram_hash_expr

    need = width + 1
    fields = [f"wh[i + {width}] AS w_h"]
    for k in range(1, width + 1):
        ctx = ngram_hash_expr(
            [f"wh[i + {width - k + j}]" for j in range(k)]
        )
        fields.append(f"{ctx} AS ctx_h_{k}")
    struct = "struct(" + ", ".join(fields) + ")"
    field_types = ", ".join(
        ["w_h: BIGINT"] + [f"ctx_h_{k}: BIGINT" for k in range(1, width + 1)]
    )
    grams = (
        f"CASE WHEN size(wh) >= {need} THEN "
        f"transform(sequence(0, size(wh) - {need}), i -> {struct}) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<{field_types}>>) END"
    )
    cols = [id_col, "g.w_h"] + [f"g.ctx_h_{k}" for k in range(1, width + 1)]
    return (
        with_token_hashes(docs.select(id_col, text), text)
        .withColumn("__g__", F.expr(grams))
        .select(id_col, F.posexplode_outer("__g__").alias("__i__", "g"))
        .filter(F.col("g").isNotNull())
        .select(*cols)
    )


def backoff_counts(
    ref_docs: DataFrame,
    *,
    order: int = 3,
    text: str = "text",
    top_k: int = 1_000_000,
    caches: "CacheBag | None" = None,
) -> tuple[DataFrame, dict[int, tuple[DataFrame, DataFrame]]]:
    """All count relations a stupid-backoff chain of ``order`` needs:
    ``(unigram, {m: (context_m, ngram_m) for m in 2..order})``.

    One ``ngram_counts`` call per order — the same one-scan-per-order
    layout Brants et al. 2007 used (one MapReduce per n-gram order);
    each relation is ``top_k``-bounded, so the full model is
    broadcastable regardless of corpus size.  Pass ``caches`` so the
    shared aggregates persist across the per-order derivations."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    models: dict[int, tuple[DataFrame, DataFrame]] = {}
    uni: DataFrame | None = None
    for m in range(2, order + 1):
        ctx, ng, u = ngram_counts(
            ref_docs, order=m, text=text, top_k=top_k, caches=caches
        )
        if uni is None:
            uni = u  # identical definition at every order — keep one
        models[m] = (ctx, ng)
    return uni, models


def stupid_backoff_scores(
    docs: DataFrame,
    unigram: DataFrame,
    models: dict[int, tuple[DataFrame, DataFrame]],
    *,
    order: int = 3,
    alpha: float = 0.4,
    k_smooth: float = 0.5,
    id_col: str = "doc_id",
    text: str = "text",
    round_dp: int = 6,
    caches: "CacheBag | None" = None,
    v: int | None = None,
    n_tokens: int | None = None,
) -> DataFrame:
    """Per-document stupid-backoff score (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the smoothing scheme
    DESIGNED for distributed n-gram scoring at this engine's target
    scale: no discount bookkeeping, no normalization pass, just counts
    and a fixed backoff penalty, which is why it beats Kneser-Ney on
    wall-clock at web scale while matching it on quality past ~10^10
    training tokens.

        S(w | ctx_{m-1}) = g_m(ctx, w) / c_m(ctx)      if g_m > 0
                         = α · S(w | ctx_{m-2})         otherwise
        S(w)             = (u(w) + k) / (N + k·V)       (leaf)

    emitted as ``(id, n_ngrams, sb_score)`` with ``sb_score =
    -(1/m) Σ ln S`` rounded ``round_dp`` — NOT a cross-entropy (S is
    not a probability; that is the "stupid" part), but ordered the
    same way: lower = more reference-like.  The leaf deviates from the
    paper's bare ``u/N`` by add-k smoothing so an OOV token scores
    finite instead of ``ln 0`` (the paper never scores OOV; a corpus
    gate must).

    Scale shape: the corpus-sized window relation is traversed ONCE and
    every model relation is ``top_k``-bounded (broadcastable) — order n
    costs 2(n-1)+1 broadcast-hash joins (n-gram + context per level,
    plus the unigram leaf) on slim integer keys, zero corpus shuffles
    before the per-document rollup.  ``v``/``n_tokens``
    mirror the ``ngram_cross_entropy_scores`` contract: computed here
    (two bounded jobs over the unigram relation) when not supplied.
    BOUND: like the add-k scorer, parity with an untruncated oracle
    holds while every relation stays under ``top_k``."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if k_smooth <= 0:
        raise ValueError(f"k_smooth must be > 0, got {k_smooth}")
    if sorted(models) != list(range(2, order + 1)):
        raise ValueError(
            f"models must cover orders 2..{order}, got {sorted(models)}"
        )
    if caches is not None:
        # the order-2 context is an alias projection of the unigram
        # relation; Spark's CacheManager normalizes both to the same
        # cache entry (it logs "Asked to cache already cached data" and
        # reuses the existing one — no double materialization)
        unigram = caches.add(unigram)
        models = {
            m: (caches.add(c), caches.add(g)) for m, (c, g) in models.items()
        }
    if v is None or n_tokens is None:
        # ONE bounded job yields both scalars (vocabulary size and total
        # token occurrences; the top_k-truncated tail is excluded, same
        # bound discipline as every relation here)
        row = unigram.agg(
            F.count(F.lit(1)).alias("v"), F.sum("u_n").alias("n")
        ).collect()[0]
        if v is None:
            v = row["v"]
        if n_tokens is None:
            n_tokens = row["n"] or 0

    w = _doc_backoff_windows(docs.select(id_col, text), id_col, text,
                             order - 1)
    for m in range(2, order + 1):
        ctx_m, ng_m = models[m]
        k = m - 1  # suffix-context length of the order-m model
        ng_r = ng_m.select(
            F.col("ctx_h").alias(f"__ngc{m}__"),
            F.col("w_h").alias(f"__ngw{m}__"),
            F.col("g_n").alias(f"g{m}"),
        )
        ctx_r = ctx_m.select(
            F.col("ctx_h").alias(f"__cc{m}__"), F.col("c_n").alias(f"c{m}")
        )
        w = (
            w.join(
                ng_r,
                (F.col(f"ctx_h_{k}") == F.col(f"__ngc{m}__"))
                & (F.col("w_h") == F.col(f"__ngw{m}__")),
                "left",
            )
            .drop(f"__ngc{m}__", f"__ngw{m}__")
            .join(
                ctx_r, F.col(f"ctx_h_{k}") == F.col(f"__cc{m}__"), "left"
            )
            .drop(f"__cc{m}__")
        )
    w = w.join(
        unigram.select(
            F.col("w1h").alias("__uw__"), F.col("u_n").alias("u_leaf")
        ),
        F.col("w_h") == F.col("__uw__"),
        "left",
    ).drop("__uw__")

    def _penalty(levels_down: int):
        # repeated literal multiplication, left-assoc, all-double — the
        # oracle SQL casts its alpha literals to DOUBLE so both engines
        # run the same IEEE fold (DuckDB's bare 0.4*0.4 is DECIMAL and
        # exactly 0.16, one ulp off the double product); round_dp is
        # defense in depth, not the parity mechanism
        p = None
        for _ in range(levels_down):
            p = F.lit(alpha) if p is None else p * F.lit(alpha)
        return p

    # each level requires BOTH its n-gram and its context row: past the
    # top_k bound the two relations truncate independently, and a g
    # without its c must BACK OFF (next level still scores it) rather
    # than emit ln(g/NULL) = NULL — which F.avg would silently skip
    # while n_ngrams still counts the window
    ll = F.when(
        F.col(f"g{order}").isNotNull() & F.col(f"c{order}").isNotNull(),
        F.log(F.col(f"g{order}") / F.col(f"c{order}")),
    )
    for m in range(order - 1, 1, -1):
        ll = ll.when(
            F.col(f"g{m}").isNotNull() & F.col(f"c{m}").isNotNull(),
            F.log(_penalty(order - m) * (F.col(f"g{m}") / F.col(f"c{m}"))),
        )
    leaf = (F.coalesce(F.col("u_leaf"), F.lit(0)) + F.lit(k_smooth)) / (
        F.lit(n_tokens) + F.lit(k_smooth) * F.lit(v)
    )
    ll = ll.otherwise(F.log(_penalty(order - 1) * leaf))
    return (
        w.select(id_col, ll.alias("ll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.round(-F.avg("ll"), round_dp).alias("sb_score"),
        )
    )


def entropy_cut_points(
    scores: DataFrame,
    fractions: tuple[float, ...] = (1 / 3, 2 / 3),
    col: str = "cross_entropy",
    rel_err: float = 0.001,
) -> list[float]:
    """CCNet bucket cut points: the head/middle/tail thresholds derived
    from a scored corpus's cross-entropy distribution (Wenzek et al.
    2019 keep the head+middle ~2/3).

    This runs OFFLINE, once, on the scored reference/sample — the
    resulting scalars are what you persist and hand to the absolute
    gate (``corpus --lm-max-entropy``, or ``filter_by_cross_entropy``).
    The gate itself never computes quantiles inline: approxQuantile's
    Greenwald-Khanna sketch is partition-merge-order sensitive in the
    last ulps, so an inline quantile would make the SELECTION
    partitioning-dependent; a persisted constant keeps it deterministic
    (the same reason plans/corpus.py documents the absolute threshold).

    ``fractions`` are cumulative: (1/3, 2/3) returns the cut below
    which the best-scoring third ("head") lives and the cut bounding
    head+middle.  One bounded-driver-result job over the scores.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    fr = list(fractions)
    if any(not 0.0 < f < 1.0 for f in fr) or fr != sorted(fr):
        raise ValueError(
            f"fractions must be ascending and inside (0, 1), got {fr}"
        )
    return scores.approxQuantile(col, fr, rel_err)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney (Chen & Goodman 1999) — the CCNet-proper
# smoothing option beside add-k and stupid backoff
# ---------------------------------------------------------------------------


def _doc_token_windows(
    docs: DataFrame, id_col: str, text: str, n: int,
    pretokenized: bool = False,
) -> DataFrame:
    """Per-document ``n``-token windows carrying the RAW token hashes —
    ``(id, h_1 .. h_n)``.  No rolling context hash: Kneser-Ney's
    continuation counts group by explicit word tuples (the suffix WORDS
    of a gram), which a rolling hash cannot recover.  Same scale shape
    as ``_doc_backoff_windows``: one projection + one explode, slim
    integer rows, zero shuffle."""
    fields = [f"wh[i + {j}] AS h_{j + 1}" for j in range(n)]
    struct = "struct(" + ", ".join(fields) + ")"
    field_types = ", ".join(f"h_{j + 1}: BIGINT" for j in range(n))
    grams = (
        f"CASE WHEN size(wh) >= {n} THEN "
        f"transform(sequence(0, size(wh) - {n}), i -> {struct}) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<{field_types}>>) END"
    )
    cols = [id_col] + [f"g.h_{j + 1}" for j in range(n)]
    base = (
        docs if pretokenized
        else with_token_hashes(docs.select(id_col, text), text)
    )
    return (
        base
        .withColumn("__g__", F.expr(grams))
        .select(id_col, F.posexplode_outer("__g__").alias("__i__", "g"))
        .filter(F.col("g").isNotNull())
        .select(*cols)
    )


def kn_ll_expr(order: int, discount: float = 0.75) -> str:
    """The interpolated-KN log-probability as ONE engine-neutral SQL
    string over the joined column names (``kc``/``kt_top``/``kn1p_top``
    for the top level, ``cc{l}``/``kt{l}``/``kn1p{l}`` for each lower
    level, ``cc1`` at the leaf, scalars as columns ``nbb``/``t1``/
    ``v``) — the Spark scorer applies it via ``F.expr`` and the DuckDB
    oracle embeds the IDENTICAL string, so both engines fold the same
    IEEE expression tree (the ``feature_expr`` discipline):

        p_1(w)     = max(cc1 − D, 0)/Nbb + (D·T1/Nbb) · (1/V)
        p_l(w|ctx) = max(cc_l − D, 0)/tot_l
                     + (D·N1+(ctx·)/tot_l) · p_{l−1}     (continuation
                       counts; unseen ctx falls through to p_{l−1})
        p_n(w|ctx) = max(c − D, 0)/c(ctx)
                     + (D·N1+(ctx·)/c(ctx)) · p_{n−1}    (raw counts)

    The uniform-leaf interpolation keeps every token finite (an OOV
    word scores ``(D·T1/Nbb)/V``) — the same "a corpus gate must score
    OOV" deviation the stupid-backoff leaf documents."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    d = f"CAST({discount} AS DOUBLE)"
    zero = "CAST(0 AS DOUBLE)"
    p = (
        f"(greatest(CAST(coalesce(cc1, 0) AS DOUBLE) - {d}, {zero}) / nbb"
        f" + (({d} * t1) / nbb) * (CAST(1 AS DOUBLE) / v))"
    )
    for lvl in range(2, order):
        p = (
            f"(CASE WHEN kt{lvl} IS NOT NULL THEN "
            f"greatest(CAST(coalesce(cc{lvl}, 0) AS DOUBLE) - {d}, {zero})"
            f" / kt{lvl}"
            f" + (({d} * kn1p{lvl}) / kt{lvl}) * {p} ELSE {p} END)"
        )
    p = (
        f"(CASE WHEN kt_top IS NOT NULL THEN "
        f"greatest(CAST(coalesce(kc, 0) AS DOUBLE) - {d}, {zero})"
        f" / kt_top"
        f" + (({d} * kn1p_top) / kt_top) * {p} ELSE {p} END)"
    )
    return f"ln{p}"


def kneser_ney_counts(
    ref_docs: DataFrame,
    *,
    order: int = 3,
    text: str = "text",
    top_k: int = 1_000_000,
    caches: "CacheBag | None" = None,
) -> dict:
    """All relations + scalars an order-``n`` interpolated-KN scorer
    needs, trained on ``ref_docs``:

    - ``top``: raw ``n``-gram counts ``(h_1..h_n, kc)``; ``top_ctx``:
      per-context totals ``(h_1..h_{n-1}, kt_top, kn1p_top)`` where
      ``kn1p_top`` is the distinct-continuation count N1+(ctx·).
    - for each lower level ``l`` in 2..n-1: continuation counts
      ``cont[l] = (h_1..h_l, cc{l})`` (#distinct preceding words of the
      l-gram, from the (l+1)-gram TYPE relation) and ``cont_ctx[l] =
      (h_1..h_{l-1}, kt{l}, kn1p{l})``.
    - leaf ``cc1 = (h_1, cc1)`` (#distinct predecessors per word) with
      scalars ``nbb`` (= Σcc1 = #bigram types), ``t1`` (#distinct
      words with a predecessor), ``v`` (vocabulary size).

    Every relation is ``top_k``-bounded (count-desc, key tiebreak) so
    the model broadcasts regardless of corpus size — the same bound
    discipline (and the same oracle-parity convention) as
    ``backoff_counts``.  The per-order window aggregates are the only
    corpus-sized shuffles; pass ``caches`` so each ``m``-gram base
    aggregate materializes once for its two derivations AND so every
    pass (one window pass per order, plus the vocabulary scalar) shares
    ONE tokenize of the reference corpus (``_ref_token_frame``;
    round 16 — the vocabulary count was a full re-tokenize of the
    corpus before)."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    ref = ref_docs.select(text).withColumn("__rid__", F.lit(0))
    toks = _ref_token_frame(ref, "__rid__", text, caches)

    def _bound(df, keys, by):
        # the sort column is EXPLICIT: context relations carry both a
        # total (kt*) and a distinct-continuation count (kn1p*), and
        # the documented bound is count-desc on the TOTAL — inferring
        # "last column" would silently truncate ctx relations by kn1p
        order_cols = [F.desc(by)] + [F.col(k) for k in keys]
        return df.orderBy(*order_cols).limit(top_k)

    bases: dict[int, DataFrame] = {}
    for m in range(2, order + 1):
        hs = [f"h_{j + 1}" for j in range(m)]
        base = (
            _doc_token_windows(toks, "__rid__", text, m, pretokenized=True)
            .groupBy(*hs)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        if caches is not None:
            base = caches.add(base)
        bases[m] = base
    n_hs = [f"h_{j + 1}" for j in range(order)]
    top = _bound(
        bases[order].select(*n_hs, F.col("n").alias("kc")), n_hs, "kc"
    )
    top_ctx = _bound(
        bases[order]
        .groupBy(*n_hs[:-1])
        .agg(
            F.sum("n").cast("long").alias("kt_top"),
            F.count(F.lit(1)).alias("kn1p_top"),
        ),
        n_hs[:-1],
        "kt_top",
    )
    cont: dict[int, DataFrame] = {}
    cont_ctx: dict[int, DataFrame] = {}
    for lvl in range(order - 1, 1, -1):
        src = bases[lvl + 1]
        hs = [f"h_{j + 1}" for j in range(lvl + 1)]
        # continuation counts: one row per (l+1)-gram TYPE, counted by
        # trailing l-gram — rename the suffix columns to h_1..h_l so
        # scoring joins align on a uniform key layout
        cc = (
            src.groupBy(*hs[1:])
            .agg(F.count(F.lit(1)).alias(f"cc{lvl}"))
            .select(
                *[
                    F.col(hs[1 + j]).alias(f"h_{j + 1}")
                    for j in range(lvl)
                ],
                f"cc{lvl}",
            )
        )
        if caches is not None:
            cc = caches.add(cc)
        cont[lvl] = _bound(
            cc, [f"h_{j + 1}" for j in range(lvl)], f"cc{lvl}"
        )
        cont_ctx[lvl] = _bound(
            cc.groupBy(*[f"h_{j + 1}" for j in range(lvl - 1)]).agg(
                F.sum(f"cc{lvl}").cast("long").alias(f"kt{lvl}"),
                F.count(F.lit(1)).alias(f"kn1p{lvl}"),
            ),
            [f"h_{j + 1}" for j in range(lvl - 1)],
            f"kt{lvl}",
        )
    cc1_full = bases[2].groupBy("h_2").agg(
        F.count(F.lit(1)).alias("cc1")
    ).select(F.col("h_2").alias("h_1"), "cc1")
    if caches is not None:
        cc1_full = caches.add(cc1_full)
    # the three leaf scalars in ONE action: the two one-row aggregates
    # cross-joined, so training pays one planning and event round for
    # them instead of two
    scal = (
        cc1_full.agg(
            F.sum("cc1").cast("long").alias("nbb"),
            F.count(F.lit(1)).alias("t1"),
        )
        .crossJoin(
            toks.select(F.explode_outer("wh").alias("h"))
            .filter(F.col("h").isNotNull())
            .agg(F.count_distinct("h").alias("v"))
        )
        .collect()[0]
    )
    nbb, t1, v = scal["nbb"] or 0, scal["t1"], scal["v"]
    if nbb == 0 or v == 0:
        raise ValueError(
            "Kneser-Ney reference corpus has no bigrams/vocabulary — "
            "every probability would be degenerate; fix the reference "
            "input"
        )
    return {
        "order": order,
        "top": top,
        "top_ctx": top_ctx,
        "cont": cont,
        "cont_ctx": cont_ctx,
        "cc1": _bound(cc1_full, ["h_1"], "cc1"),
        "nbb": int(nbb),
        "t1": int(t1),
        "v": int(v),
    }


def kneser_ney_scores(
    docs: DataFrame,
    counts: dict,
    *,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text: str = "text",
    round_dp: int = 6,
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """Per-document interpolated Kneser-Ney cross-entropy — ``(id,
    n_ngrams, kn_score)`` with ``kn_score = −(1/m) Σ ln P_KN`` rounded
    ``round_dp``, lower = more reference-like.  ``counts`` is the
    ``kneser_ney_counts`` structure.

    Scale shape: identical to the stupid-backoff scorer — ONE
    corpus-sized window relation, ``2(n−1)+1`` broadcast joins against
    ``top_k``-bounded relations on slim integer keys, zero corpus
    shuffles before the per-document rollup.  The probability itself is
    one shared engine-neutral expression (``kn_ll_expr``)."""
    order = counts["order"]
    w = _doc_token_windows(docs.select(id_col, text), id_col, text, order)
    # (relation, window start position, key width): the level-l gram
    # occupies window positions n-l+1..n, and its CONTEXT relation keys
    # the PREFIX of that span (positions n-l+1..n-1) — plain suffix
    # alignment would wrongly join the context on the trailing columns
    rels: list[tuple[DataFrame, int, int]] = [
        (counts["top"], 1, order),
        (counts["top_ctx"], 1, order - 1),
    ]
    for lvl in range(order - 1, 1, -1):
        rels.append((counts["cont"][lvl], order - lvl + 1, lvl))
        rels.append((counts["cont_ctx"][lvl], order - lvl + 1, lvl - 1))
    rels.append((counts["cc1"], order, 1))
    for i, (rel, start, width) in enumerate(rels):
        if caches is not None:
            rel = caches.add(rel)
        keyed = rel.select(
            *[
                F.col(f"h_{j + 1}").alias(f"__r{i}k{j}__")
                for j in range(width)
            ],
            *[c for c in rel.columns if not c.startswith("h_")],
        )
        cond = None
        for j in range(width):
            eq = F.col(f"h_{start + j}") == F.col(f"__r{i}k{j}__")
            cond = eq if cond is None else cond & eq
        w = w.join(keyed, cond, "left").drop(
            *[f"__r{i}k{j}__" for j in range(width)]
        )
    w = w.withColumns(
        {
            "nbb": F.lit(counts["nbb"]),
            "t1": F.lit(counts["t1"]),
            "v": F.lit(counts["v"]),
        }
    )
    ll = F.expr(kn_ll_expr(order, discount))
    return (
        w.select(id_col, ll.alias("ll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.round(-F.avg("ll"), round_dp).alias("kn_score"),
        )
    )
