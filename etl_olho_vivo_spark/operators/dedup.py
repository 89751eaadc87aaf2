"""Deduplication operators: exact, MinHash-LSH near-dup, SimHash.

Scale design (the 100 TB story):
- signatures (shingles → MinHash → band keys) are computed **per row with
  array higher-order functions** — no explode, no shuffle, pure map;
- the only shuffles are (1) the LSH band self-join on ``(band, key)``,
  one 64-bit key per band — candidate generation touches just B small
  keys per doc, never the O(n²) cross product — and (2) the final verify
  join, which is bounded by the candidate count;
- band keys are near-uniform (``xxhash64`` of the band's MinHash values),
  so the band join is skew-free; a hot band (e.g. boilerplate) is exactly
  what AQE skew-split handles;
- every pairing — MinHash and Hamming, batch self-join and batch against
  store — goes through one band join, ``_band_join``, which owns the
  join hint and the pair guard.

MinHash-LSH follows the classic banding construction (Broder; Leskovec et
al., "Mining of Massive Datasets" ch.3) — K hashes, B bands × r rows:
P(candidate) = 1 − (1 − J^r)^B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.caching import SESSION_BAG, CacheBag
from etl_olho_vivo_spark.functions.hashing import (
    P,
    minhash_perm_expr,
    shingle3_expr,
    spark_token_hash,
)

NUM_HASHES = 8
ROWS_PER_BAND = 2
NUM_BANDS = NUM_HASHES // ROWS_PER_BAND
SIMHASH_BITS = 16            # fingerprint width (matched by the SQL oracle)
SIMHASH_NEAR_DUP_BITS = 32   # pairing width: segments must track log2(n)


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the first row (min ``order_col``) per exact key — the scalable
    groupBy form of ``dropDuplicates`` with a deterministic survivor."""
    return df.groupBy(*keys).agg(
        F.min(order_col).alias("keep_" + order_col),
        F.count(F.lit(1)).alias("n_dupes"),
    )


def dedup_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    mode: str = "keep_first",
    min_count: int = 2,
    drop_empty_docs: bool = True,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4/CCNet pass, public papers:
    Raffel et al. 2020 §2.2, Wenzek et al. 2019): rewrite every
    document with its duplicated lines removed, preserving line order.
    ``sep`` is the line delimiter ("\\n" for real corpora; the driver
    oracle uses " " because the synthetic docs are single-line).

    Modes:

    - ``keep_first`` — of every line occurring ≥ ``min_count`` times
      corpus-wide, keep only the occurrence with the smallest
      (id, position) and delete the rest (C4's "keep one" form);
    - ``drop_boilerplate`` — delete ALL occurrences of any line
      occurring ≥ ``min_count`` times (the CCNet form: a line repeated
      across many pages is navigation/boilerplate, and the "first" page
      deserves it no more than the others).  ``min_count`` defaults to
      2 but is typically raised (e.g. 10) in this mode.

    Scale shape — this is a corpus-granularity operator, and LINE TEXT
    CROSSES EXACTLY ONE EXCHANGE (the final doc-level join); every
    line-hash-keyed exchange carries only slim ``(lh, id, pos)`` rows:
    (1) per-hash occurrence stats come from a ``groupBy("lh")``
    AGGREGATE (count + min(struct(id, pos))), not a window — the
    window form serializes every occurrence of one hash into a single
    task's sort buffer, and the heavily-repeated boilerplate line a
    corpus-wide dedup exists to catch ("Privacy Policy" across
    billions of pages) is precisely such a hot key; the aggregate
    absorbs hot keys map-side (partial aggregation) into ONE slim row
    per hash.  (2) the slim line keys join back to that stats relation
    on ``lh`` — a join, not a window, so AQE skew-split can further
    divide a hot hash's probe partition, and a hot hash concentrates
    ~20-byte keys, never text.  (3) the rows marked DELETE collapse to
    one ``(id, [pos...])`` list per affected document (bounded by the
    document's own line count), and the original doc rows join that
    relation on ``id`` — unique keys, so the one text-bearing exchange
    is skew-free by construction — and are rebuilt in place with a
    positional ``filter`` over ``split(text)``: O(L·|deleted|) per doc,
    |deleted| ≪ L on real corpora because only duplicated lines carry
    positions.  (The round-7 formulation shuffled full line text on
    ``lh`` AND re-grouped it on ``id`` — two corpus-text exchanges with
    a hot-key hazard; this shape was the advisor-prompted fix.)  Empty
    lines are preserved as document structure, not dedup'd (every
    blank line would otherwise collapse corpus-wide into one) — and
    they BYPASS the line-hash exchanges entirely: ``md5('')`` would be
    a guaranteed corpus-wide hot key on web text (~10% blank lines),
    and since blanks never enter the hash relation they can never be
    marked for deletion.
    """
    if mode not in ("keep_first", "drop_boilerplate"):
        raise ValueError(
            f"mode must be keep_first|drop_boilerplate, got {mode!r}"
        )
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    import re

    # F.split takes a JAVA REGEX: escape the separator so "." or "|"
    # separators split literally (re.escape only escapes regex
    # metacharacters — compatible with Java Pattern for those).
    # Blank lines are excluded BEFORE hashing — they bypass every hash
    # exchange and can never be deleted (see docstring) — and the line
    # text is dropped in the same projection: only (id, pos, lh) ever
    # shuffles on the line hash.
    hashed = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text), re.escape(sep), -1)).alias(
            "pos", "line"
        ),
    ).filter(F.col("line") != "").select(
        id_col, "pos", F.md5("line").alias("lh")
    )
    # one slim row per distinct line hash: occurrence count + the
    # first (id, pos) — map-side partial aggregation flattens hot keys
    stats = hashed.groupBy("lh").agg(
        F.count(F.lit(1)).alias("__lh_n__"),
        F.min(F.struct(id_col, "pos")).alias("__lh_first__"),
    )
    # symmetric corpus-scaled joins (line stats, deletion lists) pinned
    # merge, like drop_repeated_spans: AQE's runtime broadcast of a
    # corpus-scaled side dies under a starved driver (30× probe), while
    # sort-merge spills and keeps AQE's skew-split
    joined = hashed.join(stats.hint("merge"), "lh")
    frequent = F.col("__lh_n__") >= F.lit(min_count)
    if mode == "keep_first":
        delete = frequent & ~(
            (F.col(id_col) == F.col(f"__lh_first__.{id_col}"))
            & (F.col("pos") == F.col("__lh_first__.pos"))
        )
    else:
        delete = frequent
    # one (id, [pos...]) row per document that loses at least one line
    # — bounded by the doc's own line count, usually far smaller
    del_pos = (
        joined.filter(delete)
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__del__"))
    )
    # rebuild in place: positional filter over the re-split text keeps
    # original order for free (no collect_list + array_sort pass) and
    # costs O(L·|deleted|) per doc; docs with no deletions carry an
    # empty list through the coalesce
    out = (
        docs.join(del_pos.hint("merge"), id_col, "left")
        .withColumn(
            "__del__",
            F.coalesce("__del__", F.expr("CAST(array() AS ARRAY<INT>)")),
        )
        .withColumn(
            text,
            F.concat_ws(
                sep,
                F.filter(
                    F.split(F.col(text), re.escape(sep), -1),
                    lambda line, i: ~F.array_contains(F.col("__del__"), i),
                ),
            ),
        )
        .drop("__del__")
    )
    if drop_empty_docs:
        out = out.filter(F.length(F.col(text)) > 0)
    return out.select(*docs.columns)


def drop_repeated_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 5,
    mode: str = "keep_first",
    min_count: int = 2,
    drop_empty_docs: bool = True,
) -> DataFrame:
    """Corpus-wide repeated-SPAN removal — the shingle approximation of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": repeated ≥50-token substrings
    are removed corpus-wide; here the unit is a ``k``-word gram, the
    same rolling-hash grams the decontamination operator uses).

    A word position is deleted when it is covered by any REMOVABLE
    occurrence of a ``k``-gram whose corpus-wide occurrence count is
    ≥ ``min_count``; under ``keep_first`` the single globally-first
    occurrence of each gram — smallest (id, gram position) — is not
    removable (its words survive unless another removable gram overlaps
    them); ``drop_all`` removes every occurrence (the boilerplate
    form).  Documents shorter than ``k`` words have no grams and are
    never touched.  Survivor words are re-joined in order; empty
    results are dropped or kept per ``drop_empty_docs``, as in
    ``dedup_lines``.

    Scale shape — deliberately identical to ``dedup_lines``'s hardened
    form: gram occurrences are slim (hash, id, pos) rows; occurrence
    stats come from a ``groupBy(gram)`` AGGREGATE (map-side partials
    flatten the hot boilerplate gram), the probe is a JOIN
    (AQE-skew-splittable), covered positions are an integer explode of
    at most ``k`` per removable occurrence, survivors come from a
    LEFT ANTI join on (id, pos), and reassembly is one doc-keyed
    aggregation bounded by a single document's length.  The gram pass
    itself is pure map (one materialized token-hash array per doc —
    the ``with_token_hashes`` O(tokens²)-inlining guard applies, and
    the gram explode is ``posexplode_outer`` for the same
    InferFiltersFromGenerate reason as decontam).
    """
    if mode not in ("keep_first", "drop_all"):
        raise ValueError(f"mode must be keep_first|drop_all, got {mode!r}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from etl_olho_vivo_spark.functions.hashing import ngram_hash_expr

    gram = ngram_hash_expr([f"wh[i + {j}]" for j in range(k)])
    grams_arr = (
        f"CASE WHEN size(wh) >= {k} THEN "
        f"transform(sequence(0, size(wh) - {k}), i -> {gram}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    occ = (
        with_token_hashes(docs.select(id_col, text), text)
        .withColumn("__gs__", F.expr(grams_arr))
        .select(
            id_col,
            F.posexplode_outer("__gs__").alias("gpos", "gh"),
        )
        .filter(F.col("gh").isNotNull())
    )
    stats = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.min(F.struct(id_col, "gpos")).alias("__first__"),
    )
    removable = F.col("__n__") >= F.lit(min_count)
    if mode == "keep_first":
        removable = removable & ~(
            (F.col(id_col) == F.col(f"__first__.{id_col}"))
            & (F.col("gpos") == F.col("__first__.gpos"))
        )
    # every join below is SYMMETRIC corpus-scaled (gram stats, covered
    # positions, rebuilt docs all grow with the corpus) — pinned merge
    # per the round-6 join-strategy hardening: AQE's runtime broadcast
    # of such a side dies with "Not enough memory to build and
    # broadcast" under a starved driver (reproduced by the 30× probe in
    # tests/test_memory_probe.py), while sort-merge spills both sides
    # and still gets AQE's skew-split
    covered = (
        occ.join(stats.hint("merge"), "gh")
        .filter(removable)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(k - 1))
            ).alias("pos"),
        )
    )
    tokens = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text), " ", -1)).alias("pos", "word"),
    )
    survivors = tokens.join(
        covered.hint("merge"), [id_col, "pos"], "left_anti"
    )
    rebuilt = survivors.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias(text)
    )
    base = docs.drop(text)
    if drop_empty_docs:
        out = base.join(
            rebuilt.filter(F.length(F.col(text)) > 0).hint("merge"),
            id_col,
        )
    else:
        out = base.join(rebuilt.hint("merge"), id_col, "left").withColumn(
            text, F.coalesce(F.col(text), F.lit(""))
        )
    return out.select(*docs.columns)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Scale-ADAPTIVE pre-compute spread (round 15, guide §2.5 "input
    skew: one huge unsplittable file... repartition immediately after
    the read").

    The expensive per-row compute downstream of a scan (md5 token
    hashing, fingerprint folds, n-gram windows) inherits the SCAN's
    parallelism.  A single-file, single-row-group input — the shape of
    every local test table, and of any badly-compacted landing zone —
    yields ONE input split, serializing the whole corpus's compute on
    one core (measured: simhash32 at sf0.1 runs 3.9× faster with the
    spread).  When the scan already provides at least the session's
    default parallelism — every healthy at-scale layout — this is a
    NO-OP: no exchange is added, so the at-scale plan shape is
    unchanged and no text payload is ever shuffled for nothing.

    Round-robin (keyless) on purpose: a hash key derived from content
    would re-serialize a duplicate-heavy corpus onto hot partitions,
    and the deterministic sort-before-repartition keeps retries safe.
    Streaming frames pass through untouched — their parallelism belongs
    to the source.

    Target = cores/4, NOT cores (measured, interleaved min-of-3 at
    sf0.1 on local[32]: minhash 3.56 s off / 1.62 s at 8 / 3.60 s at
    32).  The spread frames are typically persisted and consumed by
    SEVERAL downstream stages in one action; a lazily-materialized
    cache computes each block under the BlockManager's per-block lock,
    so every concurrent consumer stage schedules its own full task set
    and the waiters HOLD executor slots while the computing tasks
    queue behind them — spread × concurrent-consumers must stay within
    the core count, and /4 covers the worst in-repo fan-out (the
    MinHash signature's three consumers plus slack) while still lifting
    the compute off a single core.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces
    physical planning of the input, measured 0.1-0.2 s per fresh scan
    plan and multi-second on a deep lineage — and the builders rebuild
    semantically identical plans on every call (bench reruns, the
    per-order model builders).  The decision is therefore MEMOIZED on
    the analyzed plan's semantic hash (round 16): a repeat probe costs
    one py4j hash call (~1 ms) instead of re-planning.  Keyed per
    session, bounded; a stale entry can only mis-size parallelism for
    a same-session same-plan input whose underlying files changed —
    a performance heuristic, never a correctness surface."""
    if df.isStreaming:
        return df
    target = max(2, df.sparkSession.sparkContext.defaultParallelism // 4)
    key = (
        id(df.sparkSession._jsparkSession),
        df._jdf.queryExecution().analyzed().semanticHash(),
        target,
    )
    wide = _SPREAD_MEMO.get(key)
    if wide is None:
        wide = df.rdd.getNumPartitions() >= target
        if len(_SPREAD_MEMO) >= 4096:  # bound the per-process footprint
            _SPREAD_MEMO.clear()
        _SPREAD_MEMO[key] = wide
    if wide:
        return df
    return df.repartition(target)


#: spread_small_scan's memoized (session, plan-hash, target) → "already
#: wide enough" decisions — see its docstring
_SPREAD_MEMO: dict[tuple, bool] = {}


def with_token_hashes(
    df: DataFrame, text: str = "text", out: str = "wh",
    spread: bool = True,
) -> DataFrame:
    """Materialize the per-token md5-hash array ONCE as a column.

    Performance-critical: the naive formulation inlines the whole
    ``transform(split(text), w -> md5(w))`` array at every ``element_at``
    site inside a per-index lambda, and Spark re-evaluates the inner
    ``transform`` on each outer-lambda invocation — O(tokens²) md5 calls
    per document (measured 156 s for 5k docs at sf0.1).  Materialized as
    its own projection the array is computed once per row; Catalyst's
    CollapseProject will not inline it back because a non-cheap alias
    referenced more than once is never duplicated.

    Every caller is a fingerprint/window/aggregate shape (never a
    pinned zero-exchange projection), so the adaptive
    ``spread_small_scan`` rides here: the md5 pass is the single most
    repeated heavy compute in the engine and must not inherit a
    one-split scan's parallelism.
    """
    wh = f"transform(split({text}, ' '), w -> {spark_token_hash('w')})"
    base = spread_small_scan(df) if spread else df
    return base.withColumn(out, F.expr(wh))


def with_shingles(
    df: DataFrame, text: str = "text", out: str = "sh",
    spread: bool = True,
) -> DataFrame:
    """Distinct word-3-gram shingle hashes per document (array column).

    ``spread=False`` opts a call site out of the adaptive pre-compute
    spread (see ``with_token_hashes``) when its downstream is a single
    immediate aggregate that re-exchanges anyway (the bloom bitmap
    path measured +0.1 s from the extra exchange, everything else
    measured flat-or-faster)."""
    sh = shingle3_expr("wh[i]", "wh[i + 1]", "wh[i + 2]")
    expr = (
        f"CASE WHEN size(wh) >= 3 THEN "
        f"array_distinct(transform(sequence(0, size(wh) - 3), i -> {sh})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        with_token_hashes(df, text, spread=spread)
        .withColumn(out, F.expr(expr))
        .drop("wh")
    )


def minhash_signature(
    df: DataFrame,
    text: str = "text",
    num_hashes: int = NUM_HASHES,
    out: str = "minhash",
) -> DataFrame:
    """K-element MinHash signature per document (array<bigint>).

    Documents too short to shingle are pruned BEFORE any hash compute with
    a cheap predicate on the raw text.  Filtering on ``size(sh) > 0``
    *after* would be catastrophic: predicate pushdown substitutes the full
    shingle expression (token-hash array inlined at every element access)
    into the filter condition, re-evaluating the md5 transform per element
    — O(tokens²) per row (measured 40× slowdown at sf0.1).
    """
    # per-k expressions from the ONE shared permutation definition
    # (functions/hashing.py emits both engines' forms — inlining the
    # formula here is how Spark/DuckDB minhash parity would drift)
    mins = ", ".join(
        f"array_min(transform(sh, s -> {minhash_perm_expr('s', k)}))"
        for k in range(num_hashes)
    )
    sig = f"array({mins})"
    pre = df.filter(F.size(F.split(F.col(text), " ")) >= 3)
    return with_shingles(pre, text).withColumn(out, F.expr(sig))


def lsh_bands(df: DataFrame, sig_col: str = "minhash") -> DataFrame:
    """Explode the signature into slim (doc_id, band, key) rows: one
    64-bit ``key`` per band, the ``xxhash64`` of the band's
    ``ROWS_PER_BAND`` signature values.

    Deliberately does NOT carry the shingle array: the band join should
    shuffle ~20-byte key rows, not text-sized shingle payloads.

    Two different band slices can share a key.  Verification is exact
    Jaccard, so a collision only adds a candidate, never a verified pair
    below the threshold; the chance that any collision occurs is about
    (band-key rows)²/2⁶⁴, under 10⁻⁶ for a million documents × 4 bands.
    """
    bands = (
        f"transform(sequence(0, {NUM_BANDS - 1}), b -> "
        f"struct(b AS band, xxhash64("
        f"slice({sig_col}, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND})) AS key))"
    )
    return df.select("doc_id", F.inline(F.expr(bands)))


def _band_join(left: DataFrame, right: DataFrame, *, self_join: bool) -> DataFrame:
    """One row per (band, key) shared by a left and a right doc.

    Both sides are band-key frames ``(doc_id, band, key[, payload])``
    with a bigint ``key``.  The result is ``(doc_a[, payload_a], doc_b[,
    payload_b])`` for a self-join, ``doc_new``/``doc_old`` otherwise.  A
    pair sharing k bands appears k times; callers de-duplicate.

    Self-join: both sides are the same corpus-sized relation, so
    ``merge`` is pinned.  Unhinted, AQE's runtime size estimate can pick
    a broadcast (a corpus-scaled broadcast is the plan that dies first
    at scale), and shuffle_hash builds an in-memory map that cannot
    spill; the starved-JVM probe showed both OOM at 30× density while
    sort-merge spills and completes.  ``doc_a < doc_b`` drops
    self-pairs and keeps one orientation.

    Batch against store: unhinted.  A merge pin would shuffle and sort
    the whole store on every batch; AQE's broadcast pick uses actual
    runtime bytes, so a normal batch broadcasts its key rows and the
    store is only scanned, while a corpus-sized catch-up batch falls
    back to a spillable sort-merge join.  ``doc_new != doc_old``: ids
    are globally unique, so an equal id is the batch's own earlier
    write seen again after an at-least-once replay (possibly folded
    into a compacted base that partition exclusion cannot see); it
    would match itself and delete itself from the corpus.
    """
    a, b = ("doc_a", "doc_b") if self_join else ("doc_new", "doc_old")
    lhs = left.withColumnsRenamed({"doc_id": a, "payload": "payload_a"})
    rhs = right.withColumnsRenamed({"doc_id": b, "payload": "payload_b"})
    if self_join:
        lhs = lhs.hint("merge")
    guard = F.col(a) < F.col(b) if self_join else F.col(a) != F.col(b)
    return lhs.join(rhs, ["band", "key"]).filter(guard).drop("band", "key")


def candidate_pairs(banded: DataFrame) -> DataFrame:
    """Doc-id pairs sharing any (band, key) — the LSH candidates."""
    return _band_join(banded, banded, self_join=True).dropDuplicates(
        ["doc_a", "doc_b"]
    )


def _jaccard_pairs(
    pairs: DataFrame, left: DataFrame, right: DataFrame, threshold: float,
    *, self_join: bool,
) -> DataFrame:
    """Verify candidate ``pairs`` (two id columns) by exact Jaccard:
    join each id back to its ``sh`` in ``left`` / ``right`` (doc_id, sh,
    ...) frames and keep ``inter/union >= threshold``.  Hints follow
    ``_band_join``: merge for a self-join (a shuffled-hash build map of
    corpus-scaled shingle arrays is the first thing to OOM), none
    against a store, so AQE broadcasts the batch-scaled sides.
    """
    a, b = pairs.columns
    sh_a = left.select(F.col("doc_id").alias(a), F.col("sh").alias("sh_a"))
    sh_b = right.select(F.col("doc_id").alias(b), F.col("sh").alias("sh_b"))
    if self_join:
        sh_a, sh_b = sh_a.hint("merge"), sh_b.hint("merge")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sh_a, a)
        .join(sh_b, b)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def near_duplicates(
    df: DataFrame | None = None,
    text: str = "text",
    threshold: float = 0.5,
    persist: bool = True,
    sig: DataFrame | None = None,
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Returns (doc_a, doc_b, jaccard ≥ threshold).  Jaccard is an int/int
    ratio over distinct shingle sets — engine-exact.

    The signature frame is the **signature store**: persisted once
    (MEMORY_AND_DISK) and consumed three times — band generation plus both
    sides of the verify join.  Without it the whole text-scan + md5 +
    shingle pipeline runs once per consumer (measured 4 full scans in the
    unpersisted plan); at 100 TB signatures are ~1% of corpus size, so
    this trades a tiny cache for 3 redundant scans of the corpus.

    Cache lifecycle: pass ``caches`` (a ``caching.CacheBag``) to own the
    signature cache's release — the caller unpersists after materializing
    the pairs.  Without a bag the cache has session lifetime (LRU-bounded).
    Alternatively pass a precomputed ``sig`` frame — (doc_id, sh, minhash),
    e.g. a slice of one shared ``minhash_signature`` pass or an
    ``append_store.read_store`` frame — and no cache is created here at all
    (the caller owns the signature relation's lifetime).
    """
    if sig is None:
        if df is None:
            raise ValueError("near_duplicates needs df or a precomputed sig")
        sig = minhash_signature(df, text).select("doc_id", "sh", "minhash")
        if persist:
            sig = _persist(sig, caches)
    pairs = candidate_pairs(lsh_bands(sig))
    return _jaccard_pairs(pairs, sig, sig, threshold, self_join=True)


def _persist(df: DataFrame, caches) -> DataFrame:
    """Persist MEMORY_AND_DISK, tracked in ``caches`` when provided.

    With no bag the cache is registered in the module-level
    ``SESSION_BAG`` instead of being raw-persisted: a raw persist has NO
    release path (the CacheManager pins the plan — and any disk blocks —
    until session end), while SESSION_BAG entries are released by every
    harness between queries (``caching.release_session_caches``).  A
    released cache that is still referenced simply recomputes — never
    wrong rows, only a cold re-run.
    """
    return (caches if caches is not None else SESSION_BAG).add(df)


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 15,
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, component).

    The component label is the MIN doc_id reachable through the pair
    graph.  Iterative hash-min label propagation: each round pushes
    every node's current label across its edges and keeps the minimum
    (one join + one groupBy per round, both hash-shuffles on doc_id);
    rounds needed = graph diameter, and near-dup clusters are shallow,
    so convergence is typically 2-4 rounds.  Deterministic: min() over
    any orderable id type.  Raises after ``max_iter`` rounds without a
    fixpoint rather than return a silently-wrong clustering.

    Edges: one pass over ``pairs`` inlines each row in both orientations
    into a persisted symmetric edge frame, which the node set and every
    round read, so an expensive pair plan (MinHash verify joins) runs
    once.  One bounded probe of that frame settles the empty graph (most
    streaming micro-batches): no round runs, and the empty result is a
    ``limit(0)``, which reads nothing, so it outlives the edge cache.

    Result lifecycle: every round's labels are a ``CacheBag.cut``, so
    round k's plan starts from one leaf instead of nesting the cached
    build plans of rounds 1..k-1 (at 10k documents the nested text
    grew until ``explainString`` ran the driver out of memory).  Each
    round releases the previous round's blocks once its own are stored;
    the final cut moves to ``caches`` (or the session bag), and the
    caller releases it after consuming.

    Per round: ONE action.  The old label is one tagged branch of the
    union the groupBy already consumes, so the new label ``min(comp)``
    and the old one ``min(comp) WHERE old`` come out of the same
    partial-aggregating shuffle, and the fixpoint flag is an aggregate
    over the labels the round stores anyway.  min and < work for string
    ids too, where a sum()-based checksum would NULL out.  An extra
    per-round join of old and new labels measured slower: it defeats
    AQE's post-shuffle coalescing.
    """
    both = pairs.select(F.inline(F.array(
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
    ))).persist()
    held = CacheBag()  # the current round's labels
    try:
        if both.limit(1).count() == 0:
            return both.select(
                F.col("src").alias("doc_id"), F.col("dst").alias("component")
            ).limit(0)
        # symmetric edges: every node is some edge's src
        nodes = both.select(F.col("src").alias("node")).distinct()
        labels = held.cut(nodes.withColumn("comp", F.col("node")))
        for _ in range(max_iter):
            msgs = both.join(
                labels, both.src == labels.node
            ).select(
                F.col("dst").alias("node"), "comp",
                F.lit(False).alias("old"),
            )
            stepped = (
                labels.select("node", "comp", F.lit(True).alias("old"))
                .union(msgs)
                .groupBy("node")
                .agg(
                    F.min("comp").alias("comp"),
                    # every node has exactly ONE old row (labels covers
                    # the full node set; msgs only re-mentions nodes),
                    # so min() recovers its value exactly
                    F.min(F.when(F.col("old"), F.col("comp"))).alias(
                        "__old_comp__"
                    ),
                )
            )
            step = CacheBag()
            new_labels = step.cut(stepped.select(
                "node", "comp",
                # min-labels are monotone ↓: moved ⇔ strictly smaller
                (F.col("comp") < F.col("__old_comp__")).alias("__chg__"),
            ))
            # ONE action: the full-scan aggregate stores the round's
            # labels AND returns the fixpoint flag
            changed = bool(
                new_labels.agg(F.max("__chg__")).collect()[0][0]
            )
            held.release()
            held, labels = step, new_labels
            if not changed:  # fixpoint
                (caches if caches is not None else SESSION_BAG).take(held)
                return labels.select(
                    F.col("node").alias("doc_id"),
                    F.col("comp").alias("component"),
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter — raise it)"
        )
    finally:
        held.release()
        both.unpersist()


def keep_best_per_component(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    a: str = "doc_a",
    b: str = "doc_b",
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """Cluster-representative selection over near-dup pairs — the
    SemDeDup/FineWeb resolution step: group the pair graph into
    connected components, keep exactly ONE document per component (the
    highest-``quality_col``, ties to the smallest id), mark the rest as
    duplicates to drop.

    Returns (id_col, component, quality_col, kept) for every node of
    the pair graph; docs in no pair are not emitted (they are kept,
    ``resolve_drops``' keep_best convention).  Ids must
    be numeric (the smallest-id tiebreak rides the ``-id`` component of
    one max(struct) aggregate); string-keyed corpora map ids through a
    dense numeric surrogate first, which they need for the MinHash
    band join anyway.

    Scale shape: components come from the iterative hash-min
    propagation of :func:`connected_components` (diameter-bounded
    rounds, all exchanges on the doc id); the per-component argmax is a
    ``groupBy(component).agg(max(struct(quality, -id)))`` — a partial
    (map-side-combining) aggregate that a window over ``component``
    would NOT be: one viral boilerplate cluster with 10^7 members would
    serialize a window's rank into a single task, while max(struct)
    reduces it tree-wise.  The kept-id join-back is on ``component``
    (cardinality = number of clusters, hot only if one cluster
    dominates — which AQE skew-split handles since the probe side
    carries slim rows).
    """
    comps = connected_components(pairs, a=a, b=b, caches=caches)
    # labeled feeds BOTH the per-component argmax and the final kept
    # join — persisted, or each side re-runs the comps-quality join
    # (measured: the unpersisted final join alone cost 6 s at sf0.1)
    labeled = _persist(
        comps.join(quality.select(id_col, quality_col), id_col), caches
    )
    best = (
        labeled.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("nid"),
                )
            ).alias("m")
        )
        .select("component", (-F.col("m.nid")).alias("kept_id"))
    )
    return labeled.join(best, "component").select(
        id_col,
        "component",
        quality_col,
        (F.col(id_col) == F.col("kept_id")).alias("kept"),
    )


RESOLUTIONS = ("greedy", "components", "keep_best")


def resolve_drops(
    pairs: DataFrame,
    resolution: str,
    *,
    caches: "CacheBag | None",
    quality: DataFrame | None = None,
) -> DataFrame:
    """The doc ids a near-dup pair graph drops → (doc_id).

    ``pairs`` is (doc_a, doc_b, ...) with ``doc_a < doc_b``, as every
    pairing in this module emits; a doc in no pair is never dropped.
    ``resolution`` is one of ``RESOLUTIONS``:

    - ``"greedy"``: every pair drops its larger id, ``doc_b`` — one
      distinct, no iteration.  It can keep a doc that is only
      *transitively* near a survivor: pairs (2,3) and (1,3) drop 3 and
      keep both 1 and 2.
    - ``"components"``: each :func:`connected_components` cluster keeps
      its min id.  Exact, and a superset of greedy's drops: a pair's
      ``doc_b`` shares a cluster with the smaller ``doc_a``, so it is
      never the cluster's min.
    - ``"keep_best"``: each cluster keeps its highest-quality doc, ties
      to the smallest id (:func:`keep_best_per_component`): as many
      drops as components, not always the same ones.  It needs
      ``quality``, a (doc_id, score) frame.

    The clustering resolutions keep their caches in ``caches`` (the
    session bag when None) until the caller releases it.
    """
    if resolution not in RESOLUTIONS:
        raise ValueError(
            f"dedup_resolution must be {'|'.join(RESOLUTIONS)}, "
            f"got {resolution!r}"
        )
    if resolution == "greedy":
        return pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    if resolution == "components":
        labels = connected_components(pairs, caches=caches)
        return labels.filter(
            F.col("doc_id") != F.col("component")
        ).select("doc_id")
    resolved = keep_best_per_component(
        pairs, quality, quality_col=quality.columns[1], caches=caches
    )
    return resolved.filter(~F.col("kept")).select("doc_id")


def incremental_near_duplicates(
    new_docs: DataFrame | None = None,
    store: DataFrame | None = None,
    text: str = "text",
    threshold: float = 0.5,
    persist: bool = True,
    new_sig: DataFrame | None = None,
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing signature store.

    Only the new batch is tokenized/hashed; the store contributes its
    precomputed (doc_id, sh, minhash) rows.  Candidate generation is the
    banded join of new-batch band keys against store band keys — cost
    scales with the batch, not the corpus.  Returns
    (doc_new, doc_old, jaccard ≥ threshold); resolve drops on the caller's
    policy (typically: drop doc_new, the corpus row wins).

    Cache lifecycle mirrors ``near_duplicates``: the batch-signature frame
    feeds two consumers (band keys + verify side), so it is persisted;
    pass ``caches`` to own its release, or a precomputed ``new_sig``
    (doc_id, sh, minhash) to skip both the signature compute and the
    cache entirely.
    """
    if store is None:
        raise ValueError("incremental_near_duplicates needs a store frame")
    if new_sig is None:
        if new_docs is None:
            raise ValueError(
                "incremental_near_duplicates needs new_docs or new_sig"
            )
        new_sig = minhash_signature(new_docs, text).select(
            "doc_id", "sh", "minhash"
        )
        if persist:
            new_sig = _persist(new_sig, caches)
    pairs = _band_join(
        lsh_bands(new_sig), lsh_bands(store), self_join=False
    ).dropDuplicates(["doc_new", "doc_old"])
    return _jaccard_pairs(pairs, new_sig, store, threshold, self_join=False)


def simhash_near_dups(
    df: DataFrame,
    text: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_NEAR_DUP_BITS,
    n_bands: int = 4,
    caches: "CacheBag | None" = None,
) -> DataFrame:
    """Doc pairs with Hamming(simhash_a, simhash_b) ≤ ``max_hamming``.

    Blocking is the pigeonhole construction (Manku et al., WWW'07 —
    "Detecting Near-Duplicates for Web Crawling"): split the b-bit hash
    into ``n_bands`` contiguous segments; any pair within Hamming
    ≤ n_bands − 1 must agree exactly on at least one segment, so
    candidates come from equi-joins on (band, segment) keys — never a
    cross product.  Verification is exact:
    ``bit_count(a XOR b) ≤ max_hamming``.

    Scale note — segment width is the capacity dial: random (non-near)
    docs collide in a band with probability 2^-(bits/n_bands), so
    candidate volume is ~n²·n_bands/2^(bits/n_bands); keep
    ``bits/n_bands ≳ log2(n)`` (the default 32/4 = 8-bit segments are
    fine to ~10⁴ docs; web scale wants a 64-bit simhash — this engine's
    token hashes are 32-bit, so 32 is the honest ceiling here, Manku's
    64-bit variant needs a wider base hash).

    ``max_hamming`` must be < ``n_bands`` or the pigeonhole guarantee
    breaks (a qualifying pair could differ in every segment) — rejected
    loudly rather than silently losing recall.
    """
    # persisted for the same reason as the media pairings: the pairing
    # lineage consumes the fingerprint frame four times, and the
    # simhash expression re-tokenizes + re-hashes the full corpus text
    # on every consumer without the cache
    sims = _persist(
        simhash(df, text, bits).select("doc_id", "simhash"), caches
    )
    return hamming_near_dups(
        sims,
        hash_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        n_bands=n_bands,
    )


def _hamming_validate(bits: int, max_hamming: int, n_bands: int) -> None:
    """Shared parameter contract for the pigeonhole pairings — also
    called at stream start-up so a bad config fails before the first
    micro-batch."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}): with fewer bands a qualifying pair can "
            "differ in every segment and would be missed"
        )
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")


def _hamming_band_keys(
    hashes: DataFrame, id_col: str, hash_col: str, bits: int, n_bands: int
) -> DataFrame:
    """(doc_id, band, key, payload) rows: the key is the band's segment
    (``shiftrightunsigned``, so full-width 64-bit hashes stored as
    SIGNED longs band correctly), the payload the full hash.  Carrying
    the hash costs 8 bytes per key row and lets the band join's output
    verify in place: no join-backs (each a sort and exchange, measured
    as the pairing stage's dominant cost) re-attach hashes to pairs."""
    w = bits // n_bands
    # full-width segment (n_bands=1, bits=64): the mask 2^64-1 does not
    # fit a BIGINT literal (Spark parses it as DECIMAL and `&` rejects
    # it) — but as a SIGNED 64-bit value all-ones IS -1, and x & -1 = x
    mask = (2 ** w - 1) if w < 64 else -1
    seg = (
        f"transform(sequence(0, {n_bands - 1}), b -> struct(b AS band, "
        f"CAST(shiftrightunsigned(payload, b * {w}) & {mask} AS BIGINT) AS key))"
    )
    return hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("payload")
    ).select("doc_id", F.inline(F.expr(seg)), "payload")


def _hamming_pairs(
    left: DataFrame, right: DataFrame, max_hamming: int,
    *, self_join: bool, dedup_pairs: bool = True,
) -> DataFrame:
    """Pairs of two Hamming band-key frames within ``max_hamming``:
    ``_band_join``, ``bit_count(a XOR b)`` on the carried hashes, then
    the pair de-dup over VERIFIED pairs, a subset of the candidates (a
    pair agreeing on k segments emerges k times)."""
    hamming = F.bit_count(F.col("payload_a").bitwiseXOR(F.col("payload_b")))
    out = (
        _band_join(left, right, self_join=self_join)
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .drop("payload_a", "payload_b")
    )
    return out.dropDuplicates(out.columns[:2]) if dedup_pairs else out


def hamming_near_dups(
    hashes: DataFrame,
    *,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic pigeonhole Hamming pairing over ANY b-bit integer hash
    column (SimHash for text, dHash for images, the audio spectral
    fingerprint): split the hash into ``n_bands`` contiguous segments,
    equi-join on (band, segment) — any pair within Hamming ≤
    n_bands − 1 agrees on at least one segment — then verify exactly
    with ``bit_count(a XOR b)``.  Returns (doc_a, doc_b, hamming)."""
    _hamming_validate(bits, max_hamming, n_bands)
    keys = _hamming_band_keys(hashes, id_col, hash_col, bits, n_bands)
    return _hamming_pairs(keys, keys, max_hamming, self_join=True)


def hamming_near_dups_incremental(
    new_hashes: DataFrame,
    store: DataFrame,
    *,
    hash_col: str,
    bits: int,
    max_hamming: int,
    n_bands: int,
    id_col: str = "doc_id",
    dedup_pairs: bool = True,
) -> DataFrame:
    """Hamming near-dup pairs between a NEW batch of fingerprints and a
    persisted fingerprint store — the pigeonhole sibling of
    ``incremental_near_duplicates``, with the same unhinted band join
    and ``doc_new != doc_old`` replay guard (``_band_join``).  Both
    frames carry (id_col, hash_col); only slim 64-bit rows are involved
    (the caller already paid the decode).  Returns (doc_new, doc_old,
    hamming ≤ max_hamming); resolve drops on the caller's policy
    (typically: drop doc_new — the stored row was admitted first).

    ``dedup_pairs=False`` skips the (doc_new, doc_old) de-dup — an
    exchange and aggregate — for a caller that de-duplicates at its own
    granularity anyway (``media_containment_pairs``'s rollup); a pair
    agreeing on k bands then appears k times.  Admit loops keep the
    default: they treat each pair row as one near-dup fact."""
    _hamming_validate(bits, max_hamming, n_bands)
    new, old = (
        _hamming_band_keys(df, id_col, hash_col, bits, n_bands)
        for df in (new_hashes, store)
    )
    return _hamming_pairs(
        new, old, max_hamming, self_join=False, dedup_pairs=dedup_pairs
    )


def simhash_expr(col: str, bits: int) -> str:
    """SQL expression string: frequency-weighted SimHash over an
    integer-array column (the per-bit sign fold of ``simhash``,
    factored out in round 13 so registry rows can build multi-half
    fingerprints from transformed token-hash streams without
    duplicating the formula)."""
    terms = []
    for j in range(bits):
        w = 2**j
        bit_sum = (
            f"aggregate({col}, 0, (acc, x) -> acc + "
            f"(CASE WHEN (x div {w}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN ({bit_sum}) > 0 THEN {w} ELSE 0 END)")
    return " + ".join(terms)


def simhash(df: DataFrame, text: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Frequency-weighted SimHash over md5-derived token hashes.

    bit_j = sign(Σ_tokens (±1 depending on bit j of h(w))); the token
    multiset (with multiplicity) is used, so repeated words weigh more.

    The token-hash array is materialized once (``with_token_hashes``) so
    the 16 per-bit folds are 16 linear passes over a computed array, not
    16 full re-tokenize+md5 passes.
    """
    return (
        with_token_hashes(df, text)
        .withColumn("simhash", F.expr(simhash_expr("wh", bits)))
        .drop("wh")
    )
