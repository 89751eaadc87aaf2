"""Data-pipeline operator surface: dedup, similarity search, text analysis,
multimodal — the beyond-reference operators (SURVEY §2.11, BASELINE.json
north star), each oracle-checked where SQL-expressible.

All hashes are md5-derived (identical in both engines, see
functions/hashing.py); all ratios are int/int; float-derived scores are
rounded before they order or appear in output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import (
    MIX,
    P,
    duck_hex2int,
    duck_token_hash,
    minhash_perm_expr,
    ngram_hash_expr,
    shingle3_expr,
)
from etl_olho_vivo_spark.operators import (
    decontam,
    dedup,
    multimodal,
    similarity,
    textops,
)
from etl_olho_vivo_spark.registry import register
from etl_olho_vivo_spark.sources.tables import read_table

# ---------------------------------------------------------------------------
# DuckDB fragments mirroring the Spark operator expressions
# ---------------------------------------------------------------------------

_D_WH = f"list_transform(string_split(text, ' '), w -> {duck_token_hash('w')})"

_D_SHINGLES = (
    f"CASE WHEN len(wh) >= 3 THEN list_distinct(list_transform("
    f"range(0, len(wh) - 2), i -> "
    f"{shingle3_expr('wh[i+1]', 'wh[i+2]', 'wh[i+3]')})) "
    f"ELSE CAST([] AS BIGINT[]) END"
)


def _d_minhash(k: int) -> str:
    # same shared permutation definition the Spark side uses
    # (functions/hashing.minhash_perm_expr) — one formula, two engines
    return f"list_min(list_transform(sh, s -> {minhash_perm_expr('s', k)}))"


def _d_stopfilter(words: tuple[str, ...]) -> str:
    cond = " OR ".join(f"w = '{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), w -> {cond}))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "doc_text_profile",
    f"""
SELECT doc_id, n_tokens, n_regex_tokens, n_chars, avg_word_len,
       stopword_ratio,
       0.4 * stopword_ratio + 0.6 * (1.0 - 1.0 / avg_word_len)
         AS quality_score,
       fp_rolling, fp_md5
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[a-z]+')) AS n_regex_tokens,
         length(text) AS n_chars,
         (length(text) - (len(string_split(text, ' ')) - 1))
           / len(string_split(text, ' ')) AS avg_word_len,
         {_d_stopfilter(textops.STOPWORDS)}
           / len(string_split(text, ' ')) AS stopword_ratio,
         list_reduce({_D_WH}, (acc, x) -> (acc * {MIX} + x) % {P})
           AS fp_rolling,
         {duck_token_hash('text')} AS fp_md5
  FROM documents
)
""",
    doc="Single-scan per-document text profile: token counting "
    "(whitespace split + regex-run BPE-ish proxy), quality scoring "
    "(length / word-length / stopword-ratio features, all int/int "
    "ratios), and document fingerprinting (order-sensitive rolling "
    "polynomial hash over token hashes + whole-text md5).  One wide "
    "Column projection — at 100 TB this is the shape you want: every "
    "per-row text feature computed in one pass over the corpus instead "
    "of one scan per feature family.  (Spark's fold seeds acc=0 and "
    "h<P, so step 1 yields h1 — identical to DuckDB's "
    "first-element-seeded list_reduce.)",
)
def q_doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return textops.quality_features(d).select(
        "doc_id",
        "n_tokens",
        textops.regex_token_count().alias("n_regex_tokens"),
        F.col("n_chars_m").alias("n_chars"),
        "avg_word_len",
        "stopword_ratio",
        "quality_score",
        textops.fingerprint_rolling().alias("fp_rolling"),
        textops.fingerprint_md5().alias("fp_md5"),
    )


def _d_lang_sql() -> str:
    counts = {
        lang: _d_stopfilter(ws) for lang, ws in textops.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN ({counts[lang]}) = ({best}) AND ({best}) > 0 THEN '{lang}'"
        for lang in textops.LANG_MARKERS
    )
    return f"SELECT doc_id, lang, CASE {whens} ELSE 'und' END AS lang_guess FROM documents"


@register(
    "doc_lang_id",
    _d_lang_sql(),
    doc="Language ID: marker-lexicon argmax heuristic (fixed priority on "
    "ties). Production would swap in char-n-gram profiles as a broadcast "
    "dim; the operator shape is identical.",
)
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", textops.lang_guess().alias("lang_guess"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "docs_dedup_exact",
    f"""
SELECT fp_md5, min(doc_id) AS keep_doc_id, count(*) AS n_dupes
FROM (SELECT doc_id, {duck_token_hash('text')} AS fp_md5 FROM documents)
GROUP BY fp_md5
""",
    doc="Exact content dedup: hash-groupBy on a content fingerprint with "
    "deterministic survivor (min doc_id). One shuffle on a uniform key.",
)
def q_docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", textops.fingerprint_md5().alias("fp_md5"))
    return dedup.exact_dedup(fp, ["fp_md5"], "doc_id").select(
        "fp_md5",
        F.col("keep_doc_id").alias("keep_doc_id"),
        "n_dupes",
    )


@register(
    "dedup_corpus_lines",
    """
WITH lines AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS line,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
),
nonblank AS (
  SELECT doc_id, pos, line,
         count(*) OVER (PARTITION BY md5(line)) AS n,
         row_number() OVER (PARTITION BY md5(line)
                            ORDER BY doc_id, pos) AS rn
  FROM lines WHERE line <> ''
),
survivors AS (
  SELECT doc_id, pos, line FROM nonblank WHERE n < 2 OR rn = 1
  UNION ALL
  SELECT doc_id, pos, line FROM lines WHERE line = ''
),
rebuilt AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text
  FROM survivors GROUP BY doc_id
)
SELECT d.doc_id, coalesce(r.text, '') AS text
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
""",
    doc="Corpus-wide line-level dedup (operators/dedup.dedup_lines — the "
    "C4/CCNet pass, Raffel et al. 2020 §2.2 / Wenzek et al. 2019) under "
    "the driver oracle: keep_first mode, every document rewritten with "
    "duplicated lines removed, line order preserved, empty docs kept "
    "(drop_empty_docs=False exercises the outer-join reattach branch).  "
    "The driver corpus is single-line synthetic text, so the query "
    "treats the SPACE as the line separator (sep=' ') — same operator, "
    "same shuffles, a corpus where duplicates actually exist.  The "
    "oracle's window formulation is the O(n log n)-per-key spec; the "
    "engine computes identical semantics with a groupBy aggregate + "
    "join so boilerplate hot keys flatten map-side (operators/dedup.py "
    "skew note).",
)
def q_dedup_corpus_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    out = dedup.dedup_lines(d, sep=" ", drop_empty_docs=False)
    return out.select("doc_id", "text")


_D_SPAN_GRAM = ngram_hash_expr([f"wh[i+{j + 1}]" for j in range(5)])


@register(
    "repeated_span_dedup",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(wh) >= 5 THEN
           list_transform(range(0, len(wh) - 4), i -> {_D_SPAN_GRAM})
         ELSE CAST([] AS BIGINT[]) END AS gs
  FROM w
),
occ AS (
  SELECT doc_id, unnest(gs) AS gh,
         generate_subscripts(gs, 1) - 1 AS gpos
  FROM g
),
ranked AS (
  SELECT doc_id, gh, gpos,
         count(*) OVER (PARTITION BY gh) AS n,
         row_number() OVER (PARTITION BY gh
                            ORDER BY doc_id, gpos) AS rn
  FROM occ
),
covered AS (
  SELECT DISTINCT doc_id, unnest(range(gpos, gpos + 5)) AS pos
  FROM ranked WHERE n >= 2 AND rn > 1
),
tokens AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
),
rebuilt AS (
  SELECT t.doc_id, string_agg(t.word, ' ' ORDER BY t.pos) AS text
  FROM tokens t LEFT JOIN covered c
    ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
  GROUP BY t.doc_id
)
SELECT d.doc_id, coalesce(r.text, '') AS text
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
""",
    doc="Repeated-span removal (operators/dedup.drop_repeated_spans) — "
    "the shingle approximation of exact-substring dedup (Lee et al. "
    "2022): every word position covered by a non-first occurrence of a "
    "corpus-wide repeated 5-gram is deleted, documents rewritten in "
    "order.  Same skew-hardened shape as dedup_corpus_lines (gram "
    "stats via groupBy aggregate + join, never a window over the gram "
    "hash; the oracle's window formulation is the spec).  driver=False: "
    "the 50-row window is full — parity runs in the local oracle suite "
    "and the query stays benchmarked.",
    driver=False,
)
def q_repeated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    out = dedup.drop_repeated_spans(d, k=5, drop_empty_docs=False)
    return out.select("doc_id", "text")


def _d_minhash_sql() -> str:
    mh = ",\n    ".join(
        f"{_d_minhash(k)} AS mh{k}" for k in range(dedup.NUM_HASHES)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, CAST(mh{2 * b} AS VARCHAR) || '_' || "
        f"CAST(mh{2 * b + 1} AS VARCHAR) AS band_sig FROM sig"
        for b in range(dedup.NUM_BANDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
shs AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM docs),
sig AS (
  SELECT doc_id, sh,
    {mh}
  FROM shs WHERE len(sh) > 0
),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = b.doc_id % 2
),
cand_inc AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN c.doc_a % 2 = 0 THEN 'store' ELSE 'batch' END AS kind,
         len(list_intersect(sa.sh, sb.sh))
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
           AS jaccard
  FROM cand c
  JOIN shs sa ON sa.doc_id = c.doc_a
  JOIN shs sb ON sb.doc_id = c.doc_b
),
scored_inc AS (
  SELECT c.doc_a, c.doc_b, 'incremental' AS kind,
         len(list_intersect(sa.sh, sb.sh))
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
           AS jaccard
  FROM cand_inc c
  JOIN shs sa ON sa.doc_id = c.doc_a
  JOIN shs sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard, kind FROM scored WHERE jaccard >= 0.5
UNION ALL
SELECT doc_a, doc_b, jaccard, kind FROM scored_inc WHERE jaccard >= 0.5
"""


@register(
    "minhash_near_dups",
    _d_minhash_sql(),
    doc="Near-dedup via MinHash-LSH: 3-gram shingles → 8-hash signature → "
    "4 bands × 2 rows banding join → exact-Jaccard verify ≥ 0.5 "
    "(Broder banding; MMDS ch.3). Candidate generation is the band join — "
    "never an O(n²) cross product.  Models the full incremental ingest "
    "loop a 100 TB corpus runs: docs split deterministically (doc_id "
    "parity) into an existing 'store' corpus and a new 'batch' crawl; "
    "self-dedup within each half plus incremental_near_duplicates "
    "batch-vs-store, all three from ONE shared signature pass.  The "
    "parquet round-trip of the store relation through the append store "
    "(io/append_store.py, what the streaming admit loop reads) is "
    "value-preserving by construction and pinned in "
    "tests/test_operators.py.",
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG

    d = read_table(spark, sf_dir, "documents")
    # ONE signature pass over the corpus, sliced into the store/batch
    # halves — exactly what a production loop does (store signatures come
    # back from the append store's parquet, never recomputed)
    sig = SESSION_BAG.add(
        dedup.minhash_signature(d).select("doc_id", "sh", "minhash")
    )
    sig_store = sig.filter(F.col("doc_id") % 2 == 0)
    sig_batch = sig.filter(F.col("doc_id") % 2 == 1)
    store_pairs = dedup.near_duplicates(sig=sig_store, threshold=0.5)
    batch_pairs = dedup.near_duplicates(sig=sig_batch, threshold=0.5)
    inc = dedup.incremental_near_duplicates(
        store=sig_store, new_sig=sig_batch, threshold=0.5
    )
    return (
        store_pairs.withColumn("kind", F.lit("store"))
        .unionByName(batch_pairs.withColumn("kind", F.lit("batch")))
        .unionByName(
            inc.select(
                F.col("doc_new").alias("doc_a"),
                F.col("doc_old").alias("doc_b"),
                "jaccard",
            ).withColumn("kind", F.lit("incremental"))
        )
    )


def _d_simhash_terms(col: str, bits: int) -> str:
    """DuckDB mirror of dedup.simhash_expr over an arbitrary list
    column (list_sum over an empty list is NULL, and NULL > 0 falls to
    the ELSE 0 branch — the same bit Spark's aggregate-from-0 yields)."""
    terms = []
    for j in range(bits):
        w = 2**j
        s = (
            f"CAST(list_sum(list_transform({col}, x -> "
            f"CASE WHEN (x // {w}) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT)"
        )
        terms.append(f"(CASE WHEN ({s}) > 0 THEN {w} ELSE 0 END)")
    return " + ".join(terms)


def _d_simhash_sql(bits: int = dedup.SIMHASH_BITS) -> str:
    return (
        f"SELECT doc_id, {_d_simhash_terms('wh', bits)} AS simhash "
        f"FROM (SELECT doc_id, {_D_WH} AS wh FROM documents)"
    )


@register(
    "doc_simhash",
    _d_simhash_sql(),
    doc="SimHash (16-bit, frequency-weighted) per document — near-dup "
    "sketch whose hamming distance bounds cosine token-similarity.  "
    "driver=False since round 12: simhash_hamming_pairs took the slot "
    "(rotation policy) and its oracle recomputes the WIDER 32-bit "
    "simhash inside the pairing, so the expression stays driver-checked; "
    "this 16-bit value row keeps its local oracle sweep.",
    driver=False,
)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dedup.simhash(d).select("doc_id", "simhash")


@register(
    "simhash_hamming_pairs",
    f"""
WITH sims AS ({_d_simhash_sql(dedup.SIMHASH_NEAR_DUP_BITS)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
""",
    doc="The generic pigeonhole Hamming pairing under the external "
    "oracle (promoted round 12, took doc_simhash's slot): Spark runs "
    "dedup.simhash_near_dups — the SAME hamming_near_dups machinery "
    "(band split → (band, segment) equi-join → exact bit_count(a^b) "
    "verify) every MEDIA fingerprint leg rides (image dHash, audio "
    "Haitsma-Kalker, video majority fingerprint; "
    "operators/multimodal.py, streaming/media_stream.py) — while the "
    "oracle computes the EXACT all-pairs form over the same 32-bit "
    "simhashes.  Hash-equality therefore ALSO proves the pigeonhole "
    "banding is lossless at max_hamming < n_bands (Manku WWW'07), not "
    "just self-consistent: any pair the banding missed, or any "
    "segment-extraction drift (shiftrightunsigned over signed longs), "
    "breaks the driver row.  All-pairs is oracle-side only — 500 docs "
    "at the driver's sf0.01 — the Spark plan stays the banded "
    "merge-join shape pinned in tests/test_operators.py "
    "(test_image_near_dups_plan_is_merge_banded covers the shared "
    "hamming_near_dups pairing).  Banding here is "
    "n_bands=2 (16-bit segments), max_hamming=1: the module's own "
    "capacity rule — segment width must track log2(n) — makes 8-bit "
    "segments a ~10^4-doc ceiling, and the FIRST bench of this row at "
    "the 4-band default read 4.45 s at sf0.1 (~4e5 random candidate "
    "collisions at 5e3 docs, growing ~quadratically); 16-bit segments "
    "collide ~500x less and hold to ~10^5-10^6 docs.  driver=False "
    "since round 13 (rotation policy, same as doc_simhash in r12): "
    "media_fp_pairs took the slot — the same hamming_near_dups "
    "machinery, but 64-bit, multi-band (4), max_hamming=3, and read "
    "from a PERSISTED fingerprint parquet (the media-store shape) — "
    "so the pairing family stays driver-checked with STRICTLY more of "
    "the pigeonhole surface under the hard signal (multi-segment "
    "candidate generation + dropDuplicates de-dup, which 2 bands at "
    "max_hamming=1 barely exercised); this row keeps its local oracle "
    "sweep and its bench row (idle floor 2.18 s, BASELINE.md r13).",
    driver=False,
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(d, max_hamming=1, n_bands=2)


# The low fingerprint half remixes each token hash through a MINSTD
# step before its own simhash fold — two quasi-independent 32-bit
# halves concatenate into a 64-bit fingerprint whose Hamming distance
# still tracks document similarity (near-dup text => both halves
# close).  Pure `* %` integer arithmetic, bounded < 2^48 — identical
# in both engines.  The modulus is the largest prime BELOW 2^32
# (4294967291): an odd-prime modulus mixes every bit (a power-of-two
# modulus would leave bit 0 of the remix equal to bit 0 of the input,
# duplicating one hi-half simhash bit into the lo half), and a range
# reaching past 2^31 keeps the lo half's MSB live — the r13 value
# 2147483647 made bit 31 structurally zero, so one 16-bit pigeonhole
# band carried only 15 informative bits (round-14 advisor finding).
_FP_REMIX = "x -> (x * 48271) % 4294967291"

_MEDIA_FP_BUILT: set[str] = set()


def _sweep_dead_scratch(root: str) -> None:
    """Remove sibling scratch stores left by DEAD processes — atexit
    handles normal exits, but a SIGKILLed driver never runs it, so
    every builder also sweeps the shared root: dir names end in
    ``_<pid>``, and a pid that no longer exists owns garbage.  A pid
    that exists but belongs to another user (PermissionError on the
    probe signal) is left alone — it may be a live driver."""
    import os
    import shutil

    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for name in entries:
        pid = name.rsplit("_", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except PermissionError:
            pass


@register(
    "media_fp_pairs",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
w2 AS (SELECT doc_id, wh,
              list_transform(wh, {_FP_REMIX}) AS wl
       FROM w),
halves AS (SELECT doc_id,
                  {_d_simhash_terms('wh', 32)} AS hi,
                  {_d_simhash_terms('wl', 32)} AS lo
           FROM w2),
fps AS (SELECT doc_id,
               CAST(CASE WHEN v >= 9223372036854775808
                         THEN v - 18446744073709551616
                         ELSE v END AS BIGINT) AS fp
        FROM (SELECT doc_id,
                     CAST(hi AS HUGEINT) * 4294967296 + lo AS v
              FROM halves))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
""",
    doc="The MEDIA dedup leg end-to-end under the hard signal (round "
    "13, r12 verdict 'What's missing' #5): pairing of PRE-COMPUTED "
    "64-bit fingerprints read back from a persisted slim (doc_id, fp) "
    "parquet relation — exactly the media fingerprint-store shape "
    "(streaming/media_stream.py: the store holds one 64-bit row per "
    "admitted doc and the pairing never touches the media again) — "
    "through the SAME dedup.hamming_near_dups every media kind rides "
    "(image dHash, audio Haitsma-Kalker, video majority fold).  The "
    "corpus has no decodable media (multimodal_decode's doc), so the "
    "fingerprint VALUES are a deterministic 64-bit text surrogate "
    "(two quasi-independent 32-bit simhash halves; near-dup docs get "
    "near fingerprints, so the pairing output is non-trivial) that "
    "DuckDB recomputes from the documents view — the oracle cannot "
    "see the scratch store, so fp synthesis must be SQL-expressible; "
    "what the store round-trip proves is that the pairing consumes "
    "the PERSISTED relation (signed-long parquet round-trip included: "
    "hi-half bit 31 set makes fp negative, and shiftrightunsigned "
    "banding must still segment it correctly).  Banding is n_bands=4 "
    "(16-bit segments, the module's capacity rule at corpus sizes "
    "~10^5), max_hamming=3 = n_bands-1 (the FULL lossless pigeonhole "
    "budget, vs the simhash row's 1) — hash-equality vs the all-pairs "
    "oracle again proves the banding lossless (Manku WWW'07), now "
    "with multi-segment candidate generation and the dropDuplicates "
    "de-dup genuinely load-bearing.  Build-once per (sf_dir, pid) "
    "like bucketed_order_rollup: the row measures the store-read + "
    "pairing path (what every micro-batch pays), not the one-time "
    "fingerprint write (decode cost is multimodal_decode's row).",
)
def q_media_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    root = f"{tempfile.gettempdir()}/etl_olho_vivo_media_fp"
    path = f"{root}/{tag}"
    if tag not in _MEDIA_FP_BUILT or not os.path.exists(path):
        # scratch hygiene (r13 verdict): the store is per-(sf_dir, pid)
        # — without cleanup every driver process leaves one parquet dir
        # in $TMPDIR forever.  Registered once per tag, before the
        # write, so a build that crashes mid-write is swept too; dirs
        # of SIGKILLed siblings (atexit never ran) are swept here.
        _sweep_dead_scratch(root)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        d = read_table(spark, sf_dir, "documents")
        hi = dedup.simhash_expr("wh", 32)
        lo = dedup.simhash_expr("wl", 32)
        fps = (
            dedup.with_token_hashes(d)
            .withColumn("wl", F.expr(f"transform(wh, {_FP_REMIX})"))
            .select(
                "doc_id",
                F.expr(f"shiftleft(({hi}), 32) | ({lo})").alias("fp"),
            )
        )
        fps.write.mode("overwrite").parquet(path)
        _MEDIA_FP_BUILT.add(tag)
    store = spark.read.parquet(path)
    return dedup.hamming_near_dups(
        store, hash_col="fp", bits=64, max_hamming=3, n_bands=4
    )


# Surrogate per-frame fingerprints for the containment oracle: one
# "frame" per even 3-gram position, fp = (gram mod 2^32) in the hi half
# ‖ a full-range prime remix in the lo half (the media_fp recipe at
# frame granularity).  gram < P = 2^32+15, so the hi half must reduce
# mod 2^32 BEFORE the shift — shiftleft would silently wrap in Spark
# while DuckDB's HUGEINT path would not, diverging the engines.
_FRAME_GH = f"((wh[i] * {MIX} + wh[i+1]) % {P} * {MIX} + wh[i+2]) % {P}"
_FRAME_GH_DUCK = (
    f"((wh[i+1] * {MIX} + wh[i+2]) % {P} * {MIX} + wh[i+3]) % {P}"
)

_FRAME_FP_BUILT: set[str] = set()


@register(
    "video_frame_containment",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
pos AS (SELECT doc_id, wh,
               unnest(range(0, greatest(len(wh) - 2, 0))) AS i
        FROM w),
g AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
             {_FRAME_GH_DUCK} AS gh
      FROM pos WHERE i % 2 = 0),
fr AS (SELECT doc_id, frame_idx,
              CAST(CASE WHEN v >= 9223372036854775808
                        THEN v - 18446744073709551616
                        ELSE v END AS BIGINT) AS fp
       FROM (SELECT doc_id, frame_idx,
                    CAST(gh % 4294967296 AS HUGEINT) * 4294967296
                      + (gh * 48271) % 4294967291 AS v
             FROM g)),
n AS (SELECT doc_id, count(*) AS n_frames FROM fr GROUP BY doc_id),
m AS (SELECT a.doc_id AS doc_probe, b.doc_id AS doc_index,
             count(DISTINCT a.frame_idx) AS matched_frames
      FROM fr a JOIN fr b
        ON a.doc_id != b.doc_id
       AND bit_count(xor(a.fp, b.fp)) <= 3
      GROUP BY a.doc_id, b.doc_id)
SELECT m.doc_probe, m.doc_index,
       CAST(m.matched_frames AS BIGINT) AS matched_frames,
       CAST(n.n_frames AS BIGINT) AS probe_frames,
       round(CAST(m.matched_frames AS DOUBLE) / n.n_frames, 6) AS frac
FROM m JOIN n ON n.doc_id = m.doc_probe
WHERE m.matched_frames * 1000000 >= 600000 * n.n_frames
""",
    doc="Sub-clip containment end-to-end under a local oracle (round "
    "14, r13 verdict #1): multimodal.media_containment_pairs — the "
    "retrieval sibling of the video majority fingerprint's pinned "
    "excerpt boundary ('sub-clip containment is retrieval's job: ANN "
    "over per-frame hashes') — probing a PERSISTED per-frame "
    "fingerprint relation (the video_frame_fingerprints store shape; "
    "signed-long parquet round-trip included) through the VALUE-"
    "collapsed containment query (exact-dup collapse at fingerprint "
    "granularity: distinct-value equi-join for hamming 0 + pigeonhole "
    "pairing between distinct values for 1..max_hamming, expansion to "
    "docs/frames only inside one count_distinct rollup).  The corpus has no real video, so "
    "frame fps are a deterministic text surrogate DuckDB recomputes "
    "from the documents view: one frame per even word-3-gram "
    "position, 64-bit fp = (gram mod 2^32) ‖ prime remix — near-dup "
    "docs share most gram frames exactly, so containment is real "
    "n-gram coverage and the output is non-trivial (~56 pairs at "
    "sf0.001).  max_hamming=3 = n_bands-1: the FULL lossless "
    "pigeonhole budget, verified hash-exactly against the all-pairs "
    "bit_count(xor) oracle at frame granularity.  The fraction "
    "threshold compares in exact integer ppm arithmetic on BOTH "
    "sides — a float 0.6*n boundary is DECIMAL in DuckDB and IEEE in "
    "Spark, an engine-dependent boundary.  driver=True since round 15 "
    "(r14 verdict #1): the round-14 flagship rotated INTO the driver's "
    "50-row correctness window; quantity_quantiles yielded its slot "
    "(its family stays driver-covered via groupby_extensions + "
    "bucketed_order_rollup, and it keeps its local parity sweep).",
)
def q_video_frame_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators.multimodal import (
        media_containment_pairs,
    )

    store = _video_surrogate_store(spark, sf_dir)
    # probe the whole corpus against itself: every doc is both a
    # potential excerpt and a potential compilation; self pairs are
    # excluded inside the rollup
    return media_containment_pairs(
        store, store, max_hamming=3, n_bands=4, min_frac=0.6
    )


def _video_surrogate_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per sf_dir+pid) and read back the surrogate
    per-frame fingerprint store both containment rows probe —
    the persisted (doc_id, frame_idx, fp) relation, signed-long
    parquet round-trip included."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    root = f"{tempfile.gettempdir()}/etl_olho_vivo_frame_fp"
    path = f"{root}/{tag}"
    if tag not in _FRAME_FP_BUILT or not os.path.exists(path):
        _sweep_dead_scratch(root)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        d = read_table(spark, sf_dir, "documents")
        # even 3-gram positions (the stride-2 sampling dial); Spark
        # arrays are 0-based where DuckDB lists are 1-based, so the
        # shared position i reads wh[i..i+2] here and wh[i+1..i+3]
        # in the oracle.  sequence(0, negative) counts DOWN in Spark —
        # the size guard is load-bearing, not defensive.
        pos = (
            "CASE WHEN size(wh) >= 3 THEN "
            "filter(sequence(0, size(wh) - 3), i -> i % 2 = 0) "
            "ELSE array() END"
        )
        # spread the md5 token-hashing AND the store layout across
        # cores: a single-file scan is one input split, and a 1-file
        # store would serialize every downstream band join until its
        # first shuffle (the ngram_jaccard_pairs lesson)
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        frames = (
            dedup.with_token_hashes(
                d.select("doc_id", "text").repartition(par, "doc_id")
            )
            .select("doc_id", "wh", F.explode(F.expr(pos)).alias("i"))
            .select(
                "doc_id",
                F.col("i").cast("int").alias("frame_idx"),
                F.expr(
                    f"shiftleft(({_FRAME_GH}) % 4294967296, 32) "
                    f"| (({_FRAME_GH}) * 48271) % 4294967291"
                ).alias("fp"),
            )
        )
        frames.write.mode("overwrite").parquet(path)
        _FRAME_FP_BUILT.add(tag)
    return spark.read.parquet(path)


@register(
    "containment_stop_frames",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
pos AS (SELECT doc_id, wh,
               unnest(range(0, greatest(len(wh) - 2, 0))) AS i
        FROM w),
g AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
             {_FRAME_GH_DUCK} AS gh
      FROM pos WHERE i % 2 = 0),
fr AS (SELECT doc_id, frame_idx,
              CAST(CASE WHEN v >= 9223372036854775808
                        THEN v - 18446744073709551616
                        ELSE v END AS BIGINT) AS fp
       FROM (SELECT doc_id, frame_idx,
                    CAST(gh % 4294967296 AS HUGEINT) * 4294967296
                      + (gh * 48271) % 4294967291 AS v
             FROM g)),
keep AS (SELECT fp FROM fr GROUP BY fp
         HAVING count(DISTINCT doc_id) <= 3),
n AS (SELECT doc_id, count(*) AS n_frames FROM fr GROUP BY doc_id),
m AS (SELECT a.doc_id AS doc_probe, b.doc_id AS doc_index,
             count(DISTINCT a.frame_idx) AS matched_frames
      FROM fr a
      JOIN (SELECT fr.* FROM fr JOIN keep USING (fp)) b
        ON a.doc_id != b.doc_id
       AND bit_count(xor(a.fp, b.fp)) <= 3
      GROUP BY a.doc_id, b.doc_id)
SELECT m.doc_probe, m.doc_index,
       CAST(m.matched_frames AS BIGINT) AS matched_frames,
       CAST(n.n_frames AS BIGINT) AS probe_frames,
       round(CAST(m.matched_frames AS DOUBLE) / n.n_frames, 6) AS frac
FROM m JOIN n ON n.doc_id = m.doc_probe
WHERE m.matched_frames * 1000000 >= 600000 * n.n_frames
""",
    doc="The max_index_df STOP-FRAME dial under a local oracle (round "
    "15, r14 verdict #5): media_containment_pairs(max_index_df=3) on "
    "the SAME surrogate frame store as video_frame_containment, "
    "pinned against a DuckDB twin whose index CTE applies HAVING "
    "count(DISTINCT doc_id) <= 3 — the dial's exact semantics "
    "(non-discriminative values leave the INDEX side before any "
    "pairing; probe totals still count every probe frame, so a "
    "stop-frame-heavy probe reports nothing rather than everything).  "
    "The dial value 3 is measured-discriminative at sf0.001 (fp doc-"
    "frequency spans 1-7; 125 of ~10k distinct values drop), so the "
    "dialed output genuinely differs from the undialed row's and the "
    "oracle would catch a dial applied to the wrong side, at the "
    "wrong granularity (rows vs distinct docs), or after pairing.  "
    "driver=False: window full.  bench=False: perf twin of "
    "video_frame_containment (one extra bounded semi-join).",
    driver=False,
    bench=False,
)
def q_containment_stop_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators.multimodal import (
        media_containment_pairs,
    )

    store = _video_surrogate_store(spark, sf_dir)
    return media_containment_pairs(
        store, store, max_hamming=3, n_bands=4, min_frac=0.6,
        max_index_df=3,
    )


# Surrogate HOP-GRID windows for the audio containment oracle (round
# 15, r14 verdict #3): one fingerprint per fixed-duration window on a
# hop grid with 50% overlap (hop = window/2) and frame_idx = the
# window ORDINAL k, not a sample position — the property the video
# surrogate (disjoint-ish stride-2 3-grams indexed by position) does
# not exercise.  The text
# twin: window = 4 word-hashes starting at position k*2 (hop 2 = half
# the window, so adjacent windows share 2 grams), fp = chained modular
# fold, 64-bit assembly identical to the frame recipe.  Spark reads
# wh[k*2..k*2+3] (0-based), DuckDB wh[k*2+1..k*2+4] (1-based lists).
_AW_GH = (
    f"((((wh[k*2] * {MIX} + wh[k*2+1]) % {P}) * {MIX} + wh[k*2+2]) "
    f"% {P} * {MIX} + wh[k*2+3]) % {P}"
)
_AW_GH_DUCK = (
    f"((((wh[k*2+1] * {MIX} + wh[k*2+2]) % {P}) * {MIX} + wh[k*2+3]) "
    f"% {P} * {MIX} + wh[k*2+4]) % {P}"
)

_AUDIO_FP_BUILT: set[str] = set()


@register(
    "audio_containment",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
pos AS (SELECT doc_id, wh,
               unnest(range(0, CASE WHEN len(wh) >= 4
                                    THEN (len(wh) - 4) // 2 + 1
                                    ELSE 0 END)) AS k
        FROM w),
g AS (SELECT doc_id, CAST(k AS INT) AS frame_idx,
             {_AW_GH_DUCK} AS gh
      FROM pos),
fr AS (SELECT doc_id, frame_idx,
              CAST(CASE WHEN v >= 9223372036854775808
                        THEN v - 18446744073709551616
                        ELSE v END AS BIGINT) AS fp
       FROM (SELECT doc_id, frame_idx,
                    CAST(gh % 4294967296 AS HUGEINT) * 4294967296
                      + (gh * 48271) % 4294967291 AS v
             FROM g)),
n AS (SELECT doc_id, count(*) AS n_frames FROM fr GROUP BY doc_id),
m AS (SELECT a.doc_id AS doc_probe, b.doc_id AS doc_index,
             count(DISTINCT a.frame_idx) AS matched_frames
      FROM fr a JOIN fr b
        ON a.doc_id != b.doc_id
       AND bit_count(xor(a.fp, b.fp)) <= 3
      GROUP BY a.doc_id, b.doc_id)
SELECT m.doc_probe, m.doc_index,
       CAST(m.matched_frames AS BIGINT) AS matched_frames,
       CAST(n.n_frames AS BIGINT) AS probe_frames,
       round(CAST(m.matched_frames AS DOUBLE) / n.n_frames, 6) AS frac
FROM m JOIN n ON n.doc_id = m.doc_probe
WHERE m.matched_frames * 1000000 >= 600000 * n.n_frames
""",
    doc="Audio-shape sub-clip containment under a local oracle (round "
    "15, r14 verdict #3): HOP-GRID window extraction (window ordinal "
    "k on a hop grid, hop = window/2 → 50% overlap between adjacent "
    "windows, trailing partial dropped) expressed as a deterministic "
    "text surrogate DuckDB recomputes, probed through the SAME value-"
    "collapsed media_containment_pairs the video row pins — proving "
    "the containment query is genuinely media-agnostic at a SECOND "
    "window geometry (overlapping grid vs the video row's positional "
    "stride), against the all-pairs bit_count(xor) oracle at window "
    "granularity.  Window = 4 word-hashes at position k*2: overlap "
    "means an excerpt cut mid-grid still shares every INTERIOR window "
    "with its source — the audio operator's cut-point-misalignment "
    "story, verified hash-exactly.  Same integer-ppm threshold, same "
    "signed-long parquet round-trip through a scratch store.  The "
    "window-count bound carries an explicit length CASE guard because "
    "DuckDB's // truncates toward zero ((3-4)//2+1 = 1: one spurious "
    "NULL-fp window inflating a 3-word doc's totals where Spark's "
    "size guard emits none) — pinned by the synthetic boundary-length "
    "parity test, since no test corpus doc is that short.  "
    "driver=False: the 50-row window is full — parity runs in the "
    "local oracle sweep.  bench=False: the post-store plan is the "
    "video_frame_containment plan verbatim (same media_containment_"
    "pairs call, same banding) — timing it twice would measure the "
    "same plan twice and overflow the bench tail window's row budget "
    "(the 69th-row decision the round-14 budget test exists to force).",
    driver=False,
    bench=False,
)
def q_audio_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from etl_olho_vivo_spark.operators.multimodal import (
        media_containment_pairs,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"
    root = f"{tempfile.gettempdir()}/etl_olho_vivo_audio_fp"
    path = f"{root}/{tag}"
    if tag not in _AUDIO_FP_BUILT or not os.path.exists(path):
        _sweep_dead_scratch(root)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        d = read_table(spark, sf_dir, "documents")
        # window ordinals on the hop grid; sequence(0, negative)
        # counts DOWN in Spark — the size guard is load-bearing
        pos = (
            "CASE WHEN size(wh) >= 4 THEN "
            "sequence(0, (size(wh) - 4) div 2) "
            "ELSE array() END"
        )
        par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        windows = (
            dedup.with_token_hashes(
                d.select("doc_id", "text").repartition(par, "doc_id")
            )
            .select("doc_id", "wh", F.explode(F.expr(pos)).alias("k"))
            .select(
                "doc_id",
                F.col("k").cast("int").alias("frame_idx"),
                F.expr(
                    f"shiftleft(({_AW_GH}) % 4294967296, 32) "
                    f"| (({_AW_GH}) * 48271) % 4294967291"
                ).alias("fp"),
            )
        )
        windows.write.mode("overwrite").parquet(path)
        _AUDIO_FP_BUILT.add(tag)
    store = spark.read.parquet(path)
    return media_containment_pairs(
        store, store, max_hamming=3, n_bands=4, min_frac=0.6
    )


@register(
    "ngram_jaccard_pairs",
    f"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN len(wh) >= 2 THEN list_distinct(list_transform(
           range(0, len(wh) - 1),
           i -> (wh[i+1] * {MIX} + wh[i+2]) % {P}))
         ELSE CAST([] AS BIGINT[]) END AS bg
  FROM (SELECT doc_id, source, n_chars, {_D_WH} AS wh FROM documents)
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.bg, b.bg))
           / (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)))
           AS jaccard
  FROM t a JOIN t b
    ON a.source = b.source AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= 20
   AND len(a.bg) + len(b.bg) > 0
) WHERE jaccard >= 0.3
""",
    doc="n-gram (word-bigram) Jaccard near-dup with blocking on "
    "(source, |Δn_chars| ≤ 20) — the blocked-join pattern that keeps "
    "pairwise similarity tractable at scale.  Both sides guard "
    "empty-bigram pairs explicitly: without it DuckDB's 0/0 = NaN "
    "compares GREATER than the threshold and a degenerate pair would "
    "diverge the engines.",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    # token-hash array materialized once (see dedup.with_token_hashes —
    # inlining it per element access is O(tokens²) md5 calls per doc)
    bg = (
        f"CASE WHEN size(wh) >= 2 THEN array_distinct("
        f"transform(sequence(0, size(wh) - 2), "
        f"i -> (wh[i] * {MIX} + wh[i + 1]) % {P}"
        f")) ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    # Spread the md5 token-hashing across cores before the array work —
    # a single-file scan is one input split, and the hash+bigram transform
    # is the compute-heavy stage, not the join.
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persisted like the MinHash signature store: both self-join sides
    # consume t, and without the cache each branch re-runs the md5
    # token hashing + bigram transform (the compute-heavy stage).
    # Tracked in SESSION_BAG — the query must return a lazy frame, so the
    # harness that materializes it owns the release
    # (caching.release_session_caches; bench.py calls it per query).
    from etl_olho_vivo_spark.caching import SESSION_BAG

    t = SESSION_BAG.add(
        dedup.with_token_hashes(
            d.select("doc_id", "source", "n_chars", "text").repartition(
                par, "doc_id"
            )
        ).select("doc_id", "source", "n_chars", F.expr(bg).alias("bg"))
    )
    # Equi-join on (source, 20-char length bucket) with neighbor-bucket
    # expansion on one side: |Δn_chars| ≤ 20 implies bucket distance ≤ 1,
    # so exploding side A to {b-1, b, b+1} finds every qualifying pair
    # exactly once (each pair meets at the single key k = B's bucket).
    # Joining only on `source` (few distinct values) would hash the whole
    # corpus onto a handful of reducers — this keys the shuffle on a
    # fine-grained uniform key instead, the shape that survives 100 TB.
    bucket = F.floor(F.col("n_chars") / 20)
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source"),
        F.col("n_chars").alias("nc_a"),
        F.col("bg").alias("bg_a"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source"),
        F.col("n_chars").alias("nc_b"),
        F.col("bg").alias("bg_b"),
        bucket.alias("bucket"),
    )
    inter = F.size(F.array_intersect("bg_a", "bg_b"))
    union = F.size("bg_a") + F.size("bg_b") - inter
    # threshold test in integer form: J = i/(na+nb-i) >= 0.3  ⇔
    # 13·i >= 3·(na+nb)  — evaluates the array_intersect ONCE per pair
    # (a filter on the jaccard column would be pushed below the projection
    # with the intersect expression substituted into it, recomputing the
    # intersection 2-3× per joined row)
    na_nb = F.size("bg_a") + F.size("bg_b")
    keep = (F.lit(13) * inter >= F.lit(3) * na_nb) & (na_nb > 0)
    # Pin the exchange: the pair stage shuffles few bytes but does
    # O(block²) array-intersect work per partition, so AQE's size-based
    # coalescing would collapse it to one task (same rationale as
    # registry_ingest.q_doc_editdist_near_dup); merge (sort-merge) keeps
    # BOTH failure modes off the table at real scale — the
    # broadcast-of-the-corpus plan and the shuffled-hash build map,
    # which holds a whole (source, bucket) block in memory per task and
    # cannot spill (the starved-JVM probe showed hash builds OOM at 30×
    # block density while SMJ spills and completes).
    a = a.repartition(par, "source", "bucket")
    return (
        a.hint("merge").join(b, ["source", "bucket"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 20)
        )
        .filter(keep)
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
    )


_D_GRAM5 = ngram_hash_expr([f"wh[i+{j + 1}]" for j in range(5)])


@register(
    "eval_decontamination",
    f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(wh) >= 5 THEN list_distinct(list_transform(
           range(0, len(wh) - 4), i -> {_D_GRAM5}))
         ELSE CAST([] AS BIGINT[]) END AS gs
  FROM (SELECT doc_id, {_D_WH} AS wh FROM documents)
),
ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 23 = 0),
tr AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g
       FROM g WHERE doc_id % 23 <> 0)
SELECT tr.doc_id AS doc_id, any_value(tr.n_grams) AS n_grams,
       count(*) AS n_contaminated,
       count(*) / any_value(tr.n_grams) AS overlap_frac
FROM tr JOIN ev ON tr.g = ev.g
GROUP BY tr.doc_id
""",
    doc="Eval-set decontamination (operators/decontam.py): docs whose "
    "doc_id % 23 == 0 stand in for a held-out benchmark; every other "
    "doc is probed for shared distinct word-5-grams and rolled up to "
    "(n_grams, n_contaminated, overlap_frac) — the GPT-3-style n-gram "
    "leakage check.  The eval gram set is broadcast (benchmark-sized "
    "by construction), so the corpus side is one scan + map-side hash "
    "probe; the only shuffle carries contaminated hits.  overlap_frac "
    "is an exact int/int division — bit-identical across engines.",
)
def q_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decontam.contamination_report(
        d.filter(F.col("doc_id") % 23 != 0),
        d.filter(F.col("doc_id") % 23 == 0),
        n=5,
    )


@register(
    "doc_bigram_cross_entropy",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
uni AS (
  SELECT w1h, count(*) AS u_n
  FROM (SELECT unnest(wh) AS w1h FROM w) GROUP BY w1h
),
v AS (SELECT count(*) AS v FROM uni),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+1])) AS w1h,
         unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+2])) AS w2h
  FROM w WHERE len(wh) >= 2
),
big AS (SELECT w1h, w2h, count(*) AS b_n FROM occ GROUP BY w1h, w2h),
sc AS (
  SELECT o.doc_id,
         ln((coalesce(b.b_n, 0) + 0.5)
            / (coalesce(u.u_n, 0) + 0.5 * v.v)) AS ll
  FROM occ o
  LEFT JOIN big b ON o.w1h = b.w1h AND o.w2h = b.w2h
  LEFT JOIN uni u ON o.w1h = u.w1h
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-avg(ll), 6) AS cross_entropy
FROM sc GROUP BY doc_id
""",
    doc="CCNet-style LM quality scoring (operators/lm.py, Wenzek et al. "
    "2019): per-document cross-entropy under an add-k-smoothed bigram "
    "model — here self-trained on the same table (the standard "
    "train-on-corpus demo; production trains on a trusted reference "
    "corpus and buckets the score distribution).  Counts are exact "
    "integers; only log/mean are doubles, rounded 6 dp per the "
    "engine-wide transcendental rule.  driver=False: the 50-row window "
    "is full — parity runs in the local oracle suite, and the query "
    "stays benchmarked.",
    driver=False,
)
def q_doc_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators import lm

    d = read_table(spark, sf_dir, "documents")
    uni, big = lm.bigram_counts(d, caches=SESSION_BAG)
    # SESSION_BAG (not a local bag): the returned frame is lazy and its
    # plan references the cached count relations — same pattern as the
    # signature-store queries above
    return lm.cross_entropy_scores(d, uni, big, caches=SESSION_BAG)


_D_SPLIT_KEY = duck_hex2int("md5(CAST(doc_id AS VARCHAR) || ':0')")


@register(
    "assign_splits",
    f"""
SELECT doc_id, lang, source,
       CASE WHEN ({_D_SPLIT_KEY}) % 10000 < 8000 THEN 'train'
            WHEN ({_D_SPLIT_KEY}) % 10000 < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    doc="Deterministic 80/10/10 train/val/test assignment "
    "(operators/split.py, seed 0): split = integer band of "
    "md5(doc_id ‖ ':0') mod 10000 — a pure map-side projection (no "
    "shuffle, no rand()), so the same document lands in the same split "
    "on any cluster, any partitioning, any task retry; the oracle "
    "reproduces the exact md5 bucket arithmetic, proving the placement "
    "function itself rather than just the split sizes.",
)
def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators.split import assign_splits

    d = read_table(spark, sf_dir, "documents")
    out = assign_splits(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=0
    )
    return out.select("doc_id", "lang", "source", "split")


def _dsir_oracle() -> str:
    """DuckDB twin of operators/dsir.py — the bucket expressions derive
    from dsir.feature_expr / N_BUCKETS so the two sides cannot drift."""
    from etl_olho_vivo_spark.operators import dsir

    b = dsir.N_BUCKETS
    bigram = dsir.feature_expr(b, "wh[i+1]", "wh[i+2]")
    key = duck_hex2int("md5(CAST(doc_id AS VARCHAR) || ':dsir-0')")
    return f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
f AS (
  SELECT doc_id, unnest(
    list_transform(wh, h -> h % {b})
    || CASE WHEN len(wh) >= 2 THEN
         list_transform(range(0, len(wh) - 1), i -> {bigram})
       ELSE CAST([] AS BIGINT[]) END
  ) AS bucket
  FROM w
),
t AS (SELECT bucket, count(*) AS t_n FROM f WHERE doc_id % 7 = 0 GROUP BY bucket),
r AS (SELECT bucket, count(*) AS r_n FROM f GROUP BY bucket),
tt AS (SELECT sum(t_n) AS t_tot FROM t),
rt AS (SELECT sum(r_n) AS r_tot FROM r),
sc AS (
  SELECT f.doc_id,
         ln(coalesce(t.t_n, 0) + 1.0) - ln(tt.t_tot + {b})
         - ln(coalesce(r.r_n, 0) + 1.0) + ln(rt.r_tot + {b}) AS ll
  FROM f LEFT JOIN t USING (bucket) LEFT JOIN r USING (bucket)
  CROSS JOIN tt CROSS JOIN rt
),
wgt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         round(sum(ll), 6) AS log_w
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_feats, log_w,
       round(log_w + (-ln(-ln((({key}) + 1.0) / 4294967297.0))), 6) AS sel_key
FROM wgt
ORDER BY sel_key DESC, doc_id
LIMIT 100
"""


@register(
    "dsir_select",
    _dsir_oracle(),
    doc="DSIR data selection (Xie et al. 2023; operators/dsir.py): hashed "
    "unigram+bigram bucket features (10k buckets, md5-derived), add-1 "
    "smoothed target/raw bucket distributions, per-doc log importance "
    "weight, and Gumbel top-k resampling (k=100, seed 0) — the standard "
    "'select raw docs that look like the target corpus' pass of a "
    "pre-training pipeline.  Target here = doc_id % 7 == 0 (the "
    "train-on-subset demo; production passes any target DataFrame).  "
    "Counts exact BIGINTs; the log sum and the Gumbel key are the only "
    "doubles, rounded 6 dp before emit/ranking with doc_id tiebreak, so "
    "the selected set is bit-stable across engines and partitionings.  "
    "Plan: both bucket histograms (≤10k rows) broadcast; the corpus "
    "crosses ONE exchange (the per-doc sum on the unique doc id); "
    "selection is TakeOrderedAndProject, never a global sort.",
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators import dsir

    d = read_table(spark, sf_dir, "documents")
    return dsir.dsir_select(
        d, d.filter(F.col("doc_id") % 7 == 0), k=100, seed=0
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_D_DOT = (
    "list_sum(list_transform(range(0, len({a})), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
)


@register(
    "embedding_cosine_topk",
    f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, cos_sim FROM (
  SELECT e.vec_id, e.label,
         round({_D_DOT.format(a='e.embedding', b='q.qe')}
           / (sqrt({_D_DOT.format(a='e.embedding', b='e.embedding')})
              * sqrt({_D_DOT.format(a='q.qe', b='q.qe')})), 6) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> 0
)
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    doc="Brute-force cosine top-k (the ANN correctness baseline): broadcast "
    "query vector, JVM-side zip_with/aggregate fold, TakeOrdered(k) — one "
    "scan, no shuffle.",
)
def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, query_vec_id=0, k=10)


# quantization oracle fragment from the ONE shared grid definition
_D_QUANT = "(" + similarity.duck_quantize_expr("{a}") + ")"


@register(
    "ivf_topk",
    f"""
WITH v AS (
  SELECT vec_id, label, {_D_QUANT.format(a='embedding')} AS qv
  FROM embeddings
),
c AS (SELECT vec_id AS cell_id, qv AS qc FROM v WHERE vec_id < 8),
d AS (
  SELECT v.vec_id, v.label, v.qv, c.cell_id,
         CAST(list_sum(list_transform(range(0, len(v.qv)),
           i -> (v.qv[i+1] - c.qc[i+1]) * (v.qv[i+1] - c.qc[i+1])))
           AS BIGINT) AS dist
  FROM v, c
),
a AS (
  SELECT vec_id, label, qv, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell_id) AS rn FROM d
  ) WHERE rn = 1
),
q AS (SELECT qv AS q_qv FROM v WHERE vec_id = 0),
pd AS (
  SELECT c.cell_id, q.q_qv,
         CAST(list_sum(list_transform(range(0, len(c.qc)),
           i -> (c.qc[i+1] - q.q_qv[i+1]) * (c.qc[i+1] - q.q_qv[i+1])))
           AS BIGINT) AS cd
  FROM c, q
),
probe AS (
  SELECT cell_id AS q_cell, q_qv FROM (
    SELECT *, row_number() OVER (ORDER BY cd, cell_id) AS rn FROM pd
  ) WHERE rn <= 2
)
SELECT a.vec_id, a.label, a.cell_id,
       CAST(list_sum(list_transform(range(0, len(a.qv)),
         i -> a.qv[i+1] * p.q_qv[i+1])) AS BIGINT) AS dot_q
FROM a JOIN probe p ON a.cell_id = p.q_cell
WHERE a.vec_id <> 0
ORDER BY dot_q DESC, a.vec_id
LIMIT 10
""",
    doc="IVF ANN top-k with multi-probe (n_probe=2): integer-quantized "
    "coarse quantizer (exact argmin cell assignment), rank ALL centroids "
    "by distance to the query and scan the 2 nearest cells, rank "
    "candidates by exact integer dot — the production recall dial, not "
    "just the single-cell demo path.",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_vec_id=0, k=10, n_cells=8, n_probe=2)


@register(
    "ivf_cells",
    f"""
WITH v AS (
  SELECT vec_id, label, {_D_QUANT.format(a='embedding')} AS qv
  FROM embeddings
),
c AS (SELECT vec_id AS cell_id, qv AS qc FROM v WHERE vec_id < 8),
d AS (
  SELECT v.vec_id, c.cell_id,
         CAST(list_sum(list_transform(range(0, len(v.qv)),
           i -> (v.qv[i+1] - c.qc[i+1]) * (v.qv[i+1] - c.qc[i+1])))
           AS BIGINT) AS dist
  FROM v, c
)
SELECT cell_id, count(*) AS n_vectors FROM (
  SELECT vec_id, cell_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell_id) AS rn FROM d
  ) WHERE rn = 1
) GROUP BY cell_id
""",
    doc="IVF cell histogram — partition-balance diagnostics for the ANN "
    "index (skewed cells → probe imbalance).  driver=False (round 10, "
    "yielding its slot to ivfpq_topk): README rotation category 1 — "
    "the assignment arithmetic it checks is identical to the first "
    "stage of ivf_topk (still a driver row), so the diagnostic "
    "histogram keeps only local parity + bench coverage while the "
    "composed serving stack takes driver-oracle weight.",
    driver=False,
)
def q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        similarity.ivf_assign(emb, n_cells=8)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _D_L2(a: str, b: str) -> str:
    """DuckDB exact integer squared-L2 over two BIGINT lists — the twin
    of similarity._l2sq_int (same arithmetic, both engines exact)."""
    return (
        f"list_sum(list_transform(range(0, len({a})), "
        f"i -> ({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])))"
    )


_PQ_VSUB = "list_slice(v.qv, c.sub_id*8 + 1, (c.sub_id+1)*8)"
_PQ_QSUB = "list_slice(q.q_qv, c.sub_id*8 + 1, (c.sub_id+1)*8)"


@register(
    "pq_topk",
    f"""
WITH v AS (
  SELECT vec_id, label, {_D_QUANT.format(a='embedding')} AS qv
  FROM embeddings
),
subs AS (SELECT unnest(range(0, 8)) AS sub_id),
cb AS (
  SELECT s.sub_id, v.vec_id AS code_id,
         list_slice(v.qv, s.sub_id*8 + 1, (s.sub_id+1)*8) AS qc
  FROM v, subs s WHERE v.vec_id < 16
),
enc AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT vec_id, sub_id, code_id,
           row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY d, code_id) AS rn
    FROM (SELECT v.vec_id, c.sub_id, c.code_id,
                 CAST({_D_L2(_PQ_VSUB, 'c.qc')} AS BIGINT) AS d
          FROM v, cb c)
  ) WHERE rn = 1
),
q AS (SELECT qv AS q_qv FROM v WHERE vec_id = 0),
dt AS (
  SELECT c.sub_id, c.code_id,
         CAST({_D_L2('c.qc', _PQ_QSUB)} AS BIGINT) AS dq
  FROM cb c, q
),
adc AS (
  SELECT e.vec_id, CAST(sum(dt.dq) AS BIGINT) AS adc_dist
  FROM enc e JOIN dt ON e.sub_id = dt.sub_id AND e.code_id = dt.code_id
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 50
)
SELECT a.vec_id, v.label, a.adc_dist,
       CAST({_D_L2('v.qv', 'q.q_qv')} AS BIGINT) AS l2_exact
FROM adc a JOIN v ON a.vec_id = v.vec_id CROSS JOIN q
ORDER BY l2_exact, a.vec_id LIMIT 10
""",
    doc="Product-quantization ADC top-k (Jegou et al. 2011) — the "
    "memory-bounded ANN scan path beside IVF: vectors encode once as 8 "
    "codebook indices (seed-pinned codebooks = subvectors of the first "
    "16 vectors, quantized — the demo-seeding contract the oracle "
    "replicates); a query inlines its 8x16 integer distance LUT as a "
    "literal and ranks the corpus with 8 lookups per row (final plan: "
    "ZERO corpus-side exchanges, two TakeOrdered reductions), then "
    "re-ranks the 50-best pool by exact integer L2 — the classic "
    "two-stage ADC pipeline, hash-exact under the oracle because every "
    "stage is integer arithmetic.  driver=False: the 50-row window is "
    "full — parity runs in the local oracle suite, and the query stays "
    "benchmarked.",
    driver=False,
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG

    emb = read_table(spark, sf_dir, "embeddings")
    # the serving architecture PQ exists for: encode ONCE into a cached
    # slim code relation (the ingest-time index), query against it —
    # same pattern as the signature-store rows.  The inline-encode path
    # (codes=None) stays covered by the operator tests; measured at
    # sf0.1 it pays ~3x in interpreted evaluation of the combined
    # encode+ADC expression, which no deployment would do per query.
    cbs = similarity.pq_codebooks(emb, m_sub=8, k_codes=16)
    codes = SESSION_BAG.add(similarity.pq_encode(emb, cbs))
    return similarity.pq_topk(
        emb, query_vec_id=0, k=10, rerank=50, codebooks=cbs, codes=codes
    )


_IVFPQ_RSUB = "list_slice(r.rv, c2.sub_id*8 + 1, (c2.sub_id+1)*8)"


@register(
    "ivfpq_topk",
    f"""
WITH v AS (
  SELECT vec_id, label, {_D_QUANT.format(a='embedding')} AS qv
  FROM embeddings
),
c AS (SELECT vec_id AS cell_id, qv AS qc FROM v WHERE vec_id < 8),
d AS (
  SELECT v.vec_id, v.label, v.qv, c.cell_id, c.qc,
         CAST({_D_L2('v.qv', 'c.qc')} AS BIGINT) AS dist
  FROM v, c
),
r AS (
  SELECT vec_id, label, cell_id, qv,
         list_transform(range(0, len(qv)),
                        i -> qv[i+1] - qc[i+1]) AS rv
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cell_id) AS rn FROM d
  ) WHERE rn = 1
),
subs AS (SELECT unnest(range(0, 8)) AS sub_id),
cb AS (
  SELECT s.sub_id, r.vec_id - 8 AS code_id,
         list_slice(r.rv, s.sub_id*8 + 1, (s.sub_id+1)*8) AS qc
  FROM r, subs s WHERE r.vec_id >= 8 AND r.vec_id < 24
),
enc AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT r.vec_id, c2.sub_id, c2.code_id,
           row_number() OVER (PARTITION BY r.vec_id, c2.sub_id
                              ORDER BY CAST({_D_L2(_IVFPQ_RSUB, 'c2.qc')}
                                       AS BIGINT), c2.code_id) AS rn
    FROM r, cb c2
  ) WHERE rn = 1
),
q AS (SELECT qv AS q_qv FROM v WHERE vec_id = 0),
pd AS (
  SELECT c.cell_id, c.qc,
         CAST({_D_L2('c.qc', 'q.q_qv')} AS BIGINT) AS cd
  FROM c, q
),
probe AS (
  SELECT cell_id, qc FROM (
    SELECT *, row_number() OVER (ORDER BY cd, cell_id) AS rn FROM pd
  ) WHERE rn <= 2
),
rq AS (
  SELECT p.cell_id,
         list_transform(range(0, len(q.q_qv)),
                        i -> q.q_qv[i+1] - p.qc[i+1]) AS rqv
  FROM probe p, q
),
dt AS (
  SELECT rq.cell_id, c2.sub_id, c2.code_id,
         CAST({_D_L2("list_slice(rq.rqv, c2.sub_id*8 + 1, (c2.sub_id+1)*8)",
                     'c2.qc')} AS BIGINT) AS dq
  FROM rq, cb c2
),
adc AS (
  SELECT r.vec_id, r.label, r.cell_id,
         CAST(sum(dt.dq) AS BIGINT) AS adc_dist
  FROM r
  JOIN enc e ON r.vec_id = e.vec_id
  JOIN dt ON dt.cell_id = r.cell_id AND dt.sub_id = e.sub_id
         AND dt.code_id = e.code_id
  WHERE r.vec_id <> 0
  GROUP BY r.vec_id, r.label, r.cell_id
  ORDER BY adc_dist, r.vec_id LIMIT 50
)
SELECT a.vec_id, a.label, a.cell_id, a.adc_dist,
       CAST({_D_L2('v.qv', 'q.q_qv')} AS BIGINT) AS l2_exact
FROM adc a JOIN v ON a.vec_id = v.vec_id CROSS JOIN q
ORDER BY l2_exact, a.vec_id LIMIT 10
""",
    doc="IVF-PQ top-k — the two halves composed into the standard "
    "serving architecture (Jegou et al. 2011 IVFADC): probe the 2 "
    "coarse cells nearest the query, ADC-score ONLY those cells' "
    "RESIDUAL codes against per-cell LUTs (residual = qv - centroid, "
    "exact integer subtraction; codebooks seed-pinned to the residuals "
    "of vec_id 8..23 — seeds start past the centroids because the "
    "first n_cells residuals are identically zero), exact-integer "
    "re-rank of the 50-best pool.  The candidate scan touches only the "
    "probed cells' codes, per-cell LUTs are bounded driver "
    "arithmetic, and every stage is integer math, so the oracle "
    "matches hash-exactly.  Promoted to the driver window in round 10 "
    "(took ivf_cells' slot per the rotation policy): the composed "
    "serving stack is the flagship ANN path and belongs under the "
    "external oracle.",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG

    emb = read_table(spark, sf_dir, "embeddings")
    # serving shape, as for pq_topk: the coded relation is the
    # ingest-time index, session-cached; the query scans its probed
    # cells and never re-encodes the corpus
    cents = similarity._default_centroids(emb, 8)
    books = similarity.ivfpq_codebooks(
        emb, cents, n_cells=8, m_sub=8, k_codes=16
    )
    coded = SESSION_BAG.add(
        similarity.ivfpq_encode(emb, cents, books, n_cells=8)
    )
    return similarity.ivfpq_topk(
        emb, query_vec_id=0, k=10, n_probe=2, rerank=50,
        centroids=cents, codebooks=books, coded=coded,
    )


def _datacard_oracle() -> str:
    from etl_olho_vivo_spark.operators.datacard import len_bucket_sql

    agg = (
        "CAST(count(*) AS BIGINT) AS docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS tokens, "
        "CAST(sum(n_chars) AS BIGINT) AS chars"
    )
    return f"""
WITH base AS (
  SELECT lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         length(text) AS n_chars
  FROM documents
),
prof AS (
  SELECT lang, source, n_tokens, n_chars,
         {len_bucket_sql('n_tokens')} AS len_bucket
  FROM base
)
SELECT 'lang' AS dim,
       COALESCE(CAST(lang AS VARCHAR), chr(0) || 'null') AS key, {agg}
FROM prof GROUP BY lang
UNION ALL
SELECT 'source' AS dim,
       COALESCE(CAST(source AS VARCHAR), chr(0) || 'null') AS key, {agg}
FROM prof GROUP BY source
UNION ALL
SELECT 'len_bucket' AS dim, CAST(len_bucket AS VARCHAR) AS key, {agg}
FROM prof GROUP BY len_bucket
UNION ALL
SELECT 'total' AS dim, 'all' AS key, {agg}
FROM prof
"""


@register(
    "corpus_datacard",
    _datacard_oracle(),
    doc="The corpus data card (round 13 — the statistics sheet a "
    "training corpus ships with, Dolma/FineWeb-style): per-language, "
    "per-source, and log2-token-length-bucket doc/token/char counts "
    "plus the grand total, from operators/datacard.py.  ONE scan, ONE "
    "grouping-sets aggregation (single Expand over a slim projection "
    "feeding one partial-aggregated exchange — plan-pinned; the naive "
    "form is one corpus re-scan per dimension), bounded result.  The "
    "length bucket is an integer CASE ladder shared verbatim with "
    "this oracle (len_bucket_sql) — floor(log2(x)) via libm would be "
    "a cross-engine parity hazard exactly at power-of-two bucket "
    "boundaries.  The oracle recomputes every grouping set as a "
    "literal GROUP BY (the groupby_extensions convention: same "
    "values, no GROUPING_ID dialect dependence).  Promoted to the "
    "driver window in round 14 (took order_priority_pivot's slot per "
    "the rotation policy): grouping sets are an aggregation family "
    "the window otherwise lacks, and the card is the repo's shipping "
    "artifact for corpus releases.",
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.operators.datacard import corpus_stats

    return corpus_stats(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode",
    """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(list_sum(list_transform(range(0, strlen(text)),
         i -> ascii(substring(text, i + 1, 1)))) % 2147483647 AS BIGINT)
         AS checksum,
       'opaque' AS media_kind,
       CAST(CAST(list_sum(list_transform(range(0, strlen(text)),
         i -> ascii(substring(text, i + 1, 1)))) % 2147483647 AS BIGINT)
         % 640 AS INT) AS width,
       CAST(CAST(list_sum(list_transform(range(0, strlen(text)),
         i -> ascii(substring(text, i + 1, 1)))) % 2147483647 AS BIGINT)
         % 480 AS INT) AS height,
       CAST(NULL AS DOUBLE) AS mean_pixel
FROM documents
""",
    doc="Multimodal plumbing: binary media column + metadata struct, decoded "
    "via Arrow-batched mapInPandas.  decode_media REALLY parses BMP and "
    "binary PNM (pure-stdlib header+payload decode, round 9); this corpus' "
    "media is text/plain, so every row takes the deterministic 'opaque' "
    "byte-stats path the oracle recomputes in SQL, validating the "
    "Python/Arrow boundary; the real-format paths are pinned against "
    "generated BMP/P6 fixtures in tests/test_operators.py.",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return multimodal.decode_media(multimodal.attach_media(d))


@register(
    "multimodal_audio",
    """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       'opaque' AS media_kind,
       CAST(NULL AS INT) AS n_channels,
       CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS INT) AS bits_per_sample,
       CAST(NULL AS INT) AS n_frames,
       CAST(NULL AS DOUBLE) AS duration_s,
       CAST(NULL AS DOUBLE) AS mean_abs_amplitude
FROM documents
""",
    doc="Audio leg of the multimodal surface: decode_audio REALLY parses "
    "RIFF/WAVE PCM (chunk walk, fmt validation, numpy-vectorized mean "
    "|amplitude|; operators/multimodal.py round 9).  This corpus' media "
    "is text/plain, so every row takes the opaque-with-NULL-audio-fields "
    "path the oracle recomputes — validating the Arrow boundary and the "
    "nullable audio schema; the real WAV path is pinned against "
    "stdlib-wave-encoded fixtures in tests/test_operators.py.  "
    "driver=False: the 50-row window is full — parity runs in the local "
    "oracle suite.",
    driver=False,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return multimodal.decode_audio(multimodal.attach_media(d))

_D_CTX2 = ngram_hash_expr(["wh[i+1]", "wh[i+2]"])

@register(
    "doc_trigram_cross_entropy",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
uni AS (
  SELECT w1h, count(*) AS u_n
  FROM (SELECT unnest(wh) AS w1h FROM w) GROUP BY w1h
),
v AS (SELECT count(*) AS v FROM uni),
ctx AS (
  SELECT ctx_h, count(*) AS c_n
  FROM (SELECT unnest(list_transform(range(0, len(wh) - 1),
                                     i -> {_D_CTX2})) AS ctx_h
        FROM w WHERE len(wh) >= 2)
  GROUP BY ctx_h
),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(wh) - 2), i -> {_D_CTX2})) AS ctx_h,
         unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+3])) AS w_h
  FROM w WHERE len(wh) >= 3
),
tri AS (SELECT ctx_h, w_h, count(*) AS g_n FROM occ GROUP BY ctx_h, w_h),
sc AS (
  SELECT o.doc_id,
         ln((coalesce(t.g_n, 0) + 0.5)
            / (coalesce(c.c_n, 0) + 0.5 * v.v)) AS ll
  FROM occ o
  LEFT JOIN tri t ON o.ctx_h = t.ctx_h AND o.w_h = t.w_h
  LEFT JOIN ctx c ON o.ctx_h = c.ctx_h
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       round(-avg(ll), 6) AS cross_entropy
FROM sc GROUP BY doc_id
""",
    doc="The order-n LM gate, executable past the bigram demo: per-doc "
    "cross-entropy under an add-k TRIGRAM model via the general "
    "ngram_counts/ngram_cross_entropy_scores path (operators/lm.py).  "
    "Context identity is the shared rolling hash over the two leading "
    "token hashes (functions/hashing.ngram_hash_expr — one formula, "
    "both engines), so arbitrary-order models stay under the oracle; "
    "the context denominator counts ALL (n-1)-token windows including "
    "document-final ones, mirroring the bigram path's all-occurrences "
    "unigram denominator.  V is the unigram vocabulary.  driver=False: "
    "the 50-row window is full — parity runs in the local oracle suite "
    "(tests/test_lm.py), and the query stays benchmarked.  BOUND: the "
    "Spark path truncates each count relation at top_k=1,000,000 while "
    "this oracle SQL does not — parity holds while the corpus stays "
    "under top_k distinct entries per relation, which the local parity "
    "test asserts explicitly (tests/test_lm.py).",
    driver=False,
)
def q_doc_trigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators import lm

    d = read_table(spark, sf_dir, "documents")
    ctx, ng, uni = lm.ngram_counts(d, order=3, caches=SESSION_BAG)
    return lm.ngram_cross_entropy_scores(
        d, ctx, ng, uni, order=3, caches=SESSION_BAG
    )


@register(
    "doc_stupid_backoff",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
ref AS (SELECT * FROM w WHERE doc_id % 2 = 0),
uni AS (
  SELECT w1h, count(*) AS u_n
  FROM (SELECT unnest(wh) AS w1h FROM ref) GROUP BY w1h
),
v AS (SELECT count(*) AS v, CAST(sum(u_n) AS BIGINT) AS n_tok FROM uni),
ctx3 AS (
  SELECT ctx_h, count(*) AS c_n
  FROM (SELECT unnest(list_transform(range(0, len(wh) - 1),
                                     i -> {_D_CTX2})) AS ctx_h
        FROM ref WHERE len(wh) >= 2)
  GROUP BY ctx_h
),
tri AS (
  SELECT ctx_h, w_h, count(*) AS g_n FROM (
    SELECT unnest(list_transform(range(0, len(wh) - 2),
                                 i -> {_D_CTX2})) AS ctx_h,
           unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+3])) AS w_h
    FROM ref WHERE len(wh) >= 3) GROUP BY ctx_h, w_h
),
big AS (
  SELECT w1h, w2h, count(*) AS b_n FROM (
    SELECT unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+1])) AS w1h,
           unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+2])) AS w2h
    FROM ref WHERE len(wh) >= 2) GROUP BY w1h, w2h
),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(wh) - 2),
                               i -> {_D_CTX2})) AS ctx2_h,
         unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+2])) AS w2h,
         unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+3])) AS w_h
  FROM w WHERE doc_id % 2 = 1 AND len(wh) >= 3
),
sc AS (
  SELECT o.doc_id,
         CASE WHEN t.g_n IS NOT NULL THEN ln(t.g_n / c.c_n)
              WHEN b.b_n IS NOT NULL THEN
                ln(CAST(0.4 AS DOUBLE) * (b.b_n / u2.u_n))
              ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
                   ((coalesce(u3.u_n, 0) + CAST(0.5 AS DOUBLE))
                    / (v.n_tok + CAST(0.5 AS DOUBLE) * v.v)))
         END AS ll
  FROM occ o
  LEFT JOIN tri t ON o.ctx2_h = t.ctx_h AND o.w_h = t.w_h
  LEFT JOIN ctx3 c ON o.ctx2_h = c.ctx_h
  LEFT JOIN big b ON o.w2h = b.w1h AND o.w_h = b.w2h
  LEFT JOIN uni u2 ON o.w2h = u2.w1h
  LEFT JOIN uni u3 ON o.w_h = u3.w1h
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       round(-avg(ll), 6) AS sb_score
FROM sc GROUP BY doc_id
""",
    doc="Stupid-backoff trigram scoring (Brants et al. 2007 — the "
    "smoothing scheme DESIGNED for distributed n-gram models at this "
    "engine's target scale: counts and a fixed 0.4 penalty, no "
    "discount/normalization passes).  Trained on the even-doc_id half, "
    "scored on the odd half, so all three branches — trigram hit, "
    "bigram fallback, add-k unigram leaf (the documented OOV "
    "deviation) — carry weight under the oracle rather than only the "
    "self-trained top branch.  Backoff identity is the shared rolling "
    "context hash; one corpus-sized window relation, every model "
    "relation top_k-bounded/broadcastable (operators/lm.py).  "
    "driver=False: the 50-row window is full — parity runs in the "
    "local oracle suite (tests/test_lm.py + the all-oracle sweep), and "
    "the query stays benchmarked.  BOUND: the Spark path truncates "
    "each count relation at top_k=1,000,000 while this oracle does "
    "not — the local parity test asserts the corpus stays under the "
    "bound, same discipline as doc_trigram_cross_entropy.",
    driver=False,
)
def q_doc_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators import lm

    d = read_table(spark, sf_dir, "documents")
    ref = d.filter((F.col("doc_id") % 2) == 0)
    tgt = d.filter((F.col("doc_id") % 2) == 1)
    uni, models = lm.backoff_counts(ref, order=3, caches=SESSION_BAG)
    return lm.stupid_backoff_scores(
        tgt, uni, models, order=3, caches=SESSION_BAG
    )


def _kn_ll_sql() -> str:
    """The SHARED engine-neutral KN expression — imported from the one
    definition so the two engines can never fold different trees."""
    from etl_olho_vivo_spark.operators.lm import kn_ll_expr

    return kn_ll_expr(3)


_KN_W3 = (
    "SELECT doc_id,"
    " unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+1])) AS h1,"
    " unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+2])) AS h2,"
    " unnest(list_transform(range(0, len(wh) - 2), i -> wh[i+3])) AS h3"
    " FROM {src} WHERE len(wh) >= 3"
)
_KN_W2 = (
    "SELECT"
    " unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+1])) AS h1,"
    " unnest(list_transform(range(0, len(wh) - 1), i -> wh[i+2])) AS h2"
    " FROM ref WHERE len(wh) >= 2"
)


@register(
    "doc_kneser_ney",
    f"""
WITH w AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
ref AS (SELECT doc_id, wh FROM w WHERE doc_id % 2 = 0),
tri AS ({_KN_W3.format(src='ref')}),
big AS ({_KN_W2}),
base3 AS (SELECT h1, h2, h3, count(*) AS n FROM tri GROUP BY h1, h2, h3),
base2 AS (SELECT h1, h2, count(*) AS n FROM big GROUP BY h1, h2),
topc AS (SELECT h1, h2, h3, CAST(n AS BIGINT) AS kc FROM base3),
topctx AS (
  SELECT h1, h2, CAST(sum(n) AS BIGINT) AS kt_top,
         CAST(count(*) AS BIGINT) AS kn1p_top
  FROM base3 GROUP BY h1, h2
),
cc2r AS (
  SELECT h2 AS k1, h3 AS k2, CAST(count(*) AS BIGINT) AS cc2
  FROM base3 GROUP BY h2, h3
),
ctx2 AS (
  SELECT k1, CAST(sum(cc2) AS BIGINT) AS kt2,
         CAST(count(*) AS BIGINT) AS kn1p2
  FROM cc2r GROUP BY k1
),
cc1r AS (
  SELECT h2 AS k1, CAST(count(*) AS BIGINT) AS cc1
  FROM base2 GROUP BY h2
),
sc AS (
  SELECT CAST(sum(cc1) AS BIGINT) AS nbb,
         CAST(count(*) AS BIGINT) AS t1
  FROM cc1r
),
vv AS (
  SELECT CAST(count(DISTINCT h) AS BIGINT) AS v
  FROM (SELECT unnest(wh) AS h FROM ref)
),
occ AS ({_KN_W3.format(src='(SELECT doc_id, wh FROM w '
                           'WHERE doc_id % 2 = 1)')}),
j AS (
  SELECT o.doc_id, t.kc, tc.kt_top, tc.kn1p_top, c2.cc2, x2.kt2,
         x2.kn1p2, c1.cc1, s.nbb, s.t1, v.v
  FROM occ o
  LEFT JOIN topc t ON o.h1 = t.h1 AND o.h2 = t.h2 AND o.h3 = t.h3
  LEFT JOIN topctx tc ON o.h1 = tc.h1 AND o.h2 = tc.h2
  LEFT JOIN cc2r c2 ON o.h2 = c2.k1 AND o.h3 = c2.k2
  LEFT JOIN ctx2 x2 ON o.h2 = x2.k1
  LEFT JOIN cc1r c1 ON o.h3 = c1.k1
  CROSS JOIN sc s CROSS JOIN vv v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       round(-avg({_kn_ll_sql()}), 6) AS kn_score
FROM j GROUP BY doc_id
""",
    doc="Interpolated Kneser-Ney trigram scoring (Chen & Goodman 1999 "
    "— the smoothing KenLM uses, i.e. what CCNet proper filters with): "
    "top level discounts raw counts, lower levels use CONTINUATION "
    "counts (distinct-predecessor types), each level interpolates "
    "D*N1+(ctx.)/tot of its mass into the level below, and the leaf "
    "interpolates with uniform 1/V so OOV stays finite (the documented "
    "corpus-gate deviation, as for stupid backoff).  Trained on the "
    "even-doc_id half, scored on the odd half, so every branch — "
    "trigram hit, continuation fallback, unseen-context fall-through, "
    "OOV leaf — carries weight under the oracle.  The log-probability "
    "is ONE shared SQL string (lm.kn_ll_expr) embedded verbatim in "
    "both engines, so the IEEE fold cannot drift; counts are exact "
    "integers; round(6) is defense in depth.  Scale shape mirrors the "
    "backoff scorer: one corpus-sized window relation, broadcast joins "
    "against top_k-bounded relations, zero corpus shuffles before the "
    "rollup.  BOUND: the Spark relations truncate at top_k=1,000,000 "
    "while this oracle does not — the parity suite asserts the corpus "
    "stays under the bound, same discipline as the other LM rows.  "
    "driver=False: the 50-row window is full — parity runs in the "
    "local oracle suite, and the query stays benchmarked.",
    driver=False,
)
def q_doc_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators import lm

    d = read_table(spark, sf_dir, "documents")
    ref = d.filter((F.col("doc_id") % 2) == 0)
    tgt = d.filter((F.col("doc_id") % 2) == 1)
    counts = lm.kneser_ney_counts(ref, order=3, caches=SESSION_BAG)
    return lm.kneser_ney_scores(tgt, counts, caches=SESSION_BAG)


@register(
    "bloom_gram_overlap",
    f"""
WITH docs AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
shs AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM docs),
ref AS (SELECT DISTINCT unnest(sh) AS gh FROM shs WHERE doc_id % 2 = 0),
new_g AS (SELECT doc_id, unnest(sh) AS gh FROM shs WHERE doc_id % 2 = 1),
hit AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit
  FROM new_g g LEFT JOIN ref r ON g.gh = r.gh
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_grams, 0) AS n_grams,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN coalesce(h.n_grams, 0) > 0
            THEN h.n_hit / h.n_grams ELSE 0.0 END AS overlap,
       CASE WHEN coalesce(h.n_grams, 0) > 0
            AND h.n_hit / h.n_grams >= 0.5
            THEN TRUE ELSE FALSE END AS flagged
FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
WHERE d.doc_id % 2 = 1
""",
    doc="Dolma-style inter-snapshot dedup behind a distributed Bloom "
    "filter (operators/bloom.py): new-crawl docs (odd ids) scored by "
    "the fraction of their distinct 3-gram shingles already present in "
    "the reference snapshot (even ids), flagged at >= 0.5 overlap.  "
    "The membership set is NOT broadcast and NOT fully joined: a "
    "(word, bits) bitmap relation — built with one uniform bit_or "
    "shuffle, at most num_bits/64 rows — prefilters probe grams via an "
    "equi-join on the hash-uniform word index, and only Bloom-passing "
    "grams (true members + fpp of the rest) reach the exact verify "
    "semi-join, which is what makes the result bit-exact membership "
    "(no FN by construction, FPs removed by verify) and hence "
    "oracle-checkable while the filter internals stay engine-side "
    "(xxhash64).  eval_decontamination is the broadcast-gram-set "
    "sibling; this is the path for a reference set too large to "
    "broadcast.  verify=False (not exercised here) is the pure-Bloom "
    "production trade at 100 TB: FP rate <= fpp, zero reference "
    "re-join.  Overlap is an int/int double division — engine-exact, "
    "no rounding needed.",
)
def q_bloom_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG
    from etl_olho_vivo_spark.operators import bloom as bloomop

    d = read_table(spark, sf_dir, "documents")
    # Persist the shingle ARRAYS, then explode from the cache.  Both
    # halves matter: (a) one shingle pass feeds all downstream consumers
    # (reference distinct, probe distinct, mark join) instead of one
    # text-scan + md5 pipeline per consumer; (b) the persist boundary
    # sits BEFORE the explode — under a Generate, Catalyst collapses the
    # token-hash projection back into the shingle lambda (the exact
    # O(words²)-md5 inlining hazard documented at
    # dedup.with_token_hashes), measured 73 s for a 260k-row explode at
    # sf0.1 vs <1 s exploding materialized arrays.
    sh_docs = SESSION_BAG.add(dedup.with_shingles(d).select("doc_id", "sh"))
    grams = sh_docs.select("doc_id", F.explode("sh").alias("gh"))
    new_g = grams.filter(F.col("doc_id") % 2 == 1)
    ref_g = grams.filter(F.col("doc_id") % 2 == 0).select("gh")
    marked = bloomop.mark_members(
        new_g, ref_g, "gh", fpp=0.01, verify=True, caches=SESSION_BAG
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("is_member").cast("long")).alias("n_hit"),
    )
    n_g = F.coalesce(F.col("n_grams"), F.lit(0).cast("long"))
    n_h = F.coalesce(F.col("n_hit"), F.lit(0).cast("long"))
    overlap = F.when(
        n_g > 0, F.col("n_hit") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_g.alias("n_grams"),
            n_h.alias("n_hit"),
            overlap.alias("overlap"),
            ((n_g > 0) & (overlap >= 0.5)).alias("flagged"),
        )
    )


def _d_cluster_sql() -> str:
    mh = ",\n    ".join(
        f"{_d_minhash(k)} AS mh{k}" for k in range(dedup.NUM_HASHES)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, CAST(mh{2 * b} AS VARCHAR) || '_' || "
        f"CAST(mh{2 * b + 1} AS VARCHAR) AS band_sig FROM sig"
        for b in range(dedup.NUM_BANDS)
    )
    return f"""
WITH RECURSIVE
docs AS (SELECT doc_id, {_D_WH} AS wh FROM documents),
shs AS (SELECT doc_id, {_D_SHINGLES} AS sh FROM docs),
sig AS (SELECT doc_id, sh, {mh} FROM shs WHERE len(sh) > 0),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN shs sa ON sa.doc_id = c.doc_a
  JOIN shs sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.sh, sb.sh))
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
lab AS (SELECT a AS doc_id, least(a, min(b)) AS component
        FROM reach GROUP BY a),
ranked AS (
  SELECT l.doc_id, l.component, d.n_chars,
         row_number() OVER (PARTITION BY l.component
                            ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
  FROM lab l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT doc_id, component, n_chars, (rn = 1) AS kept FROM ranked
"""


@register(
    "dedup_cluster_keep_best",
    _d_cluster_sql(),
    doc="Cluster-representative selection (SemDeDup/FineWeb resolution): "
    "full-corpus MinHash-LSH pairs at jaccard >= 0.5 -> connected "
    "components (operators/dedup.connected_components: iterative "
    "hash-min label propagation, diameter-bounded rounds) -> keep "
    "exactly the highest-n_chars doc per component, smallest doc_id on "
    "ties (operators/dedup.keep_best_per_component).  The per-component "
    "argmax is a partial-aggregating max(struct(quality, -id)) — "
    "deliberately NOT a window over component, which would serialize a "
    "viral boilerplate cluster into one task at corpus scale; the "
    "oracle's row_number formulation is the spec, the aggregate is the "
    "scale-safe implementation.  The oracle computes components via a "
    "recursive-CTE transitive closure — an independent formulation of "
    "the same min-label fixpoint, so the iterative propagation is "
    "value-checked end-to-end, not just unit-tested.",
)
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_olho_vivo_spark.caching import SESSION_BAG

    d = read_table(spark, sf_dir, "documents")
    sig = SESSION_BAG.add(
        dedup.minhash_signature(d).select("doc_id", "sh", "minhash")
    )
    pairs = dedup.near_duplicates(sig=sig, threshold=0.5)
    return dedup.keep_best_per_component(
        pairs, d, quality_col="n_chars", caches=SESSION_BAG
    )
