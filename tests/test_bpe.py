"""BPE training support (operators/bpe.py): the Sennrich et al. worked
example, histogram semantics, vocabulary construction, and corpus-side
segmentation parity with a driver-side reference apply.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators import bpe
from tests.references import _bpe_merges_reference, bpe_segment_expr

# the canonical worked example (Sennrich et al. 2016, §3.2)
SENNRICH = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_merges_match_published_example():
    merges = bpe.bpe_merges(SENNRICH, n_merges=5)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", bpe.EOW)]
    # deterministic: same input, same list
    assert merges == bpe.bpe_merges(SENNRICH, n_merges=5)
    with pytest.raises(ValueError, match="n_merges"):
        bpe.bpe_merges(SENNRICH, n_merges=0)


def test_merges_stop_when_nothing_repeats():
    # a histogram of singleton characters has no repeating pair
    merges = bpe.bpe_merges([("ab", 1), ("cd", 1)], n_merges=100)
    assert merges == []


def test_vocabulary_contents():
    vocab = bpe.bpe_vocabulary(SENNRICH, n_merges=3)
    assert vocab[: len(set("loweristnd"))] == sorted(set("lowernewstid"))
    assert bpe.EOW in vocab
    assert vocab[-3:] == ["es", "est", "est" + bpe.EOW]


def test_word_histogram(spark):
    docs = spark.createDataFrame(
        [(1, "low low  low\nlow low newest"), (2, "newest widest")],
        ["doc_id", "text"],
    )
    h = bpe.word_histogram(docs)
    rows = [(r["word"], r["n"]) for r in h.collect()]
    assert rows == [("low", 5), ("newest", 2), ("widest", 1)]
    # top_k truncation is frequency-ranked with a word tiebreak
    h2 = [(r["word"], r["n"]) for r in bpe.word_histogram(docs, top_k=2).collect()]
    assert h2 == [("low", 5), ("newest", 2)]
    with pytest.raises(ValueError, match="top_k"):
        bpe.word_histogram(docs, top_k=0)


def _py_apply(merges, word):
    symbols = list(word) + [bpe.EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def test_segment_expr_matches_reference_apply(spark):
    merges = bpe.bpe_merges(SENNRICH, n_merges=10)
    texts = ["lowest", "low lower", "newest widest wildest", "we", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["seg"]
        for r in df.select(
            "doc_id", bpe_segment_expr(merges).alias("seg")
        ).collect()
    }
    for i, t in enumerate(texts):
        want = " ".join(
            tok for w in t.split() for tok in _py_apply(merges, w)
        )
        assert got[i] == want, (t, got[i], want)
    with pytest.raises(ValueError, match="small merge lists"):
        bpe_segment_expr([("a", "b")] * 513)


def test_segment_expr_boundary_exact(spark):
    """Regression (review-found): a bare a+DELIM+b replace pattern also
    matches when a multi-char symbol merely ENDS with `a` — e.g. with
    merge ('a','b') the word 'baabb' segmented ['b','aab','b'] instead
    of the reference ['b','aa','b','b'].  Symbols are marker-ENCLOSED
    now; randomized cross-check against the reference apply."""
    import random

    rng = random.Random(42)
    hist = [("bcaac", 7), ("bab", 7), ("ca", 9), ("bcbc", 8)]
    merges = bpe.bpe_merges(hist, n_merges=10)
    words = ["baabb"] + [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["seg"]
        for r in df.select(
            "doc_id", bpe_segment_expr(merges).alias("seg")
        ).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == " ".join(_py_apply(merges, w)), (w, got[i])
    # control chars in corpus text are sanitized, not boundary-corrupting
    dirty = spark.createDataFrame(
        [(0, "ba\x1fab\x1eb")], ["doc_id", "text"]
    )
    seg = dirty.select(bpe_segment_expr(merges).alias("seg")).collect()
    assert seg[0]["seg"] == " ".join(_py_apply(merges, "baabb"))


def test_end_to_end_histogram_to_segmentation(spark):
    """The production shape: one distributed histogram pass, driver
    merge loop on the bounded table, segmentation as a pure-JVM
    projection (no Python, no shuffle in the apply)."""
    docs = spark.createDataFrame(
        [(i, "low lower newest widest lowest") for i in range(20)],
        ["doc_id", "text"],
    )
    h = bpe.word_histogram(docs, top_k=1000)
    merges = bpe.bpe_merges(h, n_merges=8)
    assert merges[0] == ("e", "s")
    seg = docs.select(bpe_segment_expr(merges).alias("seg"))
    plan = seg._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "PythonUDF", "BatchEvalPython"):
        assert bad not in plan, plan[:2000]
    assert "est" + bpe.EOW in seg.collect()[0]["seg"].split(" ")


@pytest.mark.sweep
def test_bpe_apply_parity_with_segment_expr(spark):
    """The mapInPandas production tokenizer (greedy-lowest-rank) must
    segment exactly like the Column-expression path (merge-list replay
    in training order) wherever both run — the rank-order/training-order
    equivalence the bpe_apply docstring claims."""
    docs = spark.createDataFrame(
        [
            (1, "low lower lowest newest"),
            (2, "widest  wide \n victory"),
            (3, ""),
            (4, None),
            (5, "unseen zzz qq"),
            (6, "aaaa aaa aa a"),  # overlapping-pair pressure
            # U+00A0 is NOT whitespace to Java \s (which the expression
            # path and word_histogram split on) — both paths must treat
            # "low low" as ONE word, not two
            (7, "low low lower"),
        ],
        ["doc_id", "text"],
    )
    hist = SENNRICH + [("aaaa", 3), ("aa", 2)]
    merges = bpe.bpe_merges(hist, n_merges=50)
    assert 0 < len(merges) <= 512
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    want = {
        r["doc_id"]: r["seg"]
        for r in docs.select(
            "doc_id", bpe_segment_expr(merges).alias("seg")
        ).collect()
    }
    # the expr path maps NULL text to NULL too
    assert got == want
    with pytest.raises(ValueError, match="already exists"):
        bpe.bpe_apply(docs, merges, out="text")
    # an EMPTY vocab must fail fast on the driver, not AttributeError in
    # the executor (round-8 advice: `if vocab` treated [] as absent)
    for emit in ("ids", "both"):
        with pytest.raises(ValueError, match="non-empty vocab"):
            bpe.bpe_apply(docs, merges, emit=emit, vocab=[])
        with pytest.raises(ValueError, match="non-empty vocab"):
            bpe.bpe_apply(docs, merges, emit=emit, vocab=None)


def test_bpe_apply_handles_production_sized_merge_list(spark):
    """30k merges — far past bpe_segment_expr's cap — must apply
    mechanically: rank dict broadcast, greedy loop, correct tokens for
    words covered by the early merges, charwise fallback elsewhere."""
    real = bpe.bpe_merges(SENNRICH, n_merges=50)
    # pad with structurally valid merges over symbols that never occur
    # in the corpus (multi-char left sides keep them inert)
    pad = [(f"ZZ{i}", f"QQ{i}") for i in range(30_000 - len(real))]
    merges = real + pad
    assert len(merges) == 30_000
    with pytest.raises(ValueError, match="small merge lists"):
        bpe_segment_expr(merges)
    docs = spark.createDataFrame(
        [(1, "newest low"), (2, "arcane")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    want_newest = {
        r["doc_id"]: r["seg"]
        for r in docs.select(
            "doc_id", bpe_segment_expr(real).alias("seg")
        ).collect()
    }
    assert got == want_newest  # the pad merges never fire


def test_bpe_apply_emits_token_ids(spark):
    """emit='ids': integer ids under an explicit bpe_vocabulary — ids
    must round-trip to the token stream through the vocabulary, and a
    character the histogram never saw maps to -1, never silently
    dropped."""
    merges = bpe.bpe_merges(SENNRICH, n_merges=50)
    vocab = bpe.bpe_vocabulary(SENNRICH, n_merges=50)
    docs = spark.createDataFrame(
        [(1, "low newest"), (2, "zap")], ["doc_id", "text"]
    )
    toks = {
        r["doc_id"]: r["bpe_tokens"].split(" ")
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    ids = {
        r["doc_id"]: list(r["ids"])
        for r in bpe.bpe_apply(
            docs, merges, emit="ids", vocab=vocab, out="ids"
        ).collect()
    }
    # round-trip: id -> vocab token == the string path's tokens
    assert [vocab[i] for i in ids[1]] == toks[1]
    # 'z', 'a', 'p' never appeared in the training histogram -> -1
    assert -1 in ids[2]
    assert [vocab[i] if i >= 0 else "?" for i in ids[2]] == [
        "?" if t in ("z", "a", "p") else t for t in toks[2]
    ]
    with pytest.raises(ValueError, match="vocab"):
        bpe.bpe_apply(docs, merges, emit="ids")
    with pytest.raises(ValueError, match="emit"):
        bpe.bpe_apply(docs, merges, emit="bytes")


def test_bpe_apply_both_matches_single_modes(spark):
    """emit='both' is ONE tokenization pass emitting the token stream
    AND the id array; its two columns must equal the single-mode
    outputs exactly (the corpus pipeline relies on this to avoid a
    second full-corpus pass), including NULL text propagating to both
    and the precomputed-merges vocabulary shortcut matching the
    retrained one."""
    merges = bpe.bpe_merges(SENNRICH, n_merges=50)
    vocab = bpe.bpe_vocabulary(SENNRICH, merges=merges)
    assert vocab == bpe.bpe_vocabulary(SENNRICH, n_merges=50)
    docs = spark.createDataFrame(
        [(1, "low newest"), (2, "zap low"), (3, None)],
        "doc_id long, text string",
    )
    both = {
        r["doc_id"]: (r["bpe_tokens"], r["bpe_ids"])
        for r in bpe.bpe_apply(
            docs, merges, emit="both", vocab=vocab
        ).collect()
    }
    toks = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    ids = {
        r["doc_id"]: r["ids"]
        for r in bpe.bpe_apply(
            docs, merges, emit="ids", vocab=vocab, out="ids"
        ).collect()
    }
    assert both == {k: (toks[k], ids[k]) for k in toks}
    assert both[3] == (None, None)
    with pytest.raises(ValueError, match="vocab"):
        bpe.bpe_apply(docs, merges, emit="both")
    with pytest.raises(ValueError, match="already exists"):
        bpe.bpe_apply(
            docs.withColumn("bpe_ids", F.lit(1)),
            merges,
            emit="both",
            vocab=vocab,
        )


def test_word_histogram_strips_marker_chars(spark):
    """Train/apply parity on the \\x1f/\\x1e marker chars: the histogram
    must count the SAME word shapes the application paths tokenize —
    'a\\x1fb' is one word to a naive split but both appliers strip the
    markers and see 'ab', so training must too (round-7 advice)."""
    docs = spark.createDataFrame(
        [(1, "a\x1fb a\x1eb ab"), (2, "ab ab")], ["doc_id", "text"]
    )
    rows = [(r["word"], r["n"]) for r in bpe.word_histogram(docs).collect()]
    assert rows == [("ab", 5)]
    # and the trained merges apply cleanly to the same dirty text —
    # every word tokenizes to the single trained symbol 'ab</w>'
    merges = bpe.bpe_merges(rows, n_merges=2)
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    assert got == {1: "ab</w> ab</w> ab</w>", 2: "ab</w> ab</w>"}


def test_bpe_apply_cache_eviction_is_output_invariant(spark):
    """The per-partition word cache is BOUNDED (round-7 advice: a
    high-cardinality partition would otherwise OOM the Python worker);
    eviction must never change the emitted tokens.  Run with a cap of 2
    so every few words trigger a full eviction cycle, compare against
    the default-cap output."""
    merges = bpe.bpe_merges(SENNRICH, n_merges=20)
    texts = [
        (i, f"low lowest w{i} newest w{i + 1} wider low") for i in range(40)
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"]).coalesce(1)
    baseline = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    capped = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe.bpe_apply(docs, merges, cache_cap=2).collect()
    }
    assert capped == baseline


def test_fast_merges_match_reference_spec():
    """The incremental heap/index trainer must produce EXACTLY the
    reference loop's merge list — counts, non-overlap pass semantics,
    and the (count desc, pair lex) tiebreak all included.  Randomized
    over small alphabets (maximal pair collisions and ties) and skewed
    counts."""
    import random

    rng = random.Random(2024)
    assert bpe.bpe_merges(SENNRICH, 50) == _bpe_merges_reference(
        SENNRICH, 50
    )
    for trial in range(25):
        vocab_sz = rng.choice([2, 3, 5])
        alphabet = "abcde"[:vocab_sz]
        hist = [
            (
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 9))
                ),
                rng.choice([1, 1, 2, 3, 10, 100]),
            )
            for _ in range(rng.randint(1, 40))
        ]
        n = rng.choice([1, 3, 10, 100])
        fast = bpe.bpe_merges(hist, n)
        ref = _bpe_merges_reference(hist, n)
        assert fast == ref, (trial, hist, n, fast, ref)


def test_fast_merges_scale_smoke():
    """A production-shaped training input — 20k distinct words, 2000
    merges — must train in seconds (the naive rescan loop needs
    minutes-to-hours at this size)."""
    import random
    import time

    rng = random.Random(7)
    hist = [
        (
            "".join(
                rng.choice("abcdefghijklmnop")
                for _ in range(rng.randint(2, 12))
            ),
            rng.randint(1, 1000),
        )
        for _ in range(20_000)
    ]
    t0 = time.perf_counter()
    merges = bpe.bpe_merges(hist, n_merges=2000)
    dt = time.perf_counter() - t0
    assert len(merges) == 2000
    assert dt < 30, f"incremental trainer took {dt:.1f}s"
