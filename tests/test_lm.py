"""Bigram LM scoring (operators/lm.py): hand-computed cross-entropy,
OOV smoothing, reference-vs-target separation, and top_k truncation
determinism."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators import lm


def _score_map(df):
    return {
        r["doc_id"]: (r["n_bigrams"], r["cross_entropy"])
        for r in df.collect()
    }


def test_hand_computed_self_entropy(spark):
    # corpus: one doc "a b a b" → unigrams a:2 b:2 (V=2);
    # bigrams (a,b):2 (b,a):1
    docs = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    uni, big = lm.bigram_counts(docs)
    out = _score_map(lm.cross_entropy_scores(docs, uni, big))
    k, v = 0.5, 2
    ll = [
        math.log((2 + k) / (2 + k * v)),  # a→b
        math.log((1 + k) / (2 + k * v)),  # b→a
        math.log((2 + k) / (2 + k * v)),  # a→b
    ]
    want = round(-sum(ll) / 3, 6)
    assert out == {1: (3, want)}


def test_oov_words_are_smoothed_not_infinite(spark):
    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zzz qqq www")],
        "doc_id long, text string",
    )
    uni, big = lm.bigram_counts(ref)
    out = _score_map(lm.cross_entropy_scores(target, uni, big))
    seen_h = out[10][1]
    oov_h = out[11][1]
    assert math.isfinite(seen_h) and math.isfinite(oov_h)
    # an all-OOV doc must score strictly worse than a reference-like doc
    assert oov_h > seen_h
    # fully-unseen bigram with unseen w1: -log(k / (k*V)) = log(V)
    v = uni.count()
    assert out[11] == (2, round(math.log(v), 6))


def test_short_docs_have_no_evidence(spark):
    docs = spark.createDataFrame(
        [(1, "word"), (2, "two words")], "doc_id long, text string"
    )
    uni, big = lm.bigram_counts(docs)
    out = _score_map(lm.cross_entropy_scores(docs, uni, big))
    assert 1 not in out and 2 in out
    with pytest.raises(ValueError, match="k_smooth"):
        lm.cross_entropy_scores(docs, uni, big, k_smooth=0)
    with pytest.raises(ValueError, match="top_k"):
        lm.bigram_counts(docs, top_k=0)


def test_top_k_truncation_is_deterministic_and_frequency_ranked(spark):
    docs = spark.createDataFrame(
        [(1, "x x x y y z")], "doc_id long, text string"
    )
    uni, _ = lm.bigram_counts(docs, top_k=2)
    kept = {r["w1h"]: r["u_n"] for r in uni.collect()}
    assert sorted(kept.values(), reverse=True) == [3, 2]  # x and y survive
    # same truncation again — deterministic hash tiebreak
    uni2, _ = lm.bigram_counts(docs, top_k=2)
    assert {r["w1h"]: r["u_n"] for r in uni2.collect()} == kept


def test_plan_is_aggregate_and_join_shaped(spark):
    """The scoring plan must stay in the skew-safe family: count
    aggregates + joins, no Python, no cartesian product, no window."""
    from etl_olho_vivo_spark.sources.tables import read_table

    from tests.plan_walk import count_nodes, executed_plan

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    uni, big = lm.bigram_counts(d)
    out = lm.cross_entropy_scores(d, uni, big)
    out.collect()
    # the final adaptive plan, cached build plans included
    nodes = count_nodes(executed_plan(out), into_cache=True)
    for bad in (
        "ArrowEvalPython", "BatchEvalPython", "CartesianProduct", "Window"
    ):
        assert not [n for n in nodes if bad in n], nodes
    assert nodes["HashAggregateExec"] or nodes["SortAggregateExec"], nodes


@pytest.mark.sweep
def test_order2_general_path_matches_bigram_path(spark):
    """The order-n generalization at order=2 must reproduce the bigram
    pair EXACTLY (counts, V, scores) — the parity pin that lets the
    pipeline gate route every order through one code path."""
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c b"), (3, "solo")],
        "doc_id long, text string",
    )
    uni, big = lm.bigram_counts(docs)
    ctx, ng, uni2 = lm.ngram_counts(docs, order=2)
    assert {(r["ctx_h"], r["c_n"]) for r in ctx.collect()} == {
        (r["w1h"], r["u_n"]) for r in uni.collect()
    }
    assert {(r["ctx_h"], r["w_h"], r["g_n"]) for r in ng.collect()} == {
        (r["w1h"], r["w2h"], r["b_n"]) for r in big.collect()
    }
    old = _score_map(lm.cross_entropy_scores(docs, uni, big))
    new = {
        r["doc_id"]: (r["n_ngrams"], r["cross_entropy"])
        for r in lm.ngram_cross_entropy_scores(
            docs, ctx, ng, uni2, order=2
        ).collect()
    }
    assert new == old


def test_trigram_hand_computed(spark):
    """Order-3 on one doc 'a b a b a': contexts (2-windows) ab:2 ba:2;
    trigrams aba:2 bab:1; V = 2 unigrams."""
    docs = spark.createDataFrame(
        [(1, "a b a b a")], "doc_id long, text string"
    )
    ctx, ng, uni = lm.ngram_counts(docs, order=3)
    out = lm.ngram_cross_entropy_scores(docs, ctx, ng, uni, order=3)
    k, v = 0.5, 2
    ll = [
        math.log((2 + k) / (2 + k * v)),  # ab→a
        math.log((1 + k) / (2 + k * v)),  # ba→b
        math.log((2 + k) / (2 + k * v)),  # ab→a
    ]
    want = round(-sum(ll) / 3, 6)
    rows = {(r["doc_id"], r["n_ngrams"], r["cross_entropy"])
            for r in out.collect()}
    assert rows == {(1, 3, want)}
    # a doc with exactly order-1 tokens has no n-grams → omitted
    short = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    assert lm.ngram_cross_entropy_scores(
        short, ctx, ng, uni, order=3
    ).count() == 0
    with pytest.raises(ValueError, match="order"):
        lm.ngram_counts(docs, order=1)
    with pytest.raises(ValueError, match="order"):
        lm.ngram_cross_entropy_scores(docs, ctx, ng, uni, order=1)


def test_higher_order_sharpens_in_domain_prediction(spark):
    """The reason the order dial exists: with more context the model
    predicts IN-DOMAIN text more sharply (lower cross-entropy for
    reference-like docs at order 3 than order 2), while a
    scrambled-word-order doc still scores strictly worse than the
    reference-like doc at every order.  (The absolute OOV gap is NOT
    monotone in order under add-k smoothing — an unseen context costs
    only log(V) while an unseen continuation of a FREQUENT seen
    context costs log((C+kV)/k) — so the in-domain sharpening is the
    well-defined property to pin.)"""
    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    in_domain = {}
    for order in (2, 3):
        ctx, ng, uni = lm.ngram_counts(ref, order=order)
        sc = {
            r["doc_id"]: r["cross_entropy"]
            for r in lm.ngram_cross_entropy_scores(
                target, ctx, ng, uni, order=order
            ).collect()
        }
        assert sc[11] > sc[10]
        in_domain[order] = sc[10]
    assert in_domain[3] < in_domain[2]


def test_trigram_registry_query_matches_oracle(spark):
    """doc_trigram_cross_entropy is driver=False (the 50-row window is
    full) — its DuckDB parity is pinned HERE instead."""
    from etl_olho_vivo_spark import registry
    from tests.oracle_check import compare, duck_connection

    registry.queries()
    sf = "/root/testdata/sf0.001"
    df = registry.REGISTRY["doc_trigram_cross_entropy"].fn(spark, sf)
    con = duck_connection(sf)
    duck = con.sql(
        registry.REGISTRY["doc_trigram_cross_entropy"].oracle
    ).df()
    assert len(duck) > 0
    assert compare(df, duck) == []
    # The oracle SQL has NO top_k truncation while the Spark path
    # truncates each relation at 1,000,000 — parity is only meaningful
    # while every relation stays under the bound (round-8 advice).
    # DuckDB-side distinct counts are exact and cheap at test SF.
    bounds = {
        "unigram": "SELECT count(DISTINCT w1h) FROM (SELECT unnest("
                   "list_transform(string_split_regex(trim(text), '\\s+'),"
                   " w -> hash(w))) AS w1h FROM documents"
                   " WHERE trim(text) != '')",
        "trigram_rows": "SELECT count(*) FROM documents",
    }
    n_docs = con.sql(bounds["trigram_rows"]).fetchone()[0]
    max_tokens = con.sql(
        "SELECT max(len(string_split_regex(trim(text), '\\s+')))"
        " FROM documents"
    ).fetchone()[0]
    # crude but sufficient upper bound on every relation's cardinality:
    # total windows <= docs * max_tokens
    assert n_docs * max_tokens < 1_000_000, (
        "corpus outgrew the top_k bound — the oracle SQL must grow a"
        " matching truncation before parity means anything"
    )


def test_entropy_cut_points_quantiles_and_validation(spark):
    """The CCNet bucket helper: cut points on a synthetic score
    distribution land within tolerance of the true quantiles, thresholds
    derived from them select ~the requested head fraction, and bad
    fraction lists fail loudly."""
    n = 3000
    scores = spark.createDataFrame(
        [(i, i / n) for i in range(n)], "doc_id long, cross_entropy double"
    )
    head, mid = lm.entropy_cut_points(scores, (0.3, 0.7))
    assert abs(head - 0.3) < 0.02 and abs(mid - 0.7) < 0.02
    kept = scores.filter(scores.cross_entropy <= head).count()
    assert abs(kept / n - 0.3) < 0.02
    for bad in ((), (0.7, 0.3), (0.0, 0.5), (0.5, 1.0)):
        with pytest.raises(ValueError, match="fractions"):
            lm.entropy_cut_points(scores, bad)


def test_entropy_cut_points_feed_the_absolute_gate(spark):
    """End-to-end determinism hand-off: score a mixed corpus, derive
    the head cut, and the absolute filter keeps exactly the docs at or
    under it — reference-like text in, scrambled text out."""
    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(4)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the mat again"),
         (3, "mat the on sat cat the"),
         (4, "zzz qqq www eee rrr ttt")],
        "doc_id long, text string",
    )
    uni, big = lm.bigram_counts(ref)
    scores = lm.cross_entropy_scores(target, uni, big)
    (cut,) = lm.entropy_cut_points(scores, (0.5,))
    kept = {r["doc_id"]
            for r in scores.filter(scores.cross_entropy <= cut).collect()}
    assert 1 in kept and 4 not in kept
    assert len(kept) == 2


def test_stupid_backoff_hand_computed_all_branches(spark):
    """Every branch of the Brants et al. chain carries a hand-computed
    expectation: trigram hit, bigram fallback (one alpha), seen-unigram
    leaf and OOV leaf (two alphas + add-k) — arithmetic written in the
    exact left-assoc order the Column expression and the oracle SQL
    share."""
    ref = spark.createDataFrame(
        [(0, "a b c"), (2, "a b d a")], "doc_id long, text string"
    )
    # uni: a:3 b:2 c:1 d:1 -> V=4, N=7
    # tri: (a,b,c):1 (a,b,d):1 (b,d,a):1; ctx3: (a,b):2 (b,c):1 (b,d):1 (d,a):1
    # big: (a,b):2 (b,c):1 (b,d):1 (d,a):1
    targets = spark.createDataFrame(
        [(1, "a b c d z"), (3, "c b d"), (5, "q")],
        "doc_id long, text string",
    )
    uni, models = lm.backoff_counts(ref, order=3)
    out = {
        r["doc_id"]: (r["n_ngrams"], r["sb_score"])
        for r in lm.stupid_backoff_scores(
            targets, uni, models, order=3
        ).collect()
    }
    n, v = 7, 4
    leaf = lambda u: 0.4 * 0.4 * ((u + 0.5) / (n + 0.5 * v))  # noqa: E731
    ll_1 = [
        math.log(1 / 2),          # (a,b,c): tri hit, ctx (a,b)=2
        math.log(leaf(1)),        # (b,c,d): no tri, no big (c,d); u(d)=1
        math.log(leaf(0)),        # (c,d,z): OOV leaf
    ]
    ll_3 = [math.log(0.4 * (1 / 2))]  # (c,b,d): big (b,d)=1 / u(b)=2
    assert out == {
        1: (3, round(-sum(ll_1) / 3, 6)),
        3: (1, round(-ll_3[0], 6)),
    }  # doc 5 has < order tokens -> omitted entirely


def test_stupid_backoff_validation(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    uni, models = lm.backoff_counts(docs, order=3)
    with pytest.raises(ValueError, match="order"):
        lm.backoff_counts(docs, order=1)
    with pytest.raises(ValueError, match="alpha"):
        lm.stupid_backoff_scores(docs, uni, models, order=3, alpha=0.0)
    with pytest.raises(ValueError, match="models must cover"):
        lm.stupid_backoff_scores(docs, uni, {2: models[2]}, order=3)
    with pytest.raises(ValueError, match="k_smooth"):
        lm.stupid_backoff_scores(
            docs, uni, models, order=3, k_smooth=0.0
        )


def test_stupid_backoff_orders_reference_like_docs_first(spark):
    """The gate property: a reference-like document must outscore
    gibberish, and a doc forcing backoff must land between a pure
    trigram-hit doc and an all-OOV doc."""
    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    targets = spark.createDataFrame(
        [
            (10, "the cat sat on the mat"),   # pure trigram hits
            (11, "the cat sat on the dog"),   # hits + one bigram fallback
                                              # ((on,the,dog) unseen;
                                              # (the,dog) seen)
            (12, "zzz qqq www eee rrr ttt"),  # all OOV leaves
        ],
        "doc_id long, text string",
    )
    uni, models = lm.backoff_counts(ref, order=3)
    sc = {
        r["doc_id"]: r["sb_score"]
        for r in lm.stupid_backoff_scores(
            targets, uni, models, order=3
        ).collect()
    }
    assert sc[10] < sc[11] < sc[12]
    assert all(math.isfinite(s) for s in sc.values())


def test_stupid_backoff_registry_query_matches_oracle(spark):
    """doc_stupid_backoff is driver=False (the 50-row window is full) —
    its DuckDB parity is pinned HERE, under the same top_k-bound
    discipline as the trigram row (the all-oracle sweep in
    tests/test_oracle_parity.py covers it too; this adds the bound
    assertion and a non-empty result guard)."""
    from etl_olho_vivo_spark import registry
    from tests.oracle_check import compare, duck_connection

    registry.queries()
    sf = "/root/testdata/sf0.001"
    df = registry.REGISTRY["doc_stupid_backoff"].fn(spark, sf)
    con = duck_connection(sf)
    duck = con.sql(registry.REGISTRY["doc_stupid_backoff"].oracle).df()
    assert len(duck) > 0
    assert compare(df, duck) == []
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    max_tokens = con.sql(
        "SELECT max(len(string_split_regex(trim(text), '\\s+')))"
        " FROM documents"
    ).fetchone()[0]
    con.close()
    assert n_docs * max_tokens < 1_000_000, (
        "corpus outgrew the top_k bound — the oracle SQL must grow a"
        " matching truncation before parity means anything"
    )


def _bf_tok(w):
    import hashlib

    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)


def _bf_ctx(hs):
    from etl_olho_vivo_spark.functions.hashing import MIX, P

    acc = hs[0]
    for h in hs[1:]:
        acc = (acc * MIX + h) % P
    return acc


def _bf_backoff(ref_texts, tgt_docs, order, alpha=0.4, k=0.5):
    """Third independent derivation of stupid backoff (pure Python, no
    Spark/DuckDB): md5 token hashes + the rolling context fold from
    functions/hashing.py, counts as Counters, the same left-assoc
    penalty arithmetic.  Exact at these corpus sizes."""
    from collections import Counter

    uni = Counter()
    for t in ref_texts:
        for w in t.split(" "):
            uni[_bf_tok(w)] += 1
    n_tok, v = sum(uni.values()), len(uni)
    ng = {m: Counter() for m in range(2, order + 1)}
    cx = {m: Counter() for m in range(2, order + 1)}
    for t in ref_texts:
        hs = [_bf_tok(w) for w in t.split(" ")]
        for m in range(2, order + 1):
            wd = m - 1
            for i in range(0, len(hs) - wd + 1):
                cx[m][_bf_ctx(hs[i:i + wd])] += 1
            for i in range(0, len(hs) - wd):
                ng[m][(_bf_ctx(hs[i:i + wd]), hs[i + wd])] += 1
    out = {}
    for doc_id, t in tgt_docs:
        hs = [_bf_tok(w) for w in t.split(" ")]
        wd = order - 1
        lls = []
        for i in range(0, len(hs) - wd):
            w_h = hs[i + wd]
            ll = None
            for m in range(order, 1, -1):
                ch = _bf_ctx(hs[i + wd - (m - 1):i + wd])
                g, c = ng[m].get((ch, w_h)), cx[m].get(ch)
                if g and c:
                    pen = None
                    for _ in range(order - m):
                        pen = alpha if pen is None else pen * alpha
                    val = (g / c) if pen is None else pen * (g / c)
                    ll = math.log(val)
                    break
            if ll is None:
                pen = alpha
                for _ in range(order - 2):
                    pen = pen * alpha
                ll = math.log(pen * ((uni.get(w_h, 0) + k) / (n_tok + k * v)))
            lls.append(ll)
        if lls:
            out[doc_id] = (len(lls), round(-sum(lls) / len(lls), 6))
    return out


@pytest.mark.parametrize("seed,order", [
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 3), (0, 4), (2, 4),
])
def test_stupid_backoff_fuzz_vs_brute_force(spark, seed, order):
    """Randomized corpora (seeded — deterministic) against the pure-
    Python derivation: small vocab forces a mix of top-order hits,
    mid-level fallbacks, and leaf scores at every order; edge targets
    (too-short, single-token, boundary-length, OOV-heavy) ride along.
    Any divergence in window extraction, per-level guard, penalty
    arithmetic, or the n_ngrams/score rollup fails exactly."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]
    ref_texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        for _ in range(6)
    ]
    tgt_docs = [(100 + i,
                 " ".join(rng.choice(vocab + ["oovx", "oovy"])
                          for _ in range(rng.randint(1, 10))))
                for i in range(5)]
    tgt_docs += [
        (200, "w0"),                           # < order -> omitted
        (201, " ".join(["w1"] * order)),       # exactly one window
        (202, "oovz " * (order + 1)),          # trailing space token mix
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    tgt = spark.createDataFrame(tgt_docs, "doc_id long, text string")
    uni, models = lm.backoff_counts(ref, order=order)
    got = {
        r["doc_id"]: (r["n_ngrams"], r["sb_score"])
        for r in lm.stupid_backoff_scores(
            tgt, uni, models, order=order
        ).collect()
    }
    want = _bf_backoff(ref_texts, tgt_docs, order)
    assert got == want


@pytest.mark.sweep
def test_order5_ccnet_shape_end_to_end(spark):
    """CCNet's actual order (5-grams) through BOTH scorers — the order
    dial must not be a 2/3-only demo: counts, scoring, and the
    brute-force parity all hold at order 5 (fuzz covers 2-4; this pins
    the published operating point)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(6)]
    ref_texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        for _ in range(5)
    ]
    tgt_docs = [
        (300 + i, " ".join(rng.choice(vocab + ["oovq"])
                           for _ in range(rng.randint(4, 12))))
        for i in range(4)
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    tgt = spark.createDataFrame(tgt_docs, "doc_id long, text string")
    uni, models = lm.backoff_counts(ref, order=5)
    got = {
        r["doc_id"]: (r["n_ngrams"], r["sb_score"])
        for r in lm.stupid_backoff_scores(
            tgt, uni, models, order=5
        ).collect()
    }
    assert got == _bf_backoff(ref_texts, tgt_docs, 5)
    # add-k path at order 5 scores the same windows (same count and
    # finite scores; values differ by scheme)
    ctx, ng, uni2 = lm.ngram_counts(ref, order=5)
    addk = {
        r["doc_id"]: r["n_ngrams"]
        for r in lm.ngram_cross_entropy_scores(
            tgt, ctx, ng, uni2, order=5
        ).collect()
    }
    assert addk == {d: n for d, (n, _) in got.items()}


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney
# ---------------------------------------------------------------------------


def _bf_kn(ref_texts, tgt_docs, order, d=0.75):
    """Third independent derivation of interpolated KN (pure Python):
    md5 token hashes, tuple-keyed count relations, and the EXACT
    arithmetic of lm.kn_ll_expr (same operation order, so the IEEE
    folds agree up to the documented 6-dp rounding)."""
    from collections import Counter

    bases = {m: Counter() for m in range(2, order + 1)}
    vocab = set()
    for t in ref_texts:
        hs = [_bf_tok(w) for w in t.split(" ")]
        vocab.update(hs)
        for m in range(2, order + 1):
            for i in range(len(hs) - m + 1):
                bases[m][tuple(hs[i:i + m])] += 1
    top = dict(bases[order])
    top_ctx = {}
    for k, n in bases[order].items():
        c = top_ctx.setdefault(k[:-1], [0, 0])
        c[0] += n
        c[1] += 1
    cont, cont_ctx = {}, {}
    for lvl in range(order - 1, 1, -1):
        cc = Counter()
        for k in bases[lvl + 1]:
            cc[k[1:]] += 1
        cont[lvl] = dict(cc)
        cx = {}
        for k, n in cc.items():
            c = cx.setdefault(k[:-1], [0, 0])
            c[0] += n
            c[1] += 1
        cont_ctx[lvl] = cx
    cc1 = Counter()
    for k in bases[2]:
        cc1[k[1:]] += 1
    nbb, t1, v = sum(cc1.values()), len(cc1), len(vocab)
    out = {}
    for doc_id, t in tgt_docs:
        hs = [_bf_tok(w) for w in t.split(" ")]
        lls = []
        for i in range(len(hs) - order + 1):
            win = tuple(hs[i:i + order])
            p = (
                max(float(cc1.get(win[-1:], 0)) - d, 0.0) / nbb
                + ((d * t1) / nbb) * (1.0 / v)
            )
            for lvl in range(2, order):
                g = win[order - lvl:]
                ctx = cont_ctx[lvl].get(g[:-1])
                if ctx is not None:
                    kt, n1p = ctx
                    p = (
                        max(float(cont[lvl].get(g, 0)) - d, 0.0) / kt
                        + ((d * n1p) / kt) * p
                    )
            ctx = top_ctx.get(win[:-1])
            if ctx is not None:
                kt, n1p = ctx
                p = (
                    max(float(top.get(win, 0)) - d, 0.0) / kt
                    + ((d * n1p) / kt) * p
                )
            lls.append(math.log(p))
        if lls:
            out[doc_id] = (len(lls), round(-sum(lls) / len(lls), 6))
    return out


@pytest.mark.parametrize("seed,order", [
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 3), (0, 4), (2, 4),
])
def test_kn_fuzz_vs_brute_force(spark, seed, order):
    """Randomized corpora against the pure-Python KN derivation: small
    vocab forces top-level hits, continuation fallbacks, unseen-context
    fall-throughs, and OOV leaves at every order; the same edge targets
    as the backoff fuzz ride along.  Any divergence in windowing, the
    continuation-count aggregation, the context alignment (the round-10
    prefix-vs-suffix join bug class), or the interpolation arithmetic
    fails exactly."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]
    ref_texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        for _ in range(6)
    ]
    tgt_docs = [(100 + i,
                 " ".join(rng.choice(vocab + ["oovx", "oovy"])
                          for _ in range(rng.randint(1, 10))))
                for i in range(5)]
    tgt_docs += [
        (200, "w0"),
        (201, " ".join(["w1"] * order)),
        (202, "oovz " * (order + 1)),
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    tgt = spark.createDataFrame(tgt_docs, "doc_id long, text string")
    counts = lm.kneser_ney_counts(ref, order=order)
    got = {
        r["doc_id"]: (r["n_ngrams"], r["kn_score"])
        for r in lm.kneser_ney_scores(tgt, counts).collect()
    }
    want = _bf_kn(ref_texts, tgt_docs, order)
    assert got == want


def test_kn_orders_reference_like_docs_first(spark):
    """The property the gate exists for: text drawn from the reference
    distribution must out-score (lower kn_score) scrambled/OOV text."""
    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(12)]
    ref_texts = [
        " ".join(rng.choice(vocab) for _ in range(20)) for _ in range(8)
    ]
    like = [(1, ref_texts[0]), (2, ref_texts[3])]
    unlike = [
        (11, " ".join(f"zz{i}" for i in range(20))),
        (12, " ".join(rng.choice(["qq1", "qq2", "qq3"])
                      for _ in range(20))),
    ]
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    tgt = spark.createDataFrame(like + unlike, "doc_id long, text string")
    counts = lm.kneser_ney_counts(ref, order=3)
    rows = {
        r["doc_id"]: r["kn_score"]
        for r in lm.kneser_ney_scores(tgt, counts).collect()
    }
    assert max(rows[1], rows[2]) < min(rows[11], rows[12])


def test_kn_validation(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="order"):
        lm.kneser_ney_counts(docs.select("text"), order=1)
    with pytest.raises(ValueError, match="order"):
        lm.kn_ll_expr(1)
    with pytest.raises(ValueError, match="discount"):
        lm.kn_ll_expr(3, discount=1.0)
    # degenerate reference (no bigrams) fails loudly at train time, not
    # as NULL scores downstream
    one_tok = spark.createDataFrame([("solo",)], "text string")
    with pytest.raises(ValueError, match="no bigrams"):
        lm.kneser_ney_counts(one_tok, order=3)


def test_kn_ctx_truncation_bounds_by_total_not_continuations(spark):
    """Round-11 ADVICE: the documented top_k bound is count-desc on the
    TOTAL — a context with high total traffic but one continuation must
    out-rank a context with low traffic but many continuations.  Ten
    'x a' docs (ctx x: kt=10, kn1p=1) vs three y-docs with distinct
    continuations (ctx y: kt=3, kn1p=3); at top_k=1 the kept top_ctx
    row is ctx x.  (Sorting by the relation's LAST column — kn1p —
    would keep ctx y instead.)"""
    rows = [("x a",)] * 10 + [("y b",), ("y c",), ("y d",)]
    docs = spark.createDataFrame(rows, "text string")
    counts = lm.kneser_ney_counts(docs, order=2, top_k=1)
    kept = counts["top_ctx"].collect()
    assert len(kept) == 1
    assert kept[0]["kt_top"] == 10 and kept[0]["kn1p_top"] == 1


def test_kn_registry_query_matches_oracle(spark):
    """doc_kneser_ney vs its DuckDB oracle at sf0.001 (the sweep covers
    the other SFs) — and the oracle exercises every branch: trained on
    even ids, scored on odd ids."""
    from etl_olho_vivo_spark import registry
    from tests.oracle_check import compare, duck_connection

    registry.queries()
    sf = "/root/testdata/sf0.001"
    q = registry.REGISTRY["doc_kneser_ney"]
    df = q.fn(spark, sf)
    con = duck_connection(sf)
    duck = con.sql(q.oracle).df()
    assert len(duck) > 0
    assert compare(df, duck) == []
    con.close()
