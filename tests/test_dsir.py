"""DSIR (operators/dsir.py) — brute-force parity, selection properties,
and plan-shape pins.

The registry oracle (``dsir_select``) checks ONE fixed corpus at one
bucket count; this suite re-derives weights and the Gumbel top-k in pure
Python (hashlib md5 — the third independent derivation, after the Spark
SQL and DuckDB forms generated from functions/hashing.py) on randomized
corpora with a SMALL bucket count, forcing the hash collisions the fixed
corpus barely exercises.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.hashing import MIX, P
from etl_olho_vivo_spark.operators import dsir

B = 100  # small on purpose: every bucket collides


def _tok(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)


def _feats(text: str, b: int) -> list[int]:
    ws = [_tok(w) for w in text.split(" ")]
    out = [h % b for h in ws]
    out += [((ws[i] * MIX + ws[i + 1]) % P) % b for i in range(len(ws) - 1)]
    return out


def _py_weights(
    raw: list[tuple[int, str]], target: list[str], b: int
) -> dict[int, tuple[int, float]]:
    t: Counter = Counter()
    r: Counter = Counter()
    for txt in target:
        t.update(_feats(txt, b))
    for _, txt in raw:
        r.update(_feats(txt, b))
    tt, rt = sum(t.values()), sum(r.values())
    out = {}
    for did, txt in raw:
        fs = _feats(txt, b)
        lw = sum(
            math.log(t[x] + 1.0)
            - math.log(tt + b)
            - math.log(r[x] + 1.0)
            + math.log(rt + b)
            for x in fs
        )
        out[did] = (len(fs), round(lw, 6))
    return out


def _py_gumbel(did: int, seed) -> float:
    h = int(
        hashlib.md5(f"{did}:dsir-{seed}".encode()).hexdigest()[:8], 16
    )
    u = (h + 1.0) / 4294967297.0
    return -math.log(-math.log(u))


def _corpus(seed: int, n: int, vocab: list[str]) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    return [
        (
            i,
            " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 12))
            ),
        )
        for i in range(n)
    ]


VOCAB_A = [f"alpha{i}" for i in range(30)]
VOCAB_Z = [f"zulu{i}" for i in range(30)]


@pytest.fixture(scope="module")
def frames(spark):
    raw = _corpus(7, 60, VOCAB_A + VOCAB_Z)
    target = [txt for _, txt in _corpus(99, 15, VOCAB_A)]
    raw_df = spark.createDataFrame(raw, ["doc_id", "text"])
    tgt_df = spark.createDataFrame(
        [(t,) for t in target], ["text"]
    )
    return raw, target, raw_df, tgt_df


def test_weights_match_brute_force(spark, frames):
    raw, target, raw_df, tgt_df = frames
    got = {
        r["doc_id"]: (r["n_feats"], r["log_w"])
        for r in dsir.dsir_log_weights(
            raw_df, tgt_df, n_buckets=B
        ).collect()
    }
    assert got == _py_weights(raw, target, B)


def test_select_matches_brute_force_topk(spark, frames):
    raw, target, raw_df, tgt_df = frames
    k, seed = 20, 3
    w = _py_weights(raw, target, B)
    keyed = sorted(
        (
            (-round(lw + _py_gumbel(did, seed), 6), did)
            for did, (_, lw) in w.items()
        )
    )
    expect = [did for _, did in keyed[:k]]
    got = [
        r["doc_id"]
        for r in dsir.dsir_select(
            raw_df, tgt_df, k, n_buckets=B, seed=seed
        ).collect()
    ]
    assert got == expect  # same set AND same key order


def test_selection_deterministic_and_seed_sensitive(spark, frames):
    _, _, raw_df, tgt_df = frames
    sel = lambda s: {  # noqa: E731
        r["doc_id"]
        for r in dsir.dsir_select(
            raw_df, tgt_df, 20, n_buckets=B, seed=s
        ).collect()
    }
    assert sel(0) == sel(0)
    assert sel(0) != sel(1)  # 20-of-60: collision chance ~0


def test_target_lookalikes_weigh_higher(spark, frames):
    """Docs sharing the target's vocabulary must out-weigh the rest —
    the property the estimator exists for.  Compared per-feature (the
    raw sum favors SHORT docs, a known property of the paper's
    estimator) and on corpus MEANS: at B=100 every bucket collides, so
    a short zulu doc can ride a lucky collision past an unlucky alpha
    doc — the distributions must separate, individual docs need not."""
    raw, target, raw_df, tgt_df = frames
    rows = dsir.dsir_log_weights(raw_df, tgt_df, n_buckets=B).collect()
    texts = dict(raw)
    alpha = [
        r["log_w"] / r["n_feats"]
        for r in rows
        if texts[r["doc_id"]].startswith("alpha")
    ]
    zulu = [
        r["log_w"] / r["n_feats"]
        for r in rows
        if texts[r["doc_id"]].startswith("zulu")
    ]
    assert alpha and zulu
    assert sum(alpha) / len(alpha) > sum(zulu) / len(zulu) + 0.1


def test_null_text_docs_are_absent(spark, frames):
    _, _, _, tgt_df = frames
    raw_df = spark.createDataFrame(
        [(0, "alpha0 alpha1"), (1, None)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]
        for r in dsir.dsir_log_weights(
            raw_df, tgt_df, n_buckets=B
        ).collect()
    }
    assert got == {0}


def test_validation(spark, frames):
    _, _, raw_df, tgt_df = frames
    with pytest.raises(ValueError, match="n_buckets"):
        dsir.hashed_features(raw_df, n_buckets=0)
    with pytest.raises(ValueError, match="k must be"):
        dsir.dsir_select(raw_df, tgt_df, 0)


def test_featureless_target_raises_loudly(spark, frames):
    """An empty or all-empty-text target corpus would NULL the t_tot
    normalizer, NULL every log_w, and let a `key < floor` corpus gate
    silently keep everything — the scoring plan must raise at execution
    instead (round-9 ADVICE).  A non-degenerate target keeps working."""
    from pyspark.errors import SparkRuntimeException

    _, _, raw_df, tgt_df = frames
    empty_tgt = tgt_df.filter(F.lit(False))
    w = dsir.dsir_log_weights(raw_df, empty_tgt, n_buckets=B)
    with pytest.raises(SparkRuntimeException, match="no features"):
        w.collect()
    # all-NULL texts (rows exist but no tokens hash out — empty STRINGS
    # do tokenize to the empty-string unigram, so they are not
    # degenerate) — same guard
    blank_tgt = spark.createDataFrame(
        [(None,), (None,)], "text string"
    )
    w2 = dsir.dsir_log_weights(raw_df, blank_tgt, n_buckets=B)
    with pytest.raises(SparkRuntimeException, match="no features"):
        w2.collect()
    # healthy target still scores every raw doc
    assert dsir.dsir_log_weights(raw_df, tgt_df, n_buckets=B).count() > 0


def test_fit_once_histograms_freeze_the_weight_definition(
    spark, frames, tmp_path
):
    """Round-11 structural fix (fit-once DSIR): (1) scoring through a
    persisted dsir_histograms relation reproduces the refit path
    EXACTLY on the same pool; (2) a document's weight is UNCHANGED
    when the pool shrinks — the property the corpus gate needs so a
    dsir-cuts floor keeps the calibrated fraction (a refit on the
    survivor pool moves every weight, proven here too); (3) grid
    mismatch / empty histogram / neither-input raise loudly."""
    raw, target, raw_df, tgt_df = frames
    path = str(tmp_path / "hist")
    dsir.dsir_histograms(
        raw_df.select("text"), tgt_df, n_buckets=B
    ).write.parquet(path)
    hist = spark.read.parquet(path)

    refit = {
        r["doc_id"]: (r["n_feats"], r["log_w"])
        for r in dsir.dsir_log_weights(
            raw_df, tgt_df, n_buckets=B
        ).collect()
    }
    frozen = {
        r["doc_id"]: (r["n_feats"], r["log_w"])
        for r in dsir.dsir_log_weights(
            raw_df, None, n_buckets=B, hist=hist
        ).collect()
    }
    assert frozen == refit

    # shrink the pool by ~a third ("dedup survivors"): frozen weights
    # are unchanged per doc; a refit moves them
    survivors = raw_df.filter(F.col("doc_id") % 3 != 0)
    frozen_sub = {
        r["doc_id"]: (r["n_feats"], r["log_w"])
        for r in dsir.dsir_log_weights(
            survivors, None, n_buckets=B, hist=hist
        ).collect()
    }
    assert frozen_sub == {
        d: v for d, v in refit.items() if d % 3 != 0
    }
    refit_sub = {
        r["doc_id"]: r["log_w"]
        for r in dsir.dsir_log_weights(
            survivors, tgt_df, n_buckets=B
        ).collect()
    }
    moved = [
        d for d, lw in refit_sub.items() if lw != refit[d][1]
    ]
    assert moved, "refit on a subset should move weights"

    with pytest.raises(ValueError, match="n_buckets"):
        dsir.dsir_log_weights(raw_df, None, n_buckets=B * 2, hist=hist)
    with pytest.raises(ValueError, match="empty"):
        dsir.dsir_log_weights(
            raw_df, None, n_buckets=B, hist=hist.filter(F.lit(False))
        )
    with pytest.raises(ValueError, match="neither"):
        dsir.dsir_log_weights(raw_df, None, n_buckets=B)


def test_plan_shape(spark):
    """The 100 TB pins: bucket histograms broadcast, top-k compiled to
    TakeOrdered (no global sort), no Python, no cartesian over data
    (the two 1-row total frames ride broadcast nested loops — bounded
    by construction)."""
    from etl_olho_vivo_spark import registry
    from tests.plan_walk import count_nodes, executed_plan

    registry.queries()
    df = registry.REGISTRY["dsir_select"].fn(
        spark, "/root/testdata/sf0.01"
    )
    node = executed_plan(df)
    plan = node.toString()
    assert "TakeOrderedAndProject" in plan
    # t_rel and r_rel
    assert count_nodes(node)["BroadcastHashJoinExec"] >= 2
    assert "CartesianProduct" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
