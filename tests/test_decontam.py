"""Eval-set decontamination (operators/decontam.py).

Planted-leak semantics, the corpus gate's anti-join drop rule, edge inputs,
and the 100 TB plan posture (eval gram set broadcast, corpus never
shuffled for the probe join).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators import decontam
from tests.plan_walk import expressions, node_name, optimized_plan, walk

EVAL_ROWS = [
    (1000, "the quick brown fox jumps over the lazy dog tonight"),
    (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]

TRAIN_ROWS = [
    # verbatim 5-token span leaked from eval doc 1000
    (1, "breaking news the quick brown fox jumps over everything"),
    # clean: same words, never 5 in a row in eval order
    (2, "fox the brown quick jumps dog lazy the over tonight"),
    # full copy of eval doc 1001 → every gram contaminated
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # clean and fully disjoint vocabulary
    (4, "one two three four five six seven eight nine ten"),
    # too short for any 5-gram — can never be flagged
    (5, "alpha beta gamma delta"),
]


@pytest.fixture(scope="module")
def frames(spark):
    train = spark.createDataFrame(TRAIN_ROWS, ["doc_id", "text"])
    ev = spark.createDataFrame(EVAL_ROWS, ["doc_id", "text"])
    return train, ev


def test_planted_leaks_flagged(spark, frames):
    train, ev = frames
    rep = {
        r["doc_id"]: r
        for r in decontam.contamination_report(train, ev).collect()
    }
    assert set(rep) == {1, 3}
    # doc 1: tokens 2..8 hold "the quick brown fox jumps over" = exactly
    # two contaminated 5-grams out of 5 total
    assert rep[1]["n_grams"] == 5
    assert rep[1]["n_contaminated"] == 2
    assert rep[1]["overlap_frac"] == pytest.approx(0.4)
    # doc 3 is a verbatim eval copy: total overlap
    assert rep[3]["n_contaminated"] == rep[3]["n_grams"] == 6
    assert rep[3]["overlap_frac"] == 1.0


def test_decontaminate_drops_flagged_keeps_rest(spark, frames):
    """The corpus gate's rule (plans/corpus.py): anti-join the
    training docs against the report's ids."""
    train, ev = frames
    rep = decontam.contamination_report(train, ev)
    kept = train.join(rep.select("doc_id"), "doc_id", "left_anti")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4, 5]
    # rows pass through unchanged (schema and values)
    assert kept.columns == train.columns
    # a hit floor past doc 1's two shared grams keeps it
    kept2 = train.join(
        rep.filter(F.col("n_contaminated") >= 3).select("doc_id"),
        "doc_id", "left_anti",
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [1, 2, 4, 5]


def test_edge_inputs(spark, frames):
    train, ev = frames
    # empty eval set → nothing flagged, nothing dropped
    empty_ev = ev.filter(F.lit(False))
    assert decontam.contamination_report(train, empty_ev).count() == 0
    # empty training side → empty report
    empty_tr = train.filter(F.lit(False))
    assert decontam.contamination_report(empty_tr, ev).count() == 0
    with pytest.raises(ValueError, match="n must be"):
        decontam.with_ngram_hashes(train, n=0)


def test_gram_identity_and_bounds(spark):
    """n=1 grams degrade to the distinct token-hash set, and every gram
    hash stays inside [0, P) — the 64-bit-overflow-free contract."""
    from etl_olho_vivo_spark.functions.hashing import P

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], ["doc_id", "text"]
    )
    g1 = decontam.with_ngram_hashes(df, n=1).collect()[0]["gs"]
    assert len(g1) == 16
    g5 = decontam.with_ngram_hashes(df, n=5).collect()[0]["gs"]
    assert len(g5) == 12
    assert all(0 <= g < P for g in g1 + g5)


def test_plan_hashes_each_side_once(spark, frames):
    """Regression: plain explode over the gram array lets Catalyst infer
    a size(gs) > 0 filter and push it below the projections with the
    token-hash transform fully inlined — O(tokens²) re-hashing per doc
    (measured 122 s vs <2 s at sf0.1).  The optimized plan must contain
    exactly TWO token-hash transforms: one per side of the probe."""
    train, ev = frames
    rep = decontam.contamination_report(train, ev)
    hashes = sum(
        1
        for node in walk(optimized_plan(rep))
        for expr in expressions(node)
        if node_name(expr) == "ArrayTransform"
        and node_name(expr.argument()) == "StringSplit"
    )
    assert hashes == 2, hashes


def test_gram_store_records_and_verifies_n(spark, frames, tmp_path):
    """The persisted store carries the n it was built with; probing it
    with a different n is a loud error, not a silent zero-match join
    that admits every contaminated doc."""
    _, ev = frames
    path = str(tmp_path / "grams")
    decontam.write_eval_gram_store(ev, path, n=7)
    # matching n loads and exposes ONLY the gram column
    ok = decontam.read_eval_gram_store(spark, path, n=7)
    assert ok.columns == ["g"]
    assert ok.count() > 0
    with pytest.raises(ValueError, match="built with n=7"):
        decontam.read_eval_gram_store(spark, path, n=5)
    # a pre-stamp store (bare g column) loads unverified
    legacy = str(tmp_path / "legacy")
    decontam.eval_gram_set(ev, n=5).write.parquet(legacy)
    assert decontam.read_eval_gram_store(spark, legacy, n=7).columns == ["g"]


def test_plan_broadcasts_eval_never_shuffles_corpus(spark, frames):
    """100 TB posture: the probe join must be a BroadcastHashJoin (eval
    side built), so the corpus stream is map-side; the only Exchange in
    the final plan is the per-doc rollup keyed on doc_id."""
    train, ev = frames
    rep = decontam.contamination_report(train, ev)
    rep.collect()  # let AQE finalize
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    # shuffle-off ramp for an oversized eval set still computes the
    # same report
    rep2 = decontam.contamination_report(train, ev, broadcast_eval=False)
    assert sorted(
        (r["doc_id"], r["n_contaminated"]) for r in rep2.collect()
    ) == sorted((r["doc_id"], r["n_contaminated"]) for r in rep.collect())
