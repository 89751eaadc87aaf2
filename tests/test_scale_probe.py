"""10× local scale probe — the affordable evidence behind the 100× claim.

Correctness runs at sf0.01 and plan-shape tests (test_plans.py) pin the
*initial* physical plans.  This module re-checks the load-bearing plan
invariants on data 10× larger than each query's usual local scale, AFTER
full execution, against the **final adaptive plan** — i.e. it verifies
that AQE's runtime re-planning (size-based coalescing, dynamic join
selection, skew splitting) does not undo the engine's explicit scale
decisions when the inputs grow:

- flagship `velocidades_agregadas` on 10× sf0.1 events (1M rows, 10×
  distinct vehicles): still exactly ONE shuffle (the lag window's
  hashpartitioning(prefixo_veiculo) keeps satisfying the 9-key agg);
- `ngram_jaccard_pairs` / `doc_editdist_near_dup` on 10× sf0.01
  documents (10× block density → ~100× pair work): the merge hint
  still yields a spillable SortMergeJoin (no corpus broadcast, no
  in-memory hash build) and the REPARTITION_BY_NUM pins survive (AQE
  never coalesces a user-numbered repartition, so the compute-bound
  pair stages keep their parallelism);
- `embedding_near_dup_pairs` on 10× sf0.01 embeddings: the candidate
  stage stays an equi hash join on cell_id (never a cartesian /
  nested-loop pair enumeration) and the single persisted assignment
  pass is reused by both self-join sides.

Replicas perturb the *keys* (new event/user/doc/vec ids per replica) so
key cardinality scales with the data — duplicating rows under the same
keys would shrink relative group counts instead of simulating growth.
Replicated documents/embeddings are verbatim copies under new ids, so
the near-dup queries also get a denser (harder) candidate structure.

Execution goes through ``df.collect()`` — a noop write plans the query
in a separate QueryExecution, leaving the DataFrame's own adaptive plan
unfinalized; collect finalizes the plan actually being asserted.  All
result sets here are pair/group outputs far below driver limits.
"""

from __future__ import annotations

import pytest

# whole module = sweep tier: every test runs against the ~30 s
# 10x-replica fixture, and the plan pins are regression breadth, not
# per-change signal (run with -m "" at round-end)
pytestmark = pytest.mark.sweep

from etl_olho_vivo_spark import registry
from etl_olho_vivo_spark.caching import release_session_caches

from tests.datagen import (
    replicate_documents,
    replicate_embeddings,
    replicate_events,
)
from tests.plan_walk import (
    cache_scans,
    count_nodes,
    executed_plan,
    hash_shuffles,
    node_name,
    walk,
)

REPLICAS = 10
#: class-name parts of the nodes that run Python UDFs (BatchEvalPython,
#: ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...)
_PYTHON = ("Python", "Pandas")


@pytest.fixture(scope="module")
def scale10_dir(spark, tmp_path_factory):
    registry.queries()
    d10 = str(tmp_path_factory.mktemp("scale10"))
    replicate_events(
        spark, "/root/testdata/sf0.1/events.parquet",
        f"{d10}/events.parquet", REPLICAS,
    )
    replicate_documents(
        spark, "/root/testdata/sf0.01/documents.parquet",
        f"{d10}/documents.parquet", REPLICAS,
    )
    replicate_embeddings(
        spark, "/root/testdata/sf0.01/embeddings.parquet",
        f"{d10}/embeddings.parquet", REPLICAS,
    )
    return d10


def _final_plan(spark, name: str, sf_dir: str) -> tuple[object, int]:
    """Execute the registered query and return (executed plan, rows).
    Once executed, the plan walk sees AQE's final adaptive plan."""
    df = registry.REGISTRY[name].fn(spark, sf_dir)
    n = len(df.collect())
    plan = executed_plan(df)
    release_session_caches()
    return plan, n


def _named(plan, part: str) -> int:
    """Nodes under ``plan`` whose class name contains ``part``."""
    return sum(v for name, v in count_nodes(plan).items() if part in name)


def _shuffle_origins(plan) -> set[str]:
    """Why each shuffle under ``plan`` exists (``REPARTITION_BY_NUM`` for
    a user-numbered repartition, ``ENSURE_REQUIREMENTS`` for a planner
    exchange)."""
    return {
        str(n.shuffleOrigin())
        for n in walk(plan)
        if node_name(n) == "ShuffleExchangeExec"
    }


@pytest.mark.slow
def test_flagship_still_one_shuffle_at_10x(spark, scale10_dir):
    final, n = _final_plan(spark, "velocidades_agregadas", scale10_dir)
    assert n > 0
    assert hash_shuffles(final) == 1, count_nodes(final)


@pytest.mark.slow
def test_ngram_pins_hold_at_10x(spark, scale10_dir):
    final, n = _final_plan(spark, "ngram_jaccard_pairs", scale10_dir)
    assert n > 0
    # corpus never broadcast, pair join spillable (merge pin)
    assert _named(final, "SortMergeJoin") >= 1, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") == 0
    # the parallelism pin survives AQE (user-numbered repartition)
    assert "REPARTITION_BY_NUM" in _shuffle_origins(final)


@pytest.mark.slow
def test_editdist_pins_hold_at_10x(spark, scale10_dir):
    final, n = _final_plan(spark, "doc_editdist_near_dup", scale10_dir)
    assert n > 0
    # round-10 shape: exact-dup collapse + banded DP over distinct
    # representatives + member expansion — every corpus-scaled join
    # stays merge-pinned (AQE exchange/subplan reuse may fold some of
    # the seven logical joins, hence >= 3, but none may broadcast)
    assert _named(final, "SortMergeJoin") >= 3, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") == 0
    # the DP stage's block-key exchange stays pinned: each of its
    # output partitions does O(block²) DP work, so AQE's byte-based
    # coalescing would serialize a compute-bound stage.  (The collapse
    # and expansion exchanges are byte-bound and MAY coalesce — only
    # the pinned repartition must survive.)
    assert "REPARTITION_BY_NUM" in _shuffle_origins(final)


@pytest.mark.slow
def test_minhash_shares_one_signature_pass_at_10x(spark, scale10_dir):
    final, n = _final_plan(spark, "minhash_near_dups", scale10_dir)
    assert n > 0
    # pair enumeration must never degrade to nested-loop.  NOTE: plain
    # BroadcastHashJoin is allowed HERE — this registry query includes
    # the batch-vs-store incremental kind, whose batch-scaled sides are
    # deliberately unhinted so AQE's byte-bounded runtime broadcasts
    # keep per-batch cost ∝ batch (the store is scanned, not shuffled);
    # the SELF-join path's no-broadcast invariant is pinned by
    # test_self_near_dup_never_broadcast_at_10x below
    assert _named(final, "CartesianProduct") == 0
    assert _named(final, "BroadcastNestedLoopJoin") == 0
    # the persisted signature store still feeds every consumer (text
    # scan + md5 + shingle compute runs once, not once per consumer)
    assert _named(final, "TableCacheQueryStage") >= 1, count_nodes(final)
    assert len(cache_scans(final)) >= 3, count_nodes(final)


@pytest.mark.slow
def test_self_near_dup_never_broadcast_at_10x(spark, scale10_dir):
    """The SELF near-dup operator (both sides corpus-scaled, merge
    pinned after the starved probe showed broadcast AND hash builds OOM
    at 30× density while SMJ spills): no broadcast join anywhere in the
    final adaptive plan, even when the 10× corpus is still under the
    broadcast threshold locally."""
    from etl_olho_vivo_spark.operators import dedup
    from etl_olho_vivo_spark.sources.tables import read_table

    docs = read_table(spark, scale10_dir, "documents")
    df = dedup.near_duplicates(docs, threshold=0.5, persist=False)
    n = len(df.collect())
    assert n > 0
    final = executed_plan(df)
    assert _named(final, "BroadcastHashJoin") == 0, count_nodes(final)
    assert _named(final, "SortMergeJoin") >= 1
    assert _named(final, "CartesianProduct") == 0


@pytest.mark.slow
def test_embedding_cell_dial_bounds_pair_density(spark, scale10_dir):
    """The scaling dial behind the bench tier's one super-linear wall
    ratio (BASELINE.md: 32× at 10× data with n_cells pinned to 16 for
    oracle parity): growing n_cells with the corpus restores bounded
    per-cell density — candidate-pair volume shrinks near-linearly in
    the cell count.  Recall for exact twins is STRUCTURAL, not
    statistical: identical vectors have identical centroid distances and
    the (dist, cell_id) argmin is deterministic, so replicas co-locate
    at ANY n_cells — asserted, not assumed."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.operators.similarity import ivf_assign
    from etl_olho_vivo_spark.replicate import OFF
    from etl_olho_vivo_spark.sources.tables import read_table

    emb = read_table(spark, scale10_dir, "embeddings")

    def cand_pairs(nc: int) -> float:
        counts = ivf_assign(emb, n_cells=nc).groupBy("cell_id").count()
        (row,) = counts.agg(
            F.sum(F.expr("count * (count - 1) / 2")).alias("p")
        ).collect()
        return row["p"]

    c16, c160 = cand_pairs(16), cand_pairs(160)
    assert c160 * 4 <= c16, (c16, c160)
    spread = (
        ivf_assign(emb, n_cells=160)
        .groupBy((F.col("vec_id") % OFF).alias("base"))
        .agg(F.countDistinct("cell_id").alias("nc"))
        .filter(F.col("nc") > 1)
        .count()
    )
    assert spread == 0, "replica twins split across cells"


@pytest.mark.slow
def test_embedding_pairs_blocked_join_at_10x(spark, scale10_dir):
    final, n = _final_plan(spark, "embedding_near_dup_pairs", scale10_dir)
    assert n > 0
    # pair enumeration is a shuffled SORT-MERGE equi join on cell_id —
    # nested-loop appears ONLY in the bounded 16-row centroid broadcast
    # of ivf_assign; the corpus-sized assignment sides are never
    # broadcast, and the join must stay spillable (merge pinned after
    # the starved probe showed broadcast AND hash builds OOM at 30×
    # density while SMJ spills and completes)
    assert _named(final, "CartesianProduct") == 0
    assert _named(final, "SortMergeJoin") >= 1, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") == 0
    # one persisted assignment pass feeds both self-join sides (AQE
    # wraps each cache read in a TableCacheQueryStage)
    assert _named(final, "TableCacheQueryStage") >= 1, count_nodes(final)
    assert len(cache_scans(final)) >= 2, count_nodes(final)


@pytest.mark.slow
def test_embedding_pairs_plan_pins_hold_with_dial_on(spark, scale10_dir):
    """Round-11: the production parameterization (n_cells ∝ corpus —
    here 160 cells on the 10× replicas, constant per-cell density)
    keeps every 100 TB plan pin of the fixed-cell query: sort-merge
    equi join on cell_id, corpus sides never broadcast, no cartesian,
    one persisted assignment pass feeding both self-join sides.  This
    is the plan the bench tier's embedding_near_dup_dial row times."""
    from etl_olho_vivo_spark.registry_extra import (
        embedding_near_dup_frame,
    )

    df = embedding_near_dup_frame(spark, scale10_dir, n_cells=160)
    n = len(df.collect())
    final = executed_plan(df)
    release_session_caches()
    assert n > 0
    assert _named(final, "CartesianProduct") == 0
    assert _named(final, "SortMergeJoin") >= 1, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") == 0
    assert _named(final, "TableCacheQueryStage") >= 1, count_nodes(final)
    assert len(cache_scans(final)) >= 2, count_nodes(final)


@pytest.mark.slow
def test_trigram_lm_pins_hold_at_10x(spark, scale10_dir):
    """The order-3 LM query (round 8) gets its measured 10× point: on
    10× documents the final adaptive plan must stay aggregate-first
    joins + hash aggregates with the single-scan windows base (round 9)
    read through the cache — no cartesian, no Python, no nested-loop,
    and the base aggregate feeding ctx AND ng as InMemoryTableScan
    consumers."""
    final, n = _final_plan(spark, "doc_trigram_cross_entropy", scale10_dir)
    assert n > 0
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                *_PYTHON, "Window"):
        assert _named(final, bad) == 0, count_nodes(final)
    assert _named(final, "HashAggregate") >= 1
    # the cached single-scan base feeds both derived count relations
    assert len(cache_scans(final)) >= 2, count_nodes(final)


@pytest.mark.slow
def test_stupid_backoff_pins_hold_at_10x(spark, scale10_dir):
    """The backoff scorer's load-bearing asymmetry, measured at 10×:
    every model relation is top_k-bounded and joins the corpus-sized
    window relation as a BROADCAST build (one per model level plus the
    leaf), while the corpus side itself is never sort-merge-joined,
    never broadcast, and never crosses an exchange before the per-doc
    rollup.  If a future change let a model relation grow past the
    broadcast pick, the corpus would shuffle 2(order-1) times — this
    is the probe that would catch it."""
    final, n = _final_plan(spark, "doc_stupid_backoff", scale10_dir)
    assert n > 0
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ShuffledHashJoin", *_PYTHON, "Window"):
        assert _named(final, bad) == 0, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") >= 5, count_nodes(final)
    assert _named(final, "HashAggregate") >= 1


@pytest.mark.slow
def test_editdist_band_area_measured_at_10x(spark, scale10_dir):
    """The length-band escape's area claim, MEASURED on the 10× corpus
    instead of argued: candidate volume under (lang, source, band ±1)
    vs the naive (lang, source) quadratic.  Computed from block counts
    (no pair materialization — the measurement itself must scale).
    Replicas are verbatim copies so every block grows 10× and both
    volumes grow 100×; the ratio is the banding's true cut.  Measured
    0.44 at this length distribution (the ~3/n_bands worst-case bound
    with avg ~3.5 occupied bands per block predicts <= ~0.86, and a
    spread length distribution does better)."""
    from pyspark.sql import functions as F

    from etl_olho_vivo_spark.registry_ingest import _EDITDIST_T
    from etl_olho_vivo_spark.sources.tables import read_table

    d = read_table(spark, scale10_dir, "documents")
    band = (F.length("text") / (_EDITDIST_T + 1)).cast("int")
    blocks = (
        d.groupBy("lang", "source", band.alias("band"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        naive = (
            blocks.groupBy("lang", "source")
            .agg(F.sum("n").alias("tot"))
            .agg(F.sum(F.expr("tot * tot")).alias("v"))
            .first()["v"]
        )
        a = blocks.select("lang", "source", "band", F.col("n").alias("na"))
        b = blocks.select(
            "lang", "source", F.col("band").alias("bb"),
            F.col("n").alias("nb"),
        )
        banded = (
            a.join(b, ["lang", "source"])
            .filter(F.abs(F.col("band") - F.col("bb")) <= 1)
            .agg(F.sum(F.expr("na * nb")).alias("v"))
            .first()["v"]
        )
    finally:
        blocks.unpersist()
    assert naive > 0 and banded > 0
    # the escape must cut candidate area at least 2x on real data —
    # if lengths collapse into one band this fails and the band width
    # (or a second blocking key) needs revisiting
    assert banded * 2 <= naive, (banded, naive)


@pytest.mark.slow
def test_bloom_overlap_pins_hold_at_10x(spark, scale10_dir):
    """The Bloom snapshot-dedup query (round 9) on 10× documents: the
    final adaptive plan must keep (a) zero pair enumeration (no
    cartesian/nested-loop anywhere — membership is join + aggregate),
    (b) the shingle arrays flowing out of ONE cached pass (ref
    distinct, probe distinct and the mark join are all
    InMemoryTableScan consumers), and (c) exactly one token-hashing
    pass in the optimized plan — the O(words²) md5 inlining hazard
    (InferFiltersFromGenerate / CollapseProject under a Generate)
    measured 73 s vs <1 s at sf0.1, so the guard is structural, not a
    timing."""
    df = registry.REGISTRY["bloom_gram_overlap"].fn(spark, scale10_dir)
    n = len(df.collect())
    assert n > 0
    final = executed_plan(df)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    release_session_caches()
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", *_PYTHON):
        assert _named(final, bad) == 0, count_nodes(final)
    assert len(cache_scans(final)) >= 2, count_nodes(final)
    # the inlining-hazard guard: every Generate must explode a bare
    # cached ATTRIBUTE (sh#N), never an inlined shingle expression —
    # CollapseProject under a Generate would substitute the token-hash
    # transform into the lambda and re-evaluate it per gram.  (A plain
    # substring count over the optimized plan cannot express this:
    # every InMemoryRelation reference re-prints its cached child plan,
    # so the transform legitimately appears once per cache consumer.)
    import re

    for m in re.finditer(r"Generate explode\(([^#,)]*)", optimized):
        head = m.group(1)
        assert "transform" not in head and "CASE" not in head, (
            m.group(0), optimized[:3000]
        )


@pytest.mark.slow
def test_cluster_keep_best_pins_hold_at_10x(spark, scale10_dir):
    """Cluster-representative selection (round 9) on 10× documents:
    the per-component argmax must stay a partial-aggregating
    max(struct) — NO Window over component in the final adaptive plan
    (a viral cluster would serialize a window rank into one task) —
    with the labeled frame cached once for both the argmax and the
    kept join, and exactly one representative kept per component."""
    from collections import Counter

    df = registry.REGISTRY["dedup_cluster_keep_best"].fn(spark, scale10_dir)
    rows = df.collect()
    assert rows
    final = executed_plan(df)
    release_session_caches()
    for bad in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin",
                *_PYTHON):
        assert _named(final, bad) == 0, count_nodes(final)
    # partial + final aggregate for the argmax; max over a struct buffer
    # plans as SortAggregate, not HashAggregate
    assert _named(final, "Aggregate") >= 2, count_nodes(final)
    assert len(cache_scans(final)) >= 2, count_nodes(final)
    kept_per_comp = Counter(r["component"] for r in rows if r["kept"])
    comps = {r["component"] for r in rows}
    assert set(kept_per_comp) == comps  # every component keeps one
    assert all(v == 1 for v in kept_per_comp.values())


@pytest.mark.slow
def test_kneser_ney_pins_hold_at_10x(spark, scale10_dir):
    """The KN scorer shares the backoff scorer's load-bearing asymmetry
    (top_k-bounded model relations broadcast into ONE corpus-sized
    window relation) plus its own: the continuation-count aggregations
    happen at TRAIN time, never per scored window.  At 10× the final
    plan must keep every model join broadcast and the corpus side free
    of exchanges before the per-doc rollup."""
    final, n = _final_plan(spark, "doc_kneser_ney", scale10_dir)
    assert n > 0
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ShuffledHashJoin", *_PYTHON, "Window"):
        assert _named(final, bad) == 0, count_nodes(final)
    assert _named(final, "BroadcastHashJoin") >= 5, count_nodes(final)
    assert _named(final, "HashAggregate") >= 1
