"""Physical-plan shape assertions — the 100 TB design contract.

Correctness tests prove the values; these prove the plan would survive a
1000-executor scale-up: filters reach the parquet scan, small dimensions
broadcast, top-k never global-sorts, Python appears only where Arrow
batching is intentional, and the flagship pipeline shuffles exactly twice.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark import registry
from tests.plan_walk import (
    cache_id,
    cache_scans,
    count_nodes,
    executed_plan,
    hash_shuffles,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.queries()


def _plan(spark, name: str) -> str:
    return _physical(spark, name).toString()


def _physical(spark, name: str):
    return executed_plan(registry.REGISTRY[name].fn(spark, SF))


def test_pricing_summary_filter_pushed_to_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan
    # the shipdate bound must be INSIDE the pushed-filter list, not only a
    # post-scan Filter node
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, pushed


def test_pricing_summary_prunes_columns(spark):
    plan = _plan(spark, "pricing_summary")
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    # 6 needed columns, not all 11
    assert "l_partkey" not in read_schema
    assert "l_suppkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(spark):
    """nation/region (true dims) broadcast; orders/customer (fact-sized)
    go through spillable hash-partitioned SORT-MERGE joins —
    broadcasting a fact is the plan that dies first at 100 TB, and a
    shuffled-hash build map of a fact side OOMs under memory pressure
    (starved-probe evidence, BASELINE.md round 6)."""
    nodes = count_nodes(_physical(spark, "revenue_by_nation"))
    assert nodes["BroadcastHashJoinExec"] == 2, nodes
    assert nodes["SortMergeJoinExec"], nodes
    assert not nodes["ShuffledHashJoinExec"], nodes


def test_semi_join_is_semi(spark):
    plan = _plan(spark, "orders_with_recent_lineitem")
    assert "LeftSemi" in plan
    # the shipdate bound must appear in SOME scan's pushed-filter list
    pushed_blocks = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("l_shipdate" in p for p in pushed_blocks), pushed_blocks


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "top10_expensive_items")
    assert "TakeOrderedAndProject" in plan


def test_cosine_topk_broadcasts_query_vector(spark):
    plan = _plan(spark, "embedding_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


@pytest.mark.sweep
def test_no_python_in_jvm_only_queries(spark):
    """Every query except the intentional Arrow decodes stays JVM-side."""
    for name in registry.REGISTRY:
        if name in ("multimodal_decode", "multimodal_audio"):
            continue
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


@pytest.mark.parametrize("name", ["multimodal_decode", "multimodal_audio"])
def test_multimodal_decodes_are_arrow_batched(spark, name):
    plan = _plan(spark, name)
    # mapInPandas (Arrow), never row-at-a-time pickling
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_flagship_shuffles_exactly_once(spark):
    """velocidades_agregadas shuffles ONCE: the window's
    hashpartitioning(prefixo_veiculo) also satisfies the 9-key aggregation
    distribution (the vehicle is one of the agg keys, and clustering by a
    subset key co-locates every superset-key group), so Catalyst elides
    the second exchange entirely."""
    n_exchanges = hash_shuffles(_physical(spark, "velocidades_agregadas"))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def test_window_suite_shuffles_once(spark):
    """Two window specs share the o_custkey partitioning → one Exchange."""
    plan = _physical(spark, "window_rank_suite")
    assert hash_shuffles(plan) == 1, plan.toString()[:1500]


def test_salted_join_is_shuffle_join(spark):
    """The salted demo must exercise the exchange path (a broadcast would
    make the salting decorative)."""
    plan = _plan(spark, "salted_skew_join_events")
    assert "SortMergeJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed-bucketed equi-join on the bucket key is exchange-free —
    the write-once shuffle contract that makes repeated 100 TB fact-fact
    joins affordable."""
    from etl_olho_vivo_spark.io.bucketing import read_bucketed, write_bucketed
    from etl_olho_vivo_spark.sources.tables import read_table

    orders = read_table(spark, SF, "orders")
    li = read_table(spark, SF, "lineitem")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo")
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "bl")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "b_orders").join(
            read_bucketed(spark, "b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_order_rollup_query_has_no_exchange(spark):
    """The REGISTERED bucketed rollup (not just the io helper): join AND
    per-order aggregation both ride the bucketed layout — the final
    adaptive plan contains zero Exchange."""
    try:
        df = registry.REGISTRY["bucketed_order_rollup"].fn(spark, SF)
        n = len(df.collect())
        assert n > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final, final[:2000]
        assert "Exchange" not in final, final[:2000]
        assert "BroadcastHashJoin" not in final
    finally:
        # the query registers per-(sf, pid) tables + /tmp bucket files;
        # harnesses that rerun it (bench, driver) overwrite them, but a
        # test session should not leave catalog/disk state behind
        import shutil
        import tempfile

        for t in spark.catalog.listTables():
            if t.name.startswith(("bkt_orders_", "bkt_lineitem_")):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(
            f"{tempfile.gettempdir()}/etl_olho_vivo_bucketed",
            ignore_errors=True,
        )


def test_doc_text_profile_is_shuffle_free(spark):
    """The merged per-document text profile is a pure per-row projection —
    one scan, zero exchanges (one pass over the corpus at any scale)."""
    plan = _physical(spark, "doc_text_profile")
    assert "Exchange" not in plan.toString(), plan.toString()[:1500]
    assert count_nodes(plan)["FileSourceScanExec"] == 1


def test_scalar_surface_sample_is_scan_level(spark):
    """The md5-prefix universe sample must be a scan-level Filter (no
    shuffle, no extra pass), and the projection must not widen the read."""
    plan = _plan(spark, "scalar_function_surface")
    assert "Exchange" not in plan, plan[:1500]
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "p_container" not in read_schema  # unused column pruned


def test_groupby_extensions_single_cube_aggregation(spark):
    """All three GROUP BY extension branches come from ONE cube
    aggregation — one scan, one Expand, one partial-aggregated exchange;
    rollup/gsets materialize as an explode of mode tags over the tiny
    cube result, never a re-scan or self-union."""
    physical = _physical(spark, "groupby_extensions")
    nodes = count_nodes(physical)
    assert nodes["FileSourceScanExec"] == 1, nodes
    assert nodes["ExpandExec"] == 1, nodes
    assert hash_shuffles(physical) == 1
    assert "Generate explode" in physical.toString()


def test_minhash_signature_store_is_cached(spark):
    """The LSH pipeline consumes the signature frame three times (bands +
    both verify sides); the signature store must be a persisted
    InMemoryRelation so the text scan + md5 + shingle compute runs ONCE,
    not once per consumer."""
    plan = _physical(spark, "minhash_near_dups")
    assert len(cache_scans(plan)) >= 3, plan.toString()[:1500]


def test_lapsed_customers_pushes_date_and_stays_anti(spark):
    """The date slice must ride into the orders scan as a pushed filter
    (a post-scan Filter reads the whole fact at 100 TB), and the join
    must stay a LeftAnti with no Python anywhere."""
    plan = _plan(spark, "lapsed_customers")
    assert "LeftAnti" in plan, plan[:2000]
    pushed_sections = [
        seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("o_orderdate" in seg for seg in pushed_sections), (
        pushed_sections
    )
    for bad in ("PythonUDF", "BatchEvalPython", "CartesianProduct"):
        assert bad not in plan


def test_assign_splits_is_pure_projection(spark):
    """Split assignment is a map-side md5 projection: ZERO Exchange —
    the property that makes it retry/partitioning-independent for free."""
    df = registry.REGISTRY["assign_splits"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final[:2000]
    for bad in ("PythonUDF", "BatchEvalPython"):
        assert bad not in final


@pytest.mark.parametrize(
    "name", ["dedup_corpus_lines", "repeated_span_dedup"]
)
def test_corpus_dedup_joins_never_broadcast(spark, name):
    """Every join in the line/span dedup rewrites is symmetric
    corpus-scaled (stats probe, covered positions, rebuilt reattach) —
    all pinned sort-merge after the round-7 starved probe caught AQE
    broadcasting the gram-stats relation.  No broadcast join may
    appear in the FINAL adaptive plan."""
    df = registry.REGISTRY[name].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in final, final[:3000]
    assert "BroadcastNestedLoopJoin" not in final
    assert "SortMergeJoin" in final
    assert "Window" not in final


@pytest.mark.parametrize(
    "name", ["doc_bigram_cross_entropy", "doc_trigram_cross_entropy"]
)
def test_lm_scorer_joins_and_aggregates_only(spark, name):
    """The LM scorer (bigram demo AND the order-n generalization) is
    count aggregates + slim hash-keyed joins; its bounded count
    relations MAY broadcast (top-k-bounded by construction), but no
    cartesian product or Python may appear and the per-doc rollup must
    be a partial-aggregated hash aggregate."""
    df = registry.REGISTRY[name].fn(spark, SF)
    df.collect()
    # the final adaptive plan, cached build plans included
    nodes = count_nodes(executed_plan(df), into_cache=True)
    for bad in ("CartesianProduct", "ArrowEvalPython", "BatchEvalPython",
                "Window"):
        assert not [n for n in nodes if bad in n], nodes
    assert nodes["HashAggregateExec"], nodes


def test_editdist_band_join_is_banded_and_pruned(spark):
    """The length-band escape's three load-bearing plan facts: (1) the
    SMJ keys include the band column (the quadratic split is IN the
    shuffle key, not a post-join filter); (2) the DP is the 3-arg
    threshold-banded levenshtein (O(len·T), and the |len diff| prune
    sits beside it in the join condition so non-candidates never touch
    a DP cell); (3) corpus never broadcast, exchange pinned by number
    (AQE must not coalesce the compute-bound stage)."""
    df = registry.REGISTRY["doc_editdist_near_dup"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final, final[:3000]
    assert "BroadcastHashJoin" not in final
    assert "REPARTITION_BY_NUM" in final
    # round-15 shape: the DP is NOT a join predicate — the join carries
    # only the cheap prunes (pair orientation, |len diff| lower bound),
    # and levenshtein evaluates exactly ONCE, above the join, inside
    # the outer-generate pushdown barrier.  The round-14 shape let the
    # pushed dist>=0 filter fold the DP into the join condition ahead
    # of gid_a < gid_b: every wrongly-ordered candidate paid the
    # O(len·T) DP, and survivors paid it twice (condition + project).
    join_line = next(
        line
        for line in final.splitlines()
        if "SortMergeJoin" in line and "abs(" in line
    )
    assert "levenshtein" not in join_line, join_line
    assert "gid_a" in join_line and "gid_b" in join_line, join_line
    assert "band" in join_line, join_line  # band is a JOIN KEY
    # one evaluation site, threshold-banded (the formatted details
    # reprint expressions once per operator listing; count the Generate
    # input, not raw occurrences)
    lev_lines = [
        line for line in final.splitlines() if "levenshtein" in line
    ]
    assert lev_lines, final[:3000]
    assert all("Some(60)" in line for line in lev_lines), lev_lines
    assert all(
        "Generate" in line or "Project" in line for line in lev_lines
    ), lev_lines


def test_trigram_counts_share_one_cached_windows_aggregate(spark):
    """The order-n single-scan rewrite (round-8 verdict #3): at order
    >= 3 BOTH the context and n-gram relations must read the SAME
    persisted (ctx_h, w_h, n) windows aggregate — an InMemoryTableScan
    over base — instead of each re-running its own corpus windows pass,
    so the reference corpus is scanned twice total (unigram + windows)
    rather than three times."""
    from etl_olho_vivo_spark.caching import CacheBag, release_session_caches
    from etl_olho_vivo_spark.operators import lm
    from etl_olho_vivo_spark.sources.tables import read_table

    # an earlier registry run may have left ctx/ng cached in the session
    # bag; Spark's cache manager would then substitute those relations
    # wholesale, hiding the windows aggregate under another cache layer
    release_session_caches()
    d = read_table(spark, SF, "documents")
    bag = CacheBag()
    try:
        ctx, ng, _ = lm.ngram_counts(d, order=3, caches=bag)
        windows, tokens = set(), set()
        for df in (ctx, ng):
            plan = executed_plan(df)
            # one cache read (the windows aggregate) and no scan outside it
            outer = count_nodes(plan)
            assert outer["InMemoryTableScanExec"] == 1, outer
            assert outer["FileSourceScanExec"] == 0, outer
            (agg_scan,) = cache_scans(plan)
            windows.add(cache_id(agg_scan))
            # the aggregate's build reads the cached token frame, and
            # nothing else scans the corpus
            agg_build = agg_scan.relation().cachedPlan()
            inner = count_nodes(agg_build)
            assert inner["InMemoryTableScanExec"] == 1, inner
            assert inner["FileSourceScanExec"] == 0, inner
            (tok_scan,) = cache_scans(agg_build)
            tokens.add(cache_id(tok_scan))
            # exactly one corpus scan beneath the whole tree
            assert count_nodes(plan, into_cache=True)[
                "FileSourceScanExec"
            ] == 1
        # ctx and ng share ONE windows aggregate over ONE token frame
        assert len(windows) == 1 and len(tokens) == 1
    finally:
        bag.release()
