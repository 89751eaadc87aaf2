"""Structural walks over a DataFrame's physical or logical plan.

Tests pin plan shape by operator class, not by substrings of explain
text: a cached relation reprints its own build plan, so a substring
count sees every nested cache layer again.  The walk follows
``children()``, steps into ``AdaptiveSparkPlanExec`` (its current
plan — the final one once the frame has executed) and into query
stages, and descends into a cached relation's build plan
(``InMemoryTableScanExec.relation().cachedPlan()``) only when asked.
A logical plan (``optimized_plan``) walks the same way, and
``expressions`` walks the expression trees a plan node holds.
"""

from __future__ import annotations

from collections import Counter


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def node_name(node) -> str:
    return node.getClass().getSimpleName()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _children(node, into_cache: bool) -> list:
    name = node_name(node)
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    out = _seq(node.children())
    if into_cache and name == "InMemoryTableScanExec":
        out.append(node.relation().cachedPlan())
    return out


def walk(node, into_cache: bool = False):
    """Every node under ``node``, depth first."""
    yield node
    for child in _children(node, into_cache):
        yield from walk(child, into_cache)


def count_nodes(node, into_cache: bool = False) -> Counter:
    """Node class names under ``node`` -> occurrences."""
    return Counter(node_name(n) for n in walk(node, into_cache))


def expressions(node):
    """Every expression in ``node``'s own expression trees, depth
    first (not those of its child plans)."""
    stack = list(_seq(node.expressions()))
    while stack:
        expr = stack.pop()
        yield expr
        stack.extend(_seq(expr.children()))


def cache_scans(node) -> list:
    """The ``InMemoryTableScanExec`` nodes reading caches directly under
    ``node`` (not inside another cache's build plan)."""
    return [n for n in walk(node) if node_name(n) == "InMemoryTableScanExec"]


def cache_id(scan) -> int:
    """Identity of the cache a scan reads: scans of one persisted frame
    share its ``CachedRDDBuilder``."""
    from pyspark import SparkContext

    builder = scan.relation().cacheBuilder()
    return SparkContext._jvm.System.identityHashCode(builder)


def hash_shuffles(node) -> int:
    """Hash-partitioning ``ShuffleExchangeExec`` nodes under ``node``."""
    return sum(
        1
        for n in walk(node)
        if node_name(n) == "ShuffleExchangeExec"
        and n.outputPartitioning().getClass().getSimpleName()
        == "HashPartitioning"
    )
