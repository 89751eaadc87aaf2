"""Explicit lifecycle management for persisted intermediate frames.

Operators that cache an intermediate (MinHash signature stores, IVF
assignments, token-hash projections) need a way to hand the cache's
lifetime to the caller.  Attribute-stashing the handle on the returned
DataFrame (``out.sig_store = ...``) is fragile — the attribute is lost on
any further transformation — so the engine uses an explicit ``CacheBag``:

- operators accept an optional ``caches: CacheBag`` and register every
  frame they persist in it;
- the caller releases the bag when it has materialized what it needs
  (``bag.release()``, or use the bag as a context manager);
- with no bag supplied the operator still persists (the cache is what
  makes the plan single-scan) but registers the entry in the
  module-level ``SESSION_BAG``, so every harness's between-query
  ``release_session_caches()`` reclaims it — a raw session persist
  would pin the plan (and its disk blocks) until session end with no
  release path.  The CacheManager's canonical-plan dedup (a re-run of
  the same query re-uses the existing entry instead of adding one)
  bounds the footprint between releases.

Registry queries — which must return a LAZY frame through a fixed
``(spark, sf_dir)`` signature, so they cannot unpersist after their own
materialization — register caches in the module-level ``SESSION_BAG``;
harnesses that materialize each query (bench.py does) call
``release_session_caches()`` between queries.

Persist or cut.  ``bag.add`` persists: the frame keeps its whole plan,
and the CacheManager serves the cache to any canonically equal plan.
Operator-internal caches need exactly that (``lm._ref_token_frame``
and every ``SESSION_BAG`` entry rely on a later, independently built
plan finding the existing cache), so they persist.  ``bag.cut``
materializes the frame once and replaces its plan with one leaf
reading the stored blocks.  Cut a frame that later stages consume and
whose lineage holds other caches: a persisted frame's plan prints the
whole build plan of every cache under it at each reference, and Spark
renders that text again in every SQL start and AQE update event, so
plans over nested caches grow with each stage built on them (the
corpus pipeline's survivor chain reached 164k plan lines per write).
The trade-off: a cut frame cannot be recomputed, so losing an
executor's blocks fails the read instead of re-deriving them.  In this
engine's ``local[n]`` sessions an executor loss is a driver loss, which
ends the job either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class CacheBag:
    """A set of persisted or cut DataFrames released together.

    ``add`` persists the frame (MEMORY_AND_DISK — spill, don't recompute)
    and tracks it; ``cut`` materializes it behind a lineage cut and
    tracks the backing RDD; ``take`` moves another bag's entries in;
    ``release`` unpersists everything tracked.
    Safe to release frames that were never materialized, and safe to
    call twice.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._rdds: list = []

    def add(
        self,
        df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> DataFrame:
        out = df.persist(level)
        self._frames.append(out)
        return out

    def cut(self, df: DataFrame) -> DataFrame:
        """``df`` stored at its first action, behind a plan of one leaf.

        A lazy local checkpoint: the returned frame's plan is a single
        ``LogicalRDD`` over MEMORY_AND_DISK blocks, so nothing built on it
        re-prints ``df``'s lineage.  Under AQE the call itself already
        runs ``df``'s shuffle stages (executing an adaptive plan
        materializes them); the first action runs the last stage and
        stores its rows.  ``release`` unpersists that RDD; a read after
        release fails (the lineage is gone) instead of recomputing."""
        out = df.localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        leaf = out._jdf.queryExecution().logical()
        self._rdds.append(leaf.rdd())
        return out

    def take(self, other: "CacheBag") -> None:
        """Move every entry of ``other`` into this bag; ``other`` ends
        empty, so releasing it no longer touches them."""
        self._frames += other._frames
        self._rdds += other._rdds
        other._frames, other._rdds = [], []

    def release(self) -> None:
        frames, self._frames = self._frames, []
        rdds, self._rdds = self._rdds, []
        for df in frames:
            df.unpersist()
        for rdd in rdds:
            rdd.unpersist(False)

    def __len__(self) -> int:
        return len(self._frames) + len(self._rdds)

    def __enter__(self) -> "CacheBag":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


#: caches created inside registry queries (lazy return — the query
#: function cannot release them itself); harnesses release between runs
SESSION_BAG = CacheBag()


def release_session_caches() -> None:
    """Unpersist every cache a registry query registered this session."""
    SESSION_BAG.release()
