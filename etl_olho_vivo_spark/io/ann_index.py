"""Persisted IVF ANN index — the build-once/query-many serving layout.

``operators/similarity.py`` provides the IVF machinery (coarse
quantizer, exact-integer assignment, multi-probe top-k); this module
gives it the lifecycle a production vector store needs, mirroring the
signature-store pattern the dedup family uses:

    build_ivf_index    corpus scan once → centroids + cell-partitioned
                       assignment parquet
    append_to_ivf_index  new vectors assigned against the PERSISTED
                       centroids and appended to their cell partitions
                       (cost ∝ batch, centroids never retrained mid-index)
    query_ivf_index    external query vector → probe cells → top-k

Layout:

    <path>/centroids/   cell_id, qc (quantized), stamped with n_cells +
                        the quantization grid (validated at load — an
                        index built under a different grid would rank
                        garbage silently)
    <path>/cells/ingest_batch_id=<id>/cell_id=<c>/
                        vec_id, label, qv — a batch-partitioned append
                        store (io/append_store.py: per-batch overwrite,
                        fold-and-swap compaction, and the watermark
                        that skips replays of folded batches); the
                        build replaces the tree with batch -1 and
                        ``compact_ivf_index`` folds accumulated batch
                        partitions back into it.

The cell partitioning is the serving contract at 100 TB: a query with
``n_probe`` cells reads ONLY those cell partition directories (Spark
partition pruning — asserted in tests; pruning works on any partition
column, so the extra batch level costs queries nothing).  Appends add
partition directories; resident data is never rewritten.  Vector ids
must be unique ACROSS batches — the index stores vectors, it does not
near-dedup them (that is the corpus pipeline's job upstream).

Driver-side state is bounded by ``n_cells`` (the centroid table — the
same bounded-collect posture as kmeans' candidate pool): probe-cell
selection for an external vector is pure Python over that tiny list.

Relation to the reference (JonasMarma/etl-olho-vivo): none — part of
the beyond-reference similarity-search surface (SURVEY §2.11).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_olho_vivo_spark.io import append_store
from etl_olho_vivo_spark.io.fsutil import assert_no_pending_swap
from etl_olho_vivo_spark.operators.similarity import (
    DEFAULT_CELL_OCCUPANCY,
    QUANT,
    _default_centroids,
    _dot_int,
    ivf_assign,
    kmeans_centroids,
)


@dataclass
class IvfIndex:
    """A loaded index: the tiny centroid table (collected — bounded by
    n_cells) plus the lazy cell-partitioned assignment frame."""

    centroids: list[tuple[int, list[int]]]  # (cell_id, quantized centroid)
    cells: DataFrame  # vec_id, label, qv, cell_id (partition column)
    path: str


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 8,
    use_kmeans: bool = True,
    **kmeans_kwargs,
) -> int:
    """Build the index: quantizer (k-means|| by default, the
    deterministic first-vectors seeding with ``use_kmeans=False`` for
    oracle-replicable demos) → exact integer assignment → persisted
    layout.  Returns the number of indexed vectors."""
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    spark = emb.sparkSession
    cents = (
        kmeans_centroids(emb, n_cells, **kmeans_kwargs)
        if use_kmeans
        else _default_centroids(emb, n_cells)
    )
    (
        cents.withColumn("n_cells", F.lit(n_cells))
        .withColumn("quant", F.lit(QUANT))
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    # replace the WHOLE cells tree: a rebuild over a previously-appended
    # index must also clear the old batch partitions — they were
    # assigned under the OLD centroids, and surviving the rebuild they
    # would route queries to wrong cells (and duplicate any re-indexed
    # vec_ids) — and the old generation's watermark with them
    append_store.write_base(
        ivf_assign(emb, n_cells, _centroid_frame(spark, path)),
        f"{path}/cells", partition_by=("cell_id",),
    )
    return spark.read.parquet(f"{path}/cells").count()


def _centroid_frame(spark: SparkSession, path: str) -> DataFrame:
    """The persisted centroid relation, grid-validated.

    The quantization grid is stamped at build time: loading an index
    whose grid differs from this module's ``QUANT`` would compare
    incommensurate integers and return confidently wrong neighbors —
    loud error instead.
    """
    df = spark.read.parquet(f"{path}/centroids")
    row = df.select("quant").first()
    if row is None:
        raise ValueError(f"IVF index at {path} has an empty centroid table")
    if row["quant"] != QUANT:
        raise ValueError(
            f"IVF index at {path} was built on quantization grid "
            f"{row['quant']}, engine uses {QUANT}; rebuild the index"
        )
    return df.select("cell_id", "qc")


def load_ivf_index(spark: SparkSession, path: str) -> IvfIndex:
    """Load centroids (collected — n_cells rows) + the lazy cell frame.

    Refuses while a crashed compaction swap is pending — the cells
    directory is absent or ambiguous in that state; running the
    compaction again repairs it (clearer than a PATH_NOT_FOUND
    from the parquet reader)."""
    assert_no_pending_swap(spark, f"{path}/cells")
    cents = [
        (r["cell_id"], list(r["qc"]))
        for r in _centroid_frame(spark, path).collect()
    ]
    cells = spark.read.parquet(f"{path}/cells")
    return IvfIndex(centroids=cents, cells=cells, path=path)


def append_to_ivf_index(
    emb_batch: DataFrame, path: str, batch_id: int
) -> bool:
    """Assign a batch of new vectors against the persisted centroids and
    land them under the batch's OWN partition tree.

    The quantizer is frozen at build time on purpose: retraining
    centroids per batch would silently re-shape every existing cell's
    meaning without reassigning its residents.  Rebuild the index when
    the corpus distribution drifts (standard IVF practice).

    Idempotent per ``batch_id`` by ``append_store.write_batch``: a
    replay replaces its earlier attempt, and a batch already folded by
    compaction is skipped (the replay rule in ``io/append_store.py``);
    ``-1`` is reserved for the build/compacted base.

    Returns True when the batch was written, False when it was skipped
    as already-folded — callers issuing NEW (non-replay) data must
    treat False as a loud signal to re-derive the id
    (``append_store.next_batch_id``), never as success.
    """
    if batch_id < 0:
        raise ValueError(
            f"batch_id must be >= 0 (-1 is the build partition), "
            f"got {batch_id}"
        )
    spark = emb_batch.sparkSession
    assert_no_pending_swap(spark, f"{path}/cells")
    cents = _centroid_frame(spark, path)
    n_cells = cents.count()
    return append_store.write_batch(
        ivf_assign(emb_batch, n_cells, cents), f"{path}/cells", batch_id,
        partition_by=("cell_id",),
    )


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    auto_rebuild: bool = True,
    max_skew: float = 4.0,
    max_occupancy: float | None = None,
    use_kmeans: bool = True,
) -> int:
    """Fold accumulated per-batch partitions into the single base
    partition (``ingest_batch_id = -1``) — the append-then-compact
    lifecycle of the dedup signature store.  Assignment-sized job;
    embeddings are never re-quantized by the fold itself.

    ``auto_rebuild`` (round 15, r14 verdict #4 — the DEFAULT posture):
    after the fold, the occupancy telemetry is CHECKED, not merely
    emitted — a skew breach (hot cells, ``max_skew``) or a density
    breach (uniform growth past ``max_occupancy``, default
    ``DEFAULT_CELL_OCCUPANCY``) triggers ``maybe_rebuild_ivf_index``'s
    retrain/re-quantize right here, at the one lifecycle point that
    already pays a full-index rewrite.  A healthy index pays one
    bounded per-cell count — no retrain, centroids untouched.  Opt out
    (``auto_rebuild=False``) for pipelines that schedule rebuilds
    explicitly; the fixed-grid degradation the 10× scale tier measured
    is then the caller's documented responsibility.

    Generation interaction: a triggered rebuild replaces the cells
    tree and its watermark (fresh index generation —
    ``maybe_rebuild_ivf_index``'s long-standing contract, same as the
    explicit CLI ``--compact --rebuild-if-skewed`` sequence), so
    pre-rebuild batch ids must not be replayed afterward; their rows
    already live in the rebuilt base.  Callers needing the fold's
    watermark semantics in isolation pass ``auto_rebuild=False``.

    Durability and replay: the fold is ``append_store.compact`` (side
    directory + marker-protected swap that publishes the rows and the
    watermark together; a crash is repaired by the next call, writers
    refuse while the marker exists, and a replay of a folded batch is
    skipped — see ``io/append_store.py``).  The fold keeps every
    column, and the two-level batch/``cell_id`` layout stays uniform
    (a flat cell_id-only rewrite would leave mixed directory depths
    once the next append lands, breaking partition discovery).

    Returns the compacted vector count.
    """
    n = append_store.compact(
        spark, f"{path}/cells", partition_by=("cell_id",)
    )
    if auto_rebuild:
        if max_occupancy is None:
            max_occupancy = DEFAULT_CELL_OCCUPANCY
        # row count is invariant under the rebuild (every resident
        # survives — the rebuild test pins it), so n stays correct
        maybe_rebuild_ivf_index(
            spark, path, max_skew=max_skew,
            max_occupancy=max_occupancy, use_kmeans=use_kmeans,
        )
    return n


def occupancy_stats(counts: list[int]) -> dict:
    """max/mean/skew summary of a bounded bucket-size list — shared by
    ``cell_stats`` and the Z-order ``optimize`` CLI telemetry so the
    skew formula/rounding can never drift between the two artifacts."""
    if not counts:
        return {"n": 0, "max": 0, "mean": 0.0, "skew_ratio": None}
    mean = sum(counts) / len(counts)
    return {
        "n": len(counts),
        "max": max(counts),
        "mean": round(mean, 1),
        "skew_ratio": round(max(counts) / mean, 2),
    }


def cell_stats(spark: SparkSession, path: str) -> dict:
    """Per-cell occupancy telemetry — the serving-skew dial.

    A hot cell (boilerplate-adjacent embeddings piling into one
    centroid) turns every probe that selects it into a straggler scan:
    probed-cell cost is the cell's row count, so serving latency is
    governed by ``max_cell``, not ``mean_cell``.  One bounded
    aggregation (n_cells result rows); emitted by the ``ann-build``
    CLI at build/append/compact time so occupancy drift is visible in
    the job artifacts.

    Rebuild trigger: when ``skew_ratio`` = max_cell/mean_cell exceeds
    ~4, rebuild with re-trained centroids (and at corpus growth, more
    cells — n_cells ∝ corpus keeps per-cell density constant); appends
    never retrain, so a drifting corpus degrades here FIRST, long
    before recall visibly drops.  ``maybe_rebuild_ivf_index`` (or
    ``ann-build --rebuild-if-skewed``) executes exactly this contract.
    """
    counts = [
        int(r["n"])
        for r in (
            spark.read.parquet(f"{path}/cells")
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per cell
        )
    ]
    s = occupancy_stats(counts)
    return {
        "n_cells_occupied": s["n"],
        "max_cell": s["max"],
        "mean_cell": s["mean"],
        "skew_ratio": s["skew_ratio"],
        # exact resident count (sum of the same per-cell counts, no
        # extra job) — the density trigger's n_cells ∝ corpus input;
        # the rounded mean is too coarse to reconstruct it
        "total_vectors": sum(counts),
    }


def dequantized_cells(spark: SparkSession, path: str) -> DataFrame:
    """The resident vectors reconstructed from the stored quantized
    components — ``(vec_id, label, embedding)`` with ``embedding =
    qv / QUANT`` — the self-contained rebuild source.

    Losslessness: every downstream index computation consumes the
    QUANTIZED components only, and requantizing the reconstruction
    reproduces them exactly — ``round((q/QUANT)·QUANT) == q`` for any
    ``|q| < 2^51`` (one double divide + multiply perturbs by ≪ 0.5) —
    so an index rebuilt from this frame is bit-identical to one rebuilt
    from the original float embeddings."""
    return spark.read.parquet(f"{path}/cells").select(
        "vec_id",
        "label",
        F.expr(
            f"transform(qv, x -> CAST(x AS DOUBLE) / {QUANT})"
        ).alias("embedding"),
    )


_REBUILD_SRC = "rebuild_src"


def maybe_rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    max_skew: float = 4.0,
    n_cells: int | None = None,
    use_kmeans: bool = True,
    max_occupancy: float | None = None,
    **kmeans_kwargs,
) -> dict:
    """The occupancy rebuild trigger — ``cell_stats``'s documented
    contract, executable: when ``skew_ratio`` (max_cell/mean_cell)
    exceeds ``max_skew``, rebuild the index with RE-TRAINED centroids
    over every resident vector (base + all batch partitions), restoring
    balanced cells and the recall the frozen quantizer has drifted away
    from.  Appends never retrain (their docstring says why), so this is
    the one sanctioned retraining path.

    ``max_occupancy`` (round 15, r14 verdict #4) adds the DENSITY
    trigger the skew ratio is blind to: a corpus that grows uniformly
    keeps skew ≈ 1 while every cell — and so every probe, and the
    near-dup stage's within-cell quadratic work — fattens toward the
    density wall the 10× scale tier measured on the fixed grid.  When
    ``mean_cell`` exceeds the bound, the rebuild RE-QUANTIZES with
    ``n_cells = ceil(total / (max_occupancy/2))`` (hysteresis: density
    lands at half the bound, so steady growth re-triggers only per
    corpus doubling, not per compaction) — n_cells ∝ corpus, per-cell
    density constant.  ``compact_ivf_index`` passes
    ``DEFAULT_CELL_OCCUPANCY`` by default, making
    re-quantization-on-density-breach the maintenance path's default
    posture rather than an operator argument.

    ``n_cells=None`` keeps the stamped cell count (unless the density
    trigger grows it); pass a larger value as the corpus grows
    (n_cells ∝ corpus keeps per-cell density — and probe cost —
    constant).

    Crash safety (snapshot-then-rebuild): residents are first exported
    to ``<path>/rebuild_src`` (dequantized — see ``dequantized_cells``),
    and the rebuild consumes ONLY that snapshot — never the cells tree
    it is overwriting (Spark cannot overwrite a path a job is reading).
    A crash mid-rebuild leaves the snapshot (with parquet's _SUCCESS
    marker) in place; the next call detects it and resumes the rebuild
    from the snapshot REGARDLESS of current skew — the cells tree may be
    half-overwritten at that point, so the snapshot is the authoritative
    corpus and re-running the build from it is idempotent.  The snapshot
    is deleted only after the rebuild (centroids + cells, which
    replaces the watermark) completes.  Single-writer assumption, as
    for compaction.

    Returns ``{"rebuilt": False, "stats": ...}`` when under threshold,
    else ``{"rebuilt": True, "stats_before": ... | None (crash resume),
    "stats_after": ..., "n_cells": N}``.
    """
    from etl_olho_vivo_spark.io.fsutil import hadoop_fs

    if max_skew <= 0:
        raise ValueError(f"max_skew must be > 0, got {max_skew}")
    snap = f"{path}/{_REBUILD_SRC}"
    fs, success_p = hadoop_fs(spark, f"{snap}/_SUCCESS")
    resuming = fs.exists(success_p)
    before = None
    if not resuming:
        assert_no_pending_swap(spark, f"{path}/cells")
        before = cell_stats(spark, path)
        skew_breach = (
            before["skew_ratio"] is not None
            and before["skew_ratio"] > max_skew
        )
        dens_breach = (
            max_occupancy is not None
            and before["mean_cell"] > max_occupancy
        )
        if not (skew_breach or dens_breach):
            return {"rebuilt": False, "stats": before}
        # stamp the cell count INTO the snapshot so a crash-resume does
        # not depend on the (possibly half-overwritten) centroid table.
        stamped = n_cells if n_cells is not None else int(
            spark.read.parquet(f"{path}/centroids")
            .select("n_cells").first()["n_cells"]
        )
        if n_cells is None and dens_breach:
            # density growth path: re-quantize to half the bound
            # (hysteresis), never shrink below the stamped grid
            import math

            stamped = max(stamped, math.ceil(
                before["total_vectors"] / (max_occupancy / 2)
            ))
        (
            dequantized_cells(spark, path)
            .withColumn("__n_cells__", F.lit(stamped))
            .write.mode("overwrite")
            .parquet(snap)
        )
    emb = spark.read.parquet(snap)
    if n_cells is None:
        n_cells = int(emb.select("__n_cells__").first()["__n_cells__"])
    build_ivf_index(
        emb.drop("__n_cells__"), path, n_cells=n_cells,
        use_kmeans=use_kmeans, **kmeans_kwargs,
    )
    _, snap_p = hadoop_fs(spark, snap)
    fs.delete(snap_p, True)
    after = cell_stats(spark, path)
    return {
        "rebuilt": True,
        "stats_before": before,
        "stats_after": after,
        "n_cells": n_cells,
    }


def _quantize_py(vector: list[float]) -> list[int]:
    """Driver-side quantization of an EXTERNAL query vector.  Spark's
    round() is HALF_UP (away from zero); Python's round() is banker's —
    a component landing exactly on the grid midpoint (e.g. 2.5e-06)
    would quantize differently on the two sides and can flip the probe
    cell / break ranking parity with the stored assignment.  Replicate
    HALF_UP explicitly."""
    import math

    def _q(x: float) -> int:
        d = float(x) * QUANT
        return (
            int(math.floor(d + 0.5))
            if d >= 0
            else -int(math.floor(-d + 0.5))
        )

    return [_q(x) for x in vector]


def query_ivf_index(
    index: IvfIndex,
    vector: list[float],
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Top-k (by exact integer inner product) for an EXTERNAL query
    vector — the serving path: probe-cell selection is pure Python over
    the collected centroids, and the candidate scan reads only the
    probed cell partitions (partition pruning).

    Returns ``(vec_id, label, cell_id, dot_q)`` ordered by descending
    dot product with vec_id tiebreak — same ranking contract as
    ``similarity.ivf_topk``.
    """
    if not index.centroids:
        raise ValueError("empty centroid table")
    dim = len(index.centroids[0][1])
    if len(vector) != dim:
        raise ValueError(
            f"query vector has dim {len(vector)}, index has dim {dim}"
        )
    q = _quantize_py(vector)
    ranked = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qc, q)), cell_id)
        for cell_id, qc in index.centroids
    )
    probe = [cell_id for _, cell_id in ranked[: max(1, n_probe)]]
    qcol = F.array(*[F.lit(x) for x in q])
    return (
        index.cells.filter(F.col("cell_id").isin(probe))
        .withColumn("q_qv", qcol)
        .select(
            "vec_id",
            "label",
            "cell_id",
            F.expr(_dot_int("qv", "q_qv")).alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), "vec_id")
        .limit(k)
    )
