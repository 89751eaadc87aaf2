"""Persisted IVF index (io/ann_index.py): build/load/append/query
lifecycle, parity with the in-memory ivf_topk path, grid validation,
and the partition-pruned serving-scan contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_olho_vivo_spark.io import ann_index, append_store
from etl_olho_vivo_spark.operators import similarity
from etl_olho_vivo_spark.sources.tables import read_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def built(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    # first-vectors seeding so the in-memory path (same default
    # centroids) is an exact comparison target
    n = ann_index.build_ivf_index(emb, path, n_cells=8, use_kmeans=False)
    assert n == emb.count()
    return path


def test_query_parity_with_in_memory_ivf_topk(spark, emb, built):
    """Serving a corpus vector through the persisted index ranks exactly
    like ivf_topk over the same centroids (after removing the query's
    own identity row, which the external-vector path cannot know)."""
    idx = ann_index.load_ivf_index(spark, built)
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    served = [
        (r["vec_id"], r["dot_q"])
        for r in ann_index.query_ivf_index(
            idx, list(qvec), k=11, n_probe=2
        ).collect()
        if r["vec_id"] != 0
    ][:10]
    mem = [
        (r["vec_id"], r["dot_q"])
        for r in similarity.ivf_topk(
            emb, query_vec_id=0, k=10, n_cells=8, n_probe=2
        ).collect()
    ]
    assert served == mem


@pytest.mark.sweep
def test_append_equals_full_rebuild_assignment(spark, emb, tmp_path):
    """Appending a batch against the frozen centroids lands every vector
    in exactly the cell a full build would have chosen."""
    path = str(tmp_path / "index")
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    ann_index.build_ivf_index(first, path, n_cells=8, use_kmeans=False)
    ann_index.append_to_ivf_index(rest, path, batch_id=0)
    idx = ann_index.load_ivf_index(spark, path)
    got = {
        (r["vec_id"], r["cell_id"]) for r in idx.cells.collect()
    }
    cents = spark.createDataFrame(
        [(c, q) for c, q in idx.centroids], ["cell_id", "qc"]
    )
    want = {
        (r["vec_id"], r["cell_id"])
        for r in similarity.ivf_assign(emb, 8, cents).collect()
    }
    assert got == want and len(got) == emb.count()
    # replaying the SAME batch id replaces, never duplicates (the
    # at-least-once contract); -1 is reserved for the build
    ann_index.append_to_ivf_index(rest, path, batch_id=0)
    idx2 = ann_index.load_ivf_index(spark, path)
    assert idx2.cells.count() == emb.count()
    with pytest.raises(ValueError, match="batch_id"):
        ann_index.append_to_ivf_index(rest, path, batch_id=-1)
    # compaction folds batches into the base partition; content and
    # query behavior are unchanged
    n = ann_index.compact_ivf_index(spark, path)
    assert n == emb.count()
    idx3 = ann_index.load_ivf_index(spark, path)
    assert {
        r["ingest_batch_id"]
        for r in idx3.cells.select("ingest_batch_id").distinct().collect()
    } == {-1}
    assert {
        (r["vec_id"], r["cell_id"]) for r in idx3.cells.collect()
    } == want
    # replaying a FOLDED batch id is a NO-OP — its rows live in the
    # base in full (batch writes are job-transactional, so compaction
    # only ever folded complete batches); rewriting the partition
    # would duplicate every vector.  This keeps an at-least-once
    # stream restart safe across a compaction.
    ann_index.append_to_ivf_index(rest, path, batch_id=0)
    assert ann_index.load_ivf_index(spark, path).cells.count() == (
        emb.count()
    )
    # and a post-compaction append under a fresh id still lands cleanly
    ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id") == 0).withColumn(
            "vec_id", F.lit(9999).cast("long")
        ),
        path,
        batch_id=1,
    )
    assert ann_index.load_ivf_index(spark, path).cells.count() == (
        emb.count() + 1
    )


@pytest.mark.sweep
def test_rebuild_clears_stale_batches_and_watermark(spark, emb, tmp_path):
    """A full rebuild must reset the WHOLE cells tree: batch partitions
    appended under the previous index generation were assigned with the
    old centroids and would silently corrupt queries (wrong cells,
    duplicate ids) if they survived.  The compaction watermark resets
    with them."""
    path = str(tmp_path / "index")
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4,
        use_kmeans=False,
    )
    ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(100, 199)), path, batch_id=0
    )
    ann_index.compact_ivf_index(spark, path)
    n = ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 50), path, n_cells=4,
        use_kmeans=False,
    )
    assert n == 50
    idx = ann_index.load_ivf_index(spark, path)
    assert idx.cells.count() == 50
    assert {
        r["ingest_batch_id"]
        for r in idx.cells.select("ingest_batch_id").distinct().collect()
    } == {-1}
    # the previous generation's watermark no longer blocks fresh ids
    ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(100, 119)), path, batch_id=0
    )
    assert ann_index.load_ivf_index(spark, path).cells.count() == 70


def test_compaction_crash_recovery_and_writer_guard(spark, emb, tmp_path):
    """Simulated crash between the swap's delete and rename: the side
    copy is the only complete index.  Writers must refuse (an append
    recreating cells/ would trick recovery into discarding the copy),
    and the next compaction must restore it losslessly."""
    import os
    import shutil

    path = str(tmp_path / "index")
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4,
        use_kmeans=False,
    )
    n0 = ann_index.load_ivf_index(spark, path).cells.count()
    # simulate: marker created, cells deleted, rename not yet done
    shutil.move(f"{path}/cells", f"{path}/cells_compacting")
    open(f"{path}/cells_swap_pending", "w").close()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        ann_index.append_to_ivf_index(
            emb.filter(F.col("vec_id") >= 100), path, batch_id=0
        )
    assert ann_index.compact_ivf_index(spark, path) == n0
    assert not os.path.exists(f"{path}/cells_swap_pending")
    assert ann_index.load_ivf_index(spark, path).cells.count() == n0
    # and the guarded append now succeeds
    ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(100, 149)), path, batch_id=0
    )
    assert ann_index.load_ivf_index(spark, path).cells.count() == n0 + 50


def test_serving_scan_is_partition_pruned(spark, emb, built):
    """The 100 TB contract: a 2-probe query must read ONLY its probed
    cell partitions — the scan's PartitionFilters carry the cell_id IN
    predicate, and the pruned file set is a strict subset."""
    idx = ann_index.load_ivf_index(spark, built)
    qvec = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    q = ann_index.query_ivf_index(idx, list(qvec), k=5, n_probe=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    pf = scan.split("PartitionFilters", 1)[1][:300]
    assert "cell_id" in pf, scan
    # the IN-list names exactly the 2 probed cells, so only those
    # partition directories are listed/read (inputFiles() reflects the
    # unpruned relation, so the filter expression IS the evidence)
    import re

    in_list = re.search(r"cell_id[^ ]* IN \(([^)]*)\)", pf)
    assert in_list and len(in_list.group(1).split(",")) == 2, pf


def test_grid_and_shape_validation(spark, emb, tmp_path, built):
    idx = ann_index.load_ivf_index(spark, built)
    with pytest.raises(ValueError, match="dim"):
        ann_index.query_ivf_index(idx, [1.0, 2.0])
    with pytest.raises(ValueError, match="n_cells"):
        ann_index.build_ivf_index(emb, str(tmp_path / "x"), n_cells=0)
    # an index stamped with a DIFFERENT quantization grid must refuse
    # to load — its integers are incommensurate with this engine's
    doctored = str(tmp_path / "doctored")
    (
        spark.read.parquet(f"{built}/centroids")
        .withColumn("quant", F.lit(1000.0))
        .write.mode("overwrite")
        .parquet(f"{doctored}/centroids")
    )
    spark.read.parquet(f"{built}/cells").limit(1).write.parquet(
        f"{doctored}/cells"
    )
    with pytest.raises(ValueError, match="quantization grid"):
        ann_index.load_ivf_index(spark, doctored)


@pytest.mark.sweep
def test_kmeans_build_is_usable(spark, emb, tmp_path):
    """The production build (k-means|| quantizer) yields a usable index:
    ≥40% 10-NN recall vs the cosine brute force on a 2-of-8-cell probe
    budget.  (Quantizer-quality superiority over naive seeding is
    asserted on its own metric in the kmeans tests — on 3 arbitrary
    probes under the MIPS-vs-cosine metric gap either can edge ahead,
    so this test only pins serving usability for both builds.)"""
    def recall(path):
        idx = ann_index.load_ivf_index(spark, path)
        hits = 0
        for qid in (1, 7, 42):
            qvec = emb.filter(F.col("vec_id") == qid).collect()[0][
                "embedding"
            ]
            got = {
                r["vec_id"]
                for r in ann_index.query_ivf_index(
                    idx, list(qvec), k=11, n_probe=2
                ).collect()
                if r["vec_id"] != qid
            }
            truth = {
                r["vec_id"]
                for r in similarity.cosine_topk(emb, qid, k=10).collect()
            }
            hits += len(got & truth)
        return hits

    naive = str(tmp_path / "naive")
    trained = str(tmp_path / "trained")
    ann_index.build_ivf_index(emb, naive, n_cells=8, use_kmeans=False)
    ann_index.build_ivf_index(emb, trained, n_cells=8)
    assert recall(trained) >= 12, recall(trained)  # 40% of 30
    assert recall(naive) >= 12, recall(naive)


def test_next_batch_id_and_loud_watermark_skip(spark, emb, tmp_path):
    """The append→compact→append lifecycle: after a compaction folds all
    batches into -1, max(ingest_batch_id) over the cells tree reads -1,
    so a naive max+1 default lands at 0 — at/below the watermark, which
    append_to_ivf_index skips.  next_batch_id must account for the
    watermark, and the skip must be observable (returns False)."""
    path = str(tmp_path / "index")
    cells = f"{path}/cells"
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4,
        use_kmeans=False,
    )
    assert append_store.next_batch_id(spark, cells) == 0
    assert ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(100, 199)), path, batch_id=0
    )
    assert append_store.next_batch_id(spark, cells) == 1
    ann_index.compact_ivf_index(spark, path)
    # live max is now -1; the watermark (0) must still advance the id
    assert append_store.next_batch_id(spark, cells) == 1
    # a replay of the folded batch is a SKIP, visibly
    assert not ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(100, 199)), path, batch_id=0
    )
    assert ann_index.load_ivf_index(spark, path).cells.count() == 200
    # the derived id lands new data
    assert ann_index.append_to_ivf_index(
        emb.filter(F.col("vec_id").between(200, 249)), path,
        batch_id=append_store.next_batch_id(spark, cells),
    )
    assert ann_index.load_ivf_index(spark, path).cells.count() == 250


def test_watermark_survives_mid_rename_crash(spark, emb, tmp_path):
    """The watermark lives inside the cells tree, so the compaction swap
    publishes it with the rows.  A crash inside the swap's rename window
    (cells moved aside, marker present) must keep it: writers refuse,
    the next compaction restores the tree with its watermark, and a
    replay of the folded batch is skipped, never duplicated."""
    import os
    import shutil

    path = str(tmp_path / "index")
    cells = f"{path}/cells"
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4,
        use_kmeans=False,
    )
    batch0 = emb.filter(F.col("vec_id").between(100, 199))
    assert ann_index.append_to_ivf_index(batch0, path, batch_id=0)
    assert ann_index.compact_ivf_index(spark, path) == 200
    # simulate: marker created, cells deleted, rename not yet done
    shutil.move(cells, f"{path}/cells_compacting")
    open(f"{path}/cells_swap_pending", "w").close()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        ann_index.append_to_ivf_index(batch0, path, batch_id=1)
    assert ann_index.compact_ivf_index(spark, path) == 200
    assert not os.path.exists(f"{path}/cells_swap_pending")
    assert append_store.watermark(spark, cells) == 0
    assert not ann_index.append_to_ivf_index(batch0, path, batch_id=0)
    assert ann_index.load_ivf_index(spark, path).cells.count() == 200


@pytest.mark.sweep
def test_served_recall_floor_vs_brute_force(spark, emb, tmp_path):
    """End-to-end retrieval QUALITY of the persisted index: recall@10 of
    query_ivf_index against brute-force cosine over the sf0.01
    embeddings (unit-norm, so dot ranking == cosine ranking).  The
    lifecycle tests prove the index is crash-safe and pruned; this pins
    that what it RETURNS is still good — a quantizer/probe regression
    (bad centroids, wrong probe ranking, broken cell routing) drops
    recall far below these floors.  Measured on the deterministic
    k-means|| build: probe1 0.305, probe2 0.53, probe4 0.725, probe8
    (exhaustive) 1.0; floors leave margin for grid tweaks."""
    import numpy as np

    path = str(tmp_path / "index")
    ann_index.build_ivf_index(emb, path, n_cells=8, use_kmeans=True)
    idx = ann_index.load_ivf_index(spark, path)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.select("vec_id", "embedding").collect()
    }
    ids = sorted(vecs)
    qids = ids[:: max(1, len(ids) // 10)][:10]

    def brute10(q):
        sims = sorted(
            ((float(vecs[i] @ vecs[q]), -i) for i in ids if i != q),
            reverse=True,
        )[:10]
        return {-i for _, i in sims}

    floors = {1: 0.2, 2: 0.4, 4: 0.6, 8: 0.95}
    prev = 0.0
    for probe, floor in floors.items():
        recalls = []
        for q in qids:
            served = [
                r["vec_id"]
                for r in ann_index.query_ivf_index(
                    idx, list(vecs[q]), k=11, n_probe=probe
                ).collect()
                if r["vec_id"] != q
            ][:10]
            recalls.append(len(set(served) & brute10(q)) / 10)
        mean = sum(recalls) / len(recalls)
        assert mean >= floor, (probe, mean)
        # more probes may never hurt recall
        assert mean >= prev - 1e-9, (probe, mean, prev)
        prev = mean


def _recall_at_10(spark, path, vecs, qids, n_probe=1):
    """Mean recall@10 of the persisted index at ``n_probe`` against a
    numpy brute force over the full resident corpus ``vecs``."""
    import numpy as np

    idx = ann_index.load_ivf_index(spark, path)
    ids = sorted(vecs)
    out = []
    for q in qids:
        brute = {
            -i
            for _, i in sorted(
                ((float(np.dot(vecs[i], vecs[q])), -i)
                 for i in ids if i != q),
                reverse=True,
            )[:10]
        }
        served = [
            r["vec_id"]
            for r in ann_index.query_ivf_index(
                idx, list(vecs[q]), k=11, n_probe=n_probe
            ).collect()
            if r["vec_id"] != q
        ][:10]
        out.append(len(set(served) & brute) / 10)
    return sum(out) / len(out)


@pytest.mark.sweep
def test_occupancy_rebuild_trigger_end_to_end(spark, emb, tmp_path):
    """cell_stats' rebuild contract, executed: a drift pile of
    near-identical appended vectors crowds one frozen centroid past
    skew_ratio 4; maybe_rebuild_ivf_index must (a) retrain the
    centroids, (b) rebalance occupancy — max_cell IS the per-probe
    serving cost, so this is the latency repair, (c) keep probe-1
    recall at least as good as the skewed index's, and (d) leave the
    watermark/batch-id lifecycle intact (fresh index generation:
    watermark -1, next id 0, append + compact still work)."""
    import numpy as np

    path = str(tmp_path / "index")
    base = emb.filter(F.col("vec_id") < 200)
    ann_index.build_ivf_index(base, path, n_cells=8, use_kmeans=True)

    # drift: 300 vectors clustered tightly around one resident vector,
    # deterministic component perturbations (no rand() — engine rule)
    anchor = np.asarray(
        emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"],
        dtype=float,
    )
    pile_rows = []
    for j in range(300):
        v = anchor + 1e-3 * np.asarray(
            [((j * 31 + i * 17) % 11) - 5 for i in range(len(anchor))]
        )
        pile_rows.append((1000 + j, [float(x) for x in v], 9))
    pile = spark.createDataFrame(
        pile_rows, "vec_id long, embedding array<float>, label int"
    )
    assert ann_index.append_to_ivf_index(pile, path, batch_id=0)

    stats = ann_index.cell_stats(spark, path)
    assert stats["skew_ratio"] > 4.0, stats  # the drift is real

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in base.select("vec_id", "embedding").collect()
    }
    vecs.update(
        (i, np.asarray(v, dtype=float)) for i, v, _ in pile_rows
    )
    qids = [1000 + j for j in range(0, 300, 40)] + [7, 50, 150]
    recall_before = _recall_at_10(spark, path, vecs, qids)
    cents_before = sorted(
        (c, tuple(q))
        for c, q in ann_index.load_ivf_index(spark, path).centroids
    )

    # under-threshold call: must be a no-op
    res = ann_index.maybe_rebuild_ivf_index(spark, path, max_skew=1e9)
    assert res["rebuilt"] is False and res["stats"] == stats

    res = ann_index.maybe_rebuild_ivf_index(spark, path, max_skew=4.0)
    assert res["rebuilt"] is True
    assert res["stats_before"] == stats
    after = res["stats_after"]
    # (b) occupancy rebalanced: retrained centroids split the pile
    assert after["skew_ratio"] < stats["skew_ratio"], (stats, after)
    assert after["max_cell"] < stats["max_cell"]
    # (a) centroids actually retrained
    idx = ann_index.load_ivf_index(spark, path)
    assert sorted((c, tuple(q)) for c, q in idx.centroids) != cents_before
    assert idx.cells.count() == 500  # every resident survived
    # (c) recall non-regression (measured 0.90 before / 0.92 after on
    # this construction — skew is first a LATENCY pathology; the recall
    # floor guards the rebuild against a broken retrain)
    recall_after = _recall_at_10(spark, path, vecs, qids)
    assert recall_after >= recall_before, (recall_before, recall_after)
    assert recall_after >= 0.8, recall_after
    # exhaustive probe must be exact regardless of quantizer quality
    idx = ann_index.load_ivf_index(spark, path)
    q = 1000
    brute = {
        -i
        for _, i in sorted(
            ((float(np.dot(vecs[i], vecs[q])), -i)
             for i in sorted(vecs) if i != q),
            reverse=True,
        )[:10]
    }
    served = {
        r["vec_id"]
        for r in ann_index.query_ivf_index(
            idx, list(vecs[q]), k=11, n_probe=4
        ).collect()
        if r["vec_id"] != q
    }
    assert brute <= served
    # (d) lifecycle: the rebuild starts a fresh index generation
    assert append_store.watermark(spark, f"{path}/cells") == -1
    assert append_store.next_batch_id(spark, f"{path}/cells") == 0
    extra = emb.filter(F.col("vec_id").between(200, 249))
    assert ann_index.append_to_ivf_index(extra, path, batch_id=0)
    # auto_rebuild off: this assertion checks the FOLD's watermark
    # bookkeeping in isolation — the default posture may legitimately
    # retrain here (the clustered pile keeps skew > 4 even after one
    # retrain) and a rebuild resets the generation to -1 by contract
    assert ann_index.compact_ivf_index(
        spark, path, auto_rebuild=False
    ) == 550
    assert append_store.watermark(spark, f"{path}/cells") == 0


@pytest.mark.sweep
def test_rebuild_crash_resume_from_snapshot(spark, emb, tmp_path):
    """A crash AFTER the resident snapshot lands but before the rebuild
    completes must be repaired by the next call: a valid rebuild_src
    (parquet _SUCCESS present) forces the rebuild to resume from the
    snapshot regardless of current skew, and the snapshot is removed
    only on completion."""
    import os

    path = str(tmp_path / "index")
    base = emb.filter(F.col("vec_id") < 100)
    ann_index.build_ivf_index(base, path, n_cells=4, use_kmeans=True)
    # fabricate the crash state: a completed snapshot (as the real
    # rebuild writes it), cells tree half-destroyed afterwards
    (
        ann_index.dequantized_cells(spark, path)
        .withColumn("__n_cells__", F.lit(4))
        .write.mode("overwrite")
        .parquet(f"{path}/{ann_index._REBUILD_SRC}")
    )
    import shutil

    shutil.rmtree(f"{path}/cells")
    res = ann_index.maybe_rebuild_ivf_index(spark, path, max_skew=4.0)
    assert res["rebuilt"] is True
    assert res["stats_before"] is None  # crash resume — stats unreadable
    assert res["n_cells"] == 4
    assert not os.path.exists(f"{path}/{ann_index._REBUILD_SRC}")
    idx = ann_index.load_ivf_index(spark, path)
    assert idx.cells.count() == 100
    assert append_store.watermark(spark, f"{path}/cells") == -1


def test_dequantized_cells_roundtrip_is_lossless(spark, emb, tmp_path):
    """Requantizing the dequantized residents reproduces the stored qv
    exactly — the property that makes a snapshot rebuild bit-identical
    to one from the original float embeddings."""
    path = str(tmp_path / "index")
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 50), path, n_cells=2,
        use_kmeans=False,
    )
    stored = {
        r["vec_id"]: list(r["qv"])
        for r in spark.read.parquet(f"{path}/cells").collect()
    }
    requant = {
        r["vec_id"]: list(r["qv"])
        for r in ann_index.dequantized_cells(spark, path)
        .select(
            "vec_id",
            F.expr(similarity._quantize("embedding")).alias("qv"),
        )
        .collect()
    }
    assert requant == stored


@pytest.mark.sweep
def test_compact_auto_rebuilds_on_density_breach(spark, emb, tmp_path):
    """The round-15 DEFAULT posture (r14 verdict #4): compaction CHECKS
    occupancy, not merely emits it — a uniformly-grown index whose
    mean cell fattens past the bound is re-quantized with n_cells ∝
    corpus during the compact call itself, with hysteresis (density
    lands at ~bound/2), recall non-regression, and no rows lost.  The
    skew ratio alone would never fire here (growth is uniform), which
    is exactly the blind spot the density trigger closes."""
    import numpy as np

    path = str(tmp_path / "index")
    # 2 cells over 500 vectors -> mean occupancy 250, skew ~= 1
    ann_index.build_ivf_index(emb, path, n_cells=2, use_kmeans=True)
    before = ann_index.cell_stats(spark, path)
    assert before["mean_cell"] > 128 and before["skew_ratio"] < 4.0

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.select("vec_id", "embedding").collect()
    }
    qids = [0, 7, 50, 150, 300, 499]
    # 2 cells, probe 1 -> the query scans ~50% of the corpus
    recall_before = _recall_at_10(spark, path, vecs, qids, n_probe=1)

    n = ann_index.compact_ivf_index(spark, path)  # defaults: posture ON
    assert n == 500  # count invariant under the rebuild
    after = ann_index.cell_stats(spark, path)
    # re-quantized: ceil(500 / 64) = 8 trained cells, density halved
    assert after["mean_cell"] <= 128, after
    idx = ann_index.load_ivf_index(spark, path)
    assert len(idx.centroids) == 8
    assert idx.cells.count() == 500
    # recall at EQUAL scanned fraction (8 cells, probe 4 -> ~50%):
    # the finer kmeans-trained grid must serve at least as well as the
    # coarse one per row scanned — that is the whole point of the
    # posture; a fixed n_probe across different grids would compare
    # different work (probe-1-of-8 scans a quarter of probe-1-of-2)
    recall_after = _recall_at_10(spark, path, vecs, qids, n_probe=4)
    assert recall_after >= recall_before, (recall_before, recall_after)

    # steady state: a second compact with no growth must NOT retrain
    # (hysteresis) — centroids bit-identical
    cents = sorted((c, tuple(q)) for c, q in idx.centroids)
    assert ann_index.compact_ivf_index(spark, path) == 500
    idx2 = ann_index.load_ivf_index(spark, path)
    assert sorted((c, tuple(q)) for c, q in idx2.centroids) == cents

    # opt-out is honored even on a breached index
    path2 = str(tmp_path / "index2")
    ann_index.build_ivf_index(emb, path2, n_cells=2, use_kmeans=True)
    c2 = sorted(
        (c, tuple(q))
        for c, q in ann_index.load_ivf_index(spark, path2).centroids
    )
    assert ann_index.compact_ivf_index(
        spark, path2, auto_rebuild=False
    ) == 500
    idx3 = ann_index.load_ivf_index(spark, path2)
    assert sorted((c, tuple(q)) for c, q in idx3.centroids) == c2


def test_compact_healthy_index_never_retrains(spark, emb, tmp_path):
    """auto_rebuild is a no-op on a balanced, under-bound index: one
    bounded telemetry read, centroids untouched — so the default-on
    posture cannot perturb pipelines that were already healthy."""
    path = str(tmp_path / "index")
    ann_index.build_ivf_index(
        emb.filter(F.col("vec_id") < 200), path, n_cells=8,
        use_kmeans=True,
    )
    cents = sorted(
        (c, tuple(q))
        for c, q in ann_index.load_ivf_index(spark, path).centroids
    )
    assert ann_index.compact_ivf_index(spark, path) == 200
    idx = ann_index.load_ivf_index(spark, path)
    assert sorted((c, tuple(q)) for c, q in idx.centroids) == cents


@pytest.mark.sweep
def test_embedding_near_dup_default_is_density_adaptive(spark, tmp_path):
    """embedding_near_dup_frame's no-argument default derives the cell
    grid from the corpus (round 15): at the test corpus (500 rows)
    the derived grid is the floor 16 — bit-identical to the oracle-
    pinned row — and a 10x-replicated corpus derives ~10x the cells,
    so per-cell density (the quadratic term) stays constant."""
    import math

    from etl_olho_vivo_spark.operators.similarity import (
        DEFAULT_CELL_OCCUPANCY,
    )
    from etl_olho_vivo_spark.registry_extra import (
        embedding_near_dup_frame,
    )

    assert DEFAULT_CELL_OCCUPANCY == 128
    assert max(16, math.ceil(500 / 128)) == 16  # floor == oracle pin

    base = embedding_near_dup_frame(spark, SF, n_cells=16)
    default = embedding_near_dup_frame(spark, SF)
    got_b = sorted(map(tuple, base.collect()))
    got_d = sorted(map(tuple, default.collect()))
    assert got_b == got_d and got_b  # identical AND non-trivial

    # replicate to 4000 rows: derived grid = ceil(4000/128) = 32
    from etl_olho_vivo_spark.replicate import replicate_embeddings

    d8 = str(tmp_path / "sf_x8")
    replicate_embeddings(
        spark, f"{SF}/embeddings.parquet",
        f"{d8}/embeddings.parquet", 8,
    )
    cells = (
        embedding_near_dup_frame(spark, d8)
        .select("cell_id").distinct().count()
    )
    assert 16 < cells <= 32, cells
